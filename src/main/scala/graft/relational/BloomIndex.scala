package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.io.Readers

/** AT-REST membership-prune artifact — "have we EVER seen this key",
  * answered without scanning history: the k bit POSITIONS of a
  * classic Bloom filter stored as plain rows (`pos BIGINT`), one
  * tagged tranche per ingest. Two properties make this the cheapest
  * member of the artifact tier:
  *
  *   - **Idempotent merge, no protocol.** The filter is a SET of bit
  *     positions; union is OR, OR is idempotent — the HLL stance:
  *     replayed tranches, crashed consolidations, double-delivered
  *     epochs all converge by algebra, with none of the sum family's
  *     superseding-manifest machinery. [[consolidateBloom]] is a
  *     distinct rewrite; a crash that leaves both the folded
  *     tranche and its inputs visible changes nothing.
  *   - **Bounded forever.** The artifact can never exceed `mBits`
  *     rows however much history flows through it (positions
  *     saturate, they don't accumulate) — a year of ingest reads the
  *     same ≤m-row frame as day one. Saturation shows up as a rising
  *     false-possible rate, measured by [[bloomIndexStats]]'s fill
  *     fraction, not as silent wrongness: absent keys are DEFINITELY
  *     new (no false negatives ever).
  *
  * Probe semantics ([[pruneAgainstBloomIndex]]): a batch row is
  * "possibly seen" iff ALL k of its positions are present; the
  * operator keeps the PROVABLY-NEW rows (the incremental-ingest gate:
  * "which of today's keys has history never touched"), dropping
  * possibly-seen rows at the classic (1−e^{−kn/m})^k false-drop rate.
  * Exactness-critical callers follow with the exact check on the
  * (small) possibly-seen remainder — the [[RelationalOps
  * .bloomPrefilteredJoin]] discipline, here across RUNS instead of
  * within one.
  *
  * Hashing: `portable = true` routes through the md5 tier so an
  * oracle replays every position; default xxhash64. The `(mBits, k,
  * portable)` triple is FROZEN in the index header
  * ([[graft.util.IndexMeta]], the file every at-rest family keeps) at
  * birth — positions from mismatched parameters would silently never
  * match, so appends and probes validate against the stored triple and
  * fail fast on drift (the BM25 `nbuckets` contract).
  *
  * 100 TB shape: the probe joins the batch against the ≤m-row
  * position set k times on the position key — AQE broadcasts the set
  * at practical m (2^20 positions ≈ 8 MB); history itself is never
  * read. Writes are one distinct over k·|batch| positions.
  */
object BloomIndex {

  private def triple(h: graft.util.IndexMeta.Header): (Long, Int, Boolean) =
    (h.long("mBits"), h.int("k"), h.bool("portable"))

  /** The frozen `(mBits, k, portable)`; fails fast on a non-index dir. */
  private def frozenParams(spark: SparkSession, dir: String): (Long, Int, Boolean) =
    triple(graft.util.IndexMeta.open(spark, dir, "bloom", "writeBloomTranche"))

  /** The k position columns for a key — seeded hash family, each
    * reduced mod mBits. Both tiers yield non-negative hashes into
    * non-negative positions (`pmod`), so `%` replays in any engine. */
  private def positionCols(key: Column, mBits: Long, k: Int,
                           portable: Boolean): Seq[Column] =
    (0 until k).map { i =>
      val h =
        if (portable) graft.functions.Hashes.portable(
          concat(lit(s"bf$i|"), key.cast(StringType)))
        else xxhash64(lit(s"bf$i"), key)
      pmod(h, lit(mBits)).cast(LongType)
    }

  /** One ingest = one position tranche (distinct positions of the
    * batch's non-null keys). First write births the index and freezes
    * `(mBits, k, portable)`; appends validate the frozen triple. */
  def writeBloomTranche(df: DataFrame, keyCol: String, dir: String, tag: String,
                        mBits: Long = 1L << 20, k: Int = 3,
                        portable: Boolean = false): Unit = {
    require(mBits >= 64, s"writeBloomTranche: mBits=$mBits too small")
    require(k >= 1 && k <= 8, s"writeBloomTranche: k=$k not in [1,8]")
    val spark = df.sparkSession
    val frozen = graft.util.IndexMeta.read(spark, dir, "bloom").map(triple)
    frozen.foreach(f => require(f == ((mBits, k, portable)),
      s"writeBloomTranche: params ($mBits,$k,$portable) != frozen $f"))
    val key = col(keyCol)
    df.where(key.isNotNull)
      .select(explode(array(positionCols(key, mBits, k, portable): _*)).as("pos"))
      .distinct()
      .write.mode("overwrite").parquet(s"$dir/batch=$tag")
    if (frozen.isEmpty)
      graft.util.IndexMeta.write(spark, dir, Seq("mBits" -> mBits, "k" -> k, "portable" -> portable))
  }

  /** The merged position set (≤ mBits rows however many tranches). */
  def readBloomPositions(spark: SparkSession, dir: String): DataFrame = {
    frozenParams(spark, dir) // fail fast on a non-index dir
    Readers.parquet(spark, dir).select(col("pos")).distinct()
  }

  /** Keep the PROVABLY-NEW rows of `batch`: those with at least one
    * position absent from the index — keys history has definitely
    * never written (no false negatives; possibly-seen rows drop at
    * the bloom false-positive rate). NULL keys are kept: the index
    * can assert nothing about them. */
  def pruneAgainstBloomIndex(batch: DataFrame, dir: String,
                             keyCol: String): DataFrame = {
    val (joined, anyMiss, cleanup) = flagAgainst(batch, dir, keyCol)
    joined.where(col(keyCol).isNull || anyMiss).drop(cleanup: _*)
  }

  /** The complement gate: keep the POSSIBLY-SEEN rows (all k
    * positions present) — the CANDIDATE set for an exact downstream
    * check; false positives only cost exact-check work, never a wrong
    * row, and nothing seen can be missing. NULL keys drop (nothing
    * assertable). */
  def possiblySeenAgainstBloomIndex(batch: DataFrame, dir: String,
                                    keyCol: String): DataFrame = {
    val (joined, anyMiss, cleanup) = flagAgainst(batch, dir, keyCol)
    joined.where(col(keyCol).isNotNull && !anyMiss).drop(cleanup: _*)
  }

  // one left join per hash against the same ≤m-row set (AQE
  // broadcasts it); `anyMiss` = some position absent
  private def flagAgainst(batch: DataFrame, dir: String, keyCol: String)
  : (DataFrame, Column, Seq[String]) = {
    val spark = batch.sparkSession
    val (mBits, k, portable) = frozenParams(spark, dir)
    val posSet = readBloomPositions(spark, dir)
    val ps = positionCols(col(keyCol), mBits, k, portable)
    val joined = ps.zipWithIndex.foldLeft(batch) { case (acc, (p, i)) =>
      acc.join(posSet.select(col("pos").as(s"__bf$i")),
        p === col(s"__bf$i"), "left")
    }
    val anyMiss = (0 until k).map(i => col(s"__bf$i").isNull).reduce(_ || _)
    (joined, anyMiss, (0 until k).map(i => s"__bf$i"))
  }

  /** Fold the tranches to one distinct position set
    * ([[graft.util.Tranches.foldIdempotent]] — under OR algebra a
    * crash that leaves the folded tranche and its inputs visible
    * changes no probe); auto-fold with
    * `Tranches.maybeFold(spark, dir, n)(consolidateBloom(spark, dir))`. */
  def consolidateBloom(spark: SparkSession, dir: String): Unit =
    graft.util.Tranches.foldIdempotent(spark, dir)(readBloomPositions(spark, dir))

  /** TRIAGE gauge in the cross-family dashboard schema
    * ([[graft.meta.IndexDashboard.indexHealthAll]]): one row
    * `(artifact, n_tranches, n_marked, n_unproven, count_fresh)` from
    * directory metadata only — no data file opened
    * ([[graft.util.Tranches.health]]). `n_unproven` is 0 BY ALGEBRA,
    * not by protocol: every visible tranche is valid under idempotent
    * OR, so there is no crash-remnant state to page on — the pager
    * dial for this family is [[bloomIndexStats]]' fill fraction,
    * which needs a data scan and so stays a separate gauge. */
  def bloomIndexHealth(spark: SparkSession, dir: String): DataFrame = {
    frozenParams(spark, dir) // fail fast on a non-index dir
    graft.util.Tranches.health(spark, dir, "pos")
  }

  /** Content gauge: `(m_bits, k, n_positions, fill_fraction)` — the
    * saturation dial (false-possible rate ≈ fill^k); one scan of the
    * ≤m-row artifact. */
  def bloomIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val (mBits, k, _) = frozenParams(spark, dir)
    readBloomPositions(spark, dir)
      .agg(count(lit(1)).as("n_positions"))
      .select(lit(mBits).as("m_bits"), lit(k).as("k"), col("n_positions"),
        (col("n_positions").cast(org.apache.spark.sql.types.DoubleType)
          / lit(mBits.toDouble)).as("fill_fraction"))
  }
}
