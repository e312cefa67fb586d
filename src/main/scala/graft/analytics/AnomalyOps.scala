package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Statistical outlier flagging over grouped measures — the triage gate
  * between raw event/metric streams and alerting ("which readings sit
  * more than k sigma from their group's mean"). Extension tier: the
  * reference has no statistical surface.
  */
object AnomalyOps {

  /** Flag rows whose value deviates more than `k` standard deviations
    * from their group's mean — WITHOUT ever computing a mean, a
    * variance, or a square root in floating point.
    *
    * The k-sigma test `|x − S/n| > k·√((Q/n) − (S/n)²)` multiplied
    * through by `n²` becomes
    * {{{
    *   (n·x − S)² > k²·(n·Q − S²)
    * }}}
    * with `S = Σx`, `Q = Σx²` over the group — every operand an exact
    * integer once values are snapped to `decimals` fixed-point digits.
    * No division, no sqrt, no float at all: the comparison is exact
    * integer arithmetic (DECIMAL(38,0) here, HUGEINT in the oracle),
    * bit-identical across engines and immune to summation order. The
    * one approximation is the input snap (DECIMAL(18, decimals) cast —
    * the same exact-decimal discipline every oracle-parity sum in this
    * repo uses).
    *
    * Magnitude budget (why 38 digits are enough): with |value| ≤ 10^v
    * and group size ≤ 10^c rows, both `(n·x − S)²` and `k²·(n·Q − S²)`
    * stay under 10^(2(c+v+decimals)+2) — at v=4, c=9, decimals=4 that
    * is 10^36 < 38 digits: values to ±10^4 in billion-row groups fit.
    * Outside the envelope the comparison degrades to NULL — flag null,
    * never silently wrong, and never a killed job — in BOTH ANSI modes:
    * S is summed in DECIMAL(38,0) (provably exact ALWAYS — |snap| <
    * 10^18 and count ≤ 2^63 bound Σ|u| < 9.3·10^36), Q is a `try_sum`
    * (its D38-exact per-row summand u² < 10^36 can breach 38 digits
    * only in aggregate), and the comparison products are `try_`
    * arithmetic (NULL on a 38-digit breach regardless of
    * `spark.sql.ansi.enabled`). Shrink `decimals` to buy headroom; the
    * envelope is a documented contract, checked by the spec at its
    * edges rather than a per-row runtime guard the hot loop would pay
    * for. (Why DECIMAL(38) and try_ products: a LONG S WRAPS SILENTLY
    * under legacy mode at Σ|u| > 9.2·10^18 — arbitrary wrong flags,
    * not NULL ones — and throws under ANSI mode, both a factor ~10^19
    * inside this envelope; plain-decimal products throw under ANSI at
    * the envelope edge instead of degrading to NULL.)
    *
    * Shuffle plan: one map-side-combinable groupBy over the group key
    * (three integer aggregates) + one broadcast-or-hash join of the
    * ≤|groups|-row stats frame back onto the rows. Two passes over the
    * data, nothing collected.
    *
    * Output: input columns + `(n_group: long, is_anomaly: boolean)`.
    * Groups with n < 2 flag nothing (variance undefined — both sides
    * are 0 and the strict inequality fails).
    */
  def sigmaFlags(df: DataFrame, keyCol: String, valueCol: String,
                 k: Int = 3, decimals: Int = 4): DataFrame =
    sigmaFlagsAgainstStats(df, statsSketch(df, keyCol, valueCol, decimals),
      keyCol, valueCol, k, decimals)

  private val D38 = DecimalType(38, 0)

  private def snapped(valueCol: String, decimals: Int) = {
    require(decimals >= 0 && decimals <= 6,
      s"sigma stats: decimals=$decimals outside [0, 6]")
    val unit = math.pow(10, decimals).toLong // exact: decimals <= 6
    // try_cast, not cast: under ANSI mode the
    // plain cast THROWS on a magnitude beyond DECIMAL(18, decimals),
    // so one wild reading (a sensor spike, a unit bug) would kill the
    // whole stats job instead of being excluded — the exclusion
    // semantics this family documents and the n/S/Q alignment relies
    // on. try_cast yields NULL on overflow in both ANSI modes.
    // Column API, not a SQL string: interpolating the
    // name broke on backticks and silently re-resolved dotted names
    // (`a.b` the nested field became `a.b` the literal top-level name).
    (col(valueCol).try_cast(DecimalType(18, decimals)) * lit(unit))
      .cast(LongType)
  }

  /** The group-stats SKETCH behind the k-sigma test: per key, the
    * exact integer triple `(n, S = Σx, Q = Σx²)` over fixed-point-
    * snapped values, melted to `(key, stat ∈ {n,s,q}, val)` rows —
    * every component merges by SUM, so this is a
    * [[graft.util.Tranches]] citizen like the histogram and
    * co-occurrence artifacts: per-day tranches, merge-on-read,
    * crash-safe superseding-manifest consolidation. "Flag today's
    * readings against ALL of history's distribution" reads a
    * ≤3·|groups|-row artifact, never history.
    *
    * Null and UNSNAPPABLE values (a NULL input, or a magnitude beyond
    * DECIMAL(18, decimals) whose snap overflows to null) are excluded
    * from ALL THREE components — n counts the same observations S and
    * Q sum (a `count(*)` would count rows S/Q had
    * skipped, so one null value would silently shift the group's mean and
    * corrupt every row's flag; [[rollingSigmaFlags]] counts the same
    * null-skipping). Such rows still report a NULL `is_anomaly` when
    * flagged themselves — no verdict, never a wrong one.
    */
  def statsSketch(df: DataFrame, keyCol: String, valueCol: String,
                  decimals: Int = 4): DataFrame = {
    val rows = df.withColumn("__u", snapped(valueCol, decimals))
    rows.groupBy(col(keyCol))
      .agg(count(col("__u")).cast(D38).as("__n"),
        // D38 sum, not LONG-then-cast: Σ|u| < 2^63·10^18 < 10^38, so S
        // is exact for ANY group; the old long sum wrapped at 9.2e18.
        // Zero-coalesced: a group whose values were ALL excluded sums
        // to NULL-from-empty, which is semantically ZERO contribution —
        // it must stay distinguishable from NULL-from-breach, because
        // the tranche merge NULL-POISONS breach verdicts
        // (Tranches.readMulti) but must skip empties
        coalesce(sum(col("__u").cast(D38)), lit(0).cast(D38)).as("__s"),
        // u² < 10^36 is exact per row; only the AGGREGATE can breach 38
        // digits — try_sum makes that NULL in both ANSI modes. The
        // n=0 guard keeps empty-group NULL (≡ 0) apart from breach NULL
        when(count(col("__u")) === 0, lit(0).cast(D38))
          .otherwise(try_sum(col("__u").cast(D38) * col("__u"))).as("__q"))
      .select(col(keyCol), explode(array(
        struct(lit("n").as("stat"), col("__n").as("val")),
        struct(lit("s").as("stat"), col("__s").as("val")),
        struct(lit("q").as("stat"), col("__q").as("val")))).as("__sv"))
      .select(col(keyCol), col("__sv.stat").as("stat"), col("__sv.val").as("val"))
  }

  /** Semantics marker for the at-rest stats artifact. The
    * statsSketch semantics changed `n` from count-every-row to
    * count-snappable-only (matching S/Q); tranches written BEFORE the
    * fix carry the old semantics, and because merge-on-read SUMS
    * across tranches, ONE pre-fix tranche silently blends the two
    * with no signature in the data itself. Writes therefore stamp the
    * artifact root (underscore-prefixed — invisible to parquet
    * listings, untouched by consolidation's batch=-only deletes) and
    * reads fail fast on a marker-less non-empty artifact: regenerate
    * it from history, or — if every tranche is provably post-fix —
    * create the marker file with [[StatsSemanticsV2]] by hand. */
  private[graft] val StatsMetaName = "_graft_stats_meta"
  private[graft] val StatsSemanticsV2 = "n_semantics=snappable_only_v2"

  /** One ingest = one tranche ([[graft.util.Tranches]] layout),
    * stamped with the [[StatsSemanticsV2]] marker. Marker FIRST:
    * "marker present with zero tranches" is already a valid
    * state, so ordering it before the tranche write keeps the
    * invariant under crashes — tranche-first left a provably post-fix
    * artifact that [[readStats]] fail-fasts on, forcing the manual
    * marker-migration path on clean data. */
  def writeStatsTranche(sketch: DataFrame, dir: String, tag: String): Unit = {
    val spark = sketch.sparkSession
    val meta = s"$dir/$StatsMetaName"
    if (!graft.util.Fs.pathExists(spark, meta))
      graft.util.Fs.writeSmallFile(spark, meta, StatsSemanticsV2 + "\n")
    graft.util.Tranches.write(sketch, dir, tag)
  }

  /** Merge-on-read of the at-rest stats, superseding-manifest-aware.
    * Requires the [[StatsSemanticsV2]] marker on non-empty artifacts
    * (see its doc — a marker-less artifact may blend pre-fix
    * null-inclusive counts into the sums). */
  def readStats(spark: org.apache.spark.sql.SparkSession, dir: String,
                keyCol: String): DataFrame = {
    val hasMarker = graft.util.Fs.readSmallFile(spark, s"$dir/$StatsMetaName")
      .exists(_.contains(StatsSemanticsV2))
    require(hasMarker || graft.util.Tranches.live(spark, dir).isEmpty,
      s"stats artifact $dir has tranches but no $StatsMetaName marker — " +
        "written before the n-semantics fix (n counted rows the null-" +
        "skipping sums excluded), so its merged stats may be silently " +
        "blended. Regenerate the artifact from history, or create the " +
        s"marker containing '$StatsSemanticsV2' if every tranche is " +
        "provably post-fix.")
    graft.util.Tranches.read(spark, dir, Seq(keyCol, "stat"), "val")
  }

  /** Crash-safe fold of the live tranches. */
  def consolidateStats(spark: org.apache.spark.sql.SparkSession, dir: String,
                       keyCol: String): Unit =
    graft.util.Tranches.consolidate(spark, dir, Seq(keyCol, "stat"), "val")

  /** ROLLING k-sigma flags: each row tested against the distribution
    * of its key's `nRows` PRIOR rows in `orderCol` order (the current
    * row never sits in its own baseline — a level shift should flag
    * its first row, not absorb it). The monitoring shape: "is this
    * hour's metric anomalous versus the trailing day", run over
    * [[TimeSeriesOps.resampleFill]]'s dense grid where row windows ARE
    * time windows.
    *
    * Same float-free inequality as [[sigmaFlags]] — `(n·x − S)² >
    * k²·(n·Q − S²)` — with (n, S, Q) as exact integer WINDOW sums
    * (one key-partitioned ordered window, reused for all three).
    * Envelope: this tier's S is a checked LONG window sum —
    * exact to Σ|u| ≤ 9.2·10^18, NULL verdicts beyond, in both ANSI
    * modes (see the body comment for why the grouped tier's
    * DECIMAL(38) sum is the wrong trade inside a sliding frame); Q
    * and the comparison degrade to NULL at the 38-digit envelope like
    * the grouped tier. Exact integer sums mean the engine's
    * within-frame evaluation strategy is invisible. Rows whose prior
    * window holds fewer than 2 observations are never flagged
    * (variance undefined). `orderCol` must be unique per key
    * (the resampler's grid is) — ties would make frame CONTENTS
    * nondeterministic.
    *
    * Output: input columns + `(n_window: long, is_anomaly: boolean)`.
    */
  def rollingSigmaFlags(df: DataFrame, keyCol: String, orderCol: String,
                        valueCol: String, nRows: Int,
                        k: Int = 3, decimals: Int = 4): DataFrame = {
    require(nRows >= 2, s"rollingSigmaFlags: nRows=$nRows must be >= 2")
    require(k >= 1, s"rollingSigmaFlags: k=$k must be >= 1")
    val rows = df.withColumn("__u", snapped(valueCol, decimals))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(orderCol))
      .rowsBetween(-nRows.toLong, -1L)
    val n = count(col("__u")).over(w)
    // WINDOW tier: S is a try_sum over LONG —
    // checked long adds that go NULL past ±9.2e18 in BOTH ANSI modes,
    // where a plain long sum wraps silently (wrong flags)
    // under legacy and kills the job under ANSI. Deliberately NOT the
    // grouped tier's D38 sum: a sliding frame RECOMPUTES its aggregate
    // per row, and a second DECIMAL(38) window sum (Q is already one)
    // measured ~2× on the window-dominated bench query. The exactness
    // given up — S in (9.2e18, 1e19), beyond which S² breaches 38
    // digits and flags are NULL regardless — needs a frame AVERAGING
    // |x| ≈ 3.8e13 at 4 decimals over 24 rows: sentinel territory a
    // bounded monitoring window cannot reach with real measurements.
    // Q and the products NULL-degrade on a 38-digit breach as in the
    // grouped tier; any NULL propagates to a NULL verdict.
    val s = try_sum(col("__u")).over(w)
    val q = try_sum(col("__u").cast(D38) * col("__u")).over(w)
    val dev = try_subtract(
      try_multiply(n.cast(D38), col("__u").cast(D38)), s.cast(D38))
    val rhs = try_multiply(lit(k.toLong * k),
      try_subtract(try_multiply(n.cast(D38), q),
        try_multiply(s.cast(D38), s.cast(D38))))
    rows
      .withColumn("n_window", n)
      .withColumn("is_anomaly",
        when(n >= 2, try_multiply(dev, dev) > rhs).otherwise(lit(false)))
      .drop("__u")
  }

  /** [[sigmaFlags]] with the reference distribution supplied as a
    * [[statsSketch]]-shaped frame instead of recomputed from `df` —
    * the daily loop: `writeStatsTranche(statsSketch(today))`, then
    * flag today against `readStats(...)` (cumulative through today).
    * Because tranche sums over row-disjoint ingests equal the
    * one-shot stats, flagging a batch against the merged artifact is
    * BIT-IDENTICAL to flagging it inside a whole-history
    * [[sigmaFlags]] run — the append ≡ rebuild property every at-rest
    * family here proves, inherited from exact integer sum algebra.
    */
  def sigmaFlagsAgainstStats(df: DataFrame, stats: DataFrame,
                             keyCol: String, valueCol: String,
                             k: Int = 3, decimals: Int = 4): DataFrame = {
    require(k >= 1, s"sigmaFlagsAgainstStats: k=$k must be >= 1")
    val rows = df.withColumn("__u", snapped(valueCol, decimals))
    val wide = stats.groupBy(col(keyCol))
      .agg(max(when(col("stat") === "n", col("val"))).as("__n"),
        max(when(col("stat") === "s", col("val"))).as("__s"),
        max(when(col("stat") === "q", col("val"))).as("__q"))
    // try_ arithmetic, not plain: a 38-digit
    // breach in any product degrades the comparison to NULL in BOTH
    // ANSI modes — the envelope contract in [[sigmaFlags]]'s doc; the
    // plain decimal ops throw under ANSI (the default) at the edge.
    val dev = try_subtract(
      try_multiply(col("__n"), col("__u").cast(D38)), col("__s"))
    val rhs = try_multiply(lit(k.toLong * k),
      try_subtract(try_multiply(col("__n"), col("__q")),
        try_multiply(col("__s"), col("__s"))))
    rows.join(wide, keyCol)
      .withColumn("n_group", col("__n").cast(LongType))
      .withColumn("is_anomaly", try_multiply(dev, dev) > rhs)
      .drop("__u", "__n", "__s", "__q")
  }
}
