package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Hashes
import graft.io.Readers
import graft.text.TextOps

/** Document deduplication operators: exact (content fingerprint),
  * MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Extension surface beyond the reference (BASELINE.json north star).
  *
  * Scale design (100 TB posture): no cross joins anywhere. Candidate
  * generation is shingle/band-bucket **equi-joins** — each pair of
  * near-duplicates meets in at least one bucket, so the join shuffles
  * on bucket keys and never materializes the O(N²) pair space. Hot
  * buckets (stop-shingles) are the skew risk: `maxBucket` caps them
  * (drop buckets larger than the cap — a bucket that common carries no
  * dedup signal), and AQE skew-join splits the rest. Signatures are
  * per-row projections (codegen'd HOFs, no UDFs).
  *
  * Hash tiers: `portable = true` routes through the md5-based
  * cross-engine hash (oracle-checkable); production default is
  * xxhash64 ([[Hashes]]).
  *
  * Caching contract: the pair-finding operators persist a compact
  * intermediate (signatures / shingle arrays) because their self-join
  * forks the plan. Each such cache registers with the caller's
  * `graft.util.Materialize.scoped` block (the engine's one release
  * path, contract in `Materialize`).
  */
object DedupOps {

  // ---------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles of a text column (lowercased,
    * whitespace-tokenized). Texts with fewer than n words → empty array.
    * Fused imperative kernel ([[graft.functions.WordShinglesExpr]]);
    * bit-parity with [[wordShinglesComposable]] is unit-proven.
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.WordShinglesExpr.wordShingles(text, n, distinct = true)

  /** The composable HOF form of [[wordShingles]] (kept for cross-
    * checking the fused kernel in tests). */
  def wordShinglesComposable(text: Column, n: Int): Column =
    graft.functions.Let.bind(TextOps.words(text)) { ws =>
      // ws is a bound lambda variable: the split happens ONCE, not once
      // per shingle index (Let.bind scaladoc)
      array_distinct(
        when(size(ws) >= n,
          transform(sequence(lit(1), size(ws) - (n - 1)),
            i => concat_ws(" ", slice(ws, i, lit(n)))))
          .otherwise(array().cast(ArrayType(StringType))))
    }

  /** Distinct character n-gram shingles (whitespace collapsed). */
  def charShingles(text: Column, n: Int): Column =
    graft.functions.Let.bind(TextOps.normalize(text)) { t =>
      array_distinct(
        when(length(t) >= n,
          transform(sequence(lit(1), length(t) - (n - 1)),
            i => substr(t, i, lit(n))))
          .otherwise(array().cast(ArrayType(StringType))))
    }

  // ---------------------------------------------------------------- exact

  /** Exact dedup by content fingerprint, deterministic first-wins on
    * `order`. One shuffle on the fingerprint. */
  def exactDedup(df: DataFrame, textCol: String, order: Seq[Column]): DataFrame =
    graft.relational.RelationalOps.dedupByKeyFirst(
      df.withColumn("__fp", TextOps.fingerprint(col(textCol))),
      Seq("__fp"), order).drop("__fp")

  /** Group rows by content identity: fingerprint, representative id
    * (min), multiplicity. */
  def contentGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  // ---------------------------------------------------------------- minhash

  /** Modulus of the affine universal-hash family used to derive the k
    * minhash functions from ONE base hash per shingle (h_j = (a_j·h +
    * b_j) mod P). One md5/xxhash per shingle instead of k — the base
    * hash is the whole cost, so signatures are k× cheaper; (2j+1)·h
    * stays < 2⁶³ for k ≤ 4096 since h < P ≤ 2³⁰.
    */
  val MinhashP = 1000000007L

  private def baseHash(portable: Boolean)(s: Column): Column =
    if (portable) Hashes.portable(s) else xxhash64(s)

  /** Per-shingle base hashes reduced mod P (compute once, derive k). */
  def shingleHashes(shingles: Column, portable: Boolean = false): Column =
    transform(shingles, s => pmod(baseHash(portable)(s), lit(MinhashP)))

  private def affine(j: Column, h: Column): Column =
    pmod((lit(2L) * j + 1) * h + j * j + lit(7L), lit(MinhashP))

  /** k-element MinHash signature from pre-hashed shingles
    * ([[shingleHashes]]): ONE fold over the hash array, carrying the
    * k current minima and updating all k per element via the affine
    * family. The hash array is an aggregate input, so it is evaluated
    * exactly once per row even after Catalyst collapses projections —
    * the naive `transform(seq(k), j -> array_min(transform(hs, …)))`
    * shape re-evaluates `hs` (k × md5 per shingle!) because
    * CollapseProject inlines it into every j-branch; that one-line
    * difference is 16× on this operator's hot path.
    * An empty hash array yields the init vector (all MinhashP) —
    * callers filter empty-shingle rows first. (No `when(size(hs)>0,…)`
    * guard: that would reference `hs` twice and Catalyst evaluates the
    * whole hash chain once per reference.) */
  def minhashSignatureFromHashes(hs: Column, k: Int): Column =
    aggregate(hs,
      array_repeat(lit(MinhashP), k),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(k - 1)), j => affine(j, h)),
        (a, b) => least(a, b)))

  /** k-element MinHash signature of a shingle-array column — the fused
    * imperative kernel ([[graft.functions.MinhashSigExpr]]); bit-
    * identical to `minhashSignatureFromHashes(shingleHashes(sh), k)`
    * (parity unit-proven) with the per-element expression
    * interpretation folded into one tight loop. */
  def minhashSignature(shingles: Column, k: Int, portable: Boolean = false): Column =
    graft.functions.MinhashSigExpr.minhashSig(shingles, k, portable)

  /** LSH band keys: the signature cut into `bands` slices of `rowsPer`
    * hashes, each rendered to a join key. */
  def bandKeys(sig: Column, bands: Int, rowsPer: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",", slice(sig, b * lit(rowsPer) + 1, lit(rowsPer))))

  /** Estimated Jaccard from two signatures: fraction of agreeing
    * positions. */
  def estJaccard(a: Column, b: Column, k: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast(DoubleType) / k

  /** MinHash+LSH near-duplicate pairs: shingle → signature → band
    * buckets → bucket equi-join → estimated-Jaccard filter. Returns
    * (id_a, id_b, est_jaccard) with id_a < id_b.
    *
    * @param maxBucket drop buckets with more members than this (stop-
    *   shingle skew guard; a bucket that hot is noise, not signal).
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, k: Int = 16, bands: Int = 8,
                          threshold: Double = 0.5, portable: Boolean = false,
                          maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val rowsPer = k / bands
    val sigs = graft.util.Materialize.persist(df
      .select(col(idCol).as("__id"), wordShingles(col(textCol), shingleN).as("__sh"))
      .where(size(col("__sh")) > 0)
      .select(col("__id"), minhashSignature(col("__sh"), k, portable).as("__sig")))
    val buckets = sigs
      .select(col("__id"), col("__sig"),
        posexplode(bandKeys(col("__sig"), bands, rowsPer)).as(Seq("__band", "__key")))
    // ONE shuffle on (band, key); bucket members collected and pairs
    // exploded in place — the expensive signature pipeline is evaluated
    // exactly once (a self-join shape would recompute it per side, and
    // a window-based hot-bucket prune a third time). sort_array gives
    // id_a < id_b for free; maxBucket drops degenerate hot buckets.
    val grouped = buckets.groupBy("__band", "__key")
      .agg(sort_array(collect_list(struct(col("__id"), col("__sig")))).as("__m"))
      .where(size(col("__m")) >= 2 && size(col("__m")) <= maxBucket)
    val pairs = grouped.select(explode(expr(
      """flatten(transform(__m, (x, i) ->
           transform(slice(__m, i + 2, size(__m)),
                     y -> struct(x.__id AS id_a, y.__id AS id_b,
                                 x.__sig AS sig_a, y.__sig AS sig_b))))""")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        estJaccard(col("p.sig_a"), col("p.sig_b"), k).as("est_jaccard"))
    pairs.distinct().where(col("est_jaccard") >= threshold)
  }

  /** Transitive near-dup groups from MinHash+LSH pairs — the
    * web-scale twin of [[nearDupGroups]]: the same pairs → connected
    * components → `(id, group_id, group_size)` assembly, but candidate
    * generation is the banded signature join (one (band, key) shuffle,
    * estimated Jaccard) instead of the exact shingle join — at 100 TB
    * the signature pipeline shuffles k longs per document where the
    * exact path shuffles every shingle.
    */
  def minhashDupGroups(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, k: Int = 16, bands: Int = 8,
                       threshold: Double = 0.5, portable: Boolean = false,
                       maxBucket: Int = 1000): DataFrame = {
    val (pairs, release) = graft.util.Materialize.scoped {
      minhashNearDupPairs(df, idCol, textCol, shingleN, k, bands, threshold,
        portable, maxBucket)
    }
    val cc = graft.graph.GraphOps.connectedComponents(pairs, "id_a", "id_b")
    release()
    graft.graph.GraphOps.assignGroups(df, idCol, cc)
  }

  // ---------------------------------------------------------------- jaccard

  /** Exact n-gram Jaccard near-duplicate pairs via shingle equi-join
    * (candidates = pairs sharing ≥1 shingle; exact similarity computed
    * from intersection counts — never a cross join).
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * `maxBucket` semantics: shingles shared by more than `maxBucket`
    * documents are stop-phrases — they carry no dedup signal and are a
    * quadratic pair bomb — so they are removed from the shingle
    * universe ENTIRELY: both the intersection counts and the per-doc
    * set sizes are computed post-prune. Numerator and denominator see
    * the same universe, so the jaccard of surviving pairs is exact over
    * the informative shingles (a pre-prune denominator would
    * systematically underestimate pairs sharing hot shingles).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        maxBucket: Int = 1000): DataFrame =
    pairOverlapCounts(df, idCol, textCol, shingleN, maxBucket)
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast(DoubleType) /
          (col("__na") + col("__nb") - col("__inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** Shared candidate core of the exact set-overlap family: every
    * same-corpus document pair sharing ≥1 post-prune shingle, with the
    * exact intersection size and both post-prune set sizes —
    * [[ngramJaccardPairs]] and [[ngramContainmentPairs]] are
    * projections of this one frame.
    *
    * Shuffle plan: window on __s (hot-shingle prune) → window on __id
    * (post-prune set sizes, so the denominator matches the pruned
    * universe) → self-join on __s → pair aggregation. The pruned+sized
    * frame is persisted because the self-join forks the plan — each
    * join side would otherwise re-run the shingle pipeline and both
    * windows (no ReusedExchange across differing projections). At
    * warehouse scale the equivalent is checkpointing the shingle
    * table; MLlib's LSH persists internally too.
    */
  private def pairOverlapCounts(df: DataFrame, idCol: String, textCol: String,
                                shingleN: Int, maxBucket: Int): DataFrame = {
    val sh = df
      .select(col(idCol).as("__id"), wordShingles(col(textCol), shingleN).as("__sh"))
      .where(size(col("__sh")) > 0)
      .select(col("__id"), explode(col("__sh")).as("__s"))
    val pruned = graft.util.Materialize.persist(sh.withColumn("__bn",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("__s")))
      .where(col("__bn") <= maxBucket).drop("__bn")
      .withColumn("__n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("__id"))))
    // symmetric self-join streams candidate pairs straight into the
    // pair aggregation; post-prune set sizes ride along with each
    // exploded shingle so no join back to a per-doc size table is needed.
    val a = pruned.select(col("__s"), col("__id").as("id_a"), col("__n").as("__na"))
    val b = pruned.select(col("__s"), col("__id").as("id_b"), col("__n").as("__nb"))
    a.join(b, Seq("__s"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "__na", "__nb").agg(count(lit(1)).as("__inter"))
  }

  /** Asymmetric near-dup detection: shingle-set CONTAINMENT
    * `c(A→B) = |A∩B| / |A|` in both directions per candidate pair —
    * the measure Jaccard structurally cannot deliver when sizes
    * differ. A 200-word article quoted whole inside a 20k-word page
    * has Jaccard ≈ 0.01 (invisible at any sane threshold) but
    * containment(article→page) ≈ 1.0; curation drops or
    * cross-references the contained side. Broder's (1997) resemblance
    * vs containment distinction, on the same exact-overlap candidate
    * core as [[ngramJaccardPairs]] — same hot-shingle prune, same
    * post-prune denominators, one extra projection, zero extra
    * shuffles.
    *
    * A pair survives when `max(c_a_in_b, c_b_in_a) >= threshold`.
    * Each containment is ONE IEEE division of exact integers —
    * deterministic, oracle-replayable. Output:
    * `(id_a, id_b, c_a_in_b, c_b_in_a)`.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 3, threshold: Double = 0.8,
                            maxBucket: Int = 1000): DataFrame =
    pairOverlapCounts(df, idCol, textCol, shingleN, maxBucket)
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast(DoubleType) / col("__na")).as("c_a_in_b"),
        (col("__inter").cast(DoubleType) / col("__nb")).as("c_b_in_a"))
      .where(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)

  /** Cross-corpus exact n-gram Jaccard pairs: candidates are (left,
    * right) documents sharing ≥1 shingle — the two sides NEVER
    * self-join, which is the whole point at scale (deduping a daily
    * batch against a 100 TB corpus must not re-pair the corpus with
    * itself). Same post-prune semantics as [[ngramJaccardPairs]]:
    * shingles occurring in more than `maxBucket` documents ACROSS BOTH
    * SIDES are dropped from the universe, and both denominators count
    * post-prune shingles, so surviving pairs carry exact Jaccard over
    * the informative shingles. Returns `(id_l, id_r, jaccard)`.
    */
  def crossNgramJaccardPairs(left: DataFrame, right: DataFrame,
                             idCol: String, textCol: String,
                             shingleN: Int = 3, threshold: Double = 0.5,
                             maxBucket: Int = 1000): DataFrame = {
    def side(df: DataFrame) = df
      .select(col(idCol).as("__id"), wordShingles(col(textCol), shingleN).as("__sh"))
      .where(size(col("__sh")) > 0)
      .select(col("__id"), explode(col("__sh")).as("__s"))
    crossJaccardFromExploded(side(left), side(right), threshold, maxBucket)
  }

  /** Cross-corpus Jaccard over ALREADY-EXPLODED `(__id, __s)` shingle
    * frames — `__s` may be shingle text or an injective hash of it
    * (the at-rest index stores 8-byte hashes; jaccard over hashes
    * equals jaccard over shingles up to hash collisions). Shared by
    * [[crossNgramJaccardPairs]] and [[dedupAgainstIndex]]; the internal
    * pruned-union cache registers with the caller's scope.
    */
  /** [[crossJaccardFromExploded]] with the combined hot-shingle count
    * driven by a MATERIALIZED per-shingle document-frequency frame
    * (`histDf(__s, __hc)` — the at-rest `df` artifact, aggregated
    * across tranches) instead of a window over the unioned shingle
    * rows. Identical semantics: a shingle is pruned when its combined
    * batch+history occurrence count exceeds `maxBucket` (history-only
    * hot shingles included — they lower history docs' post-prune
    * denominators, hence the full outer join), and both denominators
    * count post-prune shingles.
    *
    * The scale win this buys (and why the df artifact exists): the
    * union-window path re-shuffles EVERY history shingle row twice per
    * daily run — once by shingle for the combined count, once by doc
    * for the denominators — a cost that grows with history. Here the
    * combined count is a map-side-combinable sum over the
    * distinct-shingle-sized df artifact joined with the batch's own
    * (batch-sized) shingle counts; history rows are touched only by a
    * hot-set anti-join (the hot set is ≤ total-occurrences/maxBucket
    * rows by construction — every member crossed the cap) and a
    * map-side-combined per-doc count whose shuffle payload is one
    * (doc, count) pair per doc. The history `sh` scan itself is read
    * twice (denominators + candidate join) — scans are the unavoidable
    * cost of consulting history; the shuffles no longer grow with it.
    */
  private def crossJaccardViaDf(left: DataFrame, right: DataFrame,
                                histDf: DataFrame,
                                threshold: Double, maxBucket: Int): DataFrame = {
    // the batch shingle kernel feeds its own bucket counts AND the
    // pruned fork — persisted so it runs once per call, not once per
    // consumer (mirrors crossMinhashViaBf's banded-batch persist)
    val l = graft.util.Materialize.persist(left)
    val batchCnt = l.groupBy("__s").agg(count(lit(1)).as("__bc"))
    // consumed by three anti-joins
    val hot = graft.util.Materialize.persist(
      batchCnt.join(histDf, Seq("__s"), "full_outer")
        .where(coalesce(col("__bc"), lit(0L)) + coalesce(col("__hc"), lit(0L)) > maxBucket)
        .select("__s"))
    // prunedL's two consumers (denominator count, candidate join) each
    // recompute one cheap anti-join FROM the cached l — persisting
    // prunedL too would hold a second near-full copy of the batch's
    // shingle rows for the call's lifetime. The history side is NOT
    // persisted: at scale it cannot be, so it costs two column-pruned
    // artifact scans instead
    val prunedL = l.join(hot, Seq("__s"), "left_anti")
    val nl = prunedL.groupBy("__id").agg(count(lit(1)).as("__nl"))
      .select(col("__id").as("id_l"), col("__nl"))
    val prunedR = right.join(hot, Seq("__s"), "left_anti")
    val nr = prunedR.groupBy("__id").agg(count(lit(1)).as("__nr"))
      .select(col("__id").as("id_r"), col("__nr"))
    prunedL.select(col("__s"), col("__id").as("id_l"))
      .join(prunedR.select(col("__s"), col("__id").as("id_r")), Seq("__s"))
      .groupBy("id_l", "id_r").agg(count(lit(1)).as("__inter"))
      .join(nl, "id_l").join(nr, "id_r")
      .select(col("id_l"), col("id_r"),
        (col("__inter").cast(DoubleType) /
          (col("__nl") + col("__nr") - col("__inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Cross-corpus jaccard pairs of a batch against the INDEX's shingle
    * artifact: the df-driven prune when the index carries the `df`
    * artifact (every index built or consolidated since it exists), the
    * union-window path for a legacy index that predates it (its
    * migration is one [[consolidateDedupIndex]] call). Shared by
    * [[dedupAgainstIndex]] and [[dedupDecisions]] so the two can never
    * disagree on the candidate universe.
    */
  private def indexJaccardPairs(spark: org.apache.spark.sql.SparkSession,
                                dir: String, batchSh: DataFrame,
                                threshold: Double, maxBucket: Int): DataFrame = {
    val histSh = Readers.parquet(spark, s"$dir/sh")
      .select(col("doc_id").as("__id"), col("sh").as("__s"))
    if (graft.util.Tranches.countFresh(spark, dir, "sh", "df")) {
      val histDf = Readers.parquet(spark, s"$dir/df").drop("batch")
        .groupBy("sh").agg(sum(col("df")).as("__hc"))
        .select(col("sh").as("__s"), col("__hc"))
      crossJaccardViaDf(batchSh, histSh, histDf, threshold, maxBucket)
    } else crossJaccardFromExploded(batchSh, histSh, threshold, maxBucket)
  }

  private def crossJaccardFromExploded(left: DataFrame, right: DataFrame,
                                       threshold: Double, maxBucket: Int): DataFrame = {
    // one union feeds both the hot-shingle prune (combined occurrence
    // count — a shingle hot on either side is noise on both) and the
    // per-doc post-prune sizes; persisted because the cross join forks it
    val pruned = graft.util.Materialize.persist(
      left.select(lit(0).as("__side"), col("__id"), col("__s"))
        .unionByName(right.select(lit(1).as("__side"), col("__id"), col("__s")))
        .withColumn("__bn",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("__s")))
        .where(col("__bn") <= maxBucket).drop("__bn")
        .withColumn("__n",
          count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("__side", "__id"))))
    val a = pruned.where(col("__side") === 0)
      .select(col("__s"), col("__id").as("id_l"), col("__n").as("__nl"))
    val b = pruned.where(col("__side") === 1)
      .select(col("__s"), col("__id").as("id_r"), col("__n").as("__nr"))
    a.join(b, Seq("__s"))
      .groupBy("id_l", "id_r", "__nl", "__nr").agg(count(lit(1)).as("__inter"))
      .select(col("id_l"), col("id_r"),
        (col("__inter").cast(DoubleType) /
          (col("__nl") + col("__nr") - col("__inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Incremental-ingest dedup: drop from a NEW batch every document
    * that duplicates the EXISTING corpus — exactly (content
    * fingerprint anti-join) or nearly (cross-corpus Jaccard ≥
    * `threshold`, [[crossNgramJaccardPairs]]). The daily-crawl
    * operation every growing corpus needs: the history is never
    * re-deduped, never self-joined, and never rewritten — the batch is
    * filtered against it. Within-batch duplicates are NOT touched
    * (compose with [[exactDedup]] / [[nearDupGroups]] on the batch
    * first); keeping the two concerns separate keeps both oracles
    * exact.
    *
    * Scale shape: fingerprint anti-join shuffles on the hash; the
    * near-dup filter is the bucketed cross-corpus equi-join; the final
    * anti-join removes flagged ids. History is read twice (fingerprint
    * projection + shingle explode) — both narrow column-pruned scans,
    * the unavoidable cost of consulting it; the batch-sized
    * exact-survivor projection is persisted because it forks into the
    * candidate side and the final anti-join (the pair finders' caching
    * contract).
    */
  def dedupAgainstHistory(batch: DataFrame, history: DataFrame,
                          idCol: String, textCol: String,
                          shingleN: Int = 3, threshold: Double = 0.5,
                          maxBucket: Int = 1000): DataFrame = {
    val histFp = history
      .select(TextOps.fingerprint(col(textCol)).as("__fp")).distinct()
    val exactSurvivors = graft.util.Materialize.persist(batch
      .withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .join(histFp, Seq("__fp"), "left_anti").drop("__fp"))
    val nearIds = crossNgramJaccardPairs(exactSurvivors, history, idCol, textCol,
      shingleN, threshold, maxBucket)
      .select(col("id_l").as("__dup_id")).distinct()
    exactSurvivors.join(nearIds, col(idCol) === col("__dup_id"), "left_anti")
  }

  // ------------------------------------------------- at-rest dedup index

  private def fingerprintRows(df: DataFrame, textCol: String): DataFrame =
    df.select(TextOps.fingerprint(col(textCol)).as("fp")).distinct()

  private def hashedShingleRows(df: DataFrame, idCol: String, textCol: String,
                                shingleN: Int, portable: Boolean): DataFrame =
    df.select(col(idCol).as("doc_id"), wordShingles(col(textCol), shingleN).as("__sh"))
      .where(size(col("__sh")) > 0)
      .select(col("doc_id"), explode(col("__sh")).as("__s"))
      .select(col("doc_id"), baseHash(portable)(col("__s")).as("sh"))

  /** Per-doc k-long MinHash signature rows `(doc_id, sig)` — the
    * approximate tier's at-rest artifact: k longs per document instead
    * of every hashed shingle. */
  private def signatureRows(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, k: Int, portable: Boolean): DataFrame =
    df.select(col(idCol).as("doc_id"), wordShingles(col(textCol), shingleN).as("__sh"))
      .where(size(col("__sh")) > 0)
      .select(col("doc_id"), minhashSignature(col("__sh"), k, portable).as("sig"))

  /** The index's frozen parameter family, the `dedup` family's view of
    * its [[graft.util.IndexMeta]] header. The shingle/hash/signature
    * params are a STRUCTURAL invariant of the artifacts (like the IVF
    * index's frozen centroids): an append or probe with different
    * params would silently diverge the shingle universe and the
    * near-dup tier would find nothing. Every mutating/reading entry
    * point validates against the header and fails fast on mismatch; a
    * legacy (pre-header) index skips the check. */
  private[graft] final case class DedupIndexMeta(
      shingleN: Int, portable: Boolean, sigK: Int, sigBands: Int)

  // filesystem plumbing lives in graft.util.Fs (shared by every index
  // family — no domain module should depend on dedup for FS access)
  import graft.util.Fs.pathExists

  private[graft] def readDedupIndexMeta(
      spark: org.apache.spark.sql.SparkSession, dir: String): Option[DedupIndexMeta] =
    graft.util.IndexMeta.read(spark, dir, "dedup").map(dedupMeta)

  private def dedupMeta(h: graft.util.IndexMeta.Header): DedupIndexMeta =
    DedupIndexMeta(h.int("shingleN"), h.bool("portable"), h.int("sigK"), h.int("sigBands"))

  private def validateIndexParams(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, shingleN: Int, portable: Boolean): Unit =
    readDedupIndexMeta(spark, dir).foreach { m =>
      require(m.shingleN == shingleN && m.portable == portable,
        s"dedup index $dir was built with shingleN=${m.shingleN} portable=${m.portable}, " +
          s"got shingleN=$shingleN portable=$portable — mismatched params silently " +
          "diverge the shingle universe (the near-dup tier would find nothing)")
    }

  /** Materialize the dedup-history index at rest: `dir/fp` holds the
    * corpus's distinct content fingerprints, `dir/sh` its exploded
    * HASHED shingles `(doc_id, sh)` — 8 bytes per shingle instead of
    * the text — and `dir/sig` one k-long MinHash signature per document
    * (the approximate tier's input: k longs/doc, tens-of-× smaller
    * again than `sh` at typical document lengths), and `dir/df` the
    * per-shingle occurrence counts `(sh, df)` that drive the exact
    * tier's hot-shingle prune without re-windowing history (additive
    * across tranches — readers sum them). The daily
    * [[dedupAgainstIndex]] / [[dedupAgainstIndexApprox]] never
    * re-shingles or re-reads the 100 TB corpus text: consulting history
    * becomes column-pruned scans of compact artifacts. The parameter
    * family (`shingleN`, the `portable` hash tier, `sigK`/`sigBands`)
    * is frozen into the index header ([[graft.util.IndexMeta]]) — an
    * append invariant, like the IVF index's frozen centroids — and
    * validated by every later mutation/probe.
    *
    * Layout: every tranche (the build and each append) lands under its
    * own `batch=<tag>` partition subdirectory, so a RE-APPEND with the
    * same tag is an overwrite of exactly its own subdir — retries after
    * a mid-append crash converge instead of double-counting shingle
    * rows (duplicated `(doc_id, sh)` rows would silently inflate the
    * history-side jaccard denominators).
    *
    * Every build stages ALL artifacts plus the header in ONE tree and
    * publishes it whole ([[graft.merge.Merge.swapWith]]): a first build
    * is born by stage + rename (or a first manifest), a rebuild over a
    * live index swaps the whole directory. A crash can never pair a
    * new shingle corpus with stale fingerprints (the per-artifact
    * swap's failure window — the exact tier would wrongly drop
    * new-corpus batch docs whose text matched the OLD corpus until a
    * rerun), and never leaves a half-built index visible.
    */
  def writeDedupIndex(corpus: DataFrame, dir: String, idCol: String, textCol: String,
                      shingleN: Int = 3, portable: Boolean = false,
                      sigK: Int = 16, sigBands: Int = 8,
                      commit: graft.merge.Merge.Commit =
                        graft.merge.Merge.RenameCommit): Unit = {
    require(sigK % sigBands == 0, s"sigK=$sigK must divide into sigBands=$sigBands")
    val spark = corpus.sparkSession
    val meta = DedupIndexMeta(shingleN, portable, sigK, sigBands)
    graft.merge.Merge.swapWith(spark, dir, commit) { root =>
      graft.util.IndexMeta.write(spark, root, Seq("shingleN" -> shingleN,
        "portable" -> portable, "sigK" -> sigK, "sigBands" -> sigBands))
      // three INDEPENDENT artifact chains overlapped on driver threads
      // ([[graft.util.Par]]): (sh → df), (fp),
      // (sig → bf) share no intermediate — each derived count reads
      // back ITS OWN just-written row tranche, never a sibling. The
      // publish is all-or-nothing whichever chain dies first.
      graft.util.Par.jobs(
        () => {
          hashedShingleRows(corpus, idCol, textCol, shingleN, portable)
            .write.mode("overwrite").parquet(s"$root/sh/batch=build")
          shingleCounts(Readers.parquet(spark, s"$root/sh/batch=build"))
            .write.mode("overwrite").parquet(s"$root/df/batch=build")
        },
        () => fingerprintRows(corpus, textCol)
          .write.mode("overwrite").parquet(s"$root/fp/batch=build"),
        () => {
          signatureRows(corpus, idCol, textCol, shingleN, sigK, portable)
            .write.mode("overwrite").parquet(s"$root/sig/batch=build")
          bandCounts(meta)(Readers.parquet(spark, s"$root/sig/batch=build"))
            .write.mode("overwrite").parquet(s"$root/bf/batch=build")
        })
      // a fresh build also resets the absorbed-tag ledger: the whole-dir
      // swap drops the previous ledger with the old tranches
    }
  }

  /** Append a tranche of SURVIVING rows to the index — the steady-state
    * loop is `dedupAgainstIndex(batch) → append(survivors, tag)`; the
    * index only ever grows by deduplicated content. Params are
    * validated against the index header (mismatch fails fast); a tag
    * already ABSORBED by [[consolidateDedupIndex]] makes the call a
    * NO-OP — a crashed stream re-delivering an epoch whose tranche was
    * consolidated away must not re-append rows that already live in
    * `batch=consolidated` (duplicated `(doc_id, sh)` rows permanently
    * deflate history-side jaccard: 2i/(nl+2nr−2i) < J, silently
    * missing near-dups).
    *
    * Crash-safety: the tranche writes OVERWRITE its own `batch=<tag>`
    * subdirs, so re-running the append with the same tag after any
    * mid-append failure converges to exactly one copy. Shingles and
    * signatures land BEFORE fingerprints: a crash in between leaves
    * near-dup detection intact (the re-delivered identical doc drops
    * at jaccard 1.0) and only the cheap exact tier briefly un-backed —
    * the reverse order would commit fingerprints first and permanently
    * blind the shingle tier to those documents if the retry recomputed
    * survivors against the half-appended index.
    *
    * `newRows` is typically [[dedupAgainstIndex]]'s output, whose
    * LINEAGE READS THIS INDEX — and the append mutates it between the
    * writes. `Materialize.freeze` (an eager local checkpoint) freezes
    * the survivor set first; a lost block fails the job rather than
    * recomputing against mutated state. The frozen blocks register with
    * the caller's scope.
    */
  def appendToDedupIndex(newRows: DataFrame, indexDir: String, idCol: String, textCol: String,
                         tag: String,
                         shingleN: Int = 3, portable: Boolean = false): Unit = {
    // the tag is REQUIRED, not defaulted: a random default would defeat
    // the whole contract (a retry would mint a new tranche and
    // double-count every shingle row, silently inflating jaccard
    // denominators). Callers own tag uniqueness per logical tranche —
    // a date, an epoch id — and retries reuse it.
    val spark = newRows.sparkSession
    // a pointer-committed index resolves to its current generation;
    // tranche appends mutate that generation IN PLACE (the tranche
    // model's own crash story: batch=<tag> overwrite, retry-converge) —
    // generations are immutable only ACROSS consolidation swaps
    val dir = graft.merge.Merge.resolveDir(spark, indexDir)
    requireTrancheLayout(spark, dir)
    validateIndexParams(spark, dir, shingleN, portable)
    // novelty probe for the absorbed-tag path: batch content
    // fingerprints absent from the consolidated fp artifact. A true
    // replay counts 0 (its fps were absorbed); new content counts > 0.
    if (!graft.util.Tranches.appendTagAllowed(spark, dir, tag, "appendToDedupIndex", () =>
      fingerprintRows(newRows, textCol)
        .join(Readers.parquet(spark, s"$dir/fp").select("fp"), Seq("fp"), "left_anti")
        .count())) return
    val frozen = graft.util.Materialize.freeze(newRows)
    // two independent row+count chains overlapped on driver threads
    // ([[graft.util.Par]]), then fp STRICTLY LAST —
    // the ordering contracts all hold: shingles and signatures (and
    // their derived df/bf counts, each read back from ITS OWN at-rest
    // tranche) land before fingerprints, so the fp commit witness
    // still covers every other artifact, and a crash anywhere in the
    // wave leaves near-dup detection intact with only the cheap exact
    // tier un-backed until the documented same-tag retry.
    graft.util.Par.jobs(
      () => {
        hashedShingleRows(frozen, idCol, textCol, shingleN, portable)
          .write.mode("overwrite").parquet(s"$dir/sh/batch=$tag")
        // df tranche from the written sh tranche (read-back, like the
        // build: counts must equal the at-rest rows exactly); a legacy
        // pre-df index skips it — consolidateDedupIndex is its
        // migration. Written BEFORE fp so the fp commit witness covers
        // it: a crash in between leaves the prune slightly conservative
        // (undercounted combined counts → fewer pruned shingles) until
        // the documented same-tag retry overwrites both.
        if (pathExists(spark, s"$dir/df"))
          shingleCounts(Readers.parquet(spark, s"$dir/sh/batch=$tag"))
            .write.mode("overwrite").parquet(s"$dir/df/batch=$tag")
      },
      () => {
        // a legacy (pre-sig) index has no sig artifact; appending one
        // would cover only post-migration tranches — the approx tier
        // needs a writeDedupIndex rebuild to exist at all
        readDedupIndexMeta(spark, dir).foreach { m =>
          if (pathExists(spark, s"$dir/sig")) {
            signatureRows(frozen, idCol, textCol, shingleN, m.sigK, portable)
              .write.mode("overwrite").parquet(s"$dir/sig/batch=$tag")
            if (pathExists(spark, s"$dir/bf"))
              bandCounts(m)(Readers.parquet(spark, s"$dir/sig/batch=$tag"))
                .write.mode("overwrite").parquet(s"$dir/bf/batch=$tag")
          }
        }
      })
    fingerprintRows(frozen, textCol).write.mode("overwrite").parquet(s"$dir/fp/batch=$tag")
  }

  /** `df`: per-shingle occurrence counts of `sh` rows — always derived
    * by reading back rows AT REST (never by re-evaluating the corpus
    * plan), so the counts the prune trusts equal the stored rows. */
  private def shingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy("sh").agg(count(lit(1)).as("df"))

  /** `bf`: per-(band, key) bucket sizes of `sig` rows at rest — the
    * approximate tier's hot-bucket prune input (df's sig twin); the
    * banding is the index's frozen family. */
  private def bandCounts(m: DedupIndexMeta)(sig: DataFrame): DataFrame =
    sig.select(posexplode(bandKeys(col("sig"), m.sigBands, m.sigK / m.sigBands))
        .as(Seq("band", "key")))
      .groupBy("band", "key").agg(count(lit(1)).as("n"))

  private val IndexArtifacts = Seq("sh", "fp", "sig", "df", "bf")

  /** The row artifacts a fold rewrites through `distinct()`. The count
    * artifacts `df`/`bf` are NOT here: their rows are ADDITIVE across
    * tranches (the daily read sums them), so a distinct() rewrite would
    * collapse two tranches that legitimately carry the same count row
    * and undercount the prune; the fold regenerates them instead. */
  private val RowDistinctArtifacts = Seq("sh", "fp", "sig")

  /** Refuse to append into a pre-tranche flat index: mixing loose part
    * files and `batch=` subdirs makes Spark's partition discovery fail
    * on the next read ("conflicting directory structures") — an
    * unreadable index is worse than a failed append. Migration is one
    * [[consolidateDedupIndex]] call (it reads any layout and writes the
    * tranche layout).
    */
  private def requireTrancheLayout(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): Unit =
    for (artifact <- IndexArtifacts) {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$artifact")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val loose = fs.listStatus(p).exists { st =>
          val n = st.getPath.getName
          // underscore/dot files are committer metadata, invisible to
          // the parquet reader — only loose DATA files break discovery
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        require(!loose,
          s"dedup index $dir/$artifact has a flat (pre-tranche) layout; " +
            "run consolidateDedupIndex first to migrate it to batch= tranches")
      }
    }

  /** Consolidate an appended dedup index: fold each row artifact's
    * accumulated `batch=` tranches into ONE tranche — the maintenance
    * step for the steady-state loop, where a year of daily appends means
    * 365 tranche directories of splinter files per artifact. The
    * protocol is [[graft.util.Tranches.foldLedger]] with `fp` (written
    * last by the append) as the commit witness: the index stays readable
    * throughout, unproven tranches are preserved for their same-tag
    * retry, and `df`/`bf` are regenerated from the folded `sh`/`sig`
    * rows — self-healing by construction, and the migration that
    * retrofits them onto an index built before they existed. Run it
    * offline relative to appends.
    *
    * Two defenses against replayed absorbed epochs (a stream that
    * crashed before checkpointing an epoch re-delivers it AFTER its
    * tranche was consolidated away): the rewrite is SELF-HEALING — rows
    * pass through `distinct()`, so any double-counted `(doc_id, sh)` /
    * `fp` / `(doc_id, sig)` rows collapse back to one copy — and the
    * absorbed tranche tags are recorded in the index's ledger, so
    * [[appendToDedupIndex]] turns a replayed append of an absorbed
    * epoch into a no-op instead of deflating history-side jaccard
    * until the next consolidation. `commit = PointerCommit` publishes
    * the whole folded index as one fresh generation (S3-safe).
    */
  def consolidateDedupIndex(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String,
                            commit: graft.merge.Merge.Commit =
                              graft.merge.Merge.RenameCommit): Unit = {
    val dir = graft.merge.Merge.resolveDir(spark, indexDir)
    val rows = RowDistinctArtifacts.filter(a => pathExists(spark, s"$dir/$a"))
    val counts =
      (if (rows.contains("sh")) Seq(("df", "sh", shingleCounts _)) else Nil) ++
        readDedupIndexMeta(spark, dir).filter(_ => rows.contains("sig"))
          .map(m => ("bf", "sig", bandCounts(m) _))
    graft.util.Tranches.foldLedger(spark, indexDir, rows.map(_ -> Nil),
      witness = "fp", counts, commit)
  }

  /** [[dedupAgainstHistory]] against the MATERIALIZED index instead of
    * the corpus: identical semantics (exact fingerprint anti-join +
    * cross-corpus post-prune Jaccard, up to shingle-hash collisions)
    * with history-side cost reduced from two text scans to two compact
    * index scans. Spec-proven equal to the direct path.
    *
    * `maxBucket` is TIME-VARYING by design: the cap is an absolute
    * occurrence count over batch + history combined, so a shingle that
    * was informative on day 1 can cross the cap on day 300 purely
    * because the corpus grew, leaving the shingle universe — the same
    * document pair can then flip from near-dup to survivor between
    * runs against 1× and 2× history. This is stop-phrase pruning
    * semantics (a shingle shared by `maxBucket` documents carries no
    * dedup signal REGARDLESS of corpus size — but which shingles
    * qualify depends on it), not a bug; pipelines that need
    * decision-stable reruns should pin the index via
    * [[consolidateDedupIndex]] snapshots or scale `maxBucket` with
    * corpus size. Spec-demonstrated in `LlmOpsSpec`
    * ("maxBucket universe drifts as history grows").
    */
  def dedupAgainstIndex(batch: DataFrame, dir: String, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        maxBucket: Int = 1000, portable: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val idx = graft.merge.Merge.resolveDir(spark, dir)
    validateIndexParams(spark, idx, shingleN, portable)
    // append tranches can re-add fps; distinct over the column alone
    // (the batch=<tag> partition column must not widen the key)
    val histFp = Readers.parquet(spark, s"$idx/fp").select("fp").distinct()
    // persisted: the survivors fork into the near-dup candidate side
    // and the final anti-join — unpersisted, each branch re-runs the
    // batch fingerprint join (an extra scan of both inputs per action)
    val exactSurvivors = graft.util.Materialize.persist(batch
      .withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .join(histFp.withColumnRenamed("fp", "__fp"), Seq("__fp"), "left_anti")
      .drop("__fp"))
    val batchSh = hashedShingleRows(exactSurvivors, idCol, textCol, shingleN, portable)
      .select(col("doc_id").as("__id"), col("sh").as("__s"))
    val nearIds = indexJaccardPairs(spark, idx, batchSh, threshold, maxBucket)
      .select(col("id_l").as("__dup_id")).distinct()
    exactSurvivors.join(nearIds, col(idCol) === col("__dup_id"), "left_anti")
  }

  /** At-rest index statistics: one row per artifact present —
    * `(artifact, n_rows, n_docs, n_tranches)` with `n_docs` NULL for
    * the doc-less `fp` artifact. The maintenance gauge the steady-state
    * loop watches: tranche count says when to [[consolidateDedupIndex]]
    * (hundreds of `batch=` dirs of splinter files), rows-per-doc says
    * whether the shingle universe matches expectations, and a
    * row-count jump after a replay incident is the double-append
    * symptom the self-healing consolidation repairs. Counts are
    * column-pruned scans of the compact artifacts — never the corpus.
    */
  def dedupIndexStats(spark: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame = {
    val dir = graft.merge.Merge.resolveDir(spark, indexDir)
    val present = IndexArtifacts.filter(a => pathExists(spark, s"$dir/$a"))
    // a gauge that reads an empty frame for a typo'd path goes dark
    // silently — fail like the other non-index entry points do
    require(present.nonEmpty,
      s"dedupIndexStats: $dir has none of ${IndexArtifacts.mkString("/")} — " +
        "not a dedup index (build one with writeDedupIndex)")
    artifactStats(spark, dir, present)
  }

  /** The family-generic core of the index gauge — one row per named
    * artifact, `(artifact, n_rows, n_docs, n_tranches)` — shared by
    * [[dedupIndexStats]] and the winnow twin
    * ([[graft.text.TextOps.winnowIndexStats]]); callers validate the
    * family layout/meta first. */
  private[graft] def artifactStats(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, artifacts: Seq[String]): DataFrame = {
    import spark.implicits._
    // per-artifact count jobs are independent — overlap them on driver
    // threads ([[graft.util.Par]]): the gauge's cost
    // is one wave of artifact scans instead of one job latency each
    val out = new Array[(String, Long, Option[Long], Int)](artifacts.size)
    graft.util.Par.jobs(artifacts.zipWithIndex.map { case (a, i) => () => {
      val df = Readers.parquet(spark, s"$dir/$a")
      val nTranches = graft.util.Tranches.names(spark, s"$dir/$a").size
      // one aggregation pass per artifact (rows + distinct docs in a
      // single scan — the routine gauge must not read history twice)
      val (nRows, nDocs) =
        if (df.columns.contains("doc_id")) {
          val r = df.agg(count(lit(1)), count_distinct(col("doc_id"))).head()
          (r.getLong(0), Some(r.getLong(1)))
        } else (df.count(), None)
      out(i) = (a, nRows, nDocs, nTranches)
    }}: _*)
    out.toSeq.toDF("artifact", "n_rows", "n_docs", "n_tranches")
  }

  /** At-rest index HEALTH: one row per present artifact,
    * `(artifact, n_tranches, n_marked, n_unproven, count_fresh)` — the
    * fs-metadata companion to [[dedupIndexStats]]'s row counts, read
    * without touching any data file
    * ([[graft.util.Tranches.ledgerHealth]]). `n_unproven` uses the SAME
    * definition consolidation acts on: a
    * tranche tag is unproven iff the fp commit-witness — the artifact
    * the append path writes LAST — does not prove it committed. A
    * mid-append crash (tag present in sh/sig/bf/df but absent from, or
    * unmarked in, fp) therefore shows `n_unproven > 0` on every
    * half-written artifact, and the documented recovery is a same-tag
    * re-run of the owning append (consolidation PRESERVES, not
    * absorbs, unproven tranches until then). `n_marked` counts tranche
    * dirs carrying the committer's `_SUCCESS` marker: `n_marked <
    * n_tranches` with `n_unproven = 0` is a stripped marker on a
    * witness-proven tranche (harmless — the next consolidation absorbs
    * it), while `n_marked = 0` with tranches present is EITHER a
    * marker-disabled deployment or a fleet-wide lifecycle-rule strip —
    * indistinguishable from metadata, so the committed fallback counts
    * every tranche and the operator must know which deployment they
    * run. `count_fresh` says whether the df/bf count artifacts
    * currently drive the fast prune path or the probes are on the
    * window fallback (NULL for row artifacts); `false` → consolidate.
    * Large `n_tranches` → consolidate for splinter-file economics.
    */
  def dedupIndexHealth(spark: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame = {
    val dir = graft.merge.Merge.resolveDir(spark, indexDir)
    val present = IndexArtifacts.filter(a => pathExists(spark, s"$dir/$a"))
    require(present.nonEmpty,
      s"dedupIndexHealth: $dir has none of ${IndexArtifacts.mkString("/")} — " +
        "not a dedup index (build one with writeDedupIndex)")
    graft.util.Tranches.ledgerHealth(spark, dir, present,
      Map("df" -> "sh", "bf" -> "sig"), witness = Some("fp"))
  }

  /** Per-document dedup DECISION REPORT against the materialized
    * index — the observability twin of [[dedupAgainstIndex]]: instead
    * of silently dropping duplicates, every batch document gets a row
    * `(id, decision, best_jaccard)` with `decision` ∈ exact | near |
    * unique and `best_jaccard` = the highest post-prune jaccard any
    * history document reached (NULL for exact dups, which never enter
    * the near tier, and for docs with no candidate at all). The triage
    * view a pipeline operator reads when a day's drop-rate moves: what
    * got dropped, why, and how close the near-misses were.
    *
    * Same tiering, same universe, same maxBucket semantics as
    * [[dedupAgainstIndex]] — `decision != 'unique'` rows are exactly
    * the documents that operator would drop (the candidate join runs
    * unthresholded so near-miss scores survive to the report; the
    * decision applies the threshold at the end).
    */
  def dedupDecisions(batch: DataFrame, dir: String, idCol: String, textCol: String,
                     shingleN: Int = 3, threshold: Double = 0.5,
                     maxBucket: Int = 1000, portable: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val idx = graft.merge.Merge.resolveDir(spark, dir)
    validateIndexParams(spark, idx, shingleN, portable)
    val histFp = Readers.parquet(spark, s"$idx/fp").select("fp").distinct()
      .withColumnRenamed("fp", "__fp").withColumn("__hit", lit(true))
    // persisted: forks into the shingle pipeline and the final report join
    val flagged = graft.util.Materialize.persist(batch
      .withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .join(histFp, Seq("__fp"), "left"))
    val batchSh = hashedShingleRows(flagged.where(col("__hit").isNull),
      idCol, textCol, shingleN, portable)
      .select(col("doc_id").as("__id"), col("sh").as("__s"))
    // threshold 0: keep every candidate pair so near-MISS scores reach
    // the report (pairs always share ≥1 post-prune shingle ⇒ jaccard > 0)
    val best = indexJaccardPairs(spark, idx, batchSh, 0.0, maxBucket)
      .groupBy(col("id_l")).agg(max(col("jaccard")).as("best_jaccard"))
    flagged.join(best, col(idCol) === col("id_l"), "left")
      .select(col(idCol),
        when(col("__hit"), "exact")
          .when(col("best_jaccard") >= threshold, "near")
          .otherwise("unique").as("decision"),
        col("best_jaccard"))
  }

  /** [[dedupDecisions]]' APPROXIMATE-tier twin — the decision report
    * of [[dedupAgainstIndexApprox]]: every batch document gets
    * `(id, decision, best_est_jaccard)` with the best SIGNATURE-
    * estimated jaccard any history document reached (NULL for exact
    * dups and candidate-less docs). The steady-state loop runs the sig
    * tier, so when ITS drop-rate moves, this is the triage view —
    * same banded candidate generation, same signature family from the
    * index header, same maxBucket cap as the operator it explains;
    * `decision != 'unique'` rows are exactly
    * [[dedupAgainstIndexApprox]]'s drop set (spec-tied). The history
    * side reads k longs/doc from `dir/sig`, never `dir/sh`.
    */
  def dedupDecisionsApprox(batch: DataFrame, dir: String, idCol: String, textCol: String,
                           threshold: Double = 0.5,
                           maxBucket: Int = 1000): DataFrame = {
    val spark = batch.sparkSession
    val header = graft.util.IndexMeta.open(spark, dir, "dedup", "writeDedupIndex")
    val (idx, meta) = (header.dir, dedupMeta(header))
    require(pathExists(spark, s"$idx/sig"),
      s"dedup index $idx has no sig artifact; rebuild with writeDedupIndex")
    val histFp = Readers.parquet(spark, s"$idx/fp").select("fp").distinct()
      .withColumnRenamed("fp", "__fp").withColumn("__hit", lit(true))
    // persisted: forks into the signature pipeline and the report join
    val flagged = graft.util.Materialize.persist(batch
      .withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .join(histFp, Seq("__fp"), "left"))
    val batchSigs = signatureRows(flagged.where(col("__hit").isNull),
      idCol, textCol, meta.shingleN, meta.sigK, meta.portable)
    // threshold 0: candidates reach the report unthresholded so
    // near-miss estimates survive (a banded candidate agrees on ≥ one
    // whole band ⇒ estimate > 0)
    val best = indexMinhashPairs(spark, idx, batchSigs,
      meta.sigK, meta.sigBands, 0.0, maxBucket)
      .groupBy(col("id_l")).agg(max(col("est_jaccard")).as("best_est_jaccard"))
    flagged.join(best, col(idCol) === col("id_l"), "left")
      .select(col(idCol),
        when(col("__hit"), "exact")
          .when(col("best_est_jaccard") >= threshold, "near")
          .otherwise("unique").as("decision"),
        col("best_est_jaccard"))
  }

  /** Cross-corpus MinHash candidate pairs over PER-DOC SIGNATURE rows
    * `(doc_id, sig)` — the approximate twin of
    * [[crossJaccardFromExploded]]: band the signatures, meet candidates
    * in a (band, key) equi-join (left side × right side only — the two
    * corpora never self-join), estimate Jaccard from signature
    * agreement. `maxBucket` caps COMBINED (band, key) bucket size
    * across both sides, mirroring the exact path's combined hot-shingle
    * prune. Returns `(id_l, id_r, est_jaccard)`; the internal
    * banded-union cache registers with the caller's scope.
    */
  private def crossMinhashFromSigs(left: DataFrame, right: DataFrame,
                                   k: Int, bands: Int, threshold: Double,
                                   maxBucket: Int): DataFrame = {
    val rowsPer = k / bands
    def banded(sigs: DataFrame, side: Int) = sigs
      .select(lit(side).as("__side"), col("doc_id").as("__id"), col("sig").as("__sig"),
        posexplode(bandKeys(col("sig"), bands, rowsPer)).as(Seq("__band", "__key")))
    // one union feeds the combined hot-bucket prune and both join
    // sides; persisted because the join forks it (same contract as the
    // exact path — k longs/doc cross this shuffle, not shingles)
    val pruned = graft.util.Materialize.persist(
      banded(left, 0).unionByName(banded(right, 1))
        .withColumn("__bn", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("__band", "__key")))
        .where(col("__bn") <= maxBucket).drop("__bn"))
    val a = pruned.where(col("__side") === 0)
      .select(col("__band"), col("__key"), col("__id").as("id_l"), col("__sig").as("__sl"))
    val b = pruned.where(col("__side") === 1)
      .select(col("__band"), col("__key"), col("__id").as("id_r"), col("__sig").as("__sr"))
    a.join(b, Seq("__band", "__key"))
      .select(col("id_l"), col("id_r"), col("__sl"), col("__sr"))
      .distinct() // a pair meets once per agreeing band
      .select(col("id_l"), col("id_r"),
        estJaccard(col("__sl"), col("__sr"), k).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** [[crossMinhashFromSigs]] with the combined hot-bucket count
    * driven by the MATERIALIZED `bf` artifact — per-(band, key) bucket
    * sizes `(band, key, n)`, additive across tranches — instead of a
    * window over the unioned banded rows. Identical candidate
    * universe: a bucket is dropped when its combined batch+history
    * size exceeds `maxBucket` (history-only hot buckets contribute no
    * candidates either way, so pruning them early only sheds rows).
    *
    * What this retires at 100 TB: the window formulation UNIONS every
    * history signature's banded rows with the batch, shuffles and
    * SORTS them all by (band, key), and — worse — PERSISTS the whole
    * union (MEMORY_AND_DISK of the entire banded history, every daily
    * run). Here history rows are touched by one anti-join against the
    * small hot set (≤ combined-rows/maxBucket buckets by construction)
    * on their way into the candidate equi-join — one shuffle, no sort,
    * and the only persisted frames are the hot set and the batch's own
    * banded rows (registered with the caller's scope).
    */
  private def crossMinhashViaBf(left: DataFrame, right: DataFrame,
                                histBf: DataFrame,
                                k: Int, bands: Int, threshold: Double,
                                maxBucket: Int): DataFrame = {
    val rowsPer = k / bands
    def banded(sigs: DataFrame) = sigs
      .select(col("doc_id").as("__id"), col("sig").as("__sig"),
        posexplode(bandKeys(col("sig"), bands, rowsPer)).as(Seq("__band", "__key")))
    // persisted: the batch's banded rows fork into their own bucket
    // counts and the candidate join — recomputing would re-run the
    // minhash kernel over the batch per consumer
    val l = graft.util.Materialize.persist(banded(left))
    val batchCnt = l.groupBy("__band", "__key").agg(count(lit(1)).as("__bc"))
    // both anti-joins below
    val hot = graft.util.Materialize.persist(
      batchCnt.join(histBf, Seq("__band", "__key"), "full_outer")
        .where(coalesce(col("__bc"), lit(0L)) + coalesce(col("__hc"), lit(0L)) > maxBucket)
        .select("__band", "__key"))
    val a = l.join(hot, Seq("__band", "__key"), "left_anti")
      .select(col("__band"), col("__key"), col("__id").as("id_l"), col("__sig").as("__sl"))
    val b = banded(right).join(hot, Seq("__band", "__key"), "left_anti")
      .select(col("__band"), col("__key"), col("__id").as("id_r"), col("__sig").as("__sr"))
    a.join(b, Seq("__band", "__key"))
      .select(col("id_l"), col("id_r"), col("__sl"), col("__sr"))
      .distinct() // a pair meets once per agreeing band
      .select(col("id_l"), col("id_r"),
        estJaccard(col("__sl"), col("__sr"), k).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Banded candidate pairs of batch signatures against the INDEX's
    * sig artifact: the bf-driven prune when the index carries the `bf`
    * artifact, the union-window path for a legacy index that predates
    * it ([[consolidateDedupIndex]] retrofits it). Shared by
    * [[dedupAgainstIndexApprox]] and [[dedupDecisionsApprox]] so the
    * two can never disagree on the candidate universe.
    */
  private def indexMinhashPairs(spark: org.apache.spark.sql.SparkSession,
                                dir: String, batchSigs: DataFrame,
                                k: Int, bands: Int, threshold: Double,
                                maxBucket: Int): DataFrame = {
    val histSigs = Readers.parquet(spark, s"$dir/sig").select("doc_id", "sig")
    if (graft.util.Tranches.countFresh(spark, dir, "sig", "bf")) {
      val histBf = Readers.parquet(spark, s"$dir/bf").drop("batch")
        .groupBy("band", "key").agg(sum(col("n")).as("__hc"))
        .select(col("band").as("__band"), col("key").as("__key"), col("__hc"))
      crossMinhashViaBf(batchSigs, histSigs, histBf, k, bands, threshold, maxBucket)
    } else crossMinhashFromSigs(batchSigs, histSigs, k, bands, threshold, maxBucket)
  }

  /** The APPROXIMATE tier of [[dedupAgainstIndex]] — the highest-
    * leverage artifact at 100 TB: the exact tier's daily near-dup pass
    * scans `dir/sh` (EVERY hashed shingle of a forever-growing
    * history, hundreds of longs per document), while this one scans
    * `dir/sig` (k longs per document) and meets candidates in the
    * banded (band, key) equi-join — the same exact-vs-estimated
    * tiering the in-memory path has ([[nearDupGroups]] vs
    * [[minhashDupGroups]]). The exact fingerprint anti-join tier is
    * unchanged (fingerprints are already one row per doc); only the
    * near-dup tier trades exact post-prune Jaccard for signature-
    * estimated Jaccard.
    *
    * The signature family (shingleN, hash tier, k, bands) is read from
    * the index header — never passed by the caller — so a probe can
    * never band with different params than the at-rest signatures were
    * built with (the structural invariant the header exists for).
    * Requires a sig-bearing index ([[writeDedupIndex]] always writes
    * one; legacy pre-sig indexes need a rebuild).
    */
  def dedupAgainstIndexApprox(batch: DataFrame, dir: String, idCol: String, textCol: String,
                              threshold: Double = 0.5,
                              maxBucket: Int = 1000): DataFrame = {
    val spark = batch.sparkSession
    val header = graft.util.IndexMeta.open(spark, dir, "dedup", "writeDedupIndex")
    val (idx, meta) = (header.dir, dedupMeta(header))
    require(pathExists(spark, s"$idx/sig"),
      s"dedup index $idx has no sig artifact; rebuild with writeDedupIndex")
    val histFp = Readers.parquet(spark, s"$idx/fp").select("fp").distinct()
    val exactSurvivors = graft.util.Materialize.persist(batch
      .withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .join(histFp.withColumnRenamed("fp", "__fp"), Seq("__fp"), "left_anti")
      .drop("__fp"))
    val batchSigs = signatureRows(exactSurvivors, idCol, textCol,
      meta.shingleN, meta.sigK, meta.portable)
    val nearIds = indexMinhashPairs(spark, idx, batchSigs,
      meta.sigK, meta.sigBands, threshold, maxBucket)
      .select(col("id_l").as("__dup_id")).distinct()
    exactSurvivors.join(nearIds, col(idCol) === col("__dup_id"), "left_anti")
  }

  /** Near-duplicate GROUP assignment for a whole corpus: candidate
    * pairs from exact n-gram Jaccard ([[ngramJaccardPairs]]) are closed
    * transitively with distributed connected components
    * ([[graft.graph.GraphOps.connectedComponents]]) so that A~B, B~C
    * puts A, B, C in ONE group even when A and C share nothing — the
    * step pair-emitting dedup skips and every production pipeline needs
    * before it can "keep one per cluster". Every document gets a row:
    * `(id, group_id, group_size)` with `group_id` = min doc id of its
    * cluster (singletons: their own id). Keep-one-representative is
    * then `where($"group_id" === $"id")` — deterministic, no ordering
    * ambiguity.
    *
    * Scale shape: pair generation is the bucketed equi-join (never
    * all-pairs); the CC input is only the PAIR set (∝ duplicates, not
    * corpus); the final assignment is ONE left join against the
    * CC output — group sizes are aggregated from the pair-set-sized CC
    * table (singletons are size 1 by definition), NOT from a group-key
    * window over the corpus, which would add a full-corpus shuffle for
    * information the small side already holds. AQE broadcasts the
    * sized CC table when it fits. At 100 TB the pair set is the small
    * side by construction — near-dup pairs are rare relative to
    * documents.
    */
  def nearDupGroups(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, threshold: Double = 0.5,
                    maxBucket: Int = 1000): DataFrame = {
    val (pairs, releasePairs) = graft.util.Materialize.scoped {
      ngramJaccardPairs(df, idCol, textCol, shingleN, threshold, maxBucket)
    }
    // connectedComponents materializes the edge set into its own
    // persisted frame (or a driver array) on entry, so the jaccard
    // intermediate cache is dead weight the moment it returns
    val cc = graft.graph.GraphOps.connectedComponents(pairs, "id_a", "id_b")
    releasePairs()
    graft.graph.GraphOps.assignGroups(df, idCol, cc)
  }

  /** Keep ONE representative per near-duplicate cluster by QUALITY
    * rather than by min id — the selection step a curation pipeline
    * actually wants: [[nearDupGroups]]' `group_id === id` rule keeps
    * whichever duplicate happens to have the smallest id; this keeps
    * the highest-`score` member (ties broken toward the smaller id, so
    * the choice is deterministic). Returns one row per cluster:
    * `(group_id, kept_id, group_size)`.
    *
    * Scale shape: clustering is [[nearDupGroups]] (bucketed pair join +
    * CC over the pair set); winner selection is ONE `max_by`
    * aggregation keyed by group — map-side combinable, no corpus-wide
    * window sort (a `row_number` over groups would sort every
    * partition for information a running maximum already holds).
    */
  def keepBestPerGroup(df: DataFrame, idCol: String, textCol: String,
                       score: Column,
                       shingleN: Int = 3, threshold: Double = 0.5,
                       maxBucket: Int = 1000): DataFrame = {
    val groups = nearDupGroups(df, idCol, textCol, shingleN, threshold, maxBucket)
    // the score keeps its own type: quality signals are usually
    // fractional doubles in [0,1], and an integral cast would truncate
    // them all to 0 — collapsing selection back to the min-id rule this
    // operator exists to replace
    val scored = df.select(col(idCol), score.as("__score"))
      .join(groups, Seq(idCol))
    scored.groupBy(col("group_id"))
      .agg(
        // struct comparison is lexicographic and ids are unique, so the
        // ordering key (score, -id) has no ties — max_by is deterministic
        max_by(col(idCol),
          struct(col("__score"), (-col(idCol)).cast(LongType))).as("kept_id"),
        max(col("group_size")).as("group_size"))
  }

  /** Global span-level exact dedup — remove REPEATED PASSAGES, not
    * repeated documents: boilerplate headers, license blocks, navboxes
    * that recur across an otherwise-unique corpus. The text is cut
    * into consecutive non-overlapping `spanWords`-word windows; a span
    * survives only at its FIRST corpus occurrence (ordered by doc id,
    * then position — duplicates within one document drop too), and
    * each document is reassembled from its surviving spans in order.
    * Fixed windows are the scalable approximation of exact substring
    * dedup (suffix-array dedup à la Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — a suffix array over
    * 100 TB is not a Spark-shaped structure; windowed spans are).
    *
    * Output: one row per input document — `(id, text_clean, n_spans,
    * n_dropped)`, empty string when every span was dropped.
    *
    * Scale shape: explode → ONE window keyed by span content (the
    * first-occurrence mark) → ONE per-doc aggregation that counts,
    * filters, and reassembles in a single pass (conditional
    * `collect_list` — no plan fork, nothing persisted) → left join
    * back to ids. Span-content skew is self-limiting: a span repeated
    * a million times is exactly what the operator deletes, and AQE
    * splits such buckets.
    *
    * `hashSpans = true` is the warehouse tier: the first-occurrence
    * window shuffles `(id, idx, xxhash64(span))` — 8 bytes of key
    * instead of the span text — and each document's surviving text is
    * rebuilt from its original word array by the KEPT span indices, so
    * span text never crosses a shuffle at all (it exists only inside
    * narrow per-row projections). Output is identical to the text-keyed
    * tier up to 64-bit hash collisions (~2⁻⁶⁴ per span pair; a
    * collision conservatively DROPS a non-duplicate span).
    */
  def spanDedupGlobal(df: DataFrame, idCol: String, textCol: String,
                      spanWords: Int = 20, hashSpans: Boolean = false): DataFrame = {
    require(spanWords > 0, "spanDedupGlobal: spanWords must be > 0")
    val words = df
      .select(col(idCol).as("__id"), split(trim(lower(col(textCol))), "\\s+").as("__w"))
    val spans = words
      .select(col("__id"), posexplode(graft.functions.Let.bind(col("__w")) { ws =>
        transform(sequence(lit(0), floor((size(ws) - 1) / lit(spanWords)).cast(IntegerType)),
          i => array_join(slice(ws, i * spanWords + 1, lit(spanWords)), " "))
      }).as(Seq("__idx", "__span")))
    if (hashSpans) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("__h")
      // the projection drops span text BEFORE the exchange — only the
      // 8-byte hash and the (id, idx) cursor cross the wire
      val agged = spans
        .select(col("__id"), col("__idx"), xxhash64(col("__span")).as("__h"))
        .withColumn("__keep",
          struct(col("__id"), col("__idx")) ===
            min(struct(col("__id"), col("__idx"))).over(w))
        .groupBy("__id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
          sort_array(collect_list(when(col("__keep"), col("__idx")))).as("__kept"))
      // rebuild surviving text from the doc's own words by kept index —
      // the same slice expression that built the spans, so the rebuilt
      // text is bit-identical to the text-keyed tier's reassembly
      words.join(agged, Seq("__id"), "left")
        .select(col("__id").as(idCol),
          coalesce(graft.functions.Let.bind(col("__w")) { ws =>
            array_join(transform(col("__kept"),
              i => array_join(slice(ws, i * spanWords + 1, lit(spanWords)), " ")), " ")
          }, lit("")).as("text_clean"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
    } else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("__span")
      val agged = spans
        .withColumn("__keep",
          struct(col("__id"), col("__idx")) ===
            min(struct(col("__id"), col("__idx"))).over(w))
        .groupBy("__id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
          // collect_list skips the nulls the when() leaves for dropped
          // spans; sorting the (idx, span) structs restores document order
          array_join(transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("__idx"), col("__span"))))),
            s => s.getField("__span")), " ").as("text_clean"))
      df.select(col(idCol))
        .join(agged, col(idCol) === col("__id"), "left")
        .select(col(idCol),
          coalesce(col("text_clean"), lit("")).as("text_clean"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
    }
  }

  /** Benchmark decontamination check: for every corpus document, the
    * number of distinct word n-gram shingles it shares with ANY
    * benchmark document, plus its own shingle count — the standard
    * "n-gram overlap" contamination test run before training so eval
    * sets don't leak into the corpus (callers drop docs above an
    * overlap threshold).
    *
    * Scale shape: benchmark shingles are `distinct` across the whole
    * (small) benchmark side and met in a shingle equi-join — the corpus
    * never self-joins and never shuffles more than its exploded
    * shingles once. Corpus docs sharing nothing report overlap 0 via
    * the left join. Use a larger `shingleN` (8 words is the common
    * contamination gram) than near-dup detection.
    */
  def contaminationCheck(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 8): DataFrame = {
    val c = corpus
      .select(col(idCol).as("__id"), wordShingles(col(textCol), shingleN).as("__sh"))
      .select(col("__id"), size(col("__sh")).as("n_shingles"), explode_outer(col("__sh")).as("__s"))
    val b = benchmark
      .select(explode(wordShingles(col(textCol), shingleN)).as("__s"))
      .distinct()
      .withColumn("__hit", lit(1))
    c.join(b, Seq("__s"), "left")
      .groupBy(col("__id").as(idCol))
      .agg(max(col("n_shingles")).cast(LongType).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).cast(LongType).as("n_contaminated"))
  }

  /** BLOOM-GATED contamination check — the 13-gram-filter pattern
    * (Brown et al. 2020 decontaminated GPT-3's corpus this way) over
    * the at-rest [[graft.relational.BloomIndex]]: the benchmark
    * suite's shingles live as a bloom position artifact built ONCE
    * ([[benchmarkShingleBloom]]), and every ingest probes it —
    * corpus shingles that are PROVABLY not benchmark shingles (some
    * position absent: no false negatives) never enter the exact
    * join, so the shuffled side shrinks from |all corpus shingles|
    * to the possibly-seen candidates (bloom-FPR-sized when the
    * corpus is clean, which is the common case). Output is
    * IDENTICAL to [[contaminationCheck]] by construction: skipping a
    * provably-absent shingle can't lose a hit, and a false-positive
    * candidate fails the exact benchmark join — it costs work, never
    * a count. Price: the corpus is shingled twice (once for the
    * per-doc totals, once for the gated candidates) — two cheap
    * map-side passes traded against the corpus-sized shingle
    * shuffle, the right trade whenever contamination is rare.
    */
  def contaminationCheckViaBloom(corpus: DataFrame, benchmark: DataFrame,
                                 bloomDir: String, idCol: String,
                                 textCol: String,
                                 shingleN: Int = 8): DataFrame = {
    val shingled = corpus
      .select(col(idCol).as("__id"), wordShingles(col(textCol), shingleN).as("__sh"))
    val ids = shingled.select(col("__id"),
      size(col("__sh")).cast(LongType).as("n_shingles"))
    val candidates = graft.relational.BloomIndex.possiblySeenAgainstBloomIndex(
      shingled.select(col("__id"), explode(col("__sh")).as("__s")),
      bloomDir, "__s")
    val b = benchmark
      .select(explode(wordShingles(col(textCol), shingleN)).as("__s"))
      .distinct()
    val hits = candidates.join(b, Seq("__s"))
      .groupBy(col("__id")).agg(count(lit(1)).as("__hit"))
    ids.join(hits, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_shingles"),
        coalesce(col("__hit"), lit(0L)).as("n_contaminated"))
  }

  /** Build/refresh the benchmark-suite shingle bloom the gated check
    * probes — one tagged tranche per suite (protocol-free OR merge:
    * adding a new eval suite is one more tranche, replays converge). */
  def benchmarkShingleBloom(benchmark: DataFrame, textCol: String,
                            bloomDir: String, tag: String,
                            shingleN: Int = 8, mBits: Long = 1L << 22,
                            k: Int = 3, portable: Boolean = false): Unit =
    graft.relational.BloomIndex.writeBloomTranche(
      benchmark.select(explode(wordShingles(col(textCol), shingleN)).as("__s")),
      "__s", bloomDir, tag, mBits, k, portable)

  // ---------------------------------------------------------------- simhash

  /** SimHash of the whitespace tokens: per-bit vote of token hashes
    * (each occurrence votes ±1), sign → bit. `bits` ≤ 60 (portable
    * hash width). One shuffle-free projection — the fused kernel
    * ([[graft.functions.SimhashExpr]]); parity with
    * [[simhashComposable]] unit-proven.
    */
  def simhash(text: Column, bits: Int = 32, portable: Boolean = false): Column =
    graft.functions.SimhashExpr.simhash(text, bits, portable)

  /** The composable HOF form of [[simhash]] (kept for cross-checking
    * the fused kernel in tests). */
  def simhashComposable(text: Column, bits: Int = 32, portable: Boolean = false): Column = {
    val ws = TextOps.words(text)
    val h: Column => Column =
      if (portable) Hashes.portable else (c: Column) => abs(xxhash64(c))
    // hash once per token (transform), THEN fold bits — the fold's
    // lambda variable is the evaluated hash, so the md5 isn't
    // recomputed per bit (see minhashSignatureFromHashes).
    val votes = aggregate(
      transform(ws, t => h(t)),
      array_repeat(lit(0), bits),
      (acc, hv) => zip_with(acc,
        transform(sequence(lit(0), lit(bits - 1)),
          b => when(call_function("shiftright", hv, b) % 2 === 1, 1).otherwise(-1)),
        (a, v) => a + v))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(bits - 1)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Hamming distance between two simhash values. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs via bit-banding: signatures within
    * `maxHamming` differing bits agree EXACTLY on at least one of
    * `bands` bit-slices whenever `bands > maxHamming` (pigeonhole), so
    * candidates meet in a (band, slice) equi-join — one shuffle, never
    * all-pairs — and the exact hamming filter keeps true near-dups.
    * The cheapest pair tier: 8 bytes of signature per document and
    * integer-only comparison, for when even MinHash signatures are too
    * wide to shuffle. Returns `(id_a, id_b, hamming)`, id_a < id_b.
    *
    * @param maxBucket drop (band, slice) buckets larger than this —
    *   the usual hot-bucket guard (a band value shared by that many
    *   docs carries no near-dup signal).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          bits: Int = 32, maxHamming: Int = 3, bands: Int = 4,
                          portable: Boolean = false,
                          maxBucket: Int = 10000): DataFrame =
    bandedHammingPairs(
      df.select(col(idCol).as("__id"),
        simhash(col(textCol), bits, portable).as("__sig")),
      bits, maxHamming, bands, maxBucket)

  /** The signature-agnostic banding core of [[simhashNearDupPairs]] —
    * shared with the perceptual image tier
    * ([[graft.multimodal.MultimodalOps.imageNearDupPairs]], whose
    * 64-bit dHash wants the identical pigeonhole candidate shape over
    * a signature SimHash never produced). `sigs` must carry
    * `(__id, __sig LONG)`; returns `(id_a, id_b, hamming)` with
    * id_a < id_b, one (band, slice) equi-join shuffle, never
    * all-pairs, hot buckets dropped at `maxBucket`. */
  private[graft] def bandedHammingPairs(sigs: DataFrame, bits: Int,
                                        maxHamming: Int, bands: Int,
                                        maxBucket: Int): DataFrame = {
    require(bands > maxHamming,
      s"bandedHammingPairs: need bands ($bands) > maxHamming ($maxHamming) for the pigeonhole guarantee")
    require(bits % bands == 0, s"bits=$bits must divide into bands=$bands")
    val width = bits / bands
    // 1L << 64 wraps to 1 in JVM shift semantics — a full-width band
    // (bands = 1) must mask to all-ones, not to zero
    val mask = if (width >= 64) -1L else (1L << width) - 1
    val banded = sigs.select(col("__id"), col("__sig"),
      posexplode(array((0 until bands).map(b =>
        call_function("shiftright", col("__sig"), lit(b * width)).bitwiseAND(lit(mask))): _*))
        .as(Seq("__band", "__key")))
    val grouped = banded.groupBy("__band", "__key")
      .agg(sort_array(collect_list(struct(col("__id"), col("__sig")))).as("__m"))
      .where(size(col("__m")) >= 2 && size(col("__m")) <= maxBucket)
    grouped.select(explode(expr(
      """flatten(transform(__m, (x, i) ->
           transform(slice(__m, i + 2, size(__m)),
                     y -> struct(x.__id AS id_a, y.__id AS id_b,
                                 x.__sig AS sig_a, y.__sig AS sig_b))))""")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        hammingDistance(col("p.sig_a"), col("p.sig_b")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
