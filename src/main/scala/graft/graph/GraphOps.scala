package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an edge list — the missing
  * step between near-dup candidate PAIRS (MinHash/SimHash/Jaccard
  * emit `(id_a, id_b)`) and the duplicate CLUSTERS a curation pipeline
  * actually needs (transitive closure: A~B and B~C put A,B,C in one
  * group with one kept representative). The reference has no graph
  * surface at all; this is part of the LLM-pipeline extension tier.
  *
  * Algorithm: alternating large-star / small-star rounds (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
  * in MapReduce and Beyond", SoCC 2014). Each round contracts every
  * node toward the minimum id of its neighborhood; the edge set
  * converges to min-rooted stars in O(log²) rounds on any graph —
  * unlike naive min-label flooding, whose round count is the graph
  * DIAMETER (a 1M-node duplicate chain would need 1M rounds).
  *
  * Scale shape per round: two grouped-window passes + a distinct —
  * hash shuffles on node id, no collect of anything unbounded. The
  * driver sees one 3-scalar checksum row per round (the convergence
  * test). The rounds run in [[Fixpoint]], the family's one iteration
  * driver: each round's state is a persisted RDD severed from the
  * previous round's plan, lineage-cut at the driver's fixed cadence,
  * and materialized by the same job that probes convergence — so the
  * returned frame's plan does not grow with the round count, and a
  * round cap that throws releases every block the run persisted.
  *
  * Node-id ingestion contract, family-wide (ANSI casts THROW, not
  * exclude): every operator here casts `srcCol`/`dstCol`/
  * `nodeCol` to long with a PLAIN cast. Ids are identity, not
  * measurements — a non-numeric or out-of-range id is corpus
  * corruption, and silently dropping its edges would split components
  * / shift ranks undetected, so under ANSI mode (Spark 4's default)
  * the cast fails the job loudly. Genuinely-NULL ids ARE dropped by
  * the explicit isNotNull filters (a nullable join product, not
  * corruption). Value columns are the opposite: snapped with
  * `try_cast` and excluded like NULLs (see [[neighborhoodAgg]]).
  */
object GraphOps {

  // debug-level: tier selection is diagnostic, not operational — four
  // operators call this on their hot path and stderr is not a log sink
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Node ids must be integral (dedup ids are longs; hash string ids
    * first). Output: `(node, component)` with `component` = MINIMUM id
    * reachable from `node`, for every node incident to at least one
    * non-self edge (isolated nodes never enter the edge list — callers
    * coalesce to their own id, as [[graft.dedup.DedupOps.nearDupGroups]]
    * does). Deterministic for a given edge set.
    *
    * Two tiers, same contract: at or below `localThreshold` distinct
    * edges the closure runs as a driver union-find over one collect —
    * near-dup pair sets are usually tiny relative to the corpus, and
    * log²-many distributed rounds on a kilobyte graph spend scheduler
    * latency to share L2-cache-sized work (the same reasoning as the
    * driver-side ANN quantizer fits). Above it, the alternating-star
    * rounds run distributed. The driver edge bound is explicit: 100k
    * edges ≈ 1.6 MB. Set `localThreshold = 0` to force the
    * distributed path (the specs exercise both).
    *
    * The distributed tier's returned frame is backed by the final
    * fixpoint state, released through the caller's
    * `graft.util.Materialize.scoped` block; the driver tier persists
    * nothing.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIterations: Int = 50,
                          localThreshold: Int = 100000): DataFrame = {
    require(maxIterations >= 1, "connectedComponents: maxIterations must be >= 1")
    val e = simpleEdges(edges, srcCol, dstCol).persist(StorageLevel.MEMORY_AND_DISK)
    val spark = e.sparkSession

    // edge-set fingerprint: equal across a full round ⇒ the round was a
    // no-op ⇒ converged (min-rooted stars are fixpoints of both stars;
    // xor-of-hashes collision odds ~2⁻⁶⁴ are the same bet every
    // hash-partitioner makes). bit_xor, not sum: edges are a SET, xor
    // is order-free, and full-range 64-bit hashes overflow an ANSI sum.
    def checksum(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64('e', src, dst))"), lit(0L)),
        coalesce(expr("bit_xor(xxhash64(dst, src, 'e'))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    // large-star: every node u links its LARGER neighbors to the min of
    // its neighborhood (incl. u) — long chains fold logarithmically.
    // No distinct here: duplicate edges don't move window minima, the
    // output is bounded by the symmetrized input, and small-star's
    // closing distinct dedupes — one shuffle per round saved.
    def largeStar(e: DataFrame): DataFrame = {
      // symmetrize in ONE pass over the (cached) round frame: inline
      // emits both orientations per edge row — the union-of-two-scans
      // form read the frame twice per round
      val sym = e.select(inline(array(
        struct(col("src").as("u"), col("dst").as("v")),
        struct(col("dst").as("u"), col("src").as("v")))))
      sym
        .withColumn("m", least(min("v").over(Window.partitionBy("u")), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
    }

    // small-star: every node u links itself and its SMALLER neighbors
    // to the smallest of them — stars re-root at the true minimum
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val withMin = oriented.withColumn("m", min("v").over(Window.partitionBy("u")))
      // inline, not unionAll: the two arms of the old union EACH
      // evaluated the `withMin` window subtree (exchange reuse does
      // not cover post-shuffle operators), doubling every round's
      // orient + window work — inline emits both output rows from ONE
      // evaluation
      withMin.select(inline(array(
        struct(col("v").as("src"), col("m").as("dst")),
        struct(col("u").as("src"), col("m").as("dst")))))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    var last = checksum(e)
    val onDriver = last._1 <= localThreshold
    if (log.isDebugEnabled) log.debug(s"[graft.cc] tier=${if (onDriver) "driver" else
      "distributed"} edges=${last._1} (localThreshold=$localThreshold)")
    if (onDriver) {
      import spark.implicits._
      val local = e.as[(Long, Long)].collect()
      e.unpersist()
      return spark.createDataset(localComponents(local).toSeq).toDF("node", "component")
    }
    // the probe owns the cap: an unconverged last round throws inside
    // the run, which releases everything it persisted
    val (fix, _, _) = Fixpoint(e, maxIterations)(
      (cur, _) => smallStar(largeStar(cur)),
      Some { (_, next, round) =>
        val s = checksum(next)
        val same = s == last
        last = s
        require(same || round < maxIterations,
          s"connectedComponents: not converged after $maxIterations rounds (theory: O(log²|V|))")
        same
      })
    // at the fixpoint every edge is (node → its component's min); the
    // roots themselves appear only on the dst side
    fix.select(inline(array(
      struct(col("src").as("node"), col("dst").as("component")),
      struct(col("dst").as("node"), col("dst").as("component")))))
      .distinct()
  }

  /** WARM-START connected components over appended edge tranches —
    * the CC twin of [[pageRankFrom]]: recompute components from a
    * PRIOR `(node, component)` assignment plus only the NEW edges,
    * instead of re-reading the historical edge set. The prior
    * assignment is re-encoded as its spanning star (`node → component`
    * for every non-root member) and unioned with the new edges; the
    * alternating-star fixpoint of that graph is EXACTLY the fixpoint
    * of `old ∪ new` — star edges connect precisely the same node set
    * per old component, so the connectivity classes are identical and
    * the min-id root rule picks the same representative. Append ≡
    * rebuild, bit for bit.
    *
    * Why it is faster at scale: old components enter the recursion
    * already min-rooted at depth 1 (the fixpoint shape), so rounds are
    * spent only on the structure the NEW edges introduce — a daily
    * dedup-group refresh over a 100 TB corpus replays yesterday's
    * ≤|nodes|-row assignment artifact plus today's pair set, never the
    * season's pair history. The prior frame also usually shrinks the
    * driver-tier decision: assignments compact one row per node where
    * the raw edge history can be many multiples of that.
    *
    * `prior` rows with `node = component` (roots / singletons) carry
    * no connectivity and are dropped by the self-edge filter — same
    * contract as [[connectedComponents]]: nodes only appear in the
    * output while incident to at least one non-self edge, so callers
    * coalesce absent ids to themselves via [[assignGroups]]. The prior's
    * severed-lineage materialization registers with the caller's
    * scope alongside the fixpoint (the [[connectedComponents]]
    * release contract).
    */
  def connectedComponentsFrom(prior: DataFrame, newEdges: DataFrame,
                              srcCol: String, dstCol: String,
                              maxIterations: Int = 50,
                              localThreshold: Int = 100000): DataFrame = {
    // Sever the prior's lineage before re-entering the recursion: in a
    // pipeline the prior is an artifact read (a scan), but a same-run
    // composition hands over the final star round's plan — nesting a
    // second iterative stack on top of it makes analysis/plan-string
    // cost explode (graft.util.Materialize rationale).
    val starred = graft.util.Materialize.bounded(prior)
      .select(col("node").as(srcCol), col("component").as(dstCol))
    connectedComponents(
      newEdges.select(col(srcCol), col(dstCol)).unionByName(starred),
      srcCol, dstCol, maxIterations, localThreshold)
  }

  /** AT-REST group-assignment artifact — the operational shell around
    * [[connectedComponentsFrom]]: the index tier's answer for
    * transitive dup GROUPS. Unlike the signature/sketch artifacts,
    * group identity is NOT append-only (a new edge can merge two old
    * components), so the artifact is an atomically REPLACED whole
    * (stage → rename swap, readers never see a half-written state),
    * not a tranche family. The stored frame is `(node, component)` —
    * one row per non-singleton-incident node, the compact fixpoint
    * star. */
  def writeGroupIndex(assignment: DataFrame, dir: String,
                      commit: graft.merge.Merge.Commit =
                        graft.merge.Merge.RenameCommit): Unit =
    atomicSwapWrite(assignment.select(col("node").cast(LongType).as("node"),
      col("component").cast(LongType).as("component")), dir, commit)

  /** Atomically publish a frame as a whole-replaced artifact — shared
    * by the group-assignment and rank-vector artifacts. RenameCommit:
    * swap protocol against an existing target, stage + one rename for
    * the first publish (atomic on HDFS/local). PointerCommit: the `Merge` manifest protocol — data lands in an
    * immutable `__data_` generation and one small `_current` pointer
    * republishes, correct on object stores where rename is
    * copy+delete; exactly the artifact a daily PageRank/dedup-group
    * refresh republishes onto S3. */
  private def atomicSwapWrite(norm: DataFrame, dir: String,
                              commit: graft.merge.Merge.Commit): Unit =
    graft.merge.Merge.swapWith(norm.sparkSession, dir, commit)(
      tmp => graft.io.Writers.parquet(norm, tmp))

  /** Read the stored assignment (a bounded parquet scan; a
    * pointer-committed artifact resolves through its manifest). */
  def readGroupIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame =
    graft.merge.Merge.readTarget(spark, dir)

  /** Daily group refresh: warm-start CC from the STORED assignment
    * plus only the new edges, atomically swap the updated assignment
    * in, and return it. Append ≡ rebuild bit for bit
    * ([[connectedComponentsFrom]]'s identity), and the refresh is
    * IDEMPOTENT: re-running with the same edges re-derives the same
    * fixpoint (the star of a fixpoint is itself), so a replayed
    * scheduler tick converges instead of corrupting. Cost per refresh
    * is the node-sized artifact + today's pair set — never the
    * historical edge volume.
    */
  def updateGroupIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       newEdges: DataFrame, srcCol: String, dstCol: String,
                       maxIterations: Int = 50,
                       localThreshold: Int = 100000,
                       commit: graft.merge.Merge.Commit =
                         graft.merge.Merge.RenameCommit): DataFrame = {
    val exists = graft.merge.Merge.targetExists(spark, dir)
    // leak discipline for the STREAMING caller: the CC recursion leaves
    // its final fixpoint frame persisted and the warm start leaves a
    // local checkpoint — per refresh. A long-lived stream refreshing
    // every epoch would accumulate blocks without bound, so release
    // exactly what this call persisted once the artifact is durably
    // written (safe: the returned frame re-reads the artifact, no
    // lineage into the released blocks).
    val (updated, release) = graft.util.Materialize.scoped {
      if (exists) connectedComponentsFrom(readGroupIndex(spark, dir),
        newEdges, srcCol, dstCol, maxIterations, localThreshold)
      else connectedComponents(newEdges, srcCol, dstCol,
        maxIterations, localThreshold)   // first tick births the index
    }
    writeGroupIndex(updated, dir, commit)
    release()
    readGroupIndex(spark, dir)
  }

  /** Content gauge over the stored [[writeGroupIndex]] artifact: one
    * row `(n_nodes, n_components, max_group_size)` — the dup-cluster
    * shape an operator sanity-checks after a refresh ("did one giant
    * component eat the corpus"). One bounded scan of the node-sized
    * assignment; no edge data touched. */
  def groupIndexStats(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame =
    readGroupIndex(spark, dir)
      .groupBy(col("component")).agg(count(lit(1)).as("__sz"))
      .agg(sum(col("__sz")).as("n_nodes"),
        count(lit(1)).as("n_components"),
        max(col("__sz")).as("max_group_size"))

  /** Join a [[connectedComponents]] output back onto a full id
    * universe: every id gets `(id, group_id, group_size)` with
    * `group_id` = its component's min id and ids absent from the CC
    * output as singleton groups of size 1. Group sizes are aggregated
    * from the pair-set-sized CC table and joined (AQE broadcasts it
    * when small) — never a group-key window over the full universe,
    * which would spend a corpus-wide shuffle on information the small
    * side already holds. Keep-one-representative is then
    * `where($"group_id" === $"<idCol>")`.
    */
  def assignGroups(ids: DataFrame, idCol: String, cc: DataFrame): DataFrame = {
    val named = cc.withColumnRenamed("node", "__ccn")
    val sized = named.join(
      named.groupBy(col("component")).agg(count(lit(1)).as("__gsz")), Seq("component"))
    ids.select(col(idCol))
      .join(sized, col(idCol) === col("__ccn"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("group_id"),
        coalesce(col("__gsz"), lit(1L)).as("group_size"))
  }

  /** Edge ingestion shared by the family: ids cast to long (the THROW
    * contract above), NULL endpoints dropped. */
  private def longEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast(LongType).as("src"), col(dstCol).cast(LongType).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

  /** Distinct non-self edges. */
  private def simpleEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    longEdges(edges, srcCol, dstCol).where(col("src") =!= col("dst")).distinct()

  /** Distinct edges (self-loops kept) partitioned on `src` ONCE: every
    * PageRank/LPA round's edge⋈state join reuses this layout. */
  private def srcEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    longEdges(edges, srcCol, dstCol).repartition(col("src")).dropDuplicates("src", "dst")

  /** Persist an edge layout with its persisted, counted node universe
    * `(e, nodes, |nodes|)` — one cache scan, not two: explode((src,
    * dst)) emits both endpoint roles per edge row. An empty universe
    * releases both and fails `op`. */
  private def srcLayout(layout: DataFrame, op: String): (DataFrame, DataFrame, Long) = {
    val e = layout.persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(explode(array(col("src"), col("dst"))).as("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    if (n == 0) {
      e.unpersist(); nodes.unpersist()
      throw new IllegalArgumentException(s"$op: empty edge list")
    }
    (e, nodes, n)
  }

  /** Driver union-find tier (min-rooted, path-compressing). `find` is
    * an iterative two-pass walk: the recursive form overflows the JVM
    * stack on a descending-ordered chain at the 100k-edge
    * `localThreshold` (parent chains as deep as the chain itself —
    * min-root union cannot union by rank, so path length is bounded
    * only by compression). Exposed package-private because the
    * pathological edge ORDER cannot be forced through the distributed
    * path's `distinct()` shuffle — the spec drives it directly.
    */
  private[graft] def localComponents(local: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var r = x0
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var x = x0
      while (x != r) { val nxt = parent(x); parent(x) = r; x = nxt }
      r
    }
    local.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    local.flatMap(e => Seq(e._1, e._2)).distinct.map(n => (n, find(n)))
  }

  /** Fixed-iteration PageRank over an edge list, in FIXED-POINT
    * integer arithmetic — the web/domain-graph centrality signal a
    * corpus pipeline gates crawl quality on (rank a domain too low
    * and its pages leave the mixture). Why integers: floating-point
    * PageRank is not reproducible — parallel summation order changes
    * the low bits, iteration compounds them, and two runs (or two
    * engines) disagree on ranks near a gating threshold. Here every
    * rank is a BIGINT in units of 1/`scale` (default ppb): division
    * truncates identically everywhere, long sums are order-free, so
    * the result is bit-identical across runs, partitionings, AND
    * engines — the DuckDB oracle replays it exactly.
    *
    * Semantics per iteration (damping 0.85 in exact integer form):
    * `rank' = (scale·3/20)/n  +  (85 · Σ_in (rank_src div outdeg_src)) div 100`.
    * Dangling-node mass is dropped (no redistribution), the standard
    * simplification; ranks then sum to slightly under `scale` —
    * callers gate on relative rank, which is unaffected.
    *
    * Scale shape: edges are deduped, pre-partitioned on `src` ONCE
    * and persisted WITH their out-degree attached (dedup and the
    * degree window both ride the single src exchange — no second
    * edge shuffle, no per-iteration degree join) — every iteration's
    * contribution join reuses that layout without reshuffling the
    * (large) edge side. Per iteration: one join edges⋈ranks, one
    * map-side-combinable sum shuffle on `dst`, one join back to the
    * node universe. The iterations run in [[Fixpoint]]: |V|-sized
    * rank state on a persisted RDD backbone (plan depth stays
    * constant), superseded rounds released by handle, one job per
    * round. The RETURNED frame is backed by the final persisted rank
    * RDD, released through the caller's `graft.util.Materialize.scoped`
    * block.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 10, scale: Long = 1000000000L): DataFrame =
    pageRankCore(edges, srcCol, dstCol, None, iterations, scale, None)._1

  // ---- at-rest rank-vector artifact ----------------------------------

  /** AT-REST rank-vector artifact — the PageRank twin of
    * [[writeGroupIndex]]: ranks are NOT append-only (every iteration
    * moves every node), so the artifact is an atomically REPLACED
    * whole `(node, rank)` frame, |V| rows in the same integer `scale`
    * units the recursion runs in. A daily refresh stores yesterday's
    * vector here and [[updateRankIndex]] continues the exact integer
    * recursion from it — never from uniform, never re-paying the
    * converged iterations. */
  def writeRankIndex(ranks: DataFrame, dir: String,
                     commit: graft.merge.Merge.Commit =
                       graft.merge.Merge.RenameCommit): Unit =
    atomicSwapWrite(ranks.select(col("node").cast(LongType).as("node"),
      col("rank").cast(LongType).as("rank")), dir, commit)

  /** Read the stored rank vector (a bounded parquet scan; a
    * pointer-committed artifact resolves through its manifest). */
  def readRankIndex(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame =
    graft.merge.Merge.readTarget(spark, dir)

  /** Content gauge over the stored [[writeRankIndex]] artifact: one
    * row `(n_nodes, total_rank, max_rank, min_rank)` — the
    * mass-conservation sanity an operator checks after a refresh
    * (total ≈ scale minus the documented dangling loss; a collapsed
    * total means an upstream edge-feed bug, not damping). One bounded
    * scan of the |V|-row artifact; no edge data touched. */
  def rankIndexStats(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame =
    readRankIndex(spark, dir)
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("rank")).as("total_rank"),
        max(col("rank")).as("max_rank"),
        min(col("rank")).as("min_rank"))

  /** TRIAGE gauge for a WHOLE-REPLACE artifact ([[writeRankIndex]] /
    * [[writeGroupIndex]]) in the cross-family dashboard schema
    * ([[graft.meta.IndexDashboard.indexHealthAll]]): directory
    * metadata only. Whole-replace artifacts have no tranche ledger —
    * the atomic swap publishes exactly one generation — so the row is
    * `n_tranches = 1`, `n_marked` = the committer's `_SUCCESS`
    * presence, and `n_unproven = 0` by protocol (a half-written swap
    * never becomes visible; content sanity lives in the per-family
    * stats gauges, [[rankIndexStats]] / [[groupIndexStats]]). */
  private[graft] def wholeReplaceHealth(spark: org.apache.spark.sql.SparkSession,
                                        dir: String, artifact: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(f.exists(p), s"indexHealth: $dir does not exist")
    // pointer-committed artifacts carry the committer marker inside the
    // current __data_ generation; rename-mode resolves to dir itself
    val resolved = graft.merge.Merge.resolveDir(spark, dir)
    val marked = f.exists(new org.apache.hadoop.fs.Path(resolved, "_SUCCESS"))
    Seq((artifact, 1, if (marked) 1 else 0, 0, Option.empty[Boolean]))
      .toDF("artifact", "n_tranches", "n_marked", "n_unproven", "count_fresh")
  }

  /** [[wholeReplaceHealth]] over the rank-vector artifact. */
  def rankIndexHealth(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame =
    wholeReplaceHealth(spark, dir, "rank")

  /** [[wholeReplaceHealth]] over the group-assignment artifact. */
  def groupIndexHealth(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame =
    wholeReplaceHealth(spark, dir, "assignment")

  /** Daily rank refresh: continue the exact integer recursion from the
    * STORED vector (uniform start if the artifact doesn't exist yet —
    * the first tick births it), atomically swap the refreshed vector
    * in, and return the re-read. `outDir` defaults to `dir` (the
    * in-place daily-refresh shape: prior superseded by its
    * continuation); pass a distinct `outDir` to keep the prior frozen
    * (e.g. a replayable scoring run). Because `pageRankFrom(e,
    * pageRank(e, j), k)` ≡ `pageRank(e, j+k)` bit for bit, refresh ≡
    * rebuild at the combined iteration count. Cost per refresh: the
    * |V|-row artifact read + `iterations` continuation rounds + the
    * swap — the converged history is never re-iterated, and the
    * per-call persisted state (rank RDDs, edge layout) is released by
    * handle once the artifact is durable (the [[updateGroupIndex]]
    * stream discipline). */
  def updateRankIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      edges: DataFrame, srcCol: String, dstCol: String,
                      iterations: Int = 10, scale: Long = 1000000000L,
                      outDir: Option[String] = None,
                      commit: graft.merge.Merge.Commit =
                        graft.merge.Merge.RenameCommit): DataFrame = {
    val exists = graft.merge.Merge.targetExists(spark, dir)
    val start = if (exists) Some(readRankIndex(spark, dir)) else None
    val ((ranks, _), release) = graft.util.Materialize.scoped {
      pageRankCore(edges, srcCol, dstCol, start, iterations, scale, None)
    }
    val dest = outDir.getOrElse(dir)
    writeRankIndex(ranks, dest, commit)
    release()
    readRankIndex(spark, dest)
  }

  /** WARM-START PageRank: continue the exact integer recursion from a
    * PRIOR rank vector instead of the uniform start — the incremental
    * path when the edge set grows by a tranche. Nodes new since the
    * prior (absent from it) start at the uniform `scale div n` of the
    * CURRENT node universe; departed nodes are dropped. Because the
    * per-iteration map is a pure function of (edges, rank vector),
    * `pageRankFrom(e, pageRank(e, k−j), j)` is BIT-IDENTICAL to
    * `pageRank(e, k)` — continuation is exact, not approximate — and
    * when the edge delta is small the prior is already near the fixed
    * point, so convergence needs fewer iterations than from uniform
    * ([[pageRankConverged]] measures exactly that). `priorRanks` must
    * have `(node, rank)` columns in the same `scale` units.
    */
  def pageRankFrom(edges: DataFrame, srcCol: String, dstCol: String,
                   priorRanks: DataFrame, iterations: Int = 10,
                   scale: Long = 1000000000L): DataFrame =
    pageRankCore(edges, srcCol, dstCol, Some(priorRanks), iterations, scale, None)._1

  /** PERSONALIZED PageRank: the same exactly-replayable integer
    * recursion with the teleport re-aimed at a seed set — random walks
    * restart at the seeds instead of uniformly, so rank measures
    * proximity-weighted importance RELATIVE to the seeds ("items
    * related to this basket", "suppliers in this network
    * neighborhood" — the graph-walk recommendation primitive).
    * `base` and the initial mass are `(scale·3/20)/|seeds|` /
    * `scale/|seeds|` on seeds and ZERO elsewhere; everything else —
    * integer div contributions, 85/100 damping, per-iteration state
    * release — is [[pageRank]]'s machinery unchanged, so the oracle
    * replays every iteration bit-for-bit with one CASE swapped in.
    * Seeds are a bounded literal list (a query parameter, like the
    * BFS sources); duplicate seeds are collapsed.
    */
  def pageRankPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: Seq[Long], iterations: Int = 10,
                           scale: Long = 1000000000L): DataFrame = {
    require(seeds.nonEmpty, "pageRankPersonalized: empty seed set")
    pageRankCore(edges, srcCol, dstCol, None, iterations, scale, None,
      Some(seeds.distinct))._1
  }

  /** Iterate until the total absolute rank movement `Σ|Δrank|` (in
    * 1/`scale` units) drops to `tol` or below, up to `maxIterations`.
    * Returns `(ranks, iterationsRun)` — the iteration count is the
    * warm-start dividend: re-converging after an appended edge tranche
    * from the prior vector takes measurably fewer rounds than from
    * uniform. The convergence test costs one |V|-sized join + a
    * 1-scalar driver read per iteration (the same checksum discipline
    * as the connected-components rounds). Integer arithmetic makes the
    * test exact and replayable — no FP noise floor to tune around.
    */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
                        start: Option[DataFrame] = None,
                        tol: Long = 0L, maxIterations: Int = 50,
                        scale: Long = 1000000000L): (DataFrame, Int) =
    pageRankCore(edges, srcCol, dstCol, start, maxIterations, scale, Some(tol))

  /** Synchronous LABEL PROPAGATION community detection (Raghavan et
    * al. 2007, the near-linear-time community heuristic): every node
    * starts labelled with itself; each round, every node adopts the
    * label most frequent among its in-neighbours, ties broken by the
    * SMALLEST label — the deterministic synchronous variant, so the
    * result is a pure function of (edges, iterations) and a SQL oracle
    * can replay every round exactly (the [[pageRank]] replayability
    * contract; the randomized asynchronous original is neither).
    * Communities differ from [[connectedComponents]]: a component
    * splits into densely-knit groups — the "which docs cite each
    * other's cluster" / "which suppliers trade in a ring" view, the
    * corpus-curation companion to the dup-closure groups.
    *
    * Pass symmetrized edges for the undirected reading (the caller
    * owns direction semantics, as in [[pageRank]]). Nodes with no
    * in-edge this round keep their label (left join + coalesce).
    *
    * Scale shape per round: ONE edge⋈label join shuffled on `src`
    * (edges are repartitioned on src once, up front, and every round's
    * join reuses that partitioning), one (node, label)-keyed
    * map-side-combinable count, one per-node `max_by` hash aggregate
    * for the top label (struct ordering (count, −label) = the
    * deterministic tie-break, with map-side partials and no sort),
    * one |V|-row left join. The rounds run in [[Fixpoint]] — the
    * [[pageRank]] lineage discipline; iterations are bounded
    * (communities stabilize in a handful of rounds on real graphs).
    * Returns `(node, label)`, backed by the final label state (the
    * [[pageRank]] release contract).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int = 5): DataFrame =
    labelPropagationCore(edges, srcCol, dstCol, iterations, converge = false)._1

  /** [[labelPropagation]] iterated to a FIXPOINT: rounds run until no
    * node changes label (or `maxIterations`), with the same 1-scalar
    * changed-count checksum per round as [[pageRankConverged]] and the
    * CC rounds — an exact integer comparison, no tolerance to tune.
    * Returns `(labels, roundsRun)`; `roundsRun < maxIterations`
    * certifies a true fixpoint (the counted round changed nothing, and
    * a fixpoint re-run is a no-op by construction). `roundsRun ==
    * maxIterations` means the cap hit first — which is NOT rare for
    * synchronous LPA: a symmetrized BIPARTITE region can 2-cycle
    * forever (the known oscillation mode of the synchronous variant),
    * and the honest answer is the capped state plus the cap report,
    * not a silent "converged". Either way the output is the exact
    * `roundsRun`-round state, so the unrolled SQL oracle replays it. */
  def labelPropagationConverged(edges: DataFrame, srcCol: String, dstCol: String,
                                maxIterations: Int = 20): (DataFrame, Int) =
    labelPropagationCore(edges, srcCol, dstCol, maxIterations, converge = true)

  private def labelPropagationCore(edges: DataFrame, srcCol: String, dstCol: String,
                                   iterations: Int, converge: Boolean)
  : (DataFrame, Int) = {
    require(iterations >= 1, "labelPropagation: iterations must be >= 1")
    val (e, nodes, _) = srcLayout(srcEdges(edges, srcCol, dstCol), "labelPropagation")
    val start = nodes.select(col("node"), col("node").as("label"))
    val (out, rounds, _) = Fixpoint(start, iterations, Seq(e, nodes))(
      { (labels, _) =>
        val votes = e
          .join(labels.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("__c"))
        // top-1 via max_by over (count, -label): field-by-field struct
        // ordering = highest count, then SMALLEST label — the same
        // deterministic tie-break as a (desc count, asc label) window,
        // but as a hash aggregate: no per-node sort, map-side partials.
        // (-label is overflow-safe: labels are node ids, never MinValue.)
        val winner = votes.groupBy("node")
          .agg(max_by(col("label"), struct(col("__c"), -col("label"))).as("__new"))
        labels.join(winner, Seq("node"), "left")
          .select(col("node"), coalesce(col("__new"), col("label")).as("label"))
      },
      // exact changed-node count against the prior state: 0 = fixpoint
      Option.when(converge) { (prev, next, _) =>
        next.withColumnRenamed("label", "__nl").join(prev, "node")
          .agg(count(when(col("__nl") =!= col("label"), lit(1))))
          .head().getLong(0) == 0
      })
    (out, rounds)
  }

  private def pageRankCore(edges: DataFrame, srcCol: String, dstCol: String,
                           start: Option[DataFrame], iterations: Int,
                           scale: Long, tol: Option[Long],
                           seeds: Option[Seq[Long]] = None)
  : (DataFrame, Int) = {
    require(iterations >= 1, "pageRank: iterations must be >= 1")
    require(scale >= 1000000L,
      s"pageRank: scale < 1e6 leaves too few integer rank levels (got $scale)")
    require(tol.forall(_ >= 0), "pageRank: tol must be >= 0")
    // out-degree rides the single src exchange of the edge layout
    val (e, nodes, n) = srcLayout(srcEdges(edges, srcCol, dstCol)
      .withColumn("__outdeg", count(lit(1)).over(Window.partitionBy("src"))), "pageRank")
    // (scale·3/20)/n and scale/n in this exact operation order — the
    // oracle spells the same integer expressions. Personalization
    // re-aims the SAME integer recursion: teleport mass lands only on
    // the seed set (base and init divided by |seeds|, zero elsewhere)
    // — a bounded literal membership test, the BFS-seeds discipline.
    def perNode(mass: Long): Column = seeds match {
      case None => lit(mass / n)
      case Some(ss) =>
        when(col("node").isin(ss.map(Long.box): _*), lit(mass / ss.size)).otherwise(lit(0L))
    }
    val init = start match {
      case None => nodes.select(col("node"), perNode(scale).as("rank"))
      case Some(prior) =>
        nodes.join(
            prior.select(col("node"), col("rank").cast(LongType).as("__pr")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("__pr"), lit(scale / n)).as("rank"))
    }
    val base = perNode(scale * 3L / 20L)
    val (out, rounds, _) = Fixpoint(init, iterations, Seq(e, nodes))(
      { (rank, _) =>
        val contrib = e
          .join(rank.withColumnRenamed("node", "src").withColumnRenamed("rank", "__r"), "src")
          .select(col("dst").as("node"), expr("__r div __outdeg").as("__c"))
          .groupBy("node").agg(sum("__c").as("__s"))
        nodes.join(contrib, Seq("node"), "left")
          .select(col("node"), (base + expr("(85 * coalesce(__s, 0L)) div 100")).as("rank"))
      },
      // exact integer movement Σ|Δrank| against the prior state
      tol.map(t => (prev, next, _) => next
        .join(prev.withColumnRenamed("rank", "__prev"), "node")
        .agg(coalesce(sum(abs(col("rank") - col("__prev"))), lit(0L)))
        .head().getLong(0) <= t))
    (out, rounds)
  }

  /** CO-OCCURRENCE projection of a bipartite membership table ("parts
    * bought in the same order", "tokens sharing a document"): pairs of
    * items appearing in the same group, with the number of groups
    * witnessing each pair. Returns `(item_a, item_b, n_groups)` with
    * `item_a < item_b` (each unordered pair once) and
    * `n_groups >= minCount`.
    *
    * The naive projection is quadratic in the hottest group — one
    * mega-group ("the empty-string document") can emit more pairs than
    * the rest of the corpus combined. `maxPerGroup` caps every group
    * at its `maxPerGroup` smallest item ids BEFORE any pair exists
    * (deterministic truncation, same id-order rule both engines), so
    * the fan-out is ≤ C(maxPerGroup, 2) per group — bounded by design,
    * not by hoping the data is nice.
    *
    * Plan shape: distinct membership → per-group rank window (sort
    * spills, never OOMs on a hot group) → collect the ≤cap survivors
    * per group (rides the window's partitioning — no extra exchange)
    * → in-row pair expansion over the ≤cap array → one pair-keyed
    * count. No self-join: the group key never re-shuffles against
    * itself, and nothing unbounded is ever collected per group.
    */
  def coOccurrencePairs(df: DataFrame, groupCol: String, itemCol: String,
                        maxPerGroup: Int = 64, minCount: Long = 1L): DataFrame = {
    require(maxPerGroup >= 2, s"coOccurrencePairs: maxPerGroup=$maxPerGroup < 2")
    require(minCount >= 1, s"coOccurrencePairs: minCount=$minCount < 1")
    pairsOf(cappedMembers(df, groupCol, itemCol, maxPerGroup))
      .where(col("n_groups") >= minCount)
  }

  private def cappedMembers(df: DataFrame, groupCol: String, itemCol: String,
                            maxPerGroup: Int): DataFrame =
    df.select(col(groupCol).as("__g"), col(itemCol).as("__i"))
      .where(col("__g").isNotNull && col("__i").isNotNull)
      .distinct()
      .withColumn("__rn",
        row_number().over(Window.partitionBy("__g").orderBy("__i")))
      .where(col("__rn") <= maxPerGroup)

  private def pairsOf(capped: DataFrame): DataFrame =
    capped
      .groupBy("__g")
      // ≤ maxPerGroup elements by construction; sort_array pins the
      // collect_list's nondeterministic arrival order
      .agg(sort_array(collect_list(col("__i"))).as("__items"))
      .select(explode(flatten(expr(
        // (x_j, x_k) for j < k — index-driven so no value comparisons
        "transform(__items, (x, j) -> transform(slice(__items, j + 2, size(__items)), y -> struct(x AS a, y AS b)))"
      ))).as("__p"))
      .groupBy(col("__p.a").as("item_a"), col("__p.b").as("item_b"))
      .agg(count(lit(1)).as("n_groups"))

  /** Association-strength scoring over the capped co-occurrence pairs:
    * `lift = P(a,b) / (P(a)·P(b)) = n_pair·N / (n_a·n_b)` with all
    * counts taken over the SAME capped membership set (cap first, then
    * count — mixing capped pairs with uncapped margins would bias every
    * hot item's lift downward). Returns `(item_a, item_b, n_groups,
    * lift)`; lift > 1 means the pair co-occurs more than independent
    * items would. Exact integer counts and ONE IEEE division keep the
    * score engine-replayable.
    *
    * Adds to the pair plan: one item-count aggregation (map-side
    * combinable) joined twice — item margins are |items| rows, AQE
    * broadcasts them against the pair set — and a 1×1 broadcast of the
    * group total. No new corpus pass.
    */
  def coOccurrenceLift(df: DataFrame, groupCol: String, itemCol: String,
                       maxPerGroup: Int = 64, minCount: Long = 1L): DataFrame = {
    require(maxPerGroup >= 2, s"coOccurrenceLift: maxPerGroup=$maxPerGroup < 2")
    require(minCount >= 1, s"coOccurrenceLift: minCount=$minCount < 1")
    val capped = cappedMembers(df, groupCol, itemCol, maxPerGroup)
    val pairs = pairsOf(capped).where(col("n_groups") >= minCount)
    val itemCounts = capped.groupBy(col("__i")).agg(count(lit(1)).as("__n_i"))
    val total = capped.agg(count_distinct(col("__g")).as("__ng"))
    pairs
      .join(itemCounts.select(col("__i").as("item_a"), col("__n_i").as("__na")), "item_a")
      .join(itemCounts.select(col("__i").as("item_b"), col("__n_i").as("__nb")), "item_b")
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_groups"),
        ((col("n_groups") * col("__ng")).cast(DoubleType) /
          (col("__na") * col("__nb")).cast(DoubleType)).as("lift"))
  }

  // ---- at-rest co-occurrence artifact ---------------------------------

  /** AT-REST co-occurrence index: pair counts, item margins, and the
    * group total each live as a SUM-algebra tranche artifact
    * ([[graft.util.Tranches]] — tagged tranches, superseding-
    * manifest consolidation), so a daily lift dashboard reads bounded
    * pair/margin frames instead of re-projecting the whole membership
    * table. CONTRACT: tranches must PARTITION THE GROUPS — every
    * group's membership wholly inside one ingest (orders of a day,
    * sessions closed in a batch). Then per-tranche capped pairs /
    * margins / totals sum to exactly the whole-corpus capped
    * projection, because the cap and the pair expansion are per-group.
    * A group split across tranches would lose its cross-tranche pairs
    * — that is a data-layout error, not a merge-algebra one.
    *
    * Layout: `dir/pairs`, `dir/margins` (`item, n_i` over the capped
    * membership), `dir/totals` (1-row distinct-group count) — the
    * three ingredients of [[coOccurrenceLift]], all merge-by-sum.
    * `minCount` filtering happens at READ (tranches keep every pair:
    * a pair rare in each tranche can be common in the union).
    */
  def writeCoocTranche(df: DataFrame, groupCol: String, itemCol: String,
                       dir: String, tag: String, maxPerGroup: Int = 64): Unit = {
    require(maxPerGroup >= 2, s"writeCoocTranche: maxPerGroup=$maxPerGroup < 2")
    val capped = cappedMembers(df, groupCol, itemCol, maxPerGroup)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the three tranche families are independent projections of the
      // SAME cached membership — overlap their write jobs on driver
      // threads ([[graft.util.Par]]; RDD block locks
      // make the concurrent first-touch cache build compute each
      // partition once). Crash contract unchanged: each family is
      // self-consistent per tag, and a partially-written wave is
      // healed by the same-tag retry exactly as before.
      graft.util.Par.jobs(
        () => graft.util.Tranches.write(pairsOf(capped), s"$dir/pairs", tag),
        () => graft.util.Tranches.write(
          capped.groupBy(col("__i").as("item")).agg(count(lit(1)).as("n_i")),
          s"$dir/margins", tag),
        () => graft.util.Tranches.write(
          capped.agg(count_distinct(col("__g")).as("n_g")), s"$dir/totals", tag))
    } finally capped.unpersist()
  }

  /** Merge-on-read pair counts from the artifact (`item_a, item_b,
    * n_groups`), `minCount` applied AFTER the cross-tranche sum. */
  def readCoocPairs(spark: org.apache.spark.sql.SparkSession, dir: String,
                    minCount: Long = 1L): DataFrame =
    graft.util.Tranches.read(spark, s"$dir/pairs",
        Seq("item_a", "item_b"), "n_groups")
      .where(col("n_groups") >= minCount)

  /** Association lift straight from the artifact — the read-side twin
    * of [[coOccurrenceLift]], byte-identical to it when the tranches
    * partition the groups, with zero corpus access: margins are
    * |items| rows (AQE-broadcastable), the group total a 1-row
    * broadcast. */
  def coocLiftFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                        minCount: Long = 1L): DataFrame = {
    val pairs = readCoocPairs(spark, dir, minCount)
    val margins = graft.util.Tranches.read(spark, s"$dir/margins", Seq("item"), "n_i")
    val total = graft.util.Tranches.read(spark, s"$dir/totals", Seq.empty, "n_g")
    pairs
      .join(margins.select(col("item").as("item_a"), col("n_i").as("__na")), "item_a")
      .join(margins.select(col("item").as("item_b"), col("n_i").as("__nb")), "item_b")
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_groups"),
        ((col("n_groups") * col("n_g")).cast(DoubleType) /
          (col("__na") * col("__nb")).cast(DoubleType)).as("lift"))
  }

  /** The three co-occurrence tranche families: (dir, keys, count). */
  private val CoocFamilies = Seq(("pairs", Seq("item_a", "item_b"), "n_groups"),
    ("margins", Seq("item"), "n_i"), ("totals", Seq.empty[String], "n_g"))

  /** Fold each of the three tranche families to one tranche
    * (crash-safe superseding-manifest protocol —
    * [[graft.util.Tranches.consolidate]]). */
  def consolidateCooc(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    // the three families fold independently (disjoint dirs, per-family
    // manifest protocol) — overlap the fold jobs on driver threads
    // ([[graft.util.Par]]); a crash leaves each
    // family self-consistent exactly as the sequential form did
    graft.util.Par.jobs(CoocFamilies.map { case (family, keys, cnt) =>
      () => graft.util.Tranches.consolidate(spark, s"$dir/$family", keys, cnt)
    }: _*)

  /** Count-triggered auto-fold for the three co-occurrence families
    * ([[graft.util.Tranches.maybeFold]]): each family folds only when
    * its live tranche count exceeds `maxLive`, keeping every
    * merge-on-read ≤ maxLive-wide under unattended ingest. The
    * families are checked independently — a crash between them leaves
    * each family self-consistent (the manifest protocol is per
    * family). */
  def maybeConsolidateCooc(spark: org.apache.spark.sql.SparkSession,
                           dir: String, maxLive: Int): Boolean =
    CoocFamilies.map { case (family, keys, cnt) =>
      val d = s"$dir/$family"
      graft.util.Tranches.maybeFold(spark, d, maxLive)(
        graft.util.Tranches.consolidate(spark, d, keys, cnt))
    }.contains(true)

  /** Graph FEATURE aggregation: for every node, exact aggregates of a
    * value column over its distinct ≤`hops`-hop neighborhood (self
    * excluded) — "average account balance of my trading partners (and
    * their partners)", the classic graph feature a downstream model
    * consumes. `hops` ∈ {1, 2}: the 2-hop expansion is one edge
    * self-join whose fan-out is Σ deg² — honestly quadratic on raw
    * hub graphs, so `maxDegree` caps it the way
    * [[coOccurrencePairs]]' `maxPerGroup` caps pair fan-out: each
    * INTERMEDIATE node expands only its `maxDegree` smallest-id
    * neighbors, bounding the self-join at |E|·maxDegree rows BY
    * CONSTRUCTION (a dense bipartite graph otherwise produces
    * hundreds of millions of 2-hop rows — measured at sf0.1, not
    * hypothetical). `maxDegree = 0` keeps the exact uncapped
    * semantics for degree-bounded edge sets (a capped projection like
    * [[coOccurrencePairs]] output); the capped figure is the exact
    * aggregate over a DETERMINISTIC (smallest-id) neighborhood
    * sample. 3-hop is deliberately unsupported because its cost
    * model is a different operator.
    *
    * CAP BIAS: the default smallest-id truncation is deterministic but
    * id-CORRELATED — if ids encode time or source, the capped
    * neighborhood systematically over-samples old/first-source
    * neighbors. `sampleSalt = Some(salt)` switches the truncation
    * order to a seeded hash of the neighbor id (`portable = true`
    * routes through the md5 tier so an oracle replays the same
    * ordering; default xxhash64) — still deterministic and
    * engine-replayable, but uncorrelated with id semantics: an
    * unbiased fixed sample of each neighborhood. Same bound either
    * way; choose the salt per feature so refreshes are stable.
    *
    * Neighbors without a value row drop (inner join — features over
    * the valued universe). Determinism: counts exact, `sum_val` an
    * exact DECIMAL(12,2) sum cast to double, `avg_val` ONE IEEE
    * division of that by the exact count — the oracle-parity sum
    * discipline. The snap is a `try_cast` (the ANSI-overflow
    * exclusion rule AnomalyOps also follows): a magnitude beyond
    * DECIMAL(12,2) (|v| ≥ 10^10) behaves exactly like a NULL value —
    * the neighbor still counts, contributes nothing to the sum —
    * instead of throwing under ANSI mode (Spark 4's default) and
    * killing the feature job. Output: `(node, n_neighbors, sum_val,
    * avg_val)`.
    *
    * 2-hop plan invariant: ONE edge shuffle. The distinct edge set is
    * hash-partitioned by `src` at the session's shuffle-partition
    * count (an explicit count, which AQE does not coalesce), and
    * everything after it is partition-local: the edge distinct, the
    * capped cut, one outer join in which each edge u→m emits u's
    * neighbor m and m's capped list (each intermediate contributes
    * itself plus its list, so the 1-hop rows need no union), the pair
    * distinct and the per-node aggregate. That holds while the
    * capped side and the value frame are broadcast, as AQE does when
    * it measures them small; a side that is not joins by sort-merge
    * and pays a shuffle by `dst`. The per-node rows then leave through
    * one round-robin exchange, so a coalescing consumer does not pull
    * the expansion into one task. A source u gets at most
    * deg(u)·(maxDegree + 1) two-hop rows, all in the task that owns u,
    * so a hub source is that task's cost.
    */
  def neighborhoodAgg(edges: DataFrame, srcCol: String, dstCol: String,
                      values: DataFrame, nodeCol: String, valueCol: String,
                      hops: Int = 1, maxDegree: Int = 0,
                      sampleSalt: Option[String] = None,
                      portable: Boolean = false): DataFrame = {
    require(hops == 1 || hops == 2, s"neighborhoodAgg: hops=$hops not in {1, 2}")
    require(maxDegree >= 0, s"neighborhoodAgg: maxDegree=$maxDegree < 0")
    // The operator leaves no persisted state: the returned frame is a
    // plain lazy plan, so callers have nothing to release.
    val np = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val nbr =
      if (hops == 1) simpleEdges(edges, srcCol, dstCol)
      else {
        // the one edge shuffle: by src, at an explicit count AQE does
        // not coalesce, so the edge distinct, the capped cut, the pair
        // distinct and the per-node aggregate all keep this layout
        val e = longEdges(edges, srcCol, dstCol).where(col("src") =!= col("dst"))
          .repartition(np, col("src")).distinct()
        // truncation order: smallest-id (default) or seeded-hash
        // (unbiased); id tiebreak keeps the hash order total
        val capOrder: Seq[Column] = sampleSalt match {
          case None => Seq(col("__d2").asc)
          case Some(salt) =>
            val h =
              if (portable) graft.functions.Hashes.portable(
                concat(lit(salt), lit("|"), col("__d2").cast(StringType)))
              else xxhash64(lit(salt), col("__d2"))
            Seq(h.asc, col("__d2").asc)
        }
        val ranked = e.select(col("src").as("__m"), col("dst").as("__d2"))
          .withColumn("__rn", row_number().over(
            Window.partitionBy("__m").orderBy(capOrder: _*)))
        val capped = if (maxDegree == 0) ranked else ranked.where(col("__rn") <= maxDegree)
        // each intermediate m reaches itself (once, on its first row)
        // and its capped list, so one join emits the 1-hop and the
        // 2-hop rows together
        val reach = capped.select(col("__m"), explode(
          when(col("__rn") === 1, array(col("__m"), col("__d2")))
            .otherwise(array(col("__d2")))).as("__x"))
        // outer: an m with no out-edges matches nothing and reaches
        // itself through the NULL
        e.join(reach, col("dst") === col("__m"), "left")
          .select(col("src"), coalesce(col("__x"), col("dst")).as("dst"))
          .where(col("dst") =!= col("src"))
          .distinct()
      }
    val v = values.select(col(nodeCol).cast(LongType).as("dst"),
      col(valueCol).try_cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("__v"))
    val out = nbr.join(v, "dst")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_neighbors"),
        // (38,2) summand: the default (22,2) sum
        // type overflows at Σ|v| > 10^20 — reachable for a 10^10-degree
        // hub at the snap bound — where ANSI throws; widened, the sum
        // is provably exact (|v| < 10^10, rows ≤ 2^63 ⇒ Σ < 10^29)
        sum(col("__v").cast(org.apache.spark.sql.types.DecimalType(38, 2)))
          .as("__sum"))
      .select(col("src").as("node"), col("n_neighbors"),
        col("__sum").cast(DoubleType).as("sum_val"),
        (col("__sum").cast(DoubleType) / col("n_neighbors")).as("avg_val"))
    // the 2-hop result leaves its stage through a round-robin exchange
    // of one row per node: a consumer that narrows partitions (a
    // coalescing writer) then narrows only that small last stage, and
    // the expansion keeps the session's parallelism
    if (hops == 1) out else out.repartition(np)
  }

  /** 2-hop feature aggregation over WALKS instead of the distinct
    * neighbor SET — the sublinear tier for [[neighborhoodAgg]]'s
    * linear frontier. The exact op's cost is the
    * materialized 2-hop pair multiset: O(|E|·maxDegree) rows through
    * a global `distinct()` — measured 94× runtime at 100× data,
    * exactly its bound. This operator never materializes that set:
    * it aggregates over all 1-hop legs u→d plus all NON-BACKTRACKING
    * 2-hop walks u→m→d (d ≠ u), computed by combining per-node 1-hop
    * stat tranches `(n, Σv)` through the sum algebra —
    *
    *   walks₂(u) = Σ_{m∈N(u)} one(m)  −  backtrack legs u→m→u
    *
    * — three O(|E|)-row shuffles total (stat build, stat combine,
    * mutual-edge backtrack correction), independent of fan-out. The
    * answer is EXACT for walk semantics (oracle-replayable in SQL,
    * hash-gated like every other query — not a sketch): a neighbor
    * reachable down k distinct paths is counted k times, and a node
    * that is both a 1-hop and a 2-hop neighbor counts in both roles.
    * For feature purposes the walk aggregate is the path-weighted
    * variant of the neighborhood mean (a neighbor connected through
    * many intermediates weighs more); on graphs where ≤2-hop paths
    * are unique (trees, the sparse tail of most real graphs) it
    * EQUALS the distinct-set aggregate (spec-pinned). Use the exact
    * [[neighborhoodAgg]] when set semantics are required and E·cap
    * is affordable; use this when they aren't.
    *
    * Determinism: counts exact integers, sums exact DECIMAL combined
    * through the algebra (identical value to summing the walk
    * multiset directly), ONE IEEE division at the end — the
    * oracle-parity discipline. Output: `(node, n_paths, sum_val,
    * avg_val)`, nodes with ≥1 qualifying leg.
    */
  def neighborhoodAggPaths(edges: DataFrame, srcCol: String, dstCol: String,
                           values: DataFrame, nodeCol: String,
                           valueCol: String): DataFrame = {
    val e = simpleEdges(edges, srcCol, dstCol)
    // try_cast snap: same wild-value-behaves-like-NULL exclusion as
    // [[neighborhoodAgg]] (ANSI-overflow exclusion)
    val v = values.select(col(nodeCol).cast(LongType).as("dst"),
      col(valueCol).try_cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("__v"))
    // per-node 1-hop stat tranche (node-sized, the at-rest-index shape).
    // MATERIALIZED once (the rolling gauges'
    // Materialize.bounded idiom): the tranche feeds BOTH the 2-hop
    // combine and the final full_outer join — as a lazy subtree it
    // evaluated once per consumer unless AQE happened to reuse the
    // exchange, and that reuse decision was measured FLAPPING the
    // final plan shape run to run (41↔40 exchanges, the plan-gate
    // flap retries could not absorb a per-JVM-sticky count). One
    // node-sized checkpoint makes the plan deterministic and the
    // tranche compute-once by construction.
    val one = graft.util.Materialize.bounded(
      e.join(v, "dst").groupBy(col("src"))
      // (38,2) summands here and below: exact for
      // any fan-out — the (22,2) default overflowed (ANSI-threw) at
      // Σ|v| > 10^20; walk COUNTS stay long (bounded by the operator's
      // own cost model: total ≤2-hop walks ≪ 2^63 on any graph whose
      // stat tranches this op can build)
      .agg(count(lit(1)).as("__n1"),
        sum(col("__v").cast(org.apache.spark.sql.types.DecimalType(38, 2)))
          .as("__s1")))
    val oneM = one.select(col("src").as("__m"),
      col("__n1").as("__n1m"), col("__s1").as("__s1m"))
    // 2-hop walk totals by stat COMBINE — never the walk rows themselves
    val two = e.join(oneM, col("dst") === col("__m"))
      .groupBy(col("src"))
      .agg(sum(col("__n1m")).as("__n2"), sum(col("__s1m")).as("__s2"))
    // backtrack correction: each MUTUAL edge pair u⇄m contributes one
    // u→m→u walk PER VALUE ROW of u (a duplicated node in `values`
    // counts twice in every neighbor stat, including its own backtrack
    // legs) — join value rows FIRST, then aggregate, so the correction
    // is one row per node with count = mutual-edges × value-rows. The
    // pre-aggregated-count-then-join order emitted one OUTPUT row
    // per duplicate value row and undercounted the subtracted paths.
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val back = e.intersect(rev)
      .join(v.withColumnRenamed("dst", "src"), Seq("src"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("__nbk"),
        sum(col("__v").cast(org.apache.spark.sql.types.DecimalType(38, 2)))
          .as("__sbk"))
    val zeroN = lit(0L)
    one.join(two, Seq("src"), "full_outer")
      .join(back, Seq("src"), "left")
      .select(col("src").as("node"),
        (coalesce(col("__n1"), zeroN) + coalesce(col("__n2"), zeroN) -
          coalesce(col("__nbk"), zeroN)).as("n_paths"),
        (coalesce(col("__s1").cast(org.apache.spark.sql.types.DecimalType(38, 2)), lit(0)) +
          coalesce(col("__s2").cast(org.apache.spark.sql.types.DecimalType(38, 2)), lit(0)) -
          coalesce(col("__sbk").cast(org.apache.spark.sql.types.DecimalType(38, 2)), lit(0)))
          .as("__sum"))
      .where(col("n_paths") > 0)
      .select(col("node"), col("n_paths"),
        col("__sum").cast(DoubleType).as("sum_val"),
        (col("__sum").cast(DoubleType) / col("n_paths")).as("avg_val"))
  }

  /** Multi-source BFS distances: the minimum hop count from any seed
    * node to every node reachable within `maxHops` — the reachability
    * primitive behind "everything within 2 links of these flagged
    * items" expansion queries (contamination spread, related-item
    * neighborhoods, blast-radius estimates on the co-occurrence
    * graph).
    *
    * Frontier iteration over `(node, dist)` state: hop h adds the
    * out-neighbours of the level-(h−1) frontier, anti-joined against
    * every node already labeled — each node is labeled exactly once,
    * at its BFS level, so `dist` is the minimum by construction.
    * `maxHops` is a REQUIRED bound (neighborhood queries want 1–4 hops;
    * unbounded reachability is [[connectedComponents]]' job, which
    * converges in O(log²) rounds instead of diameter).
    *
    * Scale shape: one hop = one frontier⋈edges equi-join (frontier is
    * the NEW nodes only, never the cumulative set) + one anti-join
    * against the labeled set — both keyed on node id, AQE-handled.
    * The hops run in [[Fixpoint]]: one job per hop materializes the
    * new state and counts its level-h rows (zero = empty frontier,
    * early stop), and the returned frame's plan does not grow with the
    * hop count. Seeds appear with dist 0 whether or not they occur in
    * the edge set (the caller asked about them). The returned frame is
    * backed by the final persisted state (the [[pageRank]] release
    * contract).
    *
    * Determinism: pure integer hop counts — trivially replayable; the
    * oracle is a recursive CTE with UNION dedup and `min(dist)`.
    */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   sources: Seq[Long], maxHops: Int): DataFrame =
    bfsCore(edges, srcCol, dstCol, sources, maxHops)._1

  /** [[bfsDistances]] as `(distances, hopsRun)`. */
  private[graft] def bfsCore(edges: DataFrame, srcCol: String, dstCol: String,
                             sources: Seq[Long], maxHops: Int)
  : (DataFrame, Int) = {
    require(sources.nonEmpty, "bfsDistances: empty source set")
    require(maxHops >= 0, s"bfsDistances: maxHops=$maxHops must be >= 0")
    val e = simpleEdges(edges, srcCol, dstCol).persist(StorageLevel.MEMORY_AND_DISK)
    val seed = edges.sparkSession.createDataFrame(sources.distinct.map((_, 0L)))
      .toDF("node", "dist")
    val (out, hops, _) = Fixpoint(seed, maxHops, Seq(e))(
      // using-column joins: the frontier and the edges share lineage
      // from hop 2 on, and column-equality predicates would hit the
      // ambiguous-self-join check
      (labeled, h) => labeled.unionAll(
        e.join(labeled.where(col("dist") === h - 1).select(col("node").as("src")), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(labeled, Seq("node"), "left_anti")
          .withColumn("dist", lit(h.toLong))),
      Some((_, next, h) =>
        next.agg(count(when(col("dist") === h, lit(1)))).head().getLong(0) == 0))
    (out, hops)
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected edge list — the community-structure gauge for the
    * graphs this module already builds (co-occurrence projections,
    * near-dup pair sets): a high-clustering neighborhood is a genuine
    * community, a hub with zero closure is a stop-item / boilerplate
    * artifact.
    *
    * Algorithm: degree-ordered edge orientation (Cohen 2009 /
    * Suri–Vassilvitskii "Counting Triangles and the Curse of the Last
    * Reducer", WWW 2011). Every edge is oriented from its lower
    * endpoint to its higher endpoint in the total order `(degree,
    * id)`; each triangle then has exactly ONE wedge at its
    * lowest-ordered vertex, so `wedges ⋈ edges` counts every triangle
    * once with no dedup pass. The orientation is the scale story: a
    * hub of degree d sits at the HIGH end of the order, so its
    * oriented out-degree — and therefore its wedge fan-out — is
    * bounded by O(√m) regardless of d. The naive all-wedges join
    * explodes quadratically on the hottest node (the "last reducer");
    * this shape provably cannot.
    *
    * Shuffle plan: canonicalize+distinct (one exchange), degree count
    * (one), two degree joins to orient, the wedge self-join on the
    * low vertex (one), the closing-edge equi-join, then an explode +
    * count per vertex. Everything keys on node ids — AQE handles skew;
    * nothing is collected.
    *
    * Determinism: counts are exact integers; `clustering` =
    * `2·tri / (deg·(deg−1))` is one IEEE division on exact integer
    * operands (0.0 when deg < 2), rounded 6 dp — bit-replayable in
    * any engine.
    *
    * Output: one row per node — `(item, degree, n_triangles,
    * clustering)`, nodes without triangles included with 0.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges
      .select(least(col(aCol), col(bCol)).cast(LongType).as("a"),
        greatest(col(aCol), col(bCol)).cast(LongType).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient by the (deg, id) total order; carry the head's (deg, id)
    // so the wedge join can compare orders without re-joining degrees
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("__db")), "b")
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("__db")).otherwise(col("__da")).as("__dv"))
    // wedges at the lowest-ordered vertex: out-neighbors v < w in
    // (deg, id) order; the closing edge, if present, is oriented v→w
    val o1 = oriented.select(col("u"), col("v").as("x"), col("__dv").as("__dx"))
    val o2 = oriented.select(col("u"), col("v").as("y"), col("__dv").as("__dy"))
    val wedges = o1.join(o2, "u").where(
      col("__dx") < col("__dy") ||
        (col("__dx") === col("__dy") && col("x") < col("y")))
    val tris = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    val perNode = tris
      .select(explode(array(col("u"), col("x"), col("y"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("item"), col("deg").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          round((coalesce(col("n_triangles"), lit(0L)) * lit(2L)).cast(DoubleType) /
            (col("deg") * (col("deg") - lit(1L))).cast(DoubleType), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }
}
