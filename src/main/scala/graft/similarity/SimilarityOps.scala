package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Readers

/** Approximate-nearest-neighbor / similarity search over embedding
  * columns (`Array[Float]`).
  *
  * Extension surface beyond the reference (BASELINE.json north star).
  *
  * Scale design (100 TB posture):
  *   - Brute-force top-k is the exactness baseline: the (small) query
  *     set is **broadcast**, the corpus streams through a
  *     BroadcastNestedLoopJoin — corpus never shuffles, cost is
  *     O(|corpus|·|queries|) FLOPs spread across executors.
  *   - The scale path is sign-LSH bucketing: corpus and queries get a
  *     deterministic hyperplane-sign bucket; candidates meet in an
  *     equi-join on the bucket key (shuffle on bucket, no cross join).
  *     Multi-probe (flip one bit) trades recall for fan-out.
  *   - Dot products are sequential double folds (zip_with+aggregate,
  *     codegen'd) — deterministic, no UDFs.
  */
object SimilarityOps {


  /** Deterministic sequential-fold dot product (double) — generic over
    * numeric array element types. For the float-array hot path use
    * [[dotF]] (bit-identical result, codegen'd). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Codegen'd dot product for `array<float>` columns
    * ([[graft.functions.DotProductExpr]]): same left-to-right double
    * summation as [[dot]], so results are bit-identical — but a tight
    * primitive loop instead of an interpreted HOF fold. This is the
    * per-candidate kernel of every ANN scoring join. */
  def dotF(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.floatDot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Codegen'd L2 norm for `array<float>` columns. */
  def l2NormF(a: Column): Column = sqrt(dotF(a, a))

  /** Cosine similarity of two vector columns; NULL when either side
    * has zero norm (see [[cosineOf]]). */
  def cosine(a: Column, b: Column): Column =
    cosineRawOf(dot(a, b), l2Norm(a), l2Norm(b))

  /** Cosine with the ZERO-NORM guard, rounded to 6 dp — the form every
    * scoring join in this family uses. A zero-norm vector has no
    * direction: under ANSI mode (Spark 4's default) the unguarded
    * division THROWS (DIVIDE_BY_ZERO — double included, measured),
    * killing the whole top-k/dedup job on ONE corrupt all-zero
    * embedding; under legacy mode 0/0 = NaN, and NaN sorts ABOVE every
    * real double in a descending rank — a zero vector would silently
    * TOP every top-k list. NULL instead: it fails every threshold
    * predicate and ranks LAST in desc order, in both ANSI modes (a
    * plain division by zero throws under ANSI). */
  def cosineOf(dotV: Column, na: Column, nb: Column): Column =
    when(na > 0 && nb > 0, round(dotV / (na * nb), 6))

  /** [[cosineOf]] without the 6-dp round — the internal pre-rank form. */
  private def cosineRawOf(dotV: Column, na: Column, nb: Column): Column =
    when(na > 0 && nb > 0, dotV / (na * nb))

  /** L2-normalize a vector column. The norm is let-bound so it is
    * computed once, not once per element ([[graft.functions.Let]]);
    * a zero-norm vector normalizes to NULL (no direction — and the
    * per-element division would ANSI-throw). */
  def normalize(a: Column): Column =
    graft.functions.Let.bind(l2Norm(a)) { n =>
      when(n > 0, transform(a, x => x.cast(DoubleType) / n))
    }

  /** Exact brute-force cosine top-k. `queries`(qidCol, vec) is
    * broadcast; every corpus row is scored against every query and the
    * per-query top-k kept (row_number window, cosine rounded to 6 dp
    * with id tiebreak for cross-engine determinism).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qidCol: String, cidCol: String, vecCol: String,
                     k: Int): DataFrame = {
    // norms are computed once per side BEFORE the join — computing
    // cosine(q,c) per pair would fold dot(q,q) and dot(c,c) for every
    // candidate, tripling the FLOPs of the hot loop
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"),
      l2NormF(col(vecCol)).as("__qn"))
    val c = corpus.select(col(cidCol).as("corpus_id"), col(vecCol).as("__cv"),
      l2NormF(col(vecCol)).as("__cn"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineOf(dotF(col("__qv"), col("__cv")), col("__qn"), col("__cn")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Per-query recall@k of an APPROXIMATE top-k result against the
    * exact one: `|approx ∩ exact| / |exact|` per query — the tuning
    * gauge every ANN budget knob (nProbe, nbits, multiProbe,
    * shortlist) is turned against. Both inputs are any of this
    * module's top-k shapes (`query_id, corpus_id, ...`); ground truth
    * is typically [[bruteForceTopK]] on a SAMPLED query set — recall
    * measurement costs one exact search per sampled query, so at
    * corpus scale the operator's input is hundreds of queries, not
    * the serving load. Scale shape: two k×|queries| frames through
    * one equi-join and a map-side-combinable per-query aggregate —
    * negligible next to the searches that produced them.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    // distinct on both projections: a duplicated (query_id, corpus_id)
    // row — e.g. a multi-probe candidate frame passed instead of a
    // deduped top-k — would fan out the join and corrupt BOTH the hit
    // count and the denominator; negligible cost on k×|queries| rows
    exact.select(col("query_id"), col("corpus_id")).distinct()
      .join(approx.select(col("query_id"), col("corpus_id")).distinct()
        .withColumn("__hit", lit(1L)),
        Seq("query_id", "corpus_id"), "left")
      .groupBy("query_id")
      .agg((sum(coalesce(col("__hit"), lit(0L))).cast(DoubleType) /
        count(lit(1))).as("recall"))

  /** Deterministic sign-LSH bucket: bit i = sign of component i of the
    * first `nbits` dimensions (a fixed axis-aligned "hyperplane" set —
    * deterministic and engine-portable; swap in seeded random
    * projections via [[projectionBucket]] for better balance).
    */
  def signBucket(vec: Column, nbits: Int): Column =
    aggregate(
      zip_with(slice(vec, 1, nbits), sequence(lit(0), lit(nbits - 1)),
        (x, b) => when(x > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)

  /** Seeded random-projection bucket: bit j = sign(v · r_j) where r_j
    * is a deterministic ±1 vector derived from xxhash64(seed, j, dim).
    * Better-balanced buckets than [[signBucket]]; not oracle-portable.
    */
  def projectionBucket(vec: Column, nbits: Int, dim: Int, seed: Int = 42): Column = {
    val proj = (0 until nbits).map { j =>
      val prod = aggregate(
        zip_with(vec, sequence(lit(0), lit(dim - 1)),
          (x, i) => when(pmod(xxhash64(lit(seed), lit(j), i), lit(2)) === 0,
            x.cast(DoubleType)).otherwise(-x.cast(DoubleType))),
        lit(0.0), (acc, v) => acc + v)
      when(prod > 0, lit(1L << j)).otherwise(lit(0L))
    }
    proj.reduce(_ + _)
  }

  /** LSH-bucketed approximate top-k: queries and corpus join on their
    * sign bucket (equi-join; no cross join), then per-query top-k among
    * the colliding candidates. Recall < 1 by construction — pair with
    * multi-probe or more/fewer bits to tune.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              qidCol: String, cidCol: String, vecCol: String,
              k: Int, nbits: Int = 8, multiProbe: Boolean = false): DataFrame = {
    val qBase = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"),
      l2NormF(col(vecCol)).as("__qn"), signBucket(col(vecCol), nbits).as("__bucket"))
    // multi-probe: also search every bucket at hamming distance 1 from
    // the query's bucket — components near zero flip sign between
    // near-identical vectors, and one flipped bit is the common miss.
    // Query side grows (nbits+1)×; the (big) corpus side never does.
    val q =
      if (!multiProbe) qBase
      else qBase.withColumn("__bucket",
        explode(array((col("__bucket") +:
          (0 until nbits).map(i => col("__bucket").bitwiseXOR(lit(1L << i)))): _*)))
    val c = corpus.select(col(cidCol).as("corpus_id"), col(vecCol).as("__cv"),
      l2NormF(col(vecCol)).as("__cn"), signBucket(col(vecCol), nbits).as("__bucket"))
    val scoredRaw = c.join(broadcast(q), Seq("__bucket"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineOf(dotF(col("__qv"), col("__cv")), col("__qn"), col("__cn")).as("cos"))
    // no dedup needed: each corpus row has exactly one bucket and the
    // probed buckets are distinct, so a (query, corpus) pair can meet
    // through at most one probe
    val scored = scoredRaw
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Materialize the LSH layout at rest: the corpus written PARTITIONED
    * BY its sign bucket, the same at-rest shape as [[ivfWriteIndex]] —
    * a probe of b buckets is a partition-pruned read of b/2^nbits of
    * the index. Unlike IVF there is NO fitted quantizer, but `nbits`
    * IS the structural invariant ([[signBucket]] is a pure function of
    * (vector, nbits) — a probe under a different width re-buckets
    * every query and silently stops finding neighbors), so it is
    * frozen into the index header ([[graft.util.IndexMeta]]) like every
    * at-rest family's params and read back by append/probe. Rows live
    * under `dir/vec/batch=<tag>/lsh_bucket=<b>` tranches — the shared
    * lifecycle (overwrite-idempotent tagged appends, consolidation,
    * builds published whole through [[graft.merge.Merge.swapWith]]). */
  def lshWriteIndex(corpus: DataFrame, dir: String, cidCol: String, vecCol: String,
                    nbits: Int = 8,
                    commit: graft.merge.Merge.Commit =
                      graft.merge.Merge.RenameCommit): Unit = {
    val spark = corpus.sparkSession
    graft.merge.Merge.swapWith(spark, dir, commit) { root =>
      graft.util.IndexMeta.write(spark, root, Seq("nbits" -> nbits))
      lshIndexRows(corpus, cidCol, vecCol, nbits)
        .write.mode("overwrite").partitionBy("lsh_bucket").parquet(s"$root/vec/batch=build")
    }
  }

  /** The LSH index's resolved directory and frozen `nbits`. */
  private def openLshIndex(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String): (String, Int) = {
    val h = graft.util.IndexMeta.open(spark, indexDir, "LSH", "lshWriteIndex")
    (h.dir, h.int("nbits"))
  }

  /** Incrementally append vectors to a written LSH layout — new rows
    * land under their own `batch=<tag>` tranche only (untouched
    * tranches see zero I/O), bucketed with the INDEX's frozen `nbits`
    * from its header. Same tagged-tranche contract as
    * [[ivfAppendToIndex]]. Probe-after-append ≡ probe of a one-shot
    * build over the unioned corpus (spec-proven).
    */
  def lshAppendToIndex(newRows: DataFrame, indexDir: String, cidCol: String, vecCol: String,
                       tag: String): Unit = {
    val spark = newRows.sparkSession
    val (dir, nbits) = openLshIndex(spark, indexDir)
    if (!graft.util.Tranches.appendTagAllowed(spark, dir, tag, "lshAppendToIndex",
      () => newRows.select(col(cidCol).as("corpus_id")).distinct()
        .join(Readers.parquet(spark, s"$dir/vec").select("corpus_id"),
          Seq("corpus_id"), "left_anti").count()))
      return
    lshIndexRows(newRows, cidCol, vecCol, nbits)
      .write.mode("overwrite").partitionBy("lsh_bucket").parquet(s"$dir/vec/batch=$tag")
  }

  /** [[consolidateIvfIndex]]'s twin for the LSH vector artifact —
    * shared protocol, `lsh_bucket` partitioning preserved. */
  def consolidateLshIndex(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String,
                          commit: graft.merge.Merge.Commit =
                            graft.merge.Merge.RenameCommit): Unit = {
    openLshIndex(spark, indexDir)
    graft.util.Tranches.foldLedger(spark, indexDir, Seq("vec" -> Seq("lsh_bucket")),
      witness = "vec", commit = commit)
  }

  private def lshIndexRows(df: DataFrame, cidCol: String, vecCol: String,
                           nbits: Int): DataFrame =
    df.select(col(cidCol).as("corpus_id"), col(vecCol).as("__cv"),
      signBucket(col(vecCol), nbits).as("lsh_bucket"))

  /** Probe a written LSH layout: bucket each query (plus its hamming-1
    * neighborhood when `multiProbe`) and top-k score only the matching
    * bucket partitions — the broadcast bucket join dynamic-partition-
    * prunes the index scan exactly like [[ivfProbeTopK]]. `nbits`
    * comes from the index header, never callers.
    */
  def lshProbeTopK(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                   queries: DataFrame, qidCol: String, vecCol: String,
                   k: Int, multiProbe: Boolean = false): DataFrame = {
    val (dir, nbits) = openLshIndex(spark, indexDir)
    val qBase = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"),
      l2NormF(col(vecCol)).as("__qn"), signBucket(col(vecCol), nbits).as("lsh_bucket"))
    val q =
      if (!multiProbe) qBase
      else qBase.withColumn("lsh_bucket",
        explode(array((col("lsh_bucket") +:
          (0 until nbits).map(i => col("lsh_bucket").bitwiseXOR(lit(1L << i)))): _*)))
    val index = Readers.parquet(spark, s"$dir/vec").drop("batch")
    val scored = index.join(broadcast(q), Seq("lsh_bucket"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineOf(dotF(col("__qv"), col("__cv")), col("__qn"), l2NormF(col("__cv"))).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer assigns every
    * corpus vector to its nearest of `nLists` centroids (the "inverted
    * lists"); a query probes only its `nProbe` nearest lists and scores
    * candidates there. The 100 TB shape: centroids are tiny and
    * broadcast; the corpus is scanned ONCE to attach `ivf_list` (in
    * production: written back as a partition/bucket column so probes
    * become partition-pruned reads); the search join is an equi-join on
    * the list id — no cross join, no full-corpus scoring.
    *
    * Returns (query_id, corpus_id, cos, rank) like the other top-k ops.
    * Recall grows with nProbe (nProbe = nLists ⇒ exact brute force).
    */
  /** Fit the IVF coarse quantizer: k-means centroids from a bounded
    * UNBIASED sample of the corpus. A bare `limit(n)` would take the
    * first n rows (≈ one file/partition) and fit the quantizer on a
    * non-representative slice, badly unbalancing the inverted lists at
    * scale — the seeded `rand()` order makes it a uniform draw
    * (deterministic per run) at one TakeOrdered pass over the corpus.
    *
    * The Lloyd's fit itself runs ON THE DRIVER over the collected
    * sample (FAISS fits its coarse quantizer the same way): the sample
    * is bounded at `sampleSize` rows regardless of corpus size, and a
    * driver loop over ≤4096 vectors costs milliseconds — distributing
    * it spends multiple scheduler round-trips per iteration to share
    * work that fits in L2 cache. Only the ASSIGNMENT of the full corpus
    * to lists is distributed (a broadcast-centroid projection in
    * [[ivfTopK]]).
    *
    * Determinism: with `stableIdCol` set, the sample orders by a seeded
    * hash of the ID — a uniform draw that is REPRODUCIBLE across
    * partition layouts, file splits, and parallelism (the fit becomes a
    * pure function of corpus content). Without it, the `rand(seed)`
    * draw is deterministic only for a fixed layout — fine within one
    * job, not across re-partitioned re-runs. The exact nProbe = nLists
    * path is centroid-independent either way.
    */
  def ivfCentroids(corpus: DataFrame, vecCol: String, nLists: Int,
                   seed: Long = 42L, sampleSize: Int = 4096,
                   maxIter: Int = 8,
                   stableIdCol: Option[String] = None): Array[(Int, Array[Double])] = {
    val sample = collectVectorSample(corpus, vecCol, seed, sampleSize, stableIdCol)
    require(sample.nonEmpty, "ivfCentroids: empty corpus")
    lloydFit(sample, nLists, seed, maxIter).zipWithIndex.map { case (v, i) => (i, v) }
  }

  /** Driver-side Lloyd's iterations over a bounded sample (shared by
    * the IVF coarse quantizer and the PQ codebook fit). Seeded init
    * from distinct sample points; empty clusters reseed on a random
    * sample point. */
  private[similarity] def lloydFit(sample: Array[Array[Double]], nClusters: Int,
                                   seed: Long, maxIter: Int): Array[Array[Double]] = {
    val k = math.min(nClusters, sample.length)
    val dim = sample.head.length
    val rnd = new scala.util.Random(seed)
    val centroids = rnd.shuffle(sample.indices.toVector).take(k)
      .map(i => sample(i).clone()).toArray
    def nearest(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < k) {
        var d = 0.0; var i = 0
        while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearest(v)
        counts(c) += 1
        var i = 0; while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0; while (i < dim) { centroids(c)(i) = sums(c)(i) / counts(c); i += 1 }
        } else {
          // empty cluster: reseed on a (seeded-)random sample point
          centroids(c) = sample(rnd.nextInt(sample.length)).clone()
        }
        c += 1
      }
      iter += 1
    }
    centroids
  }

  /** Draw a bounded unbiased sample of vectors to the driver (shared
    * fit front door; see [[ivfCentroids]] for the determinism notes). */
  private def collectVectorSample(corpus: DataFrame, vecCol: String,
                                  seed: Long, sampleSize: Int,
                                  stableIdCol: Option[String] = None): Array[Array[Double]] = {
    val ordered = stableIdCol match {
      // seeded id-hash order: layout-independent uniform draw
      case Some(id) => corpus.select(col(vecCol), col(id))
        .orderBy(xxhash64(lit(seed), col(id)), col(id)).limit(sampleSize).select(col(vecCol))
      case None => corpus.select(col(vecCol)).orderBy(rand(seed)).limit(sampleSize)
    }
    ordered.collect()
      .map(_.getSeq[Any](0).iterator.map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue()
      }.toArray)
  }

  /** @param centroids precomputed coarse-quantizer centroids (from
    *   [[ivfCentroids]] or returned by [[ivfWriteIndex]]). Fit-if-absent:
    *   the default refits from `corpus`, which is correct but pays a
    *   full sample pass PER CALL — serving paths that issue many
    *   queries against one corpus must fit once and pass the result
    *   here, exactly like the written-index contract
    *   ([[ivfProbeTopK]] already requires them). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              qidCol: String, cidCol: String, vecCol: String,
              k: Int, nLists: Int = 16, nProbe: Int = 2,
              seed: Long = 42L,
              centroids: Option[Array[(Int, Array[Double])]] = None): DataFrame = {
    // the quantizer needs only a sketch of the distribution — training
    // on a bounded sample keeps the fit O(sample) while assignment
    // still covers the full corpus
    val cents = centroids.getOrElse(ivfCentroids(corpus, vecCol, nLists, seed))

    // nearest-list assignment as a pure expression over the broadcast
    // centroid literals: argmin over squared L2 distance
    val c = corpus.select(col(cidCol).as("corpus_id"), col(vecCol).as("__cv"),
      l2NormF(col(vecCol)).as("__cn"),
      element_at(nearestListsExpr(cents, col(vecCol), 1), 1).as("__list"))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"),
        l2NormF(col(vecCol)).as("__qn"),
        explode(nearestListsExpr(cents, col(vecCol), nProbe)).as("__list"))
    val scored = c.join(broadcast(q), Seq("__list"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineOf(dotF(col("__qv"), col("__cv")), col("__qn"), col("__cn")).as("cos"))
    // no dedup needed: one home list per corpus row, distinct probes →
    // each (query, corpus) pair meets at most once
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The IVF index's frozen quantizer, its view of the
    * [[graft.util.IndexMeta]] header written at build time (`dir` is
    * the resolved index directory). The centroids are a STRUCTURAL
    * invariant of the artifact (same role as the dedup index's
    * shingle/hash params): a row's home list is a function of the
    * centroid family, so probing or appending under DIFFERENT
    * centroids silently prunes the wrong partitions and near-dups
    * vanish without an error. Readers take the quantizer from the
    * header, never from callers; a pre-header index must be rebuilt so
    * its centroids become part of the artifact. */
  private[graft] final case class IvfIndexMeta(
      dir: String, nLists: Int, dim: Int, centroids: Array[(Int, Array[Double])])

  /** One `centroid=<list>:<bits>` line per list. */
  private def centroidEntries(cents: Array[(Int, Array[Double])]): Seq[(String, String)] =
    cents.toSeq.map { case (i, v) => "centroid" -> s"$i:${graft.util.IndexMeta.encodeDoubles(v)}" }

  private def centroidsOf(h: graft.util.IndexMeta.Header): Array[(Int, Array[Double])] =
    h.all("centroid").map { c =>
      val Array(i, bits) = c.split(":", 2)
      (i.toInt, graft.util.IndexMeta.decodeDoubles(bits))
    }.toArray

  private[graft] def openIvfIndex(spark: org.apache.spark.sql.SparkSession,
                                  indexDir: String): IvfIndexMeta = {
    val h = graft.util.IndexMeta.open(spark, indexDir, "IVF", "ivfWriteIndex")
    IvfIndexMeta(h.dir, h.int("nLists"), h.int("dim"), centroidsOf(h))
  }

  /** Materialize the IVF index: assign every corpus vector its nearest
    * list and write the corpus PARTITIONED BY the list id. This is the
    * 100 TB shape the in-memory `ivfTopK` simulates with an equi-join:
    * once the list is a partition column, a probe of nProbe lists is a
    * partition-PRUNED scan — the other nLists−nProbe partitions are
    * never read.
    *
    * Layout: the index header freezes the quantizer (centroids +
    * nLists + dim); vector rows live under `dir/vec/batch=<tag>/
    * ivf_list=<n>` tranches — the same lifecycle discipline as the
    * dedup/winnow indexes (overwrite-idempotent tagged appends,
    * consolidation with an absorbed-tag ledger, every build published
    * whole through [[graft.merge.Merge.swapWith]]). Returns the centroids for
    * caller convenience (e.g. feeding the in-memory [[ivfTopK]]);
    * every reader of THIS index takes them from the artifact.
    */
  def ivfWriteIndex(corpus: DataFrame, dir: String, cidCol: String, vecCol: String,
                    nLists: Int = 16, seed: Long = 42L,
                    precomputed: Option[Array[(Int, Array[Double])]] = None,
                    commit: graft.merge.Merge.Commit =
                      graft.merge.Merge.RenameCommit)
  : Array[(Int, Array[Double])] = {
    val spark = corpus.sparkSession
    val centroids = precomputed.getOrElse(ivfCentroids(corpus, vecCol, nLists, seed))
    require(centroids.nonEmpty, "ivfWriteIndex: empty centroid family")
    graft.merge.Merge.swapWith(spark, dir, commit) { root =>
      graft.util.IndexMeta.write(spark, root, Seq("nLists" -> nLists,
        "dim" -> centroids.head._2.length) ++ centroidEntries(centroids))
      ivfIndexRows(corpus, cidCol, vecCol, centroids)
        .write.mode("overwrite").partitionBy("ivf_list").parquet(s"$root/vec/batch=build")
    }
    centroids
  }

  /** Incrementally append vectors to a written IVF index — the index
    * lifecycle's add() step (a 100 TB index is never rebuilt for a
    * daily ingest batch). New rows are assigned with the index's
    * FROZEN centroids, read from its header — the quantizer is
    * trained at build time, and appending must not move list
    * boundaries or every existing row's home list would silently
    * shift — and land under their own `batch=<tag>` tranche only;
    * untouched tranches see zero I/O. The tag is REQUIRED and owned
    * by the caller (a date, an epoch id): a retry after a mid-append
    * crash reuses it and OVERWRITES exactly its own tranche, so
    * double delivery converges to one copy instead of double-counting
    * vectors (a duplicated history vector double-reports near-dups
    * and inflates every list's scan). A tag already absorbed by
    * [[consolidateIvfIndex]] no-ops only if provably a replay
    * (every corpus_id already indexed) — new data aliased onto an
    * absorbed tag fails fast. Probe-after-append ≡ probe of a
    * one-shot build over the unioned corpus (spec-proven).
    */
  def ivfAppendToIndex(newRows: DataFrame, indexDir: String, cidCol: String, vecCol: String,
                       tag: String): Unit = {
    val spark = newRows.sparkSession
    val meta = openIvfIndex(spark, indexDir)
    val dir = meta.dir
    if (!graft.util.Tranches.appendTagAllowed(spark, dir, tag, "ivfAppendToIndex",
      () => newRows.select(col(cidCol).as("corpus_id")).distinct()
        .join(Readers.parquet(spark, s"$dir/vec").select("corpus_id"),
          Seq("corpus_id"), "left_anti").count()))
      return
    ivfIndexRows(newRows, cidCol, vecCol, meta.centroids)
      .write.mode("overwrite").partitionBy("ivf_list").parquet(s"$dir/vec/batch=$tag")
  }

  /** Collapse accumulated IVF tranches into one (atomic swap,
    * `distinct()`-self-healing, absorbed-tag ledger) — the SHARED
    * consolidation protocol
    * ([[graft.util.Tranches.foldLedger]]). The rewrite
    * preserves `ivf_list` as a PARTITION column: a consolidation that
    * demoted it to a data column would silently retire partition
    * pruning — every probe would scan the whole index. The single
    * `vec` artifact is its own commit witness. */
  def consolidateIvfIndex(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String,
                          commit: graft.merge.Merge.Commit =
                            graft.merge.Merge.RenameCommit): Unit = {
    openIvfIndex(spark, indexDir)
    graft.util.Tranches.foldLedger(spark, indexDir, Seq("vec" -> Seq("ivf_list")),
      witness = "vec", commit = commit)
  }

  private def ivfIndexRows(df: DataFrame, cidCol: String, vecCol: String,
                           centroids: Array[(Int, Array[Double])]): DataFrame =
    df.select(col(cidCol).as("corpus_id"), col(vecCol).as("__cv"),
      element_at(nearestListsExpr(centroids, col(vecCol), 1), 1).as("ivf_list"))

  /** Read the index's vector rows (all tranches, partition columns
    * `batch`/`ivf_list` discovered; `batch` dropped — tranching is a
    * lifecycle detail, not a query dimension). */
  private def ivfIndexVectors(spark: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame =
    Readers.parquet(spark, s"$dir/vec").drop("batch")

  /** Probe a written IVF index: quantize each query to its `nProbe`
    * nearest lists (quantizer from the index header — never
    * caller-supplied) and top-k score ONLY those partitions. The
    * `ivf_list IN (…)` filter on the partition column prunes the scan
    * (verify with `.explain`: the FileScan's partitionFilters carry the
    * list predicate) — at 100 TB this reads nProbe/nLists of the index.
    * The query side broadcasts by CONTRACT: top-k serving batches are
    * bounded-small (unlike the dedup batch path, which shuffles).
    */
  def ivfProbeTopK(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                   queries: DataFrame, qidCol: String, vecCol: String,
                   k: Int, nProbe: Int): DataFrame = {
    val meta = openIvfIndex(spark, indexDir)
    val dir = meta.dir
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"),
      l2NormF(col(vecCol)).as("__qn"),
      explode(nearestListsExpr(meta.centroids, col(vecCol),
        math.min(nProbe, meta.nLists))).as("ivf_list"))
    val scored = ivfIndexVectors(spark, dir).join(broadcast(q), Seq("ivf_list"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineOf(dotF(col("__qv"), col("__cv")), l2NormF(col("__cv")), col("__qn")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Nearest-`n` list ids for a vector against broadcast centroid
    * literals (argmin over squared L2; shared by the in-memory join
    * path and the written-index path). Fused codegen kernel
    * ([[graft.functions.NearestCentroidsExpr]]) — the assignment runs
    * over EVERY corpus row at index build, and the composable argmin
    * walked nLists × dim interpreted lambda evaluations per row. */
  private[graft] def nearestListsExpr(centroids: Array[(Int, Array[Double])],
                                           vec: Column, n: Int): Column =
    graft.functions.NearestCentroidsExpr.nearest(vec, centroids, n)

  /** The composable argmin form the fused kernel must match
    * bit-for-bit (kept for the parity spec). */
  private[graft] def nearestListsComposable(centroids: Array[(Int, Array[Double])],
                                                 vec: Column, n: Int): Column = {
    def dist2(cDbl: Array[Double]): Column = {
      val cLit = array(cDbl.map(lit).toSeq: _*)
      aggregate(zip_with(vec, cLit, (x, c) => {
        val d = x.cast(DoubleType) - c
        d * d
      }), lit(0.0), (acc, v) => acc + v)
    }
    val scored = array(centroids.map { case (i, cDbl) =>
      struct(dist2(cDbl).as("d"), lit(i).as("list"))
    }.toSeq: _*)
    transform(slice(array_sort(scored), 1, n), s => s.getField("list"))
  }

  // ------------------------------------------------------- product quantization

  /** PQ codebooks: the vector space is cut into `m` contiguous
    * subvectors and each subspace gets its own `k`-centroid quantizer
    * (fit driver-side on a bounded seeded sample, like
    * [[ivfCentroids]]). `codebooks(s)(c)` = centroid `c` of subspace
    * `s`. With m=8, k=16 a 64-dim float vector (256 bytes) compresses
    * to 8 half-byte codes — the memory step that lets a 100 TB
    * embedding corpus live in RAM-adjacent storage for ANN scoring;
    * compose with [[ivfTopK]] (IVF-PQ) for the standard billion-scale
    * layout.
    */
  def pqCodebooks(corpus: DataFrame, vecCol: String, dim: Int,
                  m: Int = 8, k: Int = 16, seed: Long = 42L,
                  sampleSize: Int = 4096, maxIter: Int = 8,
                  stableIdCol: Option[String] = None): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"pq: dim=$dim must divide into m=$m subvectors")
    val sample = collectVectorSample(corpus, vecCol, seed, sampleSize, stableIdCol)
    require(sample.nonEmpty, "pqCodebooks: empty corpus")
    val sub = dim / m
    Array.tabulate(m) { s =>
      val slice = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      lloydFit(slice, k, seed + s, maxIter)
    }
  }

  /** Encode a vector column to its `m` PQ codes (`array<int>`): per
    * subspace, the index of the nearest codebook centroid. A pure
    * broadcast-literal projection — the corpus is scanned once at
    * index-build time and only the codes are stored/shuffled after.
    * Fused codegen kernel ([[graft.functions.PqEncodeExpr]]): the
    * composable argmin costs m × k × sub interpreted evaluations per
    * row, and encoding touches the whole corpus. */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.PqEncodeExpr.encode(vec, codebooks)

  /** The composable argmin form of [[pqEncode]] (kept for the parity
    * spec). */
  private[graft] def pqEncodeComposable(vec: Column,
                                             codebooks: Array[Array[Array[Double]]]): Column = {
    val sub = codebooks(0)(0).length
    val codes = codebooks.zipWithIndex.map { case (book, s) =>
      val subvec = slice(vec, s * sub + 1, sub)
      val scored = array(book.zipWithIndex.map { case (cent, ci) =>
        val cLit = array(cent.map(lit).toSeq: _*)
        struct(
          aggregate(zip_with(subvec, cLit, (x, c) => { val d = x.cast(DoubleType) - c; d * d }),
            lit(0.0), (acc, v) => acc + v).as("d"),
          lit(ci).as("c"))
      }.toSeq: _*)
      element_at(array_sort(scored), 1).getField("c")
    }
    array(codes.toSeq: _*)
  }

  /** Reconstruct the quantized vector from its codes (`array<double>`,
    * the concatenation of the coded centroids) — scoring against a
    * reconstruction is PQ's asymmetric-distance approximation. */
  def pqDecode(codes: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val decoded = codebooks.zipWithIndex.map { case (book, s) =>
      val bookLit = array(book.map(cent => array(cent.map(lit).toSeq: _*)).toSeq: _*)
      element_at(bookLit, element_at(codes, s + 1) + 1)
    }
    flatten(array(decoded.toSeq: _*))
  }

  /** Per-query ADC lookup table (`array<array<double>>`, m × k):
    * `LUT[s][c] = dot(querySubvector_s, codebook_s[c])`. FAISS's
    * asymmetric-distance trick: the query-side work is m·k small dots
    * ONCE per query, after which scoring a candidate is m table
    * lookups over its codes — the corpus scan touches codes only,
    * never a reconstructed vector. */
  private def pqLut(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    array(codebooks.zipWithIndex.map { case (book, s) =>
      val sub = book(0).length
      val subvec = slice(vec, s * sub + 1, sub)
      array(book.map { cent =>
        aggregate(zip_with(subvec, array(cent.map(lit).toSeq: _*),
          (x, c) => x.cast(DoubleType) * c), lit(0.0), (acc, v) => acc + v)
      }.toSeq: _*)
    }.toSeq: _*)

  /** dot(query, reconstruction) via the ADC table: Σ_s LUT[s][code_s]. */
  private def adcDot(lut: Column, codes: Column, m: Int): Column =
    (0 until m).map(s =>
      element_at(element_at(lut, s + 1), element_at(codes, s + 1) + 1)).reduce(_ + _)

  /** ‖reconstruction‖² from codes alone: per-subspace centroid squared
    * norms are query-independent constants, so this is a per-corpus-row
    * projection of m lookups into literal tables. */
  private def adcNorm2(codes: Column, codebooks: Array[Array[Array[Double]]]): Column =
    codebooks.zipWithIndex.map { case (book, s) =>
      val norms = book.map(cent => cent.map(x => x * x).sum)
      element_at(array(norms.map(lit).toSeq: _*), element_at(codes, s + 1) + 1)
    }.reduce(_ + _)

  /** Approximate cosine top-k over PQ codes, scored asymmetrically via
    * the ADC lookup table (queries stay exact, corpus is quantized):
    * per candidate the score is m code lookups — no reconstruction in
    * the hot loop, so the corpus-side scan cost is truly proportional
    * to the m-byte codes, not dim×4-byte vectors. Recall < 1 by
    * construction; grows with m and k.
    */
  def pqTopK(queries: DataFrame, corpusCodes: DataFrame,
             qidCol: String, cidCol: String, vecCol: String, codesCol: String,
             codebooks: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val m = codebooks.length
    val q = queries.select(col(qidCol).as("query_id"),
      l2Norm(col(vecCol)).as("__qn"), pqLut(col(vecCol), codebooks).as("__lut"))
    val c = corpusCodes.select(col(cidCol).as("corpus_id"), col(codesCol).as("__codes"),
      sqrt(adcNorm2(col(codesCol), codebooks)).as("__rn"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineOf(adcDot(col("__lut"), col("__codes"), m), col("__qn"), col("__rn")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The standard PQ serving pattern: the quantized scores build a
    * `shortlist`-sized candidate set per query, and ONLY those
    * candidates are re-scored against their exact vectors. Quantization
    * error then costs recall only when a true top-k neighbor falls
    * outside the whole shortlist — so recall@k approaches exact search
    * as shortlist/k grows, while the full corpus is still scanned
    * code-only (m bytes per vector, not dim×4).
    */
  def pqTopKReranked(queries: DataFrame, corpus: DataFrame, corpusCodes: DataFrame,
                     qidCol: String, cidCol: String, vecCol: String, codesCol: String,
                     codebooks: Array[Array[Array[Double]]],
                     k: Int, shortlist: Int = 100): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val candidates = pqTopK(queries, corpusCodes, qidCol, cidCol, vecCol, codesCol,
      codebooks, shortlist).select(col("query_id"), col("corpus_id"))
    val c = corpus.select(col(cidCol).as("corpus_id"), col(vecCol).as("__cv"),
      l2NormF(col(vecCol)).as("__cn"))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"),
      l2NormF(col(vecCol)).as("__qn"))
    val exact = candidates.join(c, "corpus_id").join(broadcast(q), "query_id")
      .select(col("query_id"), col("corpus_id"),
        cosineOf(dotF(col("__qv"), col("__cv")), col("__qn"), col("__cn")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id").asc)
    exact.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF-PQ: the standard billion-scale ANN layout, composed from the
    * pieces above — an IVF coarse quantizer bounds WHICH vectors are
    * scored (nProbe inverted lists per query; at rest the list id is a
    * partition column, [[ivfWriteIndex]]), PQ codes bound WHAT is
    * scanned per candidate (m codes, not dim floats), and the exact
    * re-rank bounds the error to shortlist misses. Recall is then a
    * two-knob budget: nProbe (coverage) × shortlist (quantization
    * slack), both spec-proven monotone.
    *
    * In-memory form: candidates meet in an equi-join on the list id;
    * the corpus side carries only (id, list, codes) — the full vectors
    * are touched ONLY by the final shortlist join.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                qidCol: String, cidCol: String, vecCol: String,
                k: Int, nLists: Int = 16, nProbe: Int = 4,
                m: Int = 16, codebookK: Int = 16, shortlist: Int = 100,
                seed: Long = 42L,
                centroids: Option[Array[(Int, Array[Double])]] = None,
                codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cents = centroids.getOrElse(ivfCentroids(corpus, vecCol, nLists, seed))
    val books = codebooks.getOrElse {
      val dim = corpus.select(size(col(vecCol))).head().getInt(0)
      pqCodebooks(corpus, vecCol, dim, m, codebookK, seed)
    }
    val nSub = books.length
    // index side: id + list id + PQ codes (the at-rest representation),
    // plus the code-derived reconstruction norm (a constant-table
    // projection, still O(m) per row)
    val index = corpus.select(col(cidCol).as("corpus_id"),
      element_at(nearestListsExpr(cents, col(vecCol), 1), 1).as("__list"),
      pqEncode(col(vecCol), books).as("__codes"))
      .withColumn("__rn", sqrt(adcNorm2(col("__codes"), books)))
    val q = queries.select(col(qidCol).as("query_id"),
      l2Norm(col(vecCol)).as("__qn"),
      pqLut(col(vecCol), books).as("__lut"),
      explode(nearestListsExpr(cents, col(vecCol), nProbe)).as("__list"))
    // ADC-scored shortlist within the probed lists only: per candidate,
    // m lookups into the query's table — never a decoded vector
    val quantized = index.join(broadcast(q), Seq("__list"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineRawOf(adcDot(col("__lut"), col("__codes"), nSub), col("__qn"), col("__rn")).as("__qcos"))
    val ws = Window.partitionBy("query_id").orderBy(col("__qcos").desc, col("corpus_id").asc)
    val candidates = quantized.withColumn("__r", row_number().over(ws))
      .where(col("__r") <= shortlist).select("query_id", "corpus_id")
    // exact re-rank of the shortlist: the only full-vector touch
    val exact = candidates
      .join(corpus.select(col(cidCol).as("corpus_id"), col(vecCol).as("__cv"),
        l2NormF(col(vecCol)).as("__cn")), "corpus_id")
      .join(broadcast(queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv2"),
        l2NormF(col(vecCol)).as("__qn2"))), "query_id")
      .select(col("query_id"), col("corpus_id"),
        cosineOf(dotF(col("__qv2"), col("__cv")), col("__qn2"), col("__cn")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id").asc)
    exact.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The IVF-PQ index's frozen quantizer PAIR (coarse centroids AND
    * product-quantizer codebooks), its view of the
    * [[graft.util.IndexMeta]] header (`dir` is the resolved index
    * directory) — re-encoding with refit codebooks would make old and
    * new codes incomparable under one ADC table, so both fits are
    * structural invariants of the artifact. */
  private[graft] final case class IvfPqIndexMeta(
      dir: String, nLists: Int, m: Int, codebookK: Int,
      centroids: Array[(Int, Array[Double])],
      codebooks: Array[Array[Array[Double]]])

  private[graft] def openIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                                    indexDir: String): IvfPqIndexMeta = {
    val h = graft.util.IndexMeta.open(spark, indexDir, "IVF-PQ", "ivfPqWriteIndex")
    val (m, k) = (h.int("m"), h.int("codebookK"))
    val books = Array.ofDim[Array[Double]](m, k)
    h.all("book").foreach { b =>
      val Array(sub, code, bits) = b.split(":", 3)
      books(sub.toInt)(code.toInt) = graft.util.IndexMeta.decodeDoubles(bits)
    }
    IvfPqIndexMeta(h.dir, h.int("nLists"), m, k, centroidsOf(h), books)
  }

  /** Materialize the IVF-PQ index — the at-rest billion-scale ANN
    * layout: one row per corpus vector holding ONLY
    * `(corpus_id, pq_codes, pq_rn)`, partitioned by the inverted-list
    * id. m ints + a double per vector; the full vectors stay in their
    * source table and are touched only by the rerank join. A probe of
    * nProbe lists is then a partition-pruned scan of code rows —
    * at 100 TB the index is ~dim·4/m× smaller than the corpus and the
    * probe reads nProbe/nLists of THAT.
    *
    * Layout: the index header freezes BOTH quantizers; code rows live
    * under `dir/pq/batch=<tag>/ivf_list=<n>` tranches (same lifecycle
    * as [[ivfWriteIndex]]). Returns (centroids, codebooks) for caller
    * convenience; every reader of this index takes them from the
    * artifact. */
  def ivfPqWriteIndex(corpus: DataFrame, dir: String, cidCol: String, vecCol: String,
                      nLists: Int = 16, m: Int = 8, codebookK: Int = 16,
                      seed: Long = 42L,
                      centroids: Option[Array[(Int, Array[Double])]] = None,
                      codebooks: Option[Array[Array[Array[Double]]]] = None,
                      commit: graft.merge.Merge.Commit =
                        graft.merge.Merge.RenameCommit)
  : (Array[(Int, Array[Double])], Array[Array[Array[Double]]]) = {
    val spark = corpus.sparkSession
    val cents = centroids.getOrElse(ivfCentroids(corpus, vecCol, nLists, seed))
    val books = codebooks.getOrElse {
      val dim = corpus.select(size(col(vecCol))).head().getInt(0)
      pqCodebooks(corpus, vecCol, dim, m, codebookK, seed)
    }
    graft.merge.Merge.swapWith(spark, dir, commit) { root =>
      graft.util.IndexMeta.write(spark, root, Seq("nLists" -> nLists,
        "m" -> books.length, "codebookK" -> books.head.length) ++
        centroidEntries(cents) ++
        books.toSeq.zipWithIndex.flatMap { case (book, sub) =>
          book.toSeq.zipWithIndex.map { case (v, code) =>
            "book" -> s"$sub:$code:${graft.util.IndexMeta.encodeDoubles(v)}"
          }
        })
      ivfPqIndexRows(corpus, cidCol, vecCol, cents, books)
        .write.mode("overwrite").partitionBy("ivf_list").parquet(s"$root/pq/batch=build")
    }
    (cents, books)
  }

  /** Append to a written IVF-PQ index with the index's frozen
    * quantizers, read from its header. Same tagged-tranche contract
    * as [[ivfAppendToIndex]]: overwrite-idempotent per tag, absorbed
    * tags no-op only on provable replay, untouched tranches see zero
    * I/O. */
  def ivfPqAppendToIndex(newRows: DataFrame, indexDir: String, cidCol: String, vecCol: String,
                         tag: String): Unit = {
    val spark = newRows.sparkSession
    val meta = openIvfPqIndex(spark, indexDir)
    val dir = meta.dir
    if (!graft.util.Tranches.appendTagAllowed(spark, dir, tag, "ivfPqAppendToIndex",
      () => newRows.select(col(cidCol).as("corpus_id")).distinct()
        .join(Readers.parquet(spark, s"$dir/pq").select("corpus_id"),
          Seq("corpus_id"), "left_anti").count()))
      return
    ivfPqIndexRows(newRows, cidCol, vecCol, meta.centroids, meta.codebooks)
      .write.mode("overwrite").partitionBy("ivf_list").parquet(s"$dir/pq/batch=$tag")
  }

  /** Per-list IVF index statistics: one row per inverted list,
    * `(ivf_list, n_rows, n_ids, n_tranches)` — the skew gauge of the
    * at-rest ANN family. Partition pruning's whole economics assume
    * lists are near-uniform: a list holding 10× its share makes every
    * probe that touches it read 10× the bytes, and the fix (refit +
    * rebuild with more lists, or re-seed) is a planned operation the
    * operator needs this gauge to schedule. `n_tranches` (constant
    * per call) says when to [[consolidateIvfIndex]]. One map-side-
    * combinable aggregation over ≤ nLists groups; column-pruned to
    * the id and partition columns — the vectors never load. */
  def ivfIndexStats(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String): DataFrame = {
    val dir = openIvfIndex(spark, indexDir).dir
    val nTranches = graft.util.Tranches.names(spark, s"$dir/vec").size
    Readers.parquet(spark, s"$dir/vec")
      .groupBy(col("ivf_list").cast(IntegerType).as("ivf_list"))
      .agg(count(lit(1)).as("n_rows"), count_distinct(col("corpus_id")).as("n_ids"))
      .withColumn("n_tranches", lit(nTranches))
  }

  /** [[graft.dedup.DedupOps.dedupIndexHealth]]'s vector-family twin:
    * tranche/marker triage for whichever of the `vec`/`pq` artifacts
    * the directory holds (IVF, LSH, and IVF-PQ layouts all qualify) —
    * the vector families carry no count artifact, so `count_fresh` is
    * always NULL here. Directory metadata only. */
  def ivfIndexHealth(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String): DataFrame = {
    val dir = graft.merge.Merge.resolveDir(spark, indexDir)
    val present = Seq("vec", "pq").filter(a => graft.util.Fs.pathExists(spark, s"$dir/$a"))
    require(present.nonEmpty,
      s"ivfIndexHealth: $dir has neither vec nor pq — not a written vector index")
    // vec/pq are single-artifact protocols — each is its own witness
    graft.util.Tranches.ledgerHealth(spark, dir, present, Map.empty, witness = None)
  }

  /** [[consolidateIvfIndex]]'s twin for the IVF-PQ code artifact —
    * shared protocol, `ivf_list` partitioning preserved. */
  def consolidateIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String,
                            commit: graft.merge.Merge.Commit =
                              graft.merge.Merge.RenameCommit): Unit = {
    openIvfPqIndex(spark, indexDir)
    graft.util.Tranches.foldLedger(spark, indexDir, Seq("pq" -> Seq("ivf_list")),
      witness = "pq", commit = commit)
  }

  private def ivfPqIndexRows(df: DataFrame, cidCol: String, vecCol: String,
                             cents: Array[(Int, Array[Double])],
                             books: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(cidCol).as("corpus_id"),
        pqEncode(col(vecCol), books).as("pq_codes"),
        element_at(nearestListsExpr(cents, col(vecCol), 1), 1).as("ivf_list"))
      .withColumn("pq_rn", sqrt(adcNorm2(col("pq_codes"), books)))

  /** Probe a written IVF-PQ index: ADC-score the code rows of the
    * `nProbe` probed partitions (dynamic partition pruning via the
    * broadcast join on the partition column — verify PartitionFilters /
    * dynamicpruning in the plan), shortlist per query, then exact
    * re-rank against `vectors` (the source table carrying
    * (cidCol, vecCol)) — the only full-vector touch. */
  def ivfPqProbeTopK(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                     vectors: DataFrame, queries: DataFrame,
                     qidCol: String, cidCol: String, vecCol: String,
                     k: Int, nProbe: Int, shortlist: Int = 100): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val meta = openIvfPqIndex(spark, indexDir)
    val dir = meta.dir
    val (centroids, codebooks) = (meta.centroids, meta.codebooks)
    val nSub = codebooks.length
    val q = queries.select(col(qidCol).as("query_id"),
      l2Norm(col(vecCol)).as("__qn"),
      pqLut(col(vecCol), codebooks).as("__lut"),
      explode(nearestListsExpr(centroids, col(vecCol),
        math.min(nProbe, meta.nLists))).as("ivf_list"))
    val index = Readers.parquet(spark, s"$dir/pq").drop("batch")
    val quantized = index.join(broadcast(q), Seq("ivf_list"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineRawOf(adcDot(col("__lut"), col("pq_codes"), nSub), col("__qn"), col("pq_rn")).as("__qcos"))
    val ws = Window.partitionBy("query_id").orderBy(col("__qcos").desc, col("corpus_id").asc)
    val candidates = quantized.withColumn("__r", row_number().over(ws))
      .where(col("__r") <= shortlist).select("query_id", "corpus_id")
    val exact = candidates
      .join(vectors.select(col(cidCol).as("corpus_id"), col(vecCol).as("__cv"),
        l2NormF(col(vecCol)).as("__cn")), "corpus_id")
      .join(broadcast(queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"),
        l2NormF(col(vecCol)).as("__qn2"))), "query_id")
      .select(col("query_id"), col("corpus_id"),
        cosineOf(dotF(col("__qv"), col("__cv")), col("__qn2"), col("__cn")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id").asc)
    exact.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * documents whose EMBEDDINGS nearly coincide are duplicates even
    * when their text differs (paraphrases, translations, templated
    * rewrites). Cosine near-dup pairs ([[cosineNearDupPairs]]) are
    * closed transitively with distributed connected components, and
    * every id gets `(id, group_id, group_size)` — keep-one is
    * `group_id === id`, the same contract as
    * [[graft.dedup.DedupOps.nearDupGroups]].
    *
    * Scale shape: candidates from the sign-bucket equi-join (never
    * all-pairs), CC over the pair set only, singleton-free size join —
    * every piece is the proven 100 TB shape of its family.
    */
  def semanticDedupGroups(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, nbits: Int = 4): DataFrame = {
    val pairs = cosineNearDupPairs(df, idCol, vecCol, threshold, nbits)
    val cc = graft.graph.GraphOps.connectedComponents(pairs, "id_a", "id_b")
    graft.graph.GraphOps.assignGroups(df, idCol, cc)
  }

  /** Incremental-ingest SEMANTIC dedup against the MATERIALIZED IVF
    * index — the embedding twin of
    * [[graft.dedup.DedupOps.dedupAgainstIndex]]: drop from a new batch
    * every vector whose cosine against ANY indexed history vector
    * reaches `threshold`. The history is the at-rest index (partition-
    * pruned code... vector rows under `ivf_list=` subdirs), never
    * re-embedded, never self-joined; the daily loop is
    * `semanticDedupAgainstIndex(batch) → ivfAppendToIndex(survivors)`
    * with the build-time frozen centroids.
    *
    * `nProbe = nLists` makes the filter EXACT by construction (every
    * history row is scored regardless of its home list — the oracle
    * mode); serving budgets (`nProbe < nLists`) trade the same recall
    * as [[ivfProbeTopK]]: a near-dup whose history vector lives in an
    * unprobed list is missed. The quantizer comes from the index's
    * header — never callers: batch vectors quantized under a
    * different centroid family would probe the WRONG partitions and
    * near-dups would vanish without an error. Scores round to 6 dp
    * like every cosine in the engine, so decisions are replayable
    * cross-engine.
    *
    * Scale shape: a plain equi-join on `ivf_list` — unlike top-k
    * serving, the batch side is a day's INGEST, millions of embedding
    * rows × nProbe after the probe explode, far past any sane
    * broadcast threshold at 100 TB scale, so the join must NOT carry a
    * forced broadcast hint (AQE still broadcasts it when a small batch
    * makes that the right plan). One distinct on flagged ids; one
    * anti-join. The 100 TB index contributes a partition-pruned scan,
    * nothing more.
    */
  def semanticDedupAgainstIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                                batch: DataFrame, idCol: String, vecCol: String,
                                threshold: Double, nProbe: Int): DataFrame = {
    val meta = openIvfIndex(spark, dir)
    // persisted: the probe pipeline (norms + fused nearest-centroids +
    // explode) forks into the probed-list collect below and the
    // candidate join — unpersisted it would run the whole batch twice.
    // Same caching contract as the text-side dedup operators
    // (`graft.util.Materialize`).
    val q = graft.util.Materialize.persist(
      batch.select(col(idCol).as("__qid"), col(vecCol).as("__qv"),
        l2NormF(col(vecCol)).as("__qn"),
        explode(nearestListsExpr(meta.centroids, col(vecCol),
          math.min(nProbe, meta.nLists))).as("ivf_list")))
    // STATIC partition pruning: the batch is too big to force-broadcast
    // (an OOM-or-die plan), but without a broadcast join Spark's
    // dynamic partition pruning stays off by default
    // (dynamicPartitionPruning.reuseBroadcastOnly) and a shuffle join
    // would scan ALL nLists partitions of the 100 TB index. The set of
    // probed lists is bounded by nLists regardless of batch size —
    // collect it (one bounded driver round-trip over a distinct of the
    // probe explode) and push it as a literal IN filter the FileScan
    // prunes on, independent of join strategy. nProbe = nLists probes
    // every list and the filter degenerates to a no-op, as it should.
    val probedLists = q.select("ivf_list").distinct()
      .collect().map(_.getInt(0)).sorted
    // no same-id exclusion: a batch id already present in the index IS
    // a duplicate delivery (it matches itself at cosine 1) — dropping
    // it is the dedup contract, unlike top-k serving where a query
    // finding itself is noise
    val dupIds = ivfIndexVectors(spark, meta.dir)
      .where(col("ivf_list").isin(probedLists.toIndexedSeq.map(Integer.valueOf): _*))
      .join(q, Seq("ivf_list"))
      .where(cosineOf(dotF(col("__qv"), col("__cv")), l2NormF(col("__cv")), col("__qn"))
          >= threshold)
      .select(col("__qid")).distinct()
    batch.join(dupIds, col(idCol) === col("__qid"), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs over one corpus: sign-LSH
    * bucket candidates (id_a < id_b in the same bucket), exact cosine
    * filter at `threshold`. Vectors that are near-duplicates at high
    * thresholds almost surely share the bucket; lower `nbits` for
    * higher recall at lower thresholds.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nbits: Int = 4): DataFrame = {
    val b = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      l2NormF(col(vecCol)).as("__n"), signBucket(col(vecCol), nbits).as("__bucket"))
    b.select(col("__bucket"), col("__id").as("id_a"), col("__v").as("__va"), col("__n").as("__na"))
      .join(b.select(col("__bucket"), col("__id").as("id_b"), col("__v").as("__vb"), col("__n").as("__nb")),
        Seq("__bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineOf(dotF(col("__va"), col("__vb")), col("__na"), col("__nb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** EMBEDDING-space drift gauge — the third leg of the drift triad
    * (`HistSketch.histDriftPsi` gauges a numeric column,
    * `TextOps.jsDivergence` the vocabulary; this gauges the
    * representation space): cosine similarity between two corpora's
    * centroid directions, `(n_a, n_b, dim, cosine)` in one row.
    * cos = 1 ⇔ the mean embeddings point the same way; a drop says the
    * new batch lives in a different region of embedding space even if
    * lengths and vocabulary look stable. The centroid-SUM vectors are
    * compared (cosine is scale-invariant, so the ÷n never happens and
    * no per-corpus normalization rounding exists).
    *
    * Deterministic by the sketch-family discipline: coordinates snap
    * to exact longs (`trunc(x·10⁶)` — mirror `trunc` in any oracle,
    * Spark's long cast truncates where engines may round), per-dim
    * sums and the dot/norm products run over exact DECIMAL(38,0)
    * (order-free — float summation order can never flip a digit), and
    * the result is a fixed cast–sqrt–multiply–divide IEEE chain.
    *
    * Scale shape: each corpus collapses to `dim` rows in ONE
    * map-side-combinable explode+sum pass; the join and closing
    * aggregate touch `dim` rows. Headroom: per-dim snapped sums enter
    * squares, so the d38 products hold to ~10¹⁸ vectors at the 10⁶
    * snap — beyond any corpus.
    */
  /** ROLLING embedding-space drift — the per-day twin of
    * [[centroidDrift]] and the third member of the rolling drift
    * family (`HistSketch.histRollingPsi` is the numeric member,
    * `TextOps.rollingMixJs` the categorical): for every day with data
    * AND a non-empty trailing reference, the cosine between that
    * day's centroid-sum vector and the merged centroid-sum of the
    * `windowDays` days strictly BEFORE it — "which ingest day moved
    * the embedding space", answered without re-touching any vector.
    * Returns `(day 'yyyy-MM-dd', n_cur, n_ref, dim, cosine)`;
    * first-day / empty-reference rows are omitted.
    *
    * Same snapped-exact arithmetic as [[centroidDrift]] (per-dim sums
    * of `trunc(x·scale)` longs over DECIMAL(38,0) — order-free), per
    * day. The snap is a `try_cast` at every site of this family: a
    * component whose |x·scale| exceeds the long
    * range — a corrupt embedding, not a measurement — contributes
    * NOTHING to that dim's sum (NULL is skipped) instead of throwing
    * under ANSI mode (Spark 4's default) and killing the gauge; the
    * vector still counts in `c`, so `n_cur`/`n_ref` keep meaning
    * "vectors seen". Scale shape: the corpus collapses to |days|·dim sum rows
    * FIRST (one map-side-combinable explode+sum — exactly the frame
    * [[writeCentroidTranche]] persists per day); the bounded
    * ≤windowDays explode fans out SUM rows, never vectors, and every
    * later join is |days|·dim-sized. A year of 100 TB embeddings
    * costs 365 dim-row merges.
    */
  def centroidRollingDrift(df: DataFrame, vecCol: String, tsCol: String,
                           windowDays: Int,
                           scale: Long = 1000000L): DataFrame = {
    require(windowDays >= 1, "centroidRollingDrift: windowDays must be >= 1")
    val d38 = DecimalType(38, 0)
    // perDay feeds days, the reference fan-out AND the current side —
    // materialize the bounded |days|·dim frame so the corpus explodes
    // exactly once (graft.util.Materialize rationale)
    val perDay = graft.util.Materialize.bounded(
      df.where(col(vecCol).isNotNull)
        .select(to_date(col(tsCol)).as("__d"),
          posexplode(col(vecCol)).as(Seq("pos", "__x")))
        .select(col("__d"), col("pos"),
          (col("__x").cast(DoubleType) * lit(scale.toDouble)).try_cast(LongType).as("__u"))
        .groupBy(col("__d"), col("pos"))
        .agg(sum(col("__u").cast(d38)).as("s"), count(lit(1)).as("c")))
    centroidRollingFromPerDay(perDay, windowDays)
  }

  /** GROUPED rolling centroid drift — the embedding member of the
    * per-group rolling family (grouped rolling PSI / JS are the
    * others; this completes the 3×3 drift matrix: three axes × {whole
    * corpus, per source, per source per day}): for every (group, day)
    * with data and a non-empty group-local trailing reference, the
    * cosine between that group's day centroid-sum and the SAME
    * group's merged trailing sums. Bounded at |groups|·|days|·dim sum
    * rows everywhere; group-local day axes. Output `(groupCols...,
    * day, n_cur, n_ref, dim, cosine)`. */
  def centroidRollingDriftBy(df: DataFrame, groupCols: Seq[String],
                             vecCol: String, tsCol: String, windowDays: Int,
                             scale: Long = 1000000L): DataFrame = {
    require(groupCols.nonEmpty, "centroidRollingDriftBy: need at least one group column")
    require(windowDays >= 1, "centroidRollingDriftBy: windowDays must be >= 1")
    val d38 = DecimalType(38, 0)
    val gc = groupCols.map(col)
    val perDay = graft.util.Materialize.bounded(
      df.where(col(vecCol).isNotNull &&
          groupCols.map(c => col(c).isNotNull).reduce(_ && _))
        .select(gc :+ to_date(col(tsCol)).as("__d")
          :+ posexplode(col(vecCol)).as(Seq("pos", "__x")): _*)
        .select(gc ++ Seq(col("__d"), col("pos"),
          (col("__x").cast(DoubleType) * lit(scale.toDouble)).try_cast(LongType).as("__u")): _*)
        .groupBy(gc ++ Seq(col("__d"), col("pos")): _*)
        .agg(sum(col("__u").cast(d38)).as("s"), count(lit(1)).as("c")))
    val days = perDay.select(gc :+ col("__d").as("day"): _*).distinct()
    val ref = perDay
      .select(gc ++ Seq(col("pos"), col("s").as("sb"), col("c").as("cb"),
        explode(sequence(date_add(col("__d"), 1),
          date_add(col("__d"), windowDays))).as("day")): _*)
      .join(days, groupCols :+ "day")
      .groupBy(gc ++ Seq(col("day"), col("pos")): _*)
      .agg(sum(col("sb")).as("sb"), sum(col("cb")).as("cb"))
    val cur = perDay.select(gc ++ Seq(col("__d").as("day"), col("pos"),
      col("s").as("sa"), col("c").as("ca")): _*)
    cur.join(ref, groupCols ++ Seq("day", "pos"))  // inner: no-ref drops
      .groupBy(gc :+ col("day"): _*)
      .agg(max(col("ca")).as("n_cur"), max(col("cb")).as("n_ref"),
        count(lit(1)).as("dim"),
        cosineRawOf(sum((col("sa") * col("sb")).cast(d38)).cast(DoubleType),
          sqrt(sum((col("sa") * col("sa")).cast(d38)).cast(DoubleType)),
          sqrt(sum((col("sb") * col("sb")).cast(d38)).cast(DoubleType)))
          .as("cosine"))
      .select(gc ++ Seq(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_cur"), col("n_ref"), col("dim"), col("cosine")): _*)
  }

  /** Shared read side of the rolling centroid gauge: `perDay` is the
    * `(__d DATE, pos, s DECIMAL(38,0), c BIGINT)` per-day sum frame —
    * built inline by [[centroidRollingDrift]] or merged from the
    * at-rest artifact by [[centroidRollingFromIndex]]. */
  private def centroidRollingFromPerDay(perDay: DataFrame,
                                        windowDays: Int): DataFrame = {
    val d38 = DecimalType(38, 0)
    val days = perDay.select(col("__d").as("day")).distinct()
    // each day's sums serve as REFERENCE for the next windowDays days
    val ref = perDay
      .select(col("pos"), col("s").as("sb"), col("c").as("cb"),
        explode(sequence(date_add(col("__d"), 1),
          date_add(col("__d"), windowDays))).as("day"))
      .join(broadcast(days), "day")
      .groupBy(col("day"), col("pos"))
      .agg(sum(col("sb")).as("sb"), sum(col("cb")).as("cb"))
    val cur = perDay.select(col("__d").as("day"), col("pos"),
      col("s").as("sa"), col("c").as("ca"))
    cur.join(ref, Seq("day", "pos"))        // inner: no-reference days drop
      .groupBy(col("day"))
      .agg(max(col("ca")).as("n_cur"), max(col("cb")).as("n_ref"),
        count(lit(1)).as("dim"),
        cosineRawOf(sum((col("sa") * col("sb")).cast(d38)).cast(DoubleType),
          sqrt(sum((col("sa") * col("sa")).cast(d38)).cast(DoubleType)),
          sqrt(sum((col("sb") * col("sb")).cast(d38)).cast(DoubleType)))
          .as("cosine"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_cur"), col("n_ref"), col("dim"), col("cosine"))
  }

  /** PER-SOURCE embedding drift — the odd-one-out dashboard on the
    * THIRD drift axis (`HistSketch.histSourcePsi` gauges a numeric
    * column, `TextOps.sourceDivergence` the vocabulary; this gauges
    * where each source's vectors LIVE): for every `groupCol` value,
    * the cosine between that source's centroid-sum and THE REST of
    * the corpus — the complement derived by SUBTRACTION from the
    * global per-dim sums, so one corpus pass serves every source.
    * Output `(groupCol, n_src, n_rest, dim, cosine)`; sources that
    * constitute the whole corpus (empty complement) are omitted
    * rather than scored against a zero vector.
    *
    * Same snapped-exact arithmetic as [[centroidDrift]]; subtraction
    * of exact integer sums is exact, so source-vs-rest here is
    * BIT-identical to materializing the complement corpus and running
    * the pairwise gauge. Scale shape: the corpus collapses to
    * |sources|·dim snapped sum rows (one map-side-combinable
    * explode+sum, materialized — the [[histSourcePsi]] discipline);
    * the global frame is dim rows broadcast; everything downstream is
    * grid-sized.
    */
  def sourceCentroidDrift(df: DataFrame, groupCol: String, vecCol: String,
                          scale: Long = 1000000L): DataFrame = {
    val d38 = DecimalType(38, 0)
    val perSrc = graft.util.Materialize.bounded(
      df.where(col(vecCol).isNotNull && col(groupCol).isNotNull)
        .select(col(groupCol).cast(StringType).as("src"),
          posexplode(col(vecCol)).as(Seq("pos", "__x")))
        .select(col("src"), col("pos"),
          (col("__x").cast(DoubleType) * lit(scale.toDouble)).try_cast(LongType).as("__u"))
        .groupBy(col("src"), col("pos"))
        .agg(sum(col("__u").cast(d38)).as("s"), count(lit(1)).as("c")))
    val global = perSrc.groupBy(col("pos"))
      .agg(sum(col("s")).as("st"), sum(col("c")).as("ct"))
    perSrc.join(broadcast(global), "pos")   // dim-row broadcast
      .select(col("src"), col("s"), col("c"),
        (col("st") - col("s")).cast(d38).as("sr"),
        (col("ct") - col("c")).as("cr"))
      .groupBy(col("src"))
      .agg(max(col("c")).as("n_src"), max(col("cr")).as("n_rest"),
        count(lit(1)).as("dim"),
        cosineRawOf(sum((col("s") * col("sr")).cast(d38)).cast(DoubleType),
          sqrt(sum((col("s") * col("s")).cast(d38)).cast(DoubleType)),
          sqrt(sum((col("sr") * col("sr")).cast(d38)).cast(DoubleType)))
          .as("cosine"))
      .where(col("n_rest") > 0)
      .withColumnRenamed("src", groupCol)
  }

  /** AT-REST per-day centroid artifact: each ingest collapses its
    * vectors to the `(__d, pos, s, c)` per-day sum frame and lands as
    * its own tagged tranche ([[graft.util.Tranches]] — sum-vector
    * AND vector-count both merge by sum, the multi-count family).
    * Ingests may split a day across tranches (unlike the
    * co-occurrence artifact there is no grouping contract — sums are
    * associative per (day, dim) key). */
  def writeCentroidTranche(df: DataFrame, vecCol: String, tsCol: String,
                           dir: String, tag: String,
                           scale: Long = 1000000L): Unit = {
    val d38 = DecimalType(38, 0)
    graft.util.Tranches.write(
      df.where(col(vecCol).isNotNull)
        .select(to_date(col(tsCol)).as("__d"),
          posexplode(col(vecCol)).as(Seq("pos", "__x")))
        .select(col("__d"), col("pos"),
          (col("__x").cast(DoubleType) * lit(scale.toDouble)).try_cast(LongType).as("__u"))
        .groupBy(col("__d"), col("pos"))
        // zero-coalesced: a (day, dim) group whose
        // components were ALL excluded sums to NULL-from-empty, which
        // is ZERO contribution by this family's documented semantics
        // ("component contributes 0, vector still counts") — it must
        // not look like the breach NULL the tranche merge poisons on
        .agg(coalesce(sum(col("__u").cast(d38)), lit(0).cast(d38)).as("s"),
          count(lit(1)).as("c")),
      dir, tag)
  }

  /** The rolling gauge straight from the artifact — byte-identical to
    * [[centroidRollingDrift]] over the union of the ingested frames
    * (sum merge is exact), with zero vector access: the read is
    * ≤ tranches × days × dim sum rows. Fold via
    * [[graft.util.Tranches.consolidateMulti]] with keys `(__d, pos)`,
    * counts `(s, c)`; auto-fold with [[graft.util.Tranches.maybeFold]]. */
  def centroidRollingFromIndex(spark: org.apache.spark.sql.SparkSession,
                               dir: String, windowDays: Int): DataFrame = {
    require(windowDays >= 1, "centroidRollingFromIndex: windowDays must be >= 1")
    centroidRollingFromPerDay(
      graft.util.Tranches.readMulti(spark, dir, Seq("__d", "pos"), Seq("s", "c")),
      windowDays)
  }

  def centroidDrift(dfA: DataFrame, dfB: DataFrame, vecCol: String,
                    scale: Long = 1000000L): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dimSums(df: DataFrame, s: String, c: String) =
      df.where(col(vecCol).isNotNull)
        .select(posexplode(col(vecCol)).as(Seq("pos", "__x")))
        .select(col("pos"),
          (col("__x").cast(DoubleType) * lit(scale.toDouble)).try_cast(LongType).as("__u"))
        .groupBy("pos")
        .agg(sum(col("__u").cast(d38)).as(s), count(lit(1)).as(c))
    val a = dimSums(dfA, "__sa", "__ca")
    val b = dimSums(dfB, "__sb", "__cb").withColumnRenamed("pos", "__pb")
    a.join(b, col("pos") === col("__pb"))   // dim-sized join
      .agg(max(col("__ca")).as("n_a"), max(col("__cb")).as("n_b"),
        count(lit(1)).as("dim"),
        cosineRawOf(sum((col("__sa") * col("__sb")).cast(d38)).cast(DoubleType),
          sqrt(sum((col("__sa") * col("__sa")).cast(d38)).cast(DoubleType)),
          sqrt(sum((col("__sb") * col("__sb")).cast(d38)).cast(DoubleType)))
          .as("cosine"))
  }
}
