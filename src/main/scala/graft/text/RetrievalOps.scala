package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Readers

/** Lexical retrieval scoring + rank fusion — the missing half of the
  * hybrid-search stack the ANN family already provides. A curation
  * pipeline that mines "documents like these seed queries" wants BOTH
  * a lexical ranking (exact keyword evidence, BM25) and a semantic one
  * (embedding cosine, `SimilarityOps`), fused rank-wise (RRF) so
  * neither score scale has to be calibrated against the other.
  *
  * Reference scope: the reference engine has no retrieval scoring at
  * all (its text surface stops at extraction/cleaning) — this family
  * is beyond-reference capability in the LLM-pipeline tier, designed
  * Spark-first like `TextOps.tfidf` (explode → map-side-combinable
  * aggregations → broadcast-sized term joins).
  */
object RetrievalOps {

  /** Okapi BM25 scores for every (query, document) pair with at least
    * one matching term.
    *
    * `queries` is a DataFrame of `(query_id: String, term: String)`
    * rows — DISTINCT query terms (classic BM25 ignores query-side term
    * frequency). It is expected to be tiny (a seed set, not a corpus)
    * and is broadcast into every join, so the corpus-side plan is:
    * explode → filter-to-query-terms BEFORE any shuffle → one
    * (doc, term) count, plus one corpus-wide doc-length aggregation.
    * Document frequency `df` is computed ONLY for query terms (a
    * ≤|terms| row frame, broadcast back). At 100 TB the only full
    * corpus passes are the token explode and the length aggregation —
    * both map-side combinable, nothing corpus-sized ever sits on the
    * build side of a join.
    *
    * Scoring — Lucene-shaped BM25:
    * {{{
    *   idf(t)    = ln(1 + (D − df + 0.5)/(df + 0.5))
    *   s(t, d)   = idf(t) · tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl·D/T)
    *   bm25(q,d) = Σ_{t ∈ q} s(t, d)
    * }}}
    * with `D` docs, `T` total tokens (so `avgdl = T/D` — folded in as
    * `dl·D/T` to keep every operand exact-integer-derived), `dl` the
    * doc's token count. `D`/`T` are bounded scalars fitted at
    * plan-build time (the `tfidf` precedent).
    *
    * Cross-engine determinism (the `TextOps.unigramLogProb` contract,
    * applied at the right altitude): the ONLY libm op is the `ln` in
    * `idf`, and `idf` depends on nothing but `df` — so the IDF is
    * snapped to 1e-8 fixed point immediately (`floor(idf·1e8 + 0.5)`),
    * leaving at most |query terms| cross-engine boundary checks in the
    * whole operator. Everything downstream of the snapped IDF —
    * multiplies, the length-normalized division, the second 1e-8 score
    * snap — is a fixed IEEE expression tree over exact-integer-derived
    * operands, bit-identical in any engine; the per-doc sum runs over
    * snapped integers, so summation ORDER can never flip a digit.
    * (First cut snapped only the final per-term score: ~45k boundary
    * checks at sf0.01 and one real flip in the oracle gate; snapping
    * the IDF collapsed the exposure to the ≤8 distinct df values.)
    * The snapped integer sum is also the ranking key in [[bm25TopK]],
    * so ranks are bit-deterministic too.
    *
    * Output: `(query_id, <idCol>, bm25: double — the exact snapped sum
    * / 1e8, deliberately NOT re-rounded: a decimal round of a value
    * that can sit exactly on the half boundary is where engines'
    * rounding conventions diverge; one IEEE division of an exact
    * integer is bit-identical everywhere — n_terms: long matched query
    * terms, s8: long — the exact fixed-point sum, kept for
    * deterministic downstream ranking)`.
    */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
                 queries: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt = normalizedQueries(queries)
    val toks = docs.select(col(idCol), explode(TextOps.words(col(textCol))).as("term"))
    // corpus stats: one map-side-combinable agg (dl), two bounded scalars
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val dT = docs.count().toDouble       // D: corpus size
    val tT = {                            // T: total tokens
      val r = dl.agg(sum("dl")).head()
      if (r.isNullAt(0)) 0.0 else r.getLong(0).toDouble
    }
    // corpus side filtered to query terms BEFORE the (doc, term) shuffle
    val tf = toks.join(broadcast(qt.select("term").distinct()), "term")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    bm25FromCounts(tf, dl, qt, idCol, dT, tT, k1, b)
  }

  private def normalizedQueries(queries: DataFrame): DataFrame =
    queries.select(col("query_id").cast(StringType).as("query_id"),
      col("term")).distinct()

  /** The scoring tail shared by the in-memory path and the at-rest
    * index probe: identical expression tree, so probe ≡ in-memory is
    * structural, not coincidental. `tf` = `(idCol, term, tf)` already
    * restricted to query terms; `dl` = `(idCol, dl)`. */
  private def bm25FromCounts(tf: DataFrame, dl: DataFrame, qt: DataFrame,
                             idCol: String, dT: Double, tT: Double,
                             k1: Double, b: Double): DataFrame = {
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("__idf8", floor(
        log(lit(1.0) + (lit(dT) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * lit(1e8) + lit(0.5)).cast(LongType))
    val idf = col("__idf8").cast(DoubleType) / lit(1e8)
    val score = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1 * (1.0 - b)) + (lit(k1 * b) * col("dl") * lit(dT)) / lit(tT))
    tf.join(broadcast(dfT), "term")
      .join(dl, idCol)
      .join(broadcast(qt), "term")
      .select(col("query_id"), col(idCol),
        floor(score * lit(1e8) + lit(0.5)).cast(LongType).as("__s8"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__s8")).as("s8"), count(lit(1)).as("n_terms"))
      .select(col("query_id"), col(idCol),
        (col("s8").cast(DoubleType) / lit(1e8)).as("bm25"),
        col("n_terms"), col("s8"))
  }

  /** Top-k BM25 ranking per query. Rank order is the exact fixed-point
    * sum descending, id ascending — fully deterministic, replayable in
    * any engine. One extra shuffle on `query_id` for the rank window
    * (per-query partitions; the query set is small so a TopK
    * aggregator would save nothing — the expensive part is upstream).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("s8").desc, col(idCol))
    bm25Scores(docs, idCol, textCol, queries, k1, b)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("bm25"), col("rank"))
  }

  // ------------------- at-rest BM25 postings index -------------------

  /** The lexical search index at rest — the BM25 twin of the IVF/LSH
    * vector layouts: postings `(doc_id, term, tf)` partitioned by a
    * term-hash BUCKET column, plus a compact per-doc length artifact.
    * A probe reads ONLY the buckets its query terms hash to (bounded
    * partition-pruning literals, the `ivfProbeTopK` discipline — at
    * most |query terms| of the `nBuckets` partitions, whatever the
    * corpus size), computes `df` for exactly the query terms from
    * those pruned postings, and reuses the identical scoring tail as
    * [[bm25Scores]] — so probe ≡ in-memory is structural.
    *
    * Layout: the index header ([[graft.util.IndexMeta]]) freezes
    * `nbuckets` (the bucket function is the probe contract, like LSH's
    * nbits); postings/doclen tranches
    * append under `batch=<tag>` (an ingest overwrites its OWN tag —
    * replay-safe; docs must be tranche-disjoint, the same data-layout
    * obligation as the co-occurrence groups). `doclen` is written last
    * and is the family's commit witness; [[bm25ConsolidateIndex]] folds
    * the committed tranches through the shared ledger fold and records
    * the absorbed tags so a replayed absorbed append no-ops.
    *
    * Corpus-level D/T are aggregated from the doclen artifact at probe
    * time: |docs| rows of two longs — a bounded-metadata scan, orders
    * of magnitude under the corpus text, and exact under any tranche
    * layout (counts/sums of disjoint ingests).
    */
  def bm25WriteIndex(docs: DataFrame, dir: String, idCol: String, textCol: String,
                     nBuckets: Int = 64,
                     commit: graft.merge.Merge.Commit =
                       graft.merge.Merge.RenameCommit): Unit = {
    require(nBuckets >= 1, s"bm25WriteIndex: nBuckets=$nBuckets must be >= 1")
    val spark = docs.sparkSession
    graft.merge.Merge.swapWith(spark, dir, commit) { root =>
      graft.util.IndexMeta.write(spark, root, Seq("nbuckets" -> nBuckets))
      writeTranche(docs, root, idCol, textCol, nBuckets, "build")
    }
  }

  private def termBucket(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast(IntegerType)

  private def writeTranche(docs: DataFrame, root: String, idCol: String,
                           textCol: String, nBuckets: Int, tag: String): Unit = {
    val toks = docs.select(col(idCol).cast(LongType).as("doc_id"),
      explode(TextOps.words(col(textCol))).as("term"))
    toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket", termBucket(col("term"), nBuckets))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$root/postings/batch=$tag")
    // doclen from the written postings tranche, NOT a second tokenize
    // pass over the corpus: dl ≡ Σ_term tf — the identical value — and
    // the read-back makes the artifact count exactly the rows at rest
    // (the dedup index's df-from-sh idiom), so each tranche costs one
    // corpus scan + tokenize. Written after postings, doclen is the
    // commit witness: a crash between the two leaves `tag` unproven,
    // so a fold preserves it for the same-tag retry. Schema
    // spelled explicitly: an EMPTY epoch's tranche has no parquet
    // footers to infer from (streaming appends hit this), and the
    // empty read must still produce a typed empty doclen tranche.
    docs.sparkSession.read.schema("doc_id BIGINT, term STRING, tf BIGINT")
      .parquet(s"$root/postings/batch=$tag")
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .write.mode("overwrite").parquet(s"$root/doclen/batch=$tag")
  }

  /** The BM25 index's resolved directory and frozen `nbuckets`. */
  private def openBm25Index(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String): (String, Int) = {
    val h = graft.util.IndexMeta.open(spark, indexDir, "BM25", "bm25WriteIndex")
    (h.dir, h.int("nbuckets"))
  }

  /** Append a doc tranche under its own `batch=<tag>`, bucketed with
    * the index's frozen `nbuckets`. Tagged-tranche replay contract via
    * the shared append gate (absorbed-tag no-op vs aliased-new-data
    * fail-fast). */
  def bm25AppendToIndex(newDocs: DataFrame, indexDir: String, idCol: String,
                        textCol: String, tag: String): Unit = {
    val spark = newDocs.sparkSession
    val (dir, nBuckets) = openBm25Index(spark, indexDir)
    if (!graft.util.Tranches.appendTagAllowed(spark, dir, tag, "bm25AppendToIndex",
      () => newDocs.select(col(idCol).cast(LongType).as("doc_id")).distinct()
        .join(Readers.parquet(spark, s"$dir/doclen").select("doc_id"),
          Seq("doc_id"), "left_anti").count()))
      return
    writeTranche(newDocs, dir, idCol, textCol, nBuckets, tag)
  }

  /** Fold the committed tranches into `batch=consolidated` through the
    * shared ledger fold ([[graft.util.Tranches.foldLedger]]), `bucket`
    * partitioning kept. `doclen`, written last by every append, is the
    * commit witness: a tag missing from it (a crash between the postings
    * and doclen writes) is preserved unabsorbed, so the same-tag retry
    * lands instead of failing as "new data on an absorbed tag". The
    * absorbed tags are recorded so a replayed absorbed append no-ops
    * instead of resurrecting folded rows. */
  def bm25ConsolidateIndex(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String,
                           commit: graft.merge.Merge.Commit =
                             graft.merge.Merge.RenameCommit): Unit = {
    openBm25Index(spark, indexDir)
    graft.util.Tranches.foldLedger(spark, indexDir,
      Seq("postings" -> Seq("bucket"), "doclen" -> Nil), witness = "doclen",
      commit = commit)
  }

  /** Index statistics gauge, the family-generic shape shared with the
    * dedup/winnow twins: one row per artifact
    * `(artifact, n_rows, n_docs, n_tranches)` — the consolidation
    * gauge for the postings/doclen tranches. Validates the family
    * meta first (a typo'd path must fail, not read empty). */
  def bm25IndexStats(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String): DataFrame = {
    val dir = openBm25Index(spark, indexDir)._1
    graft.dedup.DedupOps.artifactStats(spark, dir, Seq("postings", "doclen"))
  }

  /** Health gauge (directory metadata only, no data file opened):
    * tranche/marker/unproven counts per artifact
    * ([[graft.util.Tranches.ledgerHealth]]). `n_marked` counts tranches
    * carrying the committer's `_SUCCESS` marker; `n_unproven` counts
    * tags the `doclen` witness does not prove committed — the same rule
    * [[bm25ConsolidateIndex]] folds by — so a crash between an append's
    * postings and doclen writes shows on `postings` until the same-tag
    * retry. */
  def bm25IndexHealth(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String): DataFrame = {
    val dir = openBm25Index(spark, indexDir)._1
    graft.util.Tranches.ledgerHealth(spark, dir, Seq("postings", "doclen"),
      Map.empty, witness = Some("doclen"))
  }

  /** Top-k BM25 from the at-rest index: partition-pruned postings
    * probe + the shared scoring tail. The pruning literals are the
    * ≤|query terms| buckets the terms hash to — collected from the
    * (tiny) query frame, never the index. Output matches [[bm25TopK]]:
    * `(query_id, doc_id, bm25, rank)`. */
  def bm25ProbeIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                     queries: DataFrame, k: Int,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (dir, nBuckets) = openBm25Index(spark, indexDir)
    val qt = normalizedQueries(queries)
    val qTerms = qt.select(col("term")).distinct()
      .withColumn("bucket", termBucket(col("term"), nBuckets))
    // bounded literal prune: ≤|terms| bucket ids, read from the query
    // frame (the ivfProbeTopK discipline — a broadcast join alone
    // would not prune the partition listing)
    val buckets = qTerms.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    val postings = Readers.parquet(spark, s"$dir/postings")
      .where(col("bucket").isin(buckets.toIndexedSeq.map(Integer.valueOf): _*))
      .select(col("doc_id"), col("term"), col("tf"))
    val tf = postings.join(broadcast(qTerms.select("term")), "term")
    val doclen = Readers.parquet(spark, s"$dir/doclen").select(col("doc_id"), col("dl"))
    val (dT, tT) = {
      val r = doclen.agg(count(lit(1)), sum("dl")).head()
      (r.getLong(0).toDouble, if (r.isNullAt(1)) 0.0 else r.getLong(1).toDouble)
    }
    val w = Window.partitionBy("query_id").orderBy(col("s8").desc, col("doc_id"))
    bm25FromCounts(tf, doclen, qt, "doc_id", dT, tT, k1, b)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("bm25"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): fuse N per-query
    * rankings of (possibly different) candidate sets into one, scoring
    * each candidate `Σ_r 1/(K + rank_r)` over the rankings that
    * contain it. Rank-based, so a BM25 ranking and a cosine ranking
    * fuse without any score calibration — the standard hybrid-search
    * combiner.
    *
    * Inputs: each DataFrame carries `(queryCol, idCol, rankCol)`;
    * ranks are 1-based and assumed deterministic (both this module's
    * [[bm25TopK]] and `SimilarityOps`' top-k shapes tie-break by id).
    * Plan: union the (tiny, already-top-k'd) rankings → one
    * (query, id) aggregation → one per-query rank window. Inputs are
    * k·|queries| rows each, so at ANY corpus scale this stage is
    * bounded by the serving budget, not the data.
    *
    * Determinism: each contribution is snapped to fixed-point 1e-12
    * units (`floor(1e12/(K+rank) + 0.5)` — one IEEE division, then
    * exact integers), summed order-free, and the snapped sum is the
    * ranking key (ties by id). `rrf` is the snapped sum / 1e12 — one
    * IEEE division, not re-rounded (same half-boundary rationale as
    * [[bm25Scores]]).
    *
    * Output: `(query_id, <idCol>, rrf: double, n_sources: long,
    * rank: int)` rows with `rank ≤ k`.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
              kConst: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val normalized = rankings.map(_.select(
      col("query_id").cast(StringType).as("query_id"),
      col(idCol).cast(LongType).as(idCol),
      floor(lit(1e12) / (lit(kConst.toDouble) + col("rank")) + lit(0.5))
        .cast(LongType).as("__c12")))
    val unioned = normalized.reduce(_ unionAll _)
    val w = Window.partitionBy("query_id").orderBy(col("__s12").desc, col(idCol))
    unioned.groupBy(col("query_id"), col(idCol))
      .agg(sum("__c12").as("__s12"), count(lit(1)).as("n_sources"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol),
        (col("__s12").cast(DoubleType) / lit(1e12)).as("rrf"),
        col("n_sources"), col("rank"))
  }
}
