package graft

import org.apache.spark.sql.functions._
import graft.text.RetrievalOps

/** BM25 + RRF against hand-computed fixtures (the per-term Okapi
  * arithmetic worked out on paper) plus the determinism/ranking
  * invariants the oracle rows lean on.
  */
class RetrievalOpsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark join join"),
    (2L, "spark window"),
    (3L, "filter scan scan scan")).toDF("doc_id", "text")

  private def q1 = Seq(("q1", "spark"), ("q1", "join")).toDF("query_id", "term")

  // D=3 docs, T=9 tokens, avgdl=3; k1=1.2, b=0.75
  // idf(spark)=ln(1.6), idf(join)=ln(8/3)
  // d1: spark tf=1 dl=3 -> ln(1.6)*2.2/2.2 ; join tf=2 -> ln(8/3)*4.4/3.2
  // d2: spark tf=1 dl=2 -> ln(1.6)*2.2/1.9
  test("bm25Scores matches the hand-computed Okapi values") {
    val out = RetrievalOps.bm25Scores(corpus, "doc_id", "text", q1)
      .orderBy("doc_id").collect()
    assert(out.length == 2) // d3 matches no query term
    val d1 = out(0); val d2 = out(1)
    assert(d1.getLong(1) == 1L && d2.getLong(1) == 2L)
    val expD1 = math.log(1.6) + math.log(8.0 / 3.0) * 4.4 / 3.2
    val expD2 = math.log(1.6) * 2.2 / 1.9
    assert(math.abs(d1.getAs[Double]("bm25") - expD1) < 1e-6, s"d1 ${d1}")
    assert(math.abs(d2.getAs[Double]("bm25") - expD2) < 1e-6, s"d2 ${d2}")
    assert(d1.getAs[Long]("n_terms") == 2L)
    assert(d2.getAs[Long]("n_terms") == 1L)
  }

  test("bm25TopK ranks by exact fixed-point sum, id-tiebroken, capped at k") {
    val top = RetrievalOps.bm25TopK(corpus, "doc_id", "text", q1, k = 1).collect()
    assert(top.length == 1 && top(0).getAs[Long]("doc_id") == 1L
      && top(0).getAs[Int]("rank") == 1)
    // identical docs tie on the snapped sum -> lower id wins
    val tied = Seq((7L, "spark"), (5L, "spark")).toDF("doc_id", "text")
    val r = RetrievalOps.bm25TopK(tied, "doc_id", "text",
      Seq(("q", "spark")).toDF("query_id", "term"), k = 2)
      .orderBy("rank").collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(5L, 7L))
  }

  test("bm25 ignores query-side duplicate terms and is stable under re-run") {
    val dup = Seq(("q1", "spark"), ("q1", "spark"), ("q1", "join")).toDF("query_id", "term")
    assertSameRows(
      RetrievalOps.bm25Scores(corpus, "doc_id", "text", dup),
      RetrievalOps.bm25Scores(corpus, "doc_id", "text", q1))
  }

  test("rrfFuse sums snapped reciprocal ranks across sources, ranks by the exact sum") {
    val a = Seq(("q1", 1L, 1), ("q1", 2L, 2)).toDF("query_id", "doc_id", "rank")
    val b = Seq(("q1", 2L, 1), ("q1", 3L, 2)).toDF("query_id", "doc_id", "rank")
    val out = RetrievalOps.rrfFuse(Seq(a, b), "doc_id", k = 3).orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L, 1L, 3L))
    assert(out.map(_.getAs[Long]("n_sources")).toSeq == Seq(2L, 1L, 1L))
    val d2 = out(0).getAs[Double]("rrf")
    assert(math.abs(d2 - (1.0 / 61 + 1.0 / 62)) < 1e-6)
    // single-source fusion preserves the input order
    val solo = RetrievalOps.rrfFuse(Seq(a), "doc_id", k = 2).orderBy("rank").collect()
    assert(solo.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
  }

  // ------------------- at-rest BM25 index -------------------

  private def idxCorpus = Seq(
    (1L, "spark join join window"),
    (2L, "spark window filter"),
    (3L, "filter scan scan scan"),
    (4L, "join scan spark table"),
    (5L, "table merge hash batch"),
    (6L, "spark spark join table")).toDF("doc_id", "text")

  private def idxQueries =
    Seq(("q1", "spark"), ("q1", "join"), ("q2", "table")).toDF("query_id", "term")

  test("bm25 index: probe ≡ in-memory topK; scan is partition-pruned") {
    val dir = tempDir("graft_bm25") + "/idx"
    try {
      RetrievalOps.bm25WriteIndex(idxCorpus, dir, "doc_id", "text", nBuckets = 8)
      val probed = RetrievalOps.bm25ProbeIndex(spark, dir, idxQueries, k = 10)
      val inMem = RetrievalOps.bm25TopK(idxCorpus, "doc_id", "text", idxQueries, k = 10)
      assertSameRows(probed, inMem)
      val plan = probed.queryExecution.executedPlan.toString()
      assert(plan.contains("PartitionFilters") || plan.contains("dynamicpruning"),
        s"expected partition pruning in:\n${plan.take(2000)}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("bm25 index: append ≡ one-shot rebuild; consolidation answer-preserving; absorbed replay no-ops") {
    val dir = tempDir("graft_bm25") + "/idx"
    try {
      val half1 = idxCorpus.where(col("doc_id") <= 3)
      val half2 = idxCorpus.where(col("doc_id") > 3)
      RetrievalOps.bm25WriteIndex(half1, dir, "doc_id", "text", nBuckets = 8)
      RetrievalOps.bm25AppendToIndex(half2, dir, "doc_id", "text", tag = "day2")
      val appended = RetrievalOps.bm25ProbeIndex(spark, dir, idxQueries, k = 10)
      val oneShot = RetrievalOps.bm25TopK(idxCorpus, "doc_id", "text", idxQueries, k = 10)
      assertSameRows(appended, oneShot)
      RetrievalOps.bm25ConsolidateIndex(spark, dir)
      assertSameRows(RetrievalOps.bm25ProbeIndex(spark, dir, idxQueries, k = 10), oneShot)
      // one postings tranche left after the fold
      val tranches = new java.io.File(s"$dir/postings").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch="))
      assert(tranches.toSeq == Seq("batch=consolidated"))
      // replayed absorbed append: provably-replay rows -> no-op
      RetrievalOps.bm25AppendToIndex(half2, dir, "doc_id", "text", tag = "day2")
      assertSameRows(RetrievalOps.bm25ProbeIndex(spark, dir, idxQueries, k = 10), oneShot)
      // NEW data aliased onto the absorbed tag -> fail fast
      val novel = Seq((99L, "spark novel doc")).toDF("doc_id", "text")
      intercept[IllegalStateException] {
        RetrievalOps.bm25AppendToIndex(novel, dir, "doc_id", "text", tag = "day2")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("bm25 index: a fold after a half-append crash preserves the tranche and the same-tag retry converges") {
    val dir = tempDir("graft_bm25") + "/idx"
    def tranches(artifact: String) = new java.io.File(s"$dir/$artifact").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    try {
      val half1 = idxCorpus.where(col("doc_id") <= 3)
      val half2 = idxCorpus.where(col("doc_id") > 3)
      RetrievalOps.bm25WriteIndex(half1, dir, "doc_id", "text", nBuckets = 8)
      RetrievalOps.bm25AppendToIndex(half2, dir, "doc_id", "text", tag = "d7")
      // the crash window: postings landed, the doclen witness did not
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/doclen/batch=d7"))
      RetrievalOps.bm25ConsolidateIndex(spark, dir)
      assert(!graft.util.Tranches.readAbsorbedTags(spark, dir).contains("d7"))
      assert(new java.io.File(s"$dir/postings/batch=d7").exists())
      // the documented recovery: re-run the append under the same tag
      RetrievalOps.bm25AppendToIndex(half2, dir, "doc_id", "text", tag = "d7")
      assertSameRows(RetrievalOps.bm25ProbeIndex(spark, dir, idxQueries, k = 10),
        RetrievalOps.bm25TopK(idxCorpus, "doc_id", "text", idxQueries, k = 10))
      RetrievalOps.bm25ConsolidateIndex(spark, dir)
      assert(tranches("postings") == Seq("batch=consolidated"))
      assert(tranches("doclen") == Seq("batch=consolidated"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("bm25 index under PointerCommit: probe ≡ rename-mode, generation fold, mode guard") {
    import graft.merge.Merge
    val ptr = tempDir("graft_bm25p") + "/idx"
    val ren = tempDir("graft_bm25r") + "/idx"
    try {
      val half1 = idxCorpus.where(col("doc_id") <= 3)
      val half2 = idxCorpus.where(col("doc_id") > 3)
      RetrievalOps.bm25WriteIndex(half1, ptr, "doc_id", "text", nBuckets = 8,
        commit = Merge.PointerCommit)
      RetrievalOps.bm25WriteIndex(half1, ren, "doc_id", "text", nBuckets = 8)
      assert(new java.io.File(ptr, "_current").exists(), "manifest published")
      RetrievalOps.bm25AppendToIndex(half2, ptr, "doc_id", "text", tag = "day2")
      RetrievalOps.bm25AppendToIndex(half2, ren, "doc_id", "text", tag = "day2")
      val want = RetrievalOps.bm25ProbeIndex(spark, ren, idxQueries, k = 10)
      assertSameRows(RetrievalOps.bm25ProbeIndex(spark, ptr, idxQueries, k = 10), want)
      val gen1 = Merge.resolveDir(spark, ptr)
      RetrievalOps.bm25ConsolidateIndex(spark, ptr, Merge.PointerCommit)
      val gen2 = Merge.resolveDir(spark, ptr)
      assert(gen2 != gen1, "fold published a fresh generation")
      assert(new java.io.File(s"$gen2/postings").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch="))
        .toSeq == Seq("batch=consolidated"), "one folded tranche in the new generation")
      assertSameRows(RetrievalOps.bm25ProbeIndex(spark, ptr, idxQueries, k = 10), want)
      assert(RetrievalOps.bm25IndexStats(spark, ptr).count() > 0)
      // mode guard: pointer fold refuses a rename-mode index
      val e = intercept[IllegalArgumentException] {
        RetrievalOps.bm25ConsolidateIndex(spark, ren, Merge.PointerCommit)
      }
      assert(e.getMessage.contains("not pointer-committed"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ptr).getParentFile)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ren).getParentFile)
    }
  }

  test("bm25 index gauges: stats rows per artifact, health counts tranches, dashboard row") {
    val dir = tempDir("graft_bm25") + "/idx"
    try {
      RetrievalOps.bm25WriteIndex(idxCorpus.where(col("doc_id") <= 3), dir,
        "doc_id", "text", nBuckets = 8)
      RetrievalOps.bm25AppendToIndex(idxCorpus.where(col("doc_id") > 3), dir,
        "doc_id", "text", tag = "day1")
      val stats = RetrievalOps.bm25IndexStats(spark, dir)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(3)))).toMap
      // postings: one row per (doc, term); doclen: one per doc; 2 tranches each
      assert(stats("doclen") == ((6L, 2)))
      assert(stats("postings")._2 == 2 && stats("postings")._1 >= 6L)
      val health = RetrievalOps.bm25IndexHealth(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
      assert(health == Map("postings" -> ((2, 2, 0)), "doclen" -> ((2, 2, 0))))
      val dash = graft.meta.IndexDashboard.indexHealthAll(spark, bm25Dir = Some(dir))
        .collect()
      assert(dash.length == 2 && dash.forall(_.getAs[String]("family") == "bm25"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("bm25 index: meta-less dir and reserved tags fail fast") {
    val dir = tempDir("graft_bm25") + "/raw"
    try {
      new java.io.File(dir).mkdirs()
      intercept[IllegalArgumentException] {
        RetrievalOps.bm25ProbeIndex(spark, dir, idxQueries, k = 5)
      }
      val idx = dir + "/real"
      RetrievalOps.bm25WriteIndex(idxCorpus, idx, "doc_id", "text", nBuckets = 4)
      intercept[IllegalArgumentException] {
        RetrievalOps.bm25AppendToIndex(idxCorpus, idx, "doc_id", "text", tag = "build")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("rrfFuse ties broken by id; kConst shifts the scores") {
    val a = Seq(("q1", 9L, 1), ("q1", 4L, 1)).toDF("query_id", "doc_id", "rank")
    val out = RetrievalOps.rrfFuse(Seq(a), "doc_id", k = 2, kConst = 10)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(4L, 9L))
    assert(math.abs(out(0).getAs[Double]("rrf") - 1.0 / 11) < 1e-6)
  }
}
