package graft

import org.apache.spark.sql.functions.col

import graft.dedup.DedupOps
import graft.pipeline.DecontamPipeline

/** The decontam→dedup→split composition helper (r16 verdict #3/#6):
  * release-handle hygiene for the materialized clean-id frame, the
  * Auto tier-routing predicate, and parity between the routed and
  * forced tiers. */
class DecontamPipelineSpec extends SparkSpec {
  import spark.implicits._

  // 3 bench docs (8+ words so 8-shingles exist), 2 contaminated corpus
  // docs quoting them, two 3-shingle near-dup clusters, singletons
  private val benchTexts = Seq(
    0L -> "alpha beta gamma delta epsilon zeta eta theta iota",
    1L -> "one two three four five six seven eight nine ten",
    2L -> "red orange yellow green blue indigo violet ultra steel")
  private val corpus = benchTexts ++ Seq(
    10L -> "prefix alpha beta gamma delta epsilon zeta eta theta iota suffix",
    11L -> "one two three four five six seven eight nine ten extra words here",
    12L -> "the quick brown fox jumps over the lazy dog",
    13L -> "the quick brown fox jumps over the lazy cat",
    14L -> "completely unrelated text body",
    15L -> "stock market prices rose sharply on tuesday morning",
    16L -> "stock market prices rose sharply on tuesday evening",
    17L -> "isolated document with nothing shared")

  private val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))

  private def fixture(tag: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, String) = {
    val docs = corpus.toDF("doc_id", "text")
    val bench = docs.where(col("doc_id") < 3)
    val bloomDir = tempDir(s"decontam_pipe_$tag") + "/bloom"
    DedupOps.benchmarkShingleBloom(bench, "text", bloomDir, "s0", shingleN = 8)
    (docs, bench, bloomDir)
  }

  private def run(tier: DecontamPipeline.Tier,
                  autoThreshold: Long = DecontamPipeline.AutoSigDocThreshold,
                  autoMassThreshold: Long = DecontamPipeline.AutoSigShingleMassThreshold) = {
    val (docs, bench, bloomDir) = fixture(s"${tier}_${autoThreshold}_$autoMassThreshold")
    DecontamPipeline.decontamDedupSplit(docs, "doc_id", "text", bench, bloomDir,
        splits, salt = "s", tier = tier, portable = true,
        autoSigThreshold = autoThreshold, autoSigMassThreshold = autoMassThreshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
  }

  test("exact tier: contaminated docs dropped, clusters split-atomic") {
    val got = run(DecontamPipeline.Exact)
    val ids = got.map(_._1)
    // bench quotes (10, 11) and the bench docs themselves (full
    // self-overlap) are contaminated; the rest survive
    assert(ids == Set(12L, 13L, 14L, 15L, 16L, 17L), s"ids $ids")
    val byId = got.map(t => t._1 -> t).toMap
    // near-dup clusters share group AND split (leakage-safe contract)
    assert(byId(12L)._2 == byId(13L)._2 && byId(12L)._3 == byId(13L)._3)
    assert(byId(15L)._2 == byId(16L)._2 && byId(15L)._3 == byId(16L)._3)
    // singletons are their own group
    assert(byId(17L)._2 == 17L && byId(14L)._2 == 14L)
  }

  test("releasable form: clean-id blocks live behind the frame, freed by the handle") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (docs, bench, bloomDir) = fixture("rel")
    val (out, release) = graft.util.Materialize.scoped {
      DecontamPipeline.decontamDedupSplit(
        docs, "doc_id", "text", bench, bloomDir, splits, salt = "s",
        tier = DecontamPipeline.Exact, portable = true)
    }
    val rows = out.collect()
    assert(rows.length == 6)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "the materialized clean-id frame is persisted behind the result")
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"blocks left persisted after release: $leaked")
  }

  test("auto routing: below/at threshold ≡ forced Exact, above ≡ forced Sig") {
    val exact = run(DecontamPipeline.Exact)
    val sig = run(DecontamPipeline.Sig)
    // 6 clean docs: threshold 6 (n == threshold) must stay Exact,
    // threshold 5 (n > threshold) must route Sig
    assert(run(DecontamPipeline.Auto, autoThreshold = 6L) == exact)
    assert(run(DecontamPipeline.Auto, autoThreshold = 5L) == sig)
    // and the default threshold routes a tiny corpus to Exact
    assert(run(DecontamPipeline.Auto) == exact)
  }

  test("resolveTier: forced tiers pass through without counting") {
    // an unresolvable frame proves no count() is attempted
    val poison = spark.range(1).select(
      org.apache.spark.sql.functions.assert_true(col("id") < 0).as("x"))
    assert(DecontamPipeline.resolveTier(DecontamPipeline.Exact, poison, 0L) ==
      DecontamPipeline.Exact)
    assert(DecontamPipeline.resolveTier(DecontamPipeline.Sig, poison, 0L) ==
      DecontamPipeline.Sig)
  }

  test("releasable form frees the DISTRIBUTED CC fixpoint too (r17 ADVICE #1)") {
    // the driver CC tier self-unpersists, so the r16-era leak test
    // could not see the distributed tier's fixpoint frame — force it
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (docs, bench, bloomDir) = fixture("ccdist")
    val (out, release) = graft.util.Materialize.scoped {
      DecontamPipeline.decontamDedupSplit(
        docs, "doc_id", "text", bench, bloomDir, splits, salt = "s",
        tier = DecontamPipeline.Exact, portable = true, ccLocalThreshold = 0)
    }
    assert(out.collect().length == 6)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "distributed-tier CC fixpoint + clean-id frame persisted behind the result")
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"blocks left persisted after release: $leaked")
  }

  test("auto routing reads shingle MASS too: few very long docs route Sig (r17 verdict #4)") {
    // 10 docs, 600k shingles each = 6e6 mass > the 5e6 default — the
    // long-doc corpus the doc-count predicate (10 <= 100k) misses
    val longDocs = (0L until 10L).map(i => (i, 600000L)).toDF("doc_id", "n_shingles")
    assert(DecontamPipeline.resolveTier(DecontamPipeline.Auto, longDocs,
      DecontamPipeline.AutoSigDocThreshold) == DecontamPipeline.Sig)
    // boundary: mass == threshold stays Exact (strictly-greater routes)
    val atMass = Seq((0L, DecontamPipeline.AutoSigShingleMassThreshold))
      .toDF("doc_id", "n_shingles")
    assert(DecontamPipeline.resolveTier(DecontamPipeline.Auto, atMass,
      DecontamPipeline.AutoSigDocThreshold) == DecontamPipeline.Exact)
    // and end-to-end: a tiny mass threshold forces the Sig path, whose
    // output matches the forced-Sig run exactly
    assert(run(DecontamPipeline.Auto, autoMassThreshold = 0L) ==
      run(DecontamPipeline.Sig))
  }
}
