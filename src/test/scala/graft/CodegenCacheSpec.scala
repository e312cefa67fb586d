package graft

import graft.util.Materialize

/** Spark's generated-class cache holds a session's working set, so a
  * repeated pass over the same queries compiles nothing. */
class CodegenCacheSpec extends SparkSpec {

  // the twelve queries of perfbench's `query_mix` workload
  private val roster = Seq("q_window_rank", "q_rollup", "q_events_hourly", "q_histogram",
    "q_explode_array", "q_json_parse", "q_text_tokens", "q_text_quality",
    "q_embed_norm", "q_sim_topk_brute", "q_dedup_jaccard", "q_neighborhood_agg")

  /** Runs the roster once, each query written as a DAG task writes it;
    * returns the classes Spark compiled meanwhile. */
  private def pass(): Long = {
    val session = spark // first: see Profile.codegenTotals
    val before = Profile.codegenTotals()._1
    roster.foreach { q =>
      val (_, release) = Materialize.scoped {
        SparkEntry.queries(q)(session, "/root/testdata/sf0.001")
          .write.format("noop").mode("overwrite").save()
      }
      release()
    }
    Profile.codegenTotals()._1 - before
  }

  test("a repeated query_mix pass compiles no class") {
    val first = pass()
    val second = pass()
    assert(second == 0, s"second pass compiled $second classes (first pass: $first)")
  }

  test("coreTune sizes the codegen cache unless the caller already did") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val prior = Option(System.getProperty(key))
    try {
      System.clearProperty(key)
      Graft.coreTune()
      assert(System.getProperty(key) == "4096")
      System.setProperty(key, "77")
      Graft.coreTune()
      assert(System.getProperty(key) == "77")
    } finally prior.fold(System.clearProperty(key))(System.setProperty(key, _))
  }
}
