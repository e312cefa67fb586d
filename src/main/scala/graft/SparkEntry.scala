package graft

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.clean.CleanOps
import graft.extract.Extract
import graft.merge.Merge
import graft.meta.MetaOps
import graft.queries.{ConnectorQueries, CoreQueries, LlmQueries, Q}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * `queries`/`oracleSql` are assembled from the per-domain query
  * registries in `graft.queries`.
  */
object SparkEntry {

  private def registry: Seq[Q] =
    CoreQueries.all ++ LlmQueries.all ++ ConnectorQueries.all

  /** Flagship end-to-end slice (SURVEY.md §7.2) on sf0.001: scan →
    * schema cast → clean → META → join → partition window → aggregate →
    * upsert-merge into a parquet target → read back. Exercises every
    * architectural seam; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    Graft.tune(spark)
    val dir = "/root/testdata/sf0.001"
    val targetDir = "/tmp/graft_entry_target"
    val lineitem = CleanOps.nanToNull(Tables(spark, dir, "lineitem"))
    val orders = Tables(spark, dir, "orders")
    val joined = lineitem.join(orders,
      lineitem("l_orderkey") === orders("o_orderkey"))
    val windowed = Extract.partitionWindow(joined, "o_orderdate",
      "1995-01-01 00:00:00", "2005-01-01 00:00:00")
    val agg = windowed.groupBy("l_returnflag", "l_linestatus")
      .agg(expr("cast(sum(cast(l_extendedprice as decimal(12,2)) * (cast(1 as decimal(5,4)) - cast(l_discount as decimal(5,4)))) as double)").as("revenue"),
        count(lit(1)).as("n"))
    val staged = MetaOps.addMetadata(agg, LocalDateTime.of(2024, 1, 1, 0, 0),
      fileName = Some("entry"), processing = Some(LocalDateTime.of(2024, 1, 1, 0, 0)))
    // overwrite then upsert the same stage: deterministic regardless of
    // leftover target state from earlier runs, and the smoke still
    // exercises the real anti-join + atomic-swap merge path
    Merge.insert(staged, targetDir, Merge.Overwrite)
    Merge.insert(staged, targetDir, Merge.Upsert(Seq("l_returnflag", "l_linestatus")))
    Merge.readTarget(spark, targetDir)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries get a rows-only check.
    * Evaluate AFTER running `queries` — generated oracles (approx ANN)
    * embed quantizer literals fitted by the query run. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle().map(sql => q.name -> sql)).toMap

  /** Plan-audit-ONLY subtrees: frames a registered
    * query eagerly CHECKPOINTS while building, so the enforced plan
    * gate never sees their shape through the parent (its audited plan
    * starts at the checkpointed scan). Consumed by
    * `PlanAudit`/`PlanAuditSpec` alongside `queries`; NOT run by
    * Verify/Bench — correctness of the subtree is gated through the
    * parent queries' oracles, this registry pins only the plan shape.
    * Today: the decontam compositions' shared bloom-gate clean-id
    * subtree (`q_decontam_dedup_split`/`_sig` both materialize it via
    * `DecontamPipeline`). */
  def auditOnlyPlans: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_decontam_clean_ids_pre" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val bench = docs.where(col("doc_id") < 25)
      val bloomDir = graft.util.Scratch.path("pipeline_bloom_audit", dir)
      // build-once-per-session: the bloom is a pure
      // function of (fixture, params) and the scratch path is
      // pid-scoped, so a tranche that already exists IS this
      // session's — re-deleting it on every plan-shape probe made
      // absorbFlap's re-executions rewrite the artifact mid-probe
      // (racy under concurrent audits, and a probe could perturb the
      // very at-rest shape being re-checked). The check-then-build is
      // serialized on a per-path monitor: two first
      // probes could both observe the artifact missing and race
      // overwrite-vs-overwrite on the same parquet dir; the path is
      // pid-scoped, so a this-JVM lock is the whole race surface.
      bloomDir.intern.synchronized {
        if (!new java.io.File(s"$bloomDir/batch=s0").exists() ||
            graft.util.IndexMeta.read(s, bloomDir, "bloom").isEmpty)
          graft.dedup.DedupOps.benchmarkShingleBloom(bench, "text", bloomDir, "s0",
            shingleN = 8)
      }
      graft.pipeline.DecontamPipeline.cleanIdsPlan(docs, "doc_id", "text",
        bench, bloomDir, contamShingleN = 8)
    }))
}
