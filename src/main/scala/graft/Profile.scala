package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev tool: time, stage-profile or explain named `SparkEntry.queries`
  * entries in one fresh session with the same confs as [[Bench]].
  *
  *   sbt "runMain graft.Profile <q[,q…]> <sfDir> <reps> [time|stages|explain]"
  *
  * (comma-separated query names, fixture dir, repetitions per query,
  * mode; `SPARK_GRAFT_CPUS` sets the core count as for every main).
  * Bad arguments (fewer than three, a `<reps>` that is not a positive
  * integer, an unknown mode or query) throw IllegalArgumentException
  * before any session is built. Every mode runs the reps after the
  * between-query hygiene Bench applies and prints
  * `[profile] <q> run <i>: <s> s` per rep, cold first — the lines
  * [[ScaleCurves.isolatedSec]] parses — then
  * `[profile] <q> run <i> codegen: <n> classes, <ms> ms`, the classes
  * Spark compiled during the rep and their compile time. A rep that
  * repeats an earlier one compiles 0 classes unless the codegen cache
  * evicted them or the query generates different code each run.
  *
  *   - `time` (default): the rep timings only.
  *   - `stages`: the last (warmest) rep runs under [[stages]]; its job
  *     and stage counts and a table of every stage follow, descending
  *     by task time, with the operators each stage runs (its RDDs'
  *     operation scopes, see [[site]]) — the local stand-in for the
  *     Spark UI's stage table. It has no scan-bytes column: parquet's
  *     vectored reads bypass Hadoop's per-thread FileSystem
  *     statistics, so a task's `inputMetrics.bytesRead` counts the
  *     footers only (17.8 kB of a 10.8 MB `lineitem.parquet`).
  *     A `[profile] <q> left …` line then gives the persistent RDDs
  *     (and whether CacheManager entries remain) the query left behind
  *     before and after the release of the `Materialize.scoped` block
  *     every rep runs in — the leak scan, query by query.
  *   - `explain`: the formatted physical plan precedes the reps; grep
  *     it (`-c "Scan parquet"`) to catch a subtree re-expanded once
  *     per consumer.
  */
object Profile {

  /** One stage's task metrics, summed over its tasks. `wallMs` is the
    * submit-to-complete span (-1 when either event was not seen);
    * `job` is the first job that listed the stage (-1 when unseen).
    * Every job submits its own result stage, so the distinct `job`
    * values count the jobs. */
  final case class StageRow(id: Int, job: Int, site: String, tasks: Int, taskMs: Long,
                            cpuNs: Long, wallMs: Long, maxTaskMs: Long,
                            medTaskMs: Long, deserMs: Long, gcMs: Long,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long)

  private final class Agg {
    var site = ""
    var firstMs, lastMs, taskMs, cpuNs, deserMs, gcMs = 0L
    var srBytes, swBytes = 0L
    val durs = scala.collection.mutable.ArrayBuffer.empty[Long]
  }

  /** Run `body` with a listener attached and return its stages,
    * descending by task time. The listener bus is asynchronous, so the
    * read waits until no event has arrived for 250 ms (at most 10 s). */
  def stages(spark: SparkSession)(body: => Unit): Seq[StageRow] = {
    val aggs = new java.util.concurrent.ConcurrentHashMap[Int, Agg]()
    val events = new java.util.concurrent.atomic.AtomicLong()
    val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    def agg(id: Int): Agg = aggs.computeIfAbsent(id, _ => new Agg)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        j.stageIds.foreach(jobOf.putIfAbsent(_, j.jobId))
        events.incrementAndGet()
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        val a = agg(s.stageInfo.stageId)
        a.site = site(s.stageInfo)
        a.firstMs = System.currentTimeMillis()
        events.incrementAndGet()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        agg(s.stageInfo.stageId).lastMs = System.currentTimeMillis()
        events.incrementAndGet()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          val a = agg(t.stageId)
          a.taskMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.deserMs += m.executorDeserializeTime
          a.gcMs += m.jvmGCTime
          a.srBytes += m.shuffleReadMetrics.totalBytesRead
          a.swBytes += m.shuffleWriteMetrics.bytesWritten
          a.durs += m.executorRunTime
        }
        events.incrementAndGet()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      var seen = -1L
      val deadline = System.nanoTime() + 10000000000L
      while (events.get != seen && System.nanoTime() < deadline) {
        seen = events.get
        Thread.sleep(250)
      }
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    aggs.asScala.toSeq.map { case (id, a) =>
      val ds = a.durs.sorted
      StageRow(id, jobOf.getOrDefault(id, -1), a.site, ds.size, a.taskMs, a.cpuNs,
        if (a.firstMs > 0 && a.lastMs > 0) a.lastMs - a.firstMs else -1L,
        ds.lastOption.getOrElse(0L), if (ds.isEmpty) 0L else ds(ds.size / 2),
        a.deserMs, a.gcMs, a.srBytes, a.swBytes)
    }.sortBy(-_.taskMs)
  }

  /** The operators a stage runs: the distinct operation scopes of its
    * RDDs in RDD-id order, e.g. `Scan parquet, WholeStageCodegen (2),
    * Exchange`. Under AQE a stage's own name is the frame of the
    * thread that materialized it, the same for every stage; the stage
    * name stands only when no RDD carries a scope. */
  private[graft] def site(info: StageInfo): String = {
    val scopes = info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
    if (scopes.isEmpty) info.name else scopes.mkString(", ")
  }

  /** Classes compiled by Spark's codegen in this JVM so far, and their
    * total compile time in ms. Call it only once a session exists: its
    * first call initialises `CodeGenerator`, which sizes its class cache
    * from the active session's conf, or at Spark's default of 100 when
    * there is none (see [[Graft.coreTune]]). */
  def codegenTotals(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)

  private def printStages(rows: Seq[StageRow]): Unit = {
    println(f"[profile] ${rows.map(_.job).distinct.size} jobs, ${rows.size} stages, total task-time ${rows.map(_.taskMs).sum / 1e3}%.1f s")
    println(f"[profile] ${"stage"}%-7s ${"taskS"}%7s ${"cpuS"}%7s ${"wallS"}%6s " +
      f"${"tasks"}%5s ${"maxMs"}%6s ${"medMs"}%6s ${"deserS"}%6s ${"gcS"}%5s " +
      f"${"shRdMB"}%7s ${"shWrMB"}%7s  site")
    rows.foreach { r =>
      println(f"[profile] ${r.id}%-7d ${r.taskMs / 1e3}%7.2f ${r.cpuNs / 1e9}%7.2f " +
        f"${r.wallMs / 1e3}%6.2f ${r.tasks}%5d ${r.maxTaskMs}%6d ${r.medTaskMs}%6d " +
        f"${r.deserMs / 1e3}%6.2f ${r.gcMs / 1e3}%5.2f ${r.shuffleReadBytes / 1e6}%7.1f " +
        f"${r.shuffleWriteBytes / 1e6}%7.1f  ${r.site.take(90)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Profile <q[,q…]> <sfDir> <reps> [time|stages|explain]"
    require(args.length >= 3, usage)
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args(1)
    val reps = args(2).toIntOption.getOrElse(0)
    require(reps > 0, s"<reps> must be a positive integer, got '${args(2)}'; $usage")
    val mode = args.lift(3).getOrElse("time")
    require(Set("time", "stages", "explain")(mode),
      s"unknown mode $mode; expected time, stages or explain; $usage")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries ${unknown.mkString(", ")}; known: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      if (mode == "explain") fn(spark, sfDir).explain("formatted")
      for (i <- 1 to reps) {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        var sec = 0.0
        var release: () => Unit = () => ()
        def run(): Unit = {
          val t0 = System.nanoTime()
          val (df, rel) = graft.util.Materialize.scoped(fn(spark, sfDir))
          release = rel
          df.write.format("noop").mode("overwrite").save()
          sec = (System.nanoTime() - t0) / 1e9
        }
        val profiled = mode == "stages" && i == reps
        val (n0, ms0) = codegenTotals()
        val rows = if (profiled) stages(spark)(run()) else { run(); Nil }
        val (n1, ms1) = codegenTotals()
        println(f"[profile] $name run $i: $sec%.3f s")
        println(f"[profile] $name run $i codegen: ${n1 - n0} classes, ${ms1 - ms0}%.0f ms")
        if (profiled) {
          printStages(rows)
          def held = (spark.sparkContext.getPersistentRDDs.size,
            !spark.sharedState.cacheManager.isEmpty)
          val before = held
          release()
          val after = held
          println(s"[profile] $name left ${before._1} persisted RDDs (cache entries: " +
            s"${before._2}) before its scope release, ${after._1} (cache entries: " +
            s"${after._2}) after")
        } else release()
      }
    }
    spark.stop()
  }
}
