package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** What one Spark stage did, as the traced run saw it. Times are epoch ms. */
final case class StageRec(submitMs: Long, endMs: Long, tasks: Int, runMs: Long,
                          shuffleWriteBytes: Long, spillBytes: Long)

/** A job and the stages it ran (stages it skipped are not listed). */
final case class JobRec(id: Int, startMs: Long, stages: Seq[StageRec])

/** A planned query: when planning began, how long analysis, optimization
  * and physical planning took, and how many files it wrote. */
final case class PlanRec(startMs: Long, planMs: Long, outputFiles: Long)

/** Listener for the traced run. Records jobs, stages, tasks and query
  * planning from outside the engine; [[Layers.aggregate]] attributes
  * them to the benchmark's spans by start time. */
final class Collector extends SparkListener with QueryExecutionListener {
  private final class StageAcc {
    var submitMs = 0L; var endMs = 0L; var tasks = 0; var runMs = 0L
    var shuffle = 0L; var spill = 0L
  }
  private val jobStarts = mutable.ArrayBuffer.empty[(Int, Long, Seq[Int])]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAcc = mutable.Map.empty[Int, StageAcc]
  private val planRecs = mutable.ArrayBuffer.empty[PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += ((e.jobId, e.time, e.stageIds))
    // a stage listed by several jobs runs in the first; later jobs skip it
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val a = stageAcc.getOrElseUpdate(e.stageInfo.stageId, new StageAcc)
    a.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = stageAcc.getOrElseUpdate(e.stageInfo.stageId, new StageAcc)
    a.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def record(qe: QueryExecution, files: Long): Unit = {
    val phases = qe.tracker.phases
    val planning = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(phases.get)
    if (planning.nonEmpty) synchronized {
      planRecs += PlanRec(planning.map(_.startTimeMs).min, planning.map(_.durationMs).sum, files)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, Collector.outputFiles(qe.executedPlan))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  def jobs: Seq[JobRec] = synchronized {
    jobStarts.toSeq.map { case (id, t, stageIds) =>
      JobRec(id, t, stageIds.filter(s => stageJob.get(s).contains(id))
        .flatMap(stageAcc.get).filter(_.tasks > 0)
        .map(a => StageRec(a.submitMs, a.endMs, a.tasks, a.runMs, a.shuffle, a.spill)))
    }
  }

  def plans: Seq[PlanRec] = synchronized(planRecs.toSeq)
}

object Collector {
  /** Files written by a write command: the `numFiles` metric of every
    * node of the executed plan, nested command plans included. */
  def outputFiles(plan: SparkPlan): Long = {
    val own = plan.metrics.get("numFiles").map(_.value).getOrElse(0L)
    val nested = (plan.children ++ plan.innerChildren.collect { case p: SparkPlan => p })
      .map(outputFiles).sum
    own + nested
  }
}

/** Per-layer metrics from spans plus the collector's records. */
object Layers {
  /** The engine's module names, one layer each. */
  val Modules: Seq[String] = Seq("io", "clean", "schema", "nested", "meta", "merge",
    "extract", "relational", "analytics", "profile", "text", "dedup", "similarity", "graph")
  val Fields: Seq[String] = Seq("wall_s", "calls", "jobs", "tasks", "task_s",
    "shuffle_write_mb", "plan_ms", "driver_gap_s")
  val Globals: Seq[(String, String)] = Seq(
    "spark.codegen_ms" -> "ms", "jvm.jit_ms" -> "ms", "jvm.gc_s" -> "s",
    "spark.spill_mb" -> "MB", "io.output_files" -> "count",
    "storage.pinned_blocks" -> "count", "bench.gap_s" -> "s", "trace.warm_s" -> "s",
    "peak_heap_mb" -> "MB")

  def unit(field: String): String = field match {
    case "wall_s" | "task_s" | "driver_gap_s" => "s"
    case "calls" | "jobs" | "tasks" => "count"
    case "shuffle_write_mb" => "MB"
    case "plan_ms" => "ms"
  }

  /** Every per-layer metric name with its unit, in report order. */
  val all: Seq[(String, String)] =
    Modules.flatMap(m => Fields.map(f => s"$m.$f" -> unit(f))) ++ Globals

  private val MB = 1024.0 * 1024.0

  /** Module-layer sums over the spans of `passes`, divided by the number
    * of those passes. A job belongs to the span open when it started; a
    * query's planning to the span open when its analysis began. Also
    * returns `bench.gap_s` (self time of pass and step spans),
    * `spark.spill_mb` and `io.output_files` on the same per-pass basis. */
  def aggregate(spans: Seq[Span], jobs: Seq[JobRec], plans: Seq[PlanRec],
                passes: Set[Int]): Map[String, Double] = {
    val in = spans.filter(s => passes.contains(s.pass))
    val n = math.max(passes.size, 1).toDouble
    val self = Trace.selfTimes(in)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    in.foreach { s =>
      if (s.layer == Trace.BenchLayer) add("bench.gap_s", self(s.id) / 1e6)
      else {
        add(s"${s.layer}.wall_s", self(s.id) / 1e6)
        add(s"${s.layer}.calls", 1)
      }
    }
    val jobsBySpan = jobs.flatMap(j => Trace.owner(in, j.startMs).map(_ -> j)).groupBy(_._1)
    jobsBySpan.foreach { case (s, owned) =>
      val js = owned.map(_._2)
      val stages = js.flatMap(_.stages)
      add("spark.spill_mb", stages.map(_.spillBytes).sum / MB)
      if (s.layer != Trace.BenchLayer) {
        val m = s.layer
        add(s"$m.jobs", js.size)
        add(s"$m.tasks", stages.map(_.tasks).sum)
        add(s"$m.task_s", stages.map(_.runMs).sum / 1e3)
        add(s"$m.shuffle_write_mb", stages.map(_.shuffleWriteBytes).sum / MB)
        val active = Trace.unionLength(stages.map(st => (st.submitMs * 1000, st.endMs * 1000)),
          s.startUs, s.endUs)
        add(s"$m.driver_gap_s", (s.durUs - active) / 1e6)
      }
    }
    // module spans that started no job are all driver time
    in.filter(s => s.layer != Trace.BenchLayer && !jobsBySpan.contains(s))
      .foreach(s => add(s"${s.layer}.driver_gap_s", s.durUs / 1e6))
    plans.foreach { p =>
      Trace.owner(in, p.startMs).foreach { s =>
        if (s.layer != Trace.BenchLayer) add(s"${s.layer}.plan_ms", p.planMs.toDouble)
        add("io.output_files", p.outputFiles.toDouble)
      }
    }
    acc.toMap.map { case (k, v) => k -> v / n }
  }
}
