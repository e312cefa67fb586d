package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.Graft

/** The client side of one run: one sequential client thread, step and
  * span timers around every call into an engine module. */
final class Bench(val spark: SparkSession, val work: File, val traced: Boolean) {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  /** Epoch microseconds from the monotonic clock (comparable with Spark's event times). */
  def nowUs: Long = anchorMs * 1000 + (System.nanoTime() - anchorNs) / 1000

  val spans = new SpanLog(() => nowUs)
  var attempted = 0
  var failed = 0
  /** (pass, step name, seconds) of every step. */
  val steps = mutable.ArrayBuffer.empty[(Int, String, Double)]
  /** (pass, cached RDD blocks still held when a step returned). */
  val pinned = mutable.ArrayBuffer.empty[(Int, Long)]

  /** A call into an engine module; a span of that layer in a traced run. */
  def call[T](layer: String, fn: String)(body: => T): T =
    if (traced) spans(fn, layer)(body) else body

  /** One unit the user waits on. A throwing step counts as failed. */
  def step(name: String)(body: => Unit): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try call(Trace.BenchLayer, name)(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] step $name failed: $e")
        e.printStackTrace()
    }
    steps += ((spans.pass, name, (System.nanoTime() - t0) / 1e9))
    release()
  }

  /** Count the cached blocks a step left behind, then drop them, so every
    * step starts from the same storage state. */
  private def release(): Unit = {
    val sc = spark.sparkContext
    pinned += ((spans.pass, sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum))
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** Peak live heap: the largest heap occupancy left after any garbage
  * collection between construction and [[stop]], which ends with one
  * full collection so every run has at least one sample. Occupancy just
  * before a collection mostly measures the young generation's size, so
  * it is not used. */
final class LiveHeap {
  private val peak = new AtomicLong(0L)
  @volatile private var on = true
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, (a, b) => math.max(a, b))
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Long = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    on = false
    emitters.foreach(_.removeNotificationListener(listener))
    math.max(peak.get(), mem)
  }
}

/** Runs one workload in this JVM and prints its figures as the last line
  * of standard output (`PERFBENCH_RESULT {...}`). `run.py` launches it;
  * see README.md for the options. */
object Main {
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = new File(opts("work"))
    work.mkdirs()
    val k = math.min(4, Runtime.getRuntime.availableProcessors())
    Graft.coreTune()
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    Graft.tune(spark)
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")
    System.out.flush()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, opts, work) finally spark.stop()
  }

  private def run(spark: SparkSession, opts: Map[String, String], work: File): Unit = {
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.get("trace").contains("1")
    val w = Workloads(opts("workload"), seed)
    val b = new Bench(spark, work, traced)
    val collector = new Collector
    if (traced) {
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(collector)
    }

    val heap = new LiveHeap
    val jit0 = jitMs()
    val codegen0 = CodeGenerator.compileTime

    def onePass(p: Int): Double = {
      w.reset(b, p)
      b.spans.pass = p
      val t0 = System.nanoTime()
      b.call(Trace.BenchLayer, s"pass$p")(w.pass(b, p))
      (System.nanoTime() - t0) / 1e9
    }
    val cold = onePass(0)
    val gcWarm0 = gcMs()
    val warm = (1 to math.max(2, math.round(seconds / w.passS).toInt)).map(onePass)
    val gcWarmS = (gcMs() - gcWarm0) / 1e3
    val peakLive = heap.stop()
    val jitMsRun = (jitMs() - jit0).toDouble
    val codegenMs = (CodeGenerator.compileTime - codegen0) / 1e6

    val problems = w.check(b)
    problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val warmSteps = b.steps.filter(_._1 >= 1).toSeq
    val stepMedians = Stats.perStep(warmSteps.map(s => (s._2, s._3)))
    val tail = Stats.tail(warmSteps.map(_._3))
    val spaceAmp = w.atRestBytes(b).toDouble / w.inputBytes(b)
    val warmPasses = (1 to warm.size).toSet

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      metrics("cold_s") = (cold, "s")
      metrics("warm_s") = (Stats.median(warm), "s")
      metrics("step_p50_s") = (Stats.median(stepMedians.map(_._2)), "s")
      metrics("step_p90_s") = (tail.value, "s")
      metrics("space_amp") = (spaceAmp, "ratio")
    } else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val spans = b.spans.spans
      val layer = Layers.aggregate(spans, collector.jobs, collector.plans, warmPasses)
      Layers.all.foreach { case (name, unit) => metrics(name) = (layer.getOrElse(name, 0.0), unit) }
      metrics("spark.codegen_ms") = (codegenMs, "ms")
      metrics("jvm.jit_ms") = (jitMsRun, "ms")
      metrics("jvm.gc_s") = (gcWarmS / warm.size, "s")
      metrics("storage.pinned_blocks") =
        (b.pinned.filter(_._1 >= 1).map(_._2).sum.toDouble / warm.size, "count")
      metrics("trace.warm_s") = (Stats.median(warm), "s")
      metrics("peak_heap_mb") = (peakLive / (1024.0 * 1024.0), "MB")
      val out = new File(opts("spans"))
      out.getParentFile.mkdirs()
      Files.write(out.toPath, spans.map(_.toJson).asJava, StandardCharsets.UTF_8)
    }
    val info = Json.obj(Seq(
      "cold_s" -> Json.num(cold),
      "warm_passes" -> warm.map(Json.num).mkString("[", ",", "]"),
      "warm_steps" -> warmSteps.size.toString,
      "step_median_s" -> Json.obj(stepMedians.map { case (n, v) => n -> Json.num(v) }),
      "step_tail_percentile" -> Json.num(tail.percentile),
      "step_tail_beyond" -> tail.beyond.toString,
      "space_amp" -> Json.num(spaceAmp),
      "check_failures" -> problems.map(p => "\"" + Json.esc(p) + "\"").mkString("[", ",", "]")))
    val result = Json.obj(Seq(
      "attempted" -> b.attempted.toString,
      "failed" -> math.min(b.attempted, b.failed + problems.size).toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> s""""$u""""))
      }),
      "info" -> info))
    println(s"PERFBENCH_RESULT $result")
    System.out.flush()
  }
}
