package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps
  * `sbt test` fast; suites must not mutate global conf destructively).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Graft.session("local[4]", shufflePartitions = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // suite temp dirs swept at JVM exit (r15 audit: fixture dirs without
  // a try/finally had accreted 700+ orphans in /tmp across rounds)
  private val tmps = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val gcHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(
    () => tmps.forEach { p =>
      try org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
      catch { case _: Throwable => () }
    }, "spec-tmp-gc"))
  private[graft] def registerTemp(p: String): String = { gcHook; tmps.add(p); p }

  /** Object-level form for suites that do not extend [[SparkSpec]]. */
  def tempDir(prefix: String): String =
    registerTemp(java.nio.file.Files.createTempDirectory(prefix).toString)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  import org.apache.spark.sql.DataFrame

  /** Temp dir swept at JVM exit — for fixtures a test keeps no
    * `finally` around (crash-path tests, multi-test fixtures). */
  def tempDir(prefix: String): String =
    SparkSpec.registerTemp(java.nio.file.Files.createTempDirectory(prefix).toString)

  /** Quiet the storage/scheduler loggers around a block of work whose
    * async `unpersist(blocking = false)` releases can race an in-flight
    * lineage fetch — the recovered `BlockNotFoundException` ERROR
    * stacks are benign by construction (lineage recompute, adjudicated
    * r18 verdict #4-noise) but bury REAL errors in CI logs. Scoped and
    * restored, so genuine failures outside the block stay visible. */
  def quietStorageLogs[A](body: => A): A = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val names = Seq("org.apache.spark.storage",
      "org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager")
    val prev = names.map(n => n -> LogManager.getLogger(n).getLevel)
    names.foreach(n => Configurator.setLevel(n, Level.OFF))
    try body finally prev.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }

  /** `body`'s result and the number of Spark jobs it started, counted
    * by a listener between two drains of the listener bus. */
  def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.SpecListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.SpecListenerBus.drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** Order-insensitive full comparison of small frames. */
  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.sorted.toSeq == b.columns.sorted.toSeq,
      s"columns differ: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    val cols = a.columns.sorted.toIndexedSeq
    val as = a.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().map(_.toString).sorted
    val bs = b.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().map(_.toString).sorted
    assert(as.toSeq == bs.toSeq)
  }
}
