package graft

import scala.jdk.CollectionConverters._

/** Regenerate the COMMITTED scale curves (`scale_curves.json`) with one
  * command. The curve catches what neither the sf0.1 bench nor the
  * plan gate can: a plan-preserving constant-factor regression (e.g. a
  * lost artifact prune re-reading the corpus at 10× data). With the
  * curve committed, such a regression shows as a changed number in a
  * diff instead of needing the measurement protocol re-derived.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleCurves [sf01Dir] [sf1Dir] [reps]"
  *
  * Defaults (see `main`): the sf0.1 fixture, a `graft_sf1` dir, 3 reps —
  * min over 3 keeps the power to catch a 2× constant regression on the
  * JIT-dominated rows. If `sf1Dir` does not exist it is built first
  * with [[GenScale]] (10 disjoint-key copies of sf0.1 — the
  * corpus-growth scaling model).
  * Per (query, SF) the recorded figure is the MIN over reps in a
  * FRESH child JVM ([[isolatedSec]]'s `graft.Profile` spawn, 24 GiB
  * heap): measured in one long-lived JVM, the tail queries read
  * 4–8× slow — by the tenth query the heap carries every predecessor's
  * shuffle/cleaner debt (unpersist is async, the ContextCleaner lags)
  * and the biggest shuffles then run inside a GC storm that has
  * nothing to do with the plan being measured. One JVM per query
  * bounds that state; both SFs of a query still compare
  * identically-measured figures. Run on a quiet host.
  *
  * Output: `scale_curves.json` in the cwd, one entry per curve query:
  * `{"q": {"sf0.1": s, "sf1": s, "ratio": r}}`. A row whose 10× ratio
  * lands under [[JitFloorRatio]] additionally carries
  * `"jit_floor": true`: at that slope the sf0.1 figure is dominated by
  * fixed per-action JIT/startup cost, not by data (the lifecycle
  * queries run a dozen small actions each), so the RATIO of such a row
  * has little power against a constant-factor regression — read its
  * absolute sf1 number instead. `PlanAuditSpec` pins the committed
  * file to parse and name only registered queries.
  */
object ScaleCurves {

  /** 10×-data ratio below which a curve row is flagged `jit_floor`:
    * true data-linear work at 10× reads ≥ 2× even with perfect
    * scaling infrastructure amortization; under it, fixed overhead
    * owns the small decade. */
  val JitFloorRatio = 2.0

  /** The curve family: the slow/iterative queries whose scaling shape
    * SCALING.md tracks (index/dedup folds, iterative graph, the
    * linear-frontier 2-hop pair, and both ER forms — the capped
    * production variant and its uncapped exactness baseline). */
  val CurveQueries: Seq[String] = Seq(
    "q_dedup_index_lifecycle", "q_dedup_index_minhash",
    "q_label_prop_converged", "q_winnow_overlap", "q_pagerank",
    "q_cooccurrence_index", "q_er_blocked_capped", "q_er_blocked_pruned",
    "q_decontam_dedup_split", "q_decontam_dedup_split_sig",
    "q_neighborhood_sample",
    "q_neighborhood_agg", "q_neighborhood_paths", "q_er_blocked")

  val CurvesFile = "scale_curves.json"

  /** Parse a committed curves file: `name -> (sf0.1 sec, sf1 sec)`.
    * Regex-parsed (no JSON lib on the classpath);
    * corrupt/missing → empty. */
  def parse(txt: String): Map[String, (Double, Double)] =
    ("\"([A-Za-z0-9_]+)\"\\s*:\\s*\\{\\s*\"sf0\\.1\"\\s*:\\s*([0-9.]+)\\s*," +
      "\\s*\"sf1\"\\s*:\\s*([0-9.]+)").r
      .findAllMatchIn(txt)
      .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble))
      .toMap

  /** One curve figure: spawns `graft.Profile <q> <sfDir> <reps> time`
    * in a fresh JVM and returns the MIN of the printed reps, the cold
    * run included. The child gets this JVM's own input arguments
    * verbatim (module opens, `-D` confs), then `-Xmx<heapGb>g`, which
    * overrides any earlier `-Xmx`; this JVM's classpath made absolute;
    * tmpdir as cwd, so its metastore and derby files collide with
    * nobody's; and `SPARK_GRAFT_CPUS=cpus`. None on any spawn or parse
    * failure, on a child that prints no rep (an unknown query fails
    * `Profile`'s argument checks before any session exists), or after
    * `timeoutSec`. */
  private[graft] def isolatedSec(name: String, sfDir: String, cpus: Int, reps: Int,
                                 heapGb: Int = 24,
                                 timeoutSec: Long = 1800): Option[Double] =
    try {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      // the child runs from tmpdir, so relative classpath entries (a
      // plain `java -cp target/...` launch) must be made absolute
      val sep = java.io.File.pathSeparator
      val absCp = System.getProperty("java.class.path").split(sep)
        .filter(_.nonEmpty)
        .map(e => new java.io.File(e).getAbsolutePath)
        .mkString(sep)
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq(s"-Xmx${heapGb}g", "-cp", absCp,
        "graft.Profile", name, sfDir, reps.toString, "time")).toArray
      val pb = new ProcessBuilder(cmd: _*)
      pb.directory(new java.io.File(System.getProperty("java.io.tmpdir")))
      pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
      pb.redirectErrorStream(true)
      val p = pb.start()
      // drain stdout on its OWN thread: a to-EOF read on this thread
      // would block forever on a hung child, so the timeout could
      // never engage
      val rep = """\[profile\] \S+ run \d+: ([0-9.]+) s""".r
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val reader = new Thread(() =>
        try scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
          .getLines().foreach {
            case rep(s) => out.add(s.toDouble)
            case _ =>
          }
        catch { case scala.util.control.NonFatal(_) => () },
        s"curves-drain-$name")
      reader.setDaemon(true)
      reader.start()
      val done = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { p.destroyForcibly(); reader.join(2000); None }
      else {
        reader.join(10000) // stream closes with the exited process
        out.asScala.minOption
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[curves] spawn for $name failed: $e"); None
    }

  def main(args: Array[String]): Unit = {
    val sf01 = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val sf1 = args.lift(1).getOrElse("/tmp/graft_sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = Graft.cpus
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(sf1))) {
      println(s"[curves] $sf1 absent — building the 10x GenScale fixture first")
      GenScale.main(Array(sf01, sf1, "10"))
    }
    val rows = CurveQueries.filter(SparkEntry.queries.contains).flatMap { q =>
      val a = isolatedSec(q, sf01, cpus, reps)
      val b = isolatedSec(q, sf1, cpus, reps)
      (a, b) match {
        case (Some(x), Some(y)) =>
          val jit = if (y / x < JitFloorRatio) ", \"jit_floor\": true" else ""
          println(f"[curves] $q: sf0.1 $x%.2f s, sf1 $y%.2f s, ratio ${y / x}%.1fx$jit")
          Some(f""""$q": {"sf0.1": $x%.3f, "sf1": $y%.3f, "ratio": ${y / x}%.2f$jit}""")
        case _ =>
          println(s"[curves] $q: spawn failed (sf0.1=$a, sf1=$b) — omitted")
          None
      }
    }
    val json = rows.mkString("{\n  ", ",\n  ", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(CurvesFile), json)
    println(s"[curves] wrote $CurvesFile (${rows.size} queries)")
  }
}
