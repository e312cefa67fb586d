package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

import graft.io.Readers

/** Benchmark main. Prints per-query diagnostics to stderr and a
  * bench-detail JSON file, then ONE JSON line to stdout as the driver
  * contract, carrying the COMPLETE per-query warm map. The map is
  * sorted by descending cost so a tail-windowed reader still sees the
  * expensive queries first; the full detail lives in
  * `bench_detail_c<cpus>.json`, one file per core count so a run at
  * one count never overwrites (or adjudicates against) another's.
  */
object Bench {

  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  private val heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def peakHeapMb: Long =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024 * 1024)

  /** Trimmed fixed-point: 1.260 -> "1.26", 0.500 -> "0.5", 12.000 -> "12.0". */
  private def r3(v: Double): String = {
    val s = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.stripTrailingZeros.toPlainString
    if (s.contains('.')) s else s + ".0"
  }

  /** The warm-pass queries given a fresh-JVM isolated spawn every run,
    * heaviest first; `robust_total` takes min(warm, isolated) for them. */
  private val HeavyIso = 10

  /** Per-query WARM numbers from the detail file the previous run at
    * this core count left behind — the self-adjudication baseline.
    * Parsed with a scan for `"<name>":{...,"warm":X` instead of a JSON
    * lib (none on the classpath); a missing/corrupt file just disables
    * adjudication for the run. */
  private[graft] def priorWarms(path: String): Map[String, Double] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      // whitespace-tolerant: the file may have been pretty-printed by
      // an external tool between runs
      val q = """"([A-Za-z0-9_()]+)"\s*:\s*\{\s*"sec"\s*:[^}]*?"warm"\s*:\s*(-?[0-9.]+)""".r
      q.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble)
        .filter(_._2 > 0).toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Verdict on a drifted query: its fresh-JVM isolated figure is
    * judged against the PRIOR run's warm, not this run's warm. A fresh
    * JVM is almost always at or below the in-suite warm, so an
    * `iso <= warm` rule would label a confirmed regression (prior 1.0 s,
    * warm 2.0 s, iso 1.9 s) suite noise and make `regressed?`
    * unreachable. `iso <= prior·1.2`: the isolated figure still matches
    * the prior run, so the drift was a suite-order effect; above that,
    * the plan or a constant factor regressed. */
  private[graft] def driftVerdict(iso: Double, priorWarm: Double): String =
    if (iso < 0) "spawn-failed"
    else if (iso <= priorWarm * 1.2) "suite-noise(prior)"
    else "regressed?"

  /** FRESH-JVM isolation re-measure of one query: spawns
    * `graft.Profile <q> <sfDir> <reps> time` with this JVM's classpath
    * and module-opens flags, cwd in tmp (no metastore/derby collision
    * with the running suite), and returns the MIN of the printed reps —
    * the settled-plan figure, cold run included (a valid observation
    * that can only tighten the min). None on any spawn/parse failure
    * or timeout: adjudication must never fail the bench. */
  private[graft] def isolatedSec(name: String, sfDir: String, cpus: Int,
                                 reps: Int = 3, heapGb: Int = 8,
                                 timeoutSec: Long = 600): Option[Double] =
    try {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      // --add-opens may arrive as one joined argv entry or as a
      // flag+value pair depending on the launcher; normalize both,
      // and fall back to the documented Spark-on-JDK17 set if the
      // launcher exposed none (e.g. a custom harness)
      val argv = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toList
      val fromPairs = argv.zip(argv.drop(1)).collect {
        case (f @ ("--add-opens" | "--add-exports"), v) if v.contains("/") =>
          Seq(f, v)
      }.flatten
      val fromJoined = argv.filter(a => (a.startsWith("--add-opens=") ||
        a.startsWith("--add-exports=")) && a.contains("/"))
        .flatMap(_.split("=", 2) match { case Array(k, v) => Seq(k, v) })
      val opensArgs: Seq[String] =
        if (fromPairs.nonEmpty || fromJoined.nonEmpty) fromPairs ++ fromJoined
        else Seq(
          "java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar"
        ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      // the child runs from tmpdir, so RELATIVE classpath entries (a
      // plain `java -cp target/...:... graft.Bench` launch) must be
      // absolutized or the child dies with ClassNotFound
      val sep = java.io.File.pathSeparator
      val absCp = System.getProperty("java.class.path").split(sep)
        .filter(_.nonEmpty)
        .map(e => new java.io.File(e).getAbsolutePath)
        .mkString(sep)
      val cmd = (Seq(javaBin) ++ opensArgs ++ Seq(
        s"-Xmx${heapGb}g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", absCp,
        "graft.Profile", name, sfDir, reps.toString, "time")).toArray
      val pb = new ProcessBuilder(cmd: _*)
      pb.directory(new java.io.File(System.getProperty("java.io.tmpdir")))
      pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
      pb.redirectErrorStream(true)
      val p = pb.start()
      // drain stdout on its OWN thread: a to-EOF read on this thread
      // would block forever on a hung child, so the timeout/
      // destroyForcibly path could never engage — one stuck spawn
      // would hang the whole bench
      val rep = """\[profile\] \S+ run \d+: ([0-9.]+) s""".r
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val reader = new Thread(() =>
        try scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
          .getLines().foreach {
            case rep(s) => out.add(s.toDouble)
            case _ =>
          }
        catch { case scala.util.control.NonFatal(_) => () },
        s"bench-iso-drain-$name")
      reader.setDaemon(true)
      reader.start()
      val done = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { p.destroyForcibly(); reader.join(2000); None }
      else {
        reader.join(10000) // stream closes with the exited process
        out.asScala.minOption
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] isolation spawn for $name failed: $e"); None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Graft.cpus
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    // JIT/codegen warmup outside the timed section: exercise the scan,
    // shuffle (groupBy), broadcast-join, and window machinery once on a
    // tiny table so the first timed query doesn't absorb ~2s of JVM
    // warmup that belongs to no operator
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val region = Readers.parquet(spark, s"$sfDir/region.parquet")
      val nation = Readers.parquet(spark, s"$sfDir/nation.parquet")
      nation.join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("r_name"))))
        .write.format("noop").mode("overwrite").save()
      // touch each big table's footer + first row group once, so the
      // first query over a table is charged for its PLAN, not for
      // footer parsing that every suite pays exactly once anyway
      for (t <- Seq("lineitem", "orders", "customer", "part", "supplier",
        "events", "documents", "embeddings"))
        try Readers.parquet(spark, s"$sfDir/$t.parquet").limit(1).collect()
        catch { case _: Throwable => }
      // the fused per-row kernels (shingles, minhash, simhash, text
      // counts, md5 tier, dot products) JIT-compile on first use;
      // without this the alphabetically-first text/dedup query absorbs
      // every kernel's codegen+JIT cost (measured: q_curation 22.9 s
      // in-bench vs 3.4 s warm). A 256-doc slice compiles the same
      // generated code the sf-scale queries run.
      {
        import graft.dedup.DedupOps
        import graft.text.TextOps
        val docs = Readers.parquet(spark, s"$sfDir/documents.parquet")
          .limit(256).select("doc_id", "text").persist()
        docs.select(
          DedupOps.minhashSignature(DedupOps.wordShingles(col("text"), 3), 16, portable = true),
          DedupOps.minhashSignature(DedupOps.wordShingles(col("text"), 3), 16),
          DedupOps.simhash(col("text"), 16, portable = true),
          TextOps.fingerprint(col("text")),
          TextOps.tokenCount(col("text")))
          .write.format("noop").mode("overwrite").save()
        TextOps.qualityScore(docs, "text")
          .write.format("noop").mode("overwrite").save()
        // jaccard path: shingle explode → two windows → self-join → agg
        DedupOps.ngramJaccardPairs(docs, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
        // the curation COMPOSITION generates its own fused codegen
        // stages (quality+fingerprint+window over a union, anti-join +
        // token count) distinct from the per-family classes above
        // (q_curation measured 4.4 s cold vs 1.5 s warm with every
        // family individually warmed). Compile the composed shape itself.
        locally {
          val doubled = docs.unionByName(
            docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
          val dd = DedupOps.exactDedup(TextOps.qualityScore(doubled, "text"),
            "text", Seq(col("doc_id").asc))
            .select("doc_id", "text", "quality_score").persist()
          val dr = DedupOps.ngramJaccardPairs(dd, "doc_id", "text",
            shingleN = 3, threshold = 0.6)
            .select(col("id_b").as("doc_id")).distinct()
          dd.join(dr, Seq("doc_id"), "left_anti")
            .where(col("quality_score") >= 0.4)
            .select(col("doc_id"),
              TextOps.tokenCount(col("text")).cast(org.apache.spark.sql.types.LongType)
                .as("n_tokens"), col("quality_score"))
            .write.format("noop").mode("overwrite").save()
          dd.unpersist()
        }
        // transitive-groups family: the alphabetically-first dedup
        // query otherwise absorbs the banded collect_list buckets,
        // pair-struct explode, connected-components and group-assembly
        // codegen — compile them here
        DedupOps.nearDupGroups(docs, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
        DedupOps.minhashDupGroups(docs, "doc_id", "text", k = 16, bands = 8,
          portable = true)
          .write.format("noop").mode("overwrite").save()
        // index-lifecycle queries pay the parquet WRITE path (committer
        // + encoder codegen) on first touch; compile it on a throwaway
        // index, then the cross-corpus dedup read path against it
        locally {
          // best-effort INCLUDING the tmp-dir creation (a full /tmp must
          // degrade to an unwarmed bench, not kill it); cleanup in finally
          var wtmp: java.io.File = null
          try {
            wtmp = java.nio.file.Files.createTempDirectory("graft_warm").toFile
            val idx = wtmp.getAbsolutePath + "/idx"
            DedupOps.writeDedupIndex(docs.limit(64), idx, "doc_id", "text",
              portable = true)
            val surv = DedupOps.dedupAgainstIndex(docs.limit(32), idx,
              "doc_id", "text", portable = true)
            DedupOps.appendToDedupIndex(surv, idx, "doc_id", "text", tag = "warm",
              portable = true)
          } catch { case scala.util.control.NonFatal(_) => // warmup is best-effort
          } finally if (wtmp != null) org.apache.commons.io.FileUtils.deleteQuietly(wtmp)
        }
        docs.unpersist()
        // event-analytics family: chained cumulative-min windows +
        // last(ignoreNulls) + per-user collapse compile one shared
        // codegen shape; first-hit it on a 512-event slice
        locally {
          val ev = Readers.parquet(spark, s"$sfDir/events.parquet").limit(512)
            .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
          graft.analytics.EventAnalytics.funnel(ev, "user_id", "ts",
            "event_type", Seq("view", "click"), "event_id")
            .write.format("noop").mode("overwrite").save()
          graft.analytics.EventAnalytics.attribution(ev, "user_id", "ts",
            "event_type", Seq("view"), "purchase", "event_id")
            .write.format("noop").mode("overwrite").save()
        }
        val emb = Readers.parquet(spark, s"$sfDir/embeddings.parquet").limit(64)
        graft.similarity.SimilarityOps.bruteForceTopK(
          emb.limit(4), emb, "vec_id", "vec_id", "embedding", k = 3)
          .write.format("noop").mode("overwrite").save()
        // exact-decimal aggregation codegen (every oracle-parity sum
        // uses it; q1_agg, alphabetically first over lineitem, was
        // absorbing its JIT)
        Readers.parquet(spark, s"$sfDir/lineitem.parquet").limit(20000)
          .groupBy("l_returnflag")
          .agg(sum(col("l_quantity").cast("decimal(20,4)")),
            avg(col("l_extendedprice")), count(lit(1)))
          .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      }
    } catch { case e: Throwable =>
      // warmup stays best-effort, but a silent failure makes cold
      // numbers unattributable: a cold figure means nothing without
      // knowing whether warmup ran
      System.err.println(s"[bench] WARMUP FAILED (degrading to unwarmed): $e")
    }
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var gcForced = 0
    // per-run process CPU: a query whose wall time is far above its
    // CPU time ran on stolen cores, i.e. that run was contended
    def procCpuNanos: Long =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
        case _ => -1L
      }
    val cpuSecs = scala.collection.mutable.Map.empty[String, Double]
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
    : (String, Double, Boolean, Double, Long) = {
      // operators that persist intermediates (LSH/jaccard) must not
      // bleed storage pressure into later queries
      spark.catalog.clearCache()
      // ...and neither must RDD-level residue clearCache can't see:
      // iterative operators leave their final persisted frame (CC's
      // fixpoint, PageRank's last state) and Materialize.bounded
      // leaves local-checkpoint blocks — across 193 queries that
      // accumulates into storage pressure charged to whoever runs
      // late in the suite. Queries are independent, so dropping ALL
      // persistent RDDs between them is safe.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // heap-pressure settle: a suite this long can enter a query with
      // the old-gen nearly full, and the victim query then absorbs a
      // full collection that belongs to its predecessors — collect
      // BETWEEN queries instead so each timing starts clean
      val h = mem.getHeapMemoryUsage
      if (h.getMax > 0 && h.getUsed.toDouble / h.getMax > 0.6) {
        System.gc(); gcForced += 1
      }
      resetPeaks()
      val gc0 = gcMillis
      val cpu0 = procCpuNanos
      val t0 = System.nanoTime()
      // noop sink materializes every output column (count() would let
      // Catalyst prune projection-only queries down to metadata reads)
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcMillis - gc0) / 1e3
      val cpuSec = if (cpu0 < 0) -1.0 else (procCpuNanos - cpu0) / 1e9
      cpuSecs(name) = cpuSec
      val peakMb = peakHeapMb
      System.err.println(f"[bench] $name%-28s ${sec}%8.3f s  gc ${gcSec}%6.3f s  " +
        f"cpu ${cpuSec}%7.2f s  peak ${peakMb}%6d MB")
      (name, sec, ok, gcSec, peakMb)
    }
    val queryMap = SparkEntry.queries
    val results = queryMap.toSeq.sortBy(_._1).map { case (name, fn) => runOne(name, fn) }
    // FULL WARM PASS: the cold pass books JIT/page-cache/host-contention
    // first-hit costs against whichever query runs first over a shape
    // (measured: q1_agg 17.8 s in-bench vs 0.91 s warm — a trivial agg),
    // and per-shape warmup cannot close that gap. So the suite runs
    // twice and the WARM total is the headline metric: warm numbers
    // measure the PLANS, cold numbers (secondary fields + the detail
    // file) measure suite startup. Queries under 1 s cold skip the rerun
    // (their attribution noise is bounded by 1 s; skipping keeps the
    // second pass cheap); the 5 slowest get two warm runs and the MIN is
    // taken — a single rerun is itself exposed to contention.
    val coldOk = results.filter(_._3)
    val slowest5 = coldOk.sortBy(-_._2).take(5).map(_._1).toSet
    val warmRuns: Map[String, Double] = coldOk
      .filter { case (name, cold, _, _, _) => cold >= 1.0 || slowest5(name) }
      .map { case (name, cold, _, _, _) =>
        // a failed warm run must not enter the min — fall back to cold.
        // ≥2.5s-cold queries get two reruns, not just the top-5: the
        // composed shapes need TWO warm executions to reach steady
        // state, and one rerun books the half-warmed middle as "warm"
        val reps = if (slowest5(name) || cold >= 2.5) 2 else 1
        val warms = (1 to reps)
          .map(i => runOne(s"$name(warm$i)", queryMap(name)))
          .collect { case (_, sec, true, _, _) => sec }
        name -> (if (warms.nonEmpty) warms.min else Double.MaxValue)
      }.filterNot(_._2 == Double.MaxValue).toMap
    // best-observed cost: cold is a valid observation too, so warm(q)
    // can never exceed cold(q) — a contended rerun reports the cold figure
    def warmOf(name: String, cold: Double): Double =
      math.min(cold, warmRuns.getOrElse(name, cold))
    // a failed query must not read as a fast success: sentinel -1
    val failed = results.filterNot(_._3).map(_._1)
    val coldTotal = coldOk.map(_._2).sum
    val warmTotal = coldOk.map { case (n, c, _, _, _) => warmOf(n, c) }.sum
    val total = warmTotal + failed.size * 1e6 // failures poison the total
    val gcTotal = results.map(_._4).sum
    // SELF-ADJUDICATING DRIFT PASS: any query whose warm exceeds the
    // prior run's warm at this core count by >1.15× AND >0.25 s gets a
    // trailing fresh-JVM isolation re-measure, published as
    // prior_warm/isolated/verdict so a reader gets the attribution
    // instead of re-deriving it. Capped at the 8 largest (each spawn
    // costs a JVM+session boot); the deferred rest is printed to stderr.
    // No detail file at this core count → no prior → nothing drifts.
    val detailFile = s"bench_detail_c$cpus.json"
    val prior = priorWarms(detailFile)
    val drifted = coldOk.flatMap { case (n, c, _, _, _) =>
      val w = warmOf(n, c)
      prior.get(n).collect {
        case pw if w > pw * 1.15 && w - pw > 0.25 => (n, w, pw)
      }
    }.sortBy { case (_, w, pw) => -(w - pw) }
    if (drifted.size > 8)
      System.err.println(s"[bench] ${drifted.size} drifts; adjudicating top 8, " +
        s"deferred: ${drifted.drop(8).map(_._1).mkString(",")}")
    // HEAVY-QUERY UNCONDITIONAL ISOLATION: the heaviest warm queries
    // dominate the total, so sub-trigger contention on them would ride
    // robust_total unseen. The top HeavyIso by warm cost get ONE
    // fresh-JVM spawn every run; queries already in the drift pass are
    // not spawned twice.
    val adjNames = drifted.take(8).map(_._1).toSet
    val heavyPlanned = coldOk
      .map { case (n0, c, _, _, _) => (n0, warmOf(n0, c)) }
      .sortBy(-_._2).take(HeavyIso)
      .filterNot { case (n0, _) => adjNames.contains(n0) }
    // ISOLATION AFTER SUITE SHUTDOWN: beside a still-resident suite
    // session, memory/page-cache pressure can push an isolated figure
    // ABOVE the in-suite warm and adjudicate nothing. Stop the suite
    // session and settle the heap before the first spawn; the spawned
    // JVM then owns the host.
    if (drifted.nonEmpty || heavyPlanned.nonEmpty) { spark.stop(); System.gc() }
    val adjudicated: Map[String, (Double, Double, Double, String)] =
      drifted.take(8).map { case (n, w, pw) =>
        System.err.println(f"[bench] drift $n: warm ${w}%.3f vs prior ${pw}%.3f — isolating")
        val iso1 = isolatedSec(n, sfDir, cpus).getOrElse(-1.0)
        // a `regressed?` label needs TWO independent spawns: decode-/
        // IO-bound queries show ±30% spawn-to-spawn variance. The second
        // spawn only runs for would-be regressions, so the common
        // suite-noise path stays one spawn cheap.
        val iso =
          if (driftVerdict(iso1, pw) != "regressed?") iso1
          else {
            val iso2 = isolatedSec(n, sfDir, cpus).getOrElse(-1.0)
            System.err.println(f"[bench] drift $n: regressed? on spawn 1 " +
              f"(${iso1}%.3f) — confirming spawn 2: ${iso2}%.3f")
            if (iso2 < 0) iso1 else math.min(iso1, iso2)
          }
        val verdict = driftVerdict(iso, pw)
        System.err.println(f"[bench] drift $n: isolated ${iso}%.3f s — $verdict")
        n -> (pw, w, iso, verdict)
      }.toMap
    // one isolated figure per heavy query (failures drop silently —
    // robust_total just keeps the warm figure)
    val heavyIso: Map[String, Double] = heavyPlanned.flatMap { case (n0, w) =>
      System.err.println(f"[bench] heavy $n0: warm ${w}%.3f — unconditional isolation")
      isolatedSec(n0, sfDir, cpus).filter(_ >= 0).map(n0 -> _)
    }.toMap
    // CONTENTION-ROBUST headline: warm_total embeds whatever in-suite
    // co-tenant bursts hit the run, so comparing it across runs
    // conflates plan changes with host weather. robust_total substitutes
    // min(warm, isolated) wherever an isolated figure was measured —
    // both are valid observations of the same plan; the min is the
    // least-contended. Residual sub-1.15× contention rides only in the
    // light tail, bounded by construction to 15% of a small per-query
    // cost.
    val robustTotal = coldOk.map { case (n, c, _, _, _) =>
      val w = warmOf(n, c)
      val iso = adjudicated.get(n).collect { case (_, _, i, _) if i >= 0 => i }
        .orElse(heavyIso.get(n))
      iso.fold(w)(i => math.min(w, i))
    }.sum
    val detailEntries = results.map { case (k, v, ok, gcS, mb) =>
      val warm = if (ok) r3(warmOf(k, v)) else "-1"
      val adj = adjudicated.get(k).fold("") { case (pw, _, iso, verdict) =>
        s""","prior_warm":${r3(pw)},"isolated":${if (iso >= 0) r3(iso) else "-1"}""" +
          s""","verdict":"$verdict"""" }
      // wall-vs-cpu witness: cpu of the cold run plus the min over this
      // query's warm reruns
      val cpu = cpuSecs.get(k).filter(_ >= 0).fold("")(c => s""","cpu":${r3(c)}""")
      val warmCpu = cpuSecs.collect {
        case (lbl, c) if c >= 0 && lbl.startsWith(s"$k(warm") => c
      }.reduceOption(_ min _).fold("")(c => s""","warm_cpu":${r3(c)}""")
      s""""$k":{"sec":${if (ok) r3(v) else "-1"},"warm":$warm,"gc":${r3(gcS)},"peak_mb":$mb$cpu$warmCpu$adj}"""
    }
    // cold/warm ratios for the 5 cold-slowest stay first-class: they are
    // the attribution evidence for the cold numbers
    val rerun = coldOk.sortBy(-_._2).take(5)
      .map { case (name, cold, _, _, _) => (name, cold, warmOf(name, cold)) }
    val rerunJson = rerun.map { case (k, _, w) => s""""$k":${r3(w)}""" }.mkString("{", ",", "}")
    val ratioJson = rerun.map { case (k, c, w) =>
      s""""$k":${r3(c / math.max(1e-9, w))}""" }.mkString("{", ",", "}")
    // the verdict LABEL rides in every artifact, so no reader has to
    // re-derive it from stderr
    val adjJson = adjudicated.toSeq.sortBy(_._1).map { case (k, (pw, w, iso, verdict)) =>
      s""""$k":{"prior":${r3(pw)},"warm":${r3(w)},"isolated":${if (iso >= 0) r3(iso) else "-1"}""" +
        s""","verdict":"$verdict"}"""
    }.mkString("{", ",", "}")
    val regressed = adjudicated.collect {
      case (k, (_, _, _, "regressed?")) => k }.toSeq.sorted
    if (regressed.nonEmpty)
      System.err.println("[bench] ATTENTION: unresolved regressed? verdicts: " +
        regressed.mkString(", ") + " — adjudicate before accepting this run's numbers")
    val heavyJson = heavyIso.toSeq.sortBy(_._1)
      .map { case (k, i) => s""""$k":${r3(i)}""" }.mkString("{", ",", "}")
    val detail = detailEntries.mkString(
      s"""{"metric":"detail","sf":"$sfDir","cpus":$cpus,"gc_forced":$gcForced,"basis":"warm","cold_total":${r3(coldTotal)},"warm_total":${r3(warmTotal)},"robust_total":${r3(robustTotal)},"heavy_iso":$heavyJson,"warm_slowest":$rerunJson,"cold_over_warm":$ratioJson,"adjudicated":$adjJson,"queries":{""",
      ",", "}}")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailFile), detail.getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed ($detailFile): $e") }
    // detail line first: if a tail window clips anything, it clips this
    println(detail)
    // final contract line: the COMPLETE per-query warm map. Descending
    // cost keeps the expensive queries visible to any tail-windowed
    // reader; failures report -1, never a fast success.
    val byCost = results
      .map { case (k, v, ok, _, _) => (k, if (ok) warmOf(k, v) else -1.0, ok) }
      .sortBy { case (_, w, ok) => (if (ok) 0 else -1, -w) }
      .map { case (k, w, ok) => s""""$k":${if (ok) r3(w) else "-1"}""" }
    val regressedJson = regressed.map(q => s""""$q"""").mkString("[", ",", "]")
    val head =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","basis":"warm","cold_total":${r3(coldTotal)},"warm_total":${r3(warmTotal)},"robust_total":${r3(robustTotal)},"gc_sec":${r3(gcTotal)},"gc_forced":$gcForced,"failed":${failed.size},"regressed":$regressedJson,"sf":"$sfDir","detail":"$detailFile","warm_slowest":$rerunJson,"cold_over_warm":$ratioJson,"adjudicated":$adjJson,"queries":{"""
    println(byCost.mkString(head, ",",
      s"""},"n_queries":${results.size},"omitted":0}"""))
    spark.stop()
  }
}
