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
  * one count never overwrites another's.
  *
  * A run is one JVM that measures and does not judge: it starts no
  * child process and reads nothing an earlier run wrote, so two runs
  * on the same tree print the same key set. Comparing two trees is
  * `perfbench/`'s job (parent and change paired in one host window);
  * per-stage costs of one query come from `graft.Profile … stages`.
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
    val detailFile = s"bench_detail_c$cpus.json"
    val detailEntries = results.map { case (k, v, ok, gcS, mb) =>
      val warm = if (ok) r3(warmOf(k, v)) else "-1"
      // wall-vs-cpu witness: cpu of the cold run plus the min over this
      // query's warm reruns
      val cpu = cpuSecs.get(k).filter(_ >= 0).fold("")(c => s""","cpu":${r3(c)}""")
      val warmCpu = cpuSecs.collect {
        case (lbl, c) if c >= 0 && lbl.startsWith(s"$k(warm") => c
      }.reduceOption(_ min _).fold("")(c => s""","warm_cpu":${r3(c)}""")
      s""""$k":{"sec":${if (ok) r3(v) else "-1"},"warm":$warm,"gc":${r3(gcS)},"peak_mb":$mb$cpu$warmCpu}"""
    }
    // cold/warm ratios for the 5 cold-slowest stay first-class: they are
    // the attribution evidence for the cold numbers
    val rerun = coldOk.sortBy(-_._2).take(5)
      .map { case (name, cold, _, _, _) => (name, cold, warmOf(name, cold)) }
    val rerunJson = rerun.map { case (k, _, w) => s""""$k":${r3(w)}""" }.mkString("{", ",", "}")
    val ratioJson = rerun.map { case (k, c, w) =>
      s""""$k":${r3(c / math.max(1e-9, w))}""" }.mkString("{", ",", "}")
    val detail = detailEntries.mkString(
      s"""{"metric":"detail","sf":"$sfDir","cpus":$cpus,"gc_forced":$gcForced,"basis":"warm","cold_total":${r3(coldTotal)},"warm_total":${r3(warmTotal)},"warm_slowest":$rerunJson,"cold_over_warm":$ratioJson,"queries":{""",
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
    val head =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","basis":"warm","cold_total":${r3(coldTotal)},"warm_total":${r3(warmTotal)},"gc_sec":${r3(gcTotal)},"gc_forced":$gcForced,"failed":${failed.size},"sf":"$sfDir","detail":"$detailFile","warm_slowest":$rerunJson,"cold_over_warm":$ratioJson,"queries":{"""
    println(byCost.mkString(head, ",",
      s"""},"n_queries":${results.size},"omitted":0}"""))
    spark.stop()
  }
}
