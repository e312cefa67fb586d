package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.extract.Extract
import graft.io.Readers
import graft.merge.Merge
import graft.meta.MetaOps
import graft.pipeline.Pipeline

class MiscSpec extends SparkSpec {
  import spark.implicits._

  test("partitionKey formats the hive-style path per granularity") {
    val dt = LocalDateTime.of(2024, 3, 7, 5, 9, 2)
    assert(MetaOps.partitionKey(dt) == "year=2024/month=03/day=07/")
    assert(MetaOps.partitionKey(dt, "hour") == "year=2024/month=03/day=07/hour=05/")
    assert(MetaOps.partitionKey(dt, "second") ==
      "year=2024/month=03/day=07/hour=05/minute=09/second=02/")
    intercept[IllegalArgumentException](MetaOps.partitionKey(dt, "week"))
  }

  test("withPartitionColumns derives year/month/day for partitioned writes") {
    val df = Seq(java.sql.Timestamp.valueOf("2024-03-07 05:09:02")).toDF("ts")
    val out = MetaOps.withPartitionColumns(df, "ts")
    assert(out.select("year", "month", "day").as[(String, String, String)].head() ==
      (("2024", "03", "07")))
  }

  test("listFiles: type/size filters, empty-file toggle, unquoted absolute paths") {
    val dir = java.nio.file.Paths.get(tempDir("graft_listing"))
    def touch(name: String, bytes: Int): Unit =
      Files.write(dir.resolve(name), Array.fill[Byte](bytes)(1))
    touch("a.csv", 10)
    touch("b.parquet", 10)
    touch("empty.csv", 0)
    touch("report 2024.csv", 5) // space → %20 in the Hadoop path URI
    val base = dir.toString

    val all = graft.io.Readers.listFiles(spark, base)
    assert(all.size == 4)
    assert(all.forall(_.startsWith("file:")), "paths must be absolute URIs")
    // unquote: the space survives, no %20 leaks to the caller
    assert(all.exists(_.endsWith("report 2024.csv")))
    assert(!all.exists(_.contains("%20")))

    val csvs = graft.io.Readers.listFiles(spark, base, fileType = Some("csv"))
    assert(csvs.size == 3)
    val nonEmpty = graft.io.Readers.listFiles(spark, base, fileType = Some("csv"),
      includeEmpty = false)
    assert(nonEmpty.size == 2 && !nonEmpty.exists(_.contains("empty")))
    val big = graft.io.Readers.listFiles(spark, base, minBytes = 5)
    assert(big.size == 2) // strictly bigger than 5
    assert(graft.io.Readers.listFiles(spark, base, maxFiles = 2).size == 2)
    assert(graft.io.Readers.listFiles(spark, s"$base/missing").isEmpty)
  }

  test("downloadToLocal copies a file byte-identically") {
    val dir = java.nio.file.Paths.get(tempDir("graft_dl"))
    val src = dir.resolve("src.bin")
    Files.write(src, Array[Byte](1, 2, 3, 4, 5))
    val dst = dir.resolve("dst.bin").toString
    val out = graft.io.Readers.downloadToLocal(spark, src.toString, dst)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(java.nio.file.Paths.get(out)), Array[Byte](1, 2, 3, 4, 5)))
  }

  test("rangeBatches slices by contiguous key ranges, covers all rows") {
    val df = spark.range(0, 100).toDF("id")
    val batches = Extract.rangeBatches(df, "id", batchSize = 30).toSeq
    assert(batches.map(_.count()).sum == 100)
    assert(batches.size >= 3)
    assert(Extract.rangeBatches(df.where(lit(false)), "id", 10).isEmpty)
  }

  test("pipeline spec runs source → steps → upsert target as one job") {
    val base = tempDir("graft_pipe")
    val srcDir = s"$base/src"
    val targetDir = s"$base/target"
    Seq((1L, "nan", "2020-01-01 00:00:00"), (2L, "keep", "1700-01-01 00:00:00"))
      .toDF("id", "s", "ts").write.parquet(srcDir)

    val spec = Pipeline.Spec(
      task = "t",
      source = Pipeline.ParquetSource(srcDir, Some(StructType(Seq(
        StructField("id", LongType), StructField("s", StringType),
        StructField("ts", TimestampNTZType))))),
      steps = Seq(
        Pipeline.NanToNull,
        Pipeline.CleanOldDates(Seq("ts")),
        Pipeline.Custom(_.withColumn("doubled", col("id") * 2))),
      target = Pipeline.Target(targetDir, Merge.Upsert(Seq("id"))),
      executionDate = LocalDateTime.of(2024, 1, 1, 0, 0))

    spec.run(spark)
    val out = Merge.readTarget(spark, targetDir)
    assert(out.count() == 2)
    assert(out.columns.contains(MetaOps.FileName)) // META attached
    assert(out.where(col("s") === "nan").count() == 0) // cleaned
    assert(out.where(col("id") === 2).select("ts").head().get(0).toString
      .startsWith("1900-01-01")) // clamped
    assert(out.where(col("id") === 1).select("doubled").as[Long].head() == 2L)

    spec.run(spark) // idempotent re-run (same keys upserted)
    assert(Merge.readTarget(spark, targetDir).count() == 2)
  }

  test("approx group quantiles: same shape as exact, bounded divergence") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val exact = Extract.groupQuantiles(docs, Seq("lang"), "n_chars", Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val approx = Extract.groupQuantilesApprox(docs, Seq("lang"), "n_chars", Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(approx.keySet == exact.keySet)
    // KLL at accuracy 10000 on groups this small lands within a tight
    // relative band of the exact value (it is exact-rank up to 1e-4·n)
    approx.foreach { case (k, v) =>
      assert(math.abs(v - exact(k)) <= math.max(1.0, 0.05 * exact(k)), s"$k: $v vs ${exact(k)}")
    }
  }

  test("sanity: flagship entry returns aggregated rows with META columns") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("revenue") && df.columns.contains(MetaOps.PartitionDate))
  }

  test("ScaleCurves.isolatedSec spawns a fresh-JVM Profile run and parses the min") {
    // the curve spawn path end-to-end on the smallest fixture: one rep
    // of a trivial query (~20 s JVM+session boot dominated)
    val got = ScaleCurves.isolatedSec("q_filter_equals",
      "/root/testdata/sf0.001", 4, reps = 1, heapGb = 2)
    assert(got.exists(s => s > 0 && s < 120), s"isolatedSec returned $got")
  }

  test("ScaleCurves.isolatedSec: a spawn for an unregistered query returns None") {
    // the child fails Profile's unknown-query check before it builds a
    // session, prints no rep line and exits; the curve row is omitted
    val got = ScaleCurves.isolatedSec("q_not_registered",
      "/root/testdata/sf0.001", 4, reps = 1, heapGb = 2, timeoutSec = 300)
    assert(got.isEmpty, s"isolatedSec returned $got")
  }

  test("Profile rejects a <reps> that is not a positive integer before any session") {
    // invalid inputs only: a valid call ends in spark.stop(), which would
    // stop this suite's shared session
    for (reps <- Seq("0", "-3", "x", "1.5", "")) {
      val e = intercept[IllegalArgumentException](
        Profile.main(Array("q_filter_equals", "/root/testdata/sf0.001", reps)))
      assert(e.getMessage.contains("usage: graft.Profile"), s"reps '$reps': ${e.getMessage}")
    }
    assert(!spark.sparkContext.isStopped)
  }

  test("Profile.stages: the stage table counts tasks and names callsites") {
    val fn = SparkEntry.queries("q1_agg")
    val rows = graft.Profile.stages(spark) {
      fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    }
    assert(rows.exists(r => r.tasks > 0 && r.site.nonEmpty), s"stage rows: $rows")
    assert(rows.forall(_.job >= 0), s"stage without its job: $rows")
    // sites name operators, not the thread frame that materializes
    // every AQE stage alike
    assert(rows.forall(!_.site.contains("withThreadLocalCaptured")), s"unnamed stage: $rows")
    assert(rows.exists(_.site.contains("Scan parquet")), s"no scan stage named: $rows")
    assert(rows.map(_.taskMs) == rows.map(_.taskMs).sorted.reverse, "not ordered by task time")
  }

  test("overwritePartitions replaces only df's partitions and leaves the session conf alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val dir = tempDir("overwrite-parts") + "/t"
      graft.io.Writers.overwritePartitions(Seq((1L, 1), (2L, 2), (3L, 3)).toDF("k", "day"),
        dir, Seq("day"))
      graft.io.Writers.overwritePartitions(Seq((20L, 2), (21L, 2)).toDF("k", "day"),
        dir, Seq("day"))
      assert(spark.conf.get(key) == "static")
      val got = Readers.parquet(spark, dir).as[(Long, Int)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 1), (3L, 3), (20L, 2), (21L, 2)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("maxValue ≡ agg(max) per type, in one job; empty and all-null frames give None") {
    val base = tempDir("maxvalue")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val cases: Seq[(String, DataFrame)] = Seq(
      "long" -> Seq(Some(3L), None, Some(-1L), Some(7L)).toDF("c"),
      "double+NaN" -> Seq(Some(1.5), Some(Double.NaN), None, Some(-2.0)).toDF("c"),
      "double" -> Seq(1.5, -2.0, 0.25).toDF("c"),
      "decimal" -> Seq("1.10", "12.05", null, "-3.00").toDF("c").select(col("c").cast("decimal(10,2)").as("c")),
      "date" -> Seq("2024-01-31", null, "2023-12-01").toDF("c").select(col("c").cast("date").as("c")),
      "timestamp" -> Seq(Some(ts("2024-01-02 03:04:05")), None, Some(ts("2024-01-02 03:04:06"))).toDF("c"),
      "timestamp_ntz" -> Seq(Some(LocalDateTime.of(2024, 5, 1, 0, 0)), None,
        Some(LocalDateTime.of(2023, 5, 1, 0, 0))).toDF("c"),
      "string" -> Seq("apple", "Zebra", null, "éclair", "").toDF("c"),
      "all-null" -> Seq[Option[Long]](None, None).toDF("c"),
      "empty" -> Seq(1L).toDF("c").where(lit(false)))
    cases.foreach { case (name, df) =>
      val dir = s"$base/$name"
      df.repartition(3).write.parquet(dir)
      val read = Readers.parquet(spark, dir)
      val want = Option(read.agg(max(col("c"))).head().get(0))
      val (got, jobs) = withJobCount(Extract.maxValue(read, "c"))
      assert(got.map(_.toString) == want.map(_.toString), name)
      assert(jobs == 1, s"$name: $jobs jobs")
      assert(Extract.maxValue(df, "c").map(_.toString) == want.map(_.toString), s"$name (local)")
    }
    assert(Extract.maxValue(Readers.parquet(spark, s"$base/all-null"), "c").isEmpty)
    assert(Extract.maxValue(Readers.parquet(spark, s"$base/empty"), "c").isEmpty)
    assert(Extract.maxValue(Readers.parquet(spark, s"$base/double+NaN"), "c")
      .exists(_.asInstanceOf[Double].isNaN))
  }
}
