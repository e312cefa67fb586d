package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{Readers, Writers}
import graft.merge.Merge
import graft.util.Tranches

/** `Readers.parquet` is `spark.read.parquet` with the schema read on
  * the driver: the same schema, the same relation (file list, partition
  * schema, options), the same errors — and no job to resolve the read.
  */
class ReadersSpec extends SparkSpec {
  import spark.implicits._

  private val Sf = "/root/testdata/sf0.01"

  private def relation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }
      .get.asInstanceOf[HadoopFsRelation]

  /** Asserts the equivalence for one read and returns both frames. */
  private def equivalent(paths: String*): (DataFrame, DataFrame) = {
    val (ours, jobs) = withJobCount(Readers.parquet(spark, paths))
    val theirs = spark.read.parquet(paths: _*)
    val what = paths.mkString(", ")
    assert(jobs == 0, s"$what: $jobs jobs to resolve the read")
    assert(ours.schema == theirs.schema, what)
    val (a, b) = (relation(ours), relation(theirs))
    assert(a.dataSchema == b.dataSchema, what)
    assert(a.partitionSchema == b.partitionSchema, what)
    assert(a.location.rootPaths == b.location.rootPaths, what)
    assert(a.inputFiles.toSeq == b.inputFiles.toSeq, what)
    assert(a.options == b.options, what)
    assert(a.fileFormat.getClass == b.fileFormat.getClass, what)
    assert(ours.queryExecution.analyzed.sameResult(theirs.queryExecution.analyzed), what)
    (ours, theirs)
  }

  private def rootCause(t: Throwable): Throwable =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last

  /** Same exception class and message (for a failed footer job, whose
    * message names stage and task ids, the same root cause). */
  private def sameError(paths: String*): Throwable = {
    val ours = intercept[Throwable](Readers.parquet(spark, paths))
    val theirs = intercept[Throwable](spark.read.parquet(paths: _*))
    assert(ours.getClass == theirs.getClass, s"${ours.getClass} vs ${theirs.getClass}")
    if (ours.getMessage.contains("stage")) {
      assert(rootCause(ours).getClass == rootCause(theirs).getClass)
      assert(rootCause(ours).getMessage == rootCause(theirs).getMessage)
    } else assert(ours.getMessage == theirs.getMessage)
    ours
  }

  test("every sf0.01 fixture table: same schema and relation, and Tables loads start no job") {
    val (_, sparkJobs) = withJobCount(spark.read.parquet(s"$Sf/region.parquet"))
    assert(sparkJobs == 1, "the counter sees the footer job of Spark's own read")
    Tables.names.foreach { t =>
      equivalent(s"$Sf/$t.parquet")
      val (_, jobs) = withJobCount(Tables(spark, Sf, t))
      assert(jobs == 0, s"Tables($t): $jobs jobs")
    }
  }

  test("Merge targets under RenameCommit and PointerCommit; readTarget starts no job") {
    Seq(Merge.RenameCommit, Merge.PointerCommit).foreach { commit =>
      val dir = tempDir("readers-merge") + "/target"
      Merge.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "v"), dir, commit)
      Merge.upsert(Seq((2L, "c", 3.0), (3L, "d", 4.0)).toDF("k", "s", "v"), dir, Seq("k"),
        commit = commit)
      val resolved = Merge.resolveDir(spark, dir)
      assert((resolved != dir) == (commit == Merge.PointerCommit))
      val (ours, theirs) = equivalent(resolved)
      assertSameRows(ours, theirs)
      val (target, jobs) = withJobCount(Merge.readTarget(spark, dir))
      assert(jobs == 0, s"$commit readTarget: $jobs jobs")
      assertSameRows(target, theirs)
    }
  }

  test("overwritePartitions dir (year/month/day): same partition schema and rows") {
    val dir = tempDir("readers-parts") + "/parts"
    Writers.overwritePartitions(Seq((1L, 2024, 1, 5, "x"), (2L, 2024, 2, 6, "y"),
      (3L, 2025, 12, 31, "z")).toDF("k", "year", "month", "day", "s"), dir,
      Seq("year", "month", "day"))
    val (ours, theirs) = equivalent(dir)
    assert(relation(ours).partitionSchema.fieldNames.toSeq == Seq("year", "month", "day"))
    assertSameRows(ours, theirs)
    assertSameRows(ours.where(col("month") === 2), theirs.where(col("month") === 2))
  }

  test("Tranches batch=* dir, its multi-path live read, and a glob over it") {
    val dir = tempDir("readers-tranches") + "/art"
    Tranches.write(Seq(("a", 1L), ("b", 2L)).toDF("k", "cnt"), dir, "t1")
    Tranches.write(Seq(("a", 3L)).toDF("k", "cnt"), dir, "t2")
    val (whole, wholeSpark) = equivalent(dir)
    assert(relation(whole).partitionSchema.fieldNames.toSeq == Seq("batch"))
    assertSameRows(whole, wholeSpark)
    val live = Tranches.live(spark, dir).map(_.toString)
    assert(live.size == 2)
    val (multi, multiSpark) = equivalent(live: _*)
    assertSameRows(multi, multiSpark)
    val (globbed, globbedSpark) = equivalent(s"$dir/batch=*")
    assertSameRows(globbed, globbedSpark)
    val (_, jobs) = withJobCount(Tranches.read(spark, dir, Seq("k"), "cnt"))
    assert(jobs == 0, s"Tranches.read: $jobs jobs")
  }

  test("nested array<struct>, map, TimestampNTZ, timestamp and decimal columns") {
    val dir = tempDir("readers-types") + "/t"
    Seq((1L, Seq(("a", 1), ("b", 2)), Map("x" -> 1.5), LocalDateTime.of(2024, 1, 2, 3, 4, 5),
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), "12.34"))
      .toDF("id", "items", "m", "ntz", "ts", "d")
      .withColumn("d", col("d").cast(DecimalType(12, 2)))
      .withColumn("big", col("d").cast(DecimalType(38, 6)))
      .write.parquet(dir)
    val (ours, theirs) = equivalent(dir)
    assert(ours.schema("ntz").dataType == TimestampNTZType)
    assert(ours.schema("d").dataType == DecimalType(12, 2))
    assert(ours.schema("items").dataType.isInstanceOf[ArrayType])
    assertSameRows(ours, theirs)
  }

  test("summary files win the footer choice: _common_metadata, then _metadata") {
    val base = tempDir("readers-summary")
    def writeOne(df: DataFrame, name: String): java.nio.file.Path = {
      df.coalesce(1).write.parquet(s"$base/$name")
      Files.list(Paths.get(base, name)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    val data = Paths.get(base, "data")
    writeOne(Seq(1L, 2L).toDF("x"), "data")
    val meta = writeOne(Seq(("s", 1)).toDF("y", "z"), "meta")
    val common = writeOne(Seq(1.5).toDF("w"), "common")
    Files.copy(meta, data.resolve("_metadata"))
    val (withMeta, _) = equivalent(data.toString)
    assert(withMeta.schema.fieldNames.toSeq == Seq("y", "z"))
    Files.copy(common, data.resolve("_common_metadata"), StandardCopyOption.REPLACE_EXISTING)
    val (withCommon, _) = equivalent(data.toString)
    assert(withCommon.schema.fieldNames.toSeq == Seq("w"))
  }

  test("nanosAsLong on: an INT64 TIMESTAMP(NANOS) column reads as LongType") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val dir = tempDir("readers-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); required int32 id; }")
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter.builder(new Path(dir, "part-0.parquet"))
      .withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1000L -> 1, 2000L -> 2).foreach { case (ts, id) =>
      w.write(groups.newGroup().append("ts", ts).append("id", id))
    } finally w.close()
    val (ours, theirs) = equivalent(dir)
    assert(ours.schema("ts").dataType == LongType)
    assertSameRows(ours, theirs)
  }

  test("missing, empty, glob-without-match and corrupt-footer paths fail as Spark's read does") {
    val base = tempDir("readers-errors")
    sameError(s"$base/missing")
    Files.createDirectory(Paths.get(base, "empty"))
    sameError(s"$base/empty")
    sameError(s"$base/nothing*/x")
    Files.createDirectory(Paths.get(base, "corrupt"))
    Files.write(Paths.get(base, "corrupt", "part-0.parquet"), "not parquet".getBytes(UTF_8))
    quietStorageLogs(sameError(s"$base/corrupt"))
  }

  test("a session that reads parquet through DataSource V2 keeps Spark's own read") {
    val key = "spark.sql.sources.useV1SourceList"
    val prev = spark.conf.getOption(key)
    val dir = tempDir("readers-v2") + "/t"
    Seq(1L, 2L).toDF("x").write.parquet(dir)
    spark.conf.set(key, "avro,csv,json,kafka,orc,text")
    try {
      val ours = Readers.parquet(spark, dir)
      val theirs = spark.read.parquet(dir)
      assert(!theirs.queryExecution.analyzed.isInstanceOf[LogicalRelation])
      assert(ours.queryExecution.analyzed.getClass == theirs.queryExecution.analyzed.getClass)
      assert(ours.schema == theirs.schema)
      assertSameRows(ours, theirs)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("one reader: no raw parquet read in src/main/scala outside io/Readers.scala and its shim") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val allowed = Set("graft/io/Readers.scala",
      "org/apache/spark/sql/execution/datasources/parquet/DriverFooterParquet.scala")
    val raw = """\bread\s*\.\s*(?:option\([^)]*\)\s*\.\s*)*parquet\(""".r
    val hits = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> p)
      .filterNot { case (rel, _) => allowed(rel) }
      .flatMap { case (rel, p) =>
        raw.findAllMatchIn(new String(Files.readAllBytes(p), UTF_8)).map(m => s"$rel: ${m.matched}")
      }
    assert(hits.isEmpty, s"read parquet through graft.io.Readers.parquet: ${hits.mkString("; ")}")
  }
}
