package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.clean.CleanOps
import graft.extract.Extract
import graft.io.{Readers, Writers}
import graft.merge.Merge
import graft.meta.MetaOps
import graft.nested.NestedOps
import graft.schema.SchemaOps

/** One workload: passes of steps the client waits on over inputs that
  * `gen.py` wrote before this JVM started, then output checks outside
  * the timed region. */
trait Workload {
  /** Nominal warm-pass seconds on a 4-core host. A run makes
    * max(2, round(--seconds / passS)) warm passes: a fixed count, so every
    * run measures the same passes however fast the host is that minute. */
  def passS: Double
  /** Drop what an earlier pass left, so every pass does the same work (not timed). */
  def reset(b: Bench, pass: Int): Unit
  /** One pass: a sequence of `b.step`s. */
  def pass(b: Bench, pass: Int): Unit
  /** Output checks against an independent computation; one entry per mismatch. */
  def check(b: Bench): Seq[String]
  def inputBytes(b: Bench): Long
  /** Bytes at rest in the targets and results the last pass left. */
  def atRestBytes(b: Bench): Long
}

object Workloads {
  def apply(name: String, seed: Long): Workload = name match {
    case "etl_daily_upsert" => new EtlDailyUpsert
    case "query_mix" => new QueryMix(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Order-independent digest of a set of rows: count and the sum of
    * per-row hashes of a canonical rendering (doubles to 6 places). */
  def digest(rows: Seq[Row]): (Long, Long) = {
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double => f"$d%.6f"
      case f: Float => f"${f.toDouble}%.6f"
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case o => o.toString
    }
    (rows.size.toLong, rows.map(r => scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong).sum)
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** Daily ETL: dirty JSON batches of orders with nested line items go
  * through read → clean → schema → nested → meta → upsert → partitioned
  * write → watermark read-back. One day is one step. */
final class EtlDailyUpsert extends Workload {
  val passS = 6.0
  private val Day0 = LocalDateTime.of(2024, 3, 1, 0, 0)
  private val Processing = LocalDateTime.of(2024, 4, 1, 0, 0)

  private val itemType = StructType(Seq(StructField("l_sku", StringType),
    StructField("l_qty", DoubleType), StructField("l_price", DoubleType),
    StructField("l_version", IntegerType), StructField("l_tags", ArrayType(StringType))))
  private val rawSchema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_custkey", StringType), StructField("o_status", StringType),
    StructField("o_total", StringType), StructField("o_orderdate", StringType),
    StructField("o_comment", StringType), StructField("items", ArrayType(itemType))))
  private val targetSchema = StructType(Seq(StructField("o_custkey", LongType),
    StructField("o_total", DoubleType), StructField("o_orderdate", TimestampNTZType)))
  private val compared = Seq("o_orderkey", "o_custkey", "o_status", "o_total", "o_orderdate",
    "o_comment", "n_items", "items_value", "l_sku", "l_qty", "l_price", "l_version",
    MetaOps.PartitionDate)

  private def root(b: Bench) = new File(b.work, "etl")
  private def batch(b: Bench, d: Int) = new File(root(b), s"batch/day=$d.json").getPath
  private def target(b: Bench, at: String) = new File(root(b), s"$at/target").getPath
  private def parts(b: Bench, at: String) = new File(root(b), s"$at/parts").getPath
  private def days(b: Bench) = new File(root(b), "batch").list().length
  private var lastPass = 0

  def reset(b: Bench, pass: Int): Unit = {
    if (pass > 0) FileUtils.deleteQuietly(new File(root(b), s"p${pass - 1}"))
    lastPass = pass
  }

  /** Every pass starts from an empty target: day 0 creates it, later days upsert. */
  def pass(b: Bench, p: Int): Unit =
    (0 until days(b)).foreach(d => b.step(s"day$d")(load(b, d, s"p$p")))

  private def load(b: Bench, d: Int, at: String): Unit = {
    val spark = b.spark
    val day = Day0.plusDays(d)
    val raw = b.call("io", "Readers.json")(Readers.json(spark, batch(b, d), Some(rawSchema)))
    val c1 = b.call("clean", "CleanOps.nanToNull")(CleanOps.nanToNull(raw))
    val c2 = b.call("clean", "CleanOps.stringToInt")(CleanOps.stringToInt(c1, Seq("o_custkey")))
    val c3 = b.call("clean", "CleanOps.stringToTimestamp")(
      CleanOps.stringToTimestamp(c2, Seq("o_orderdate")))
    val c4 = b.call("clean", "CleanOps.cleanOldDates")(CleanOps.cleanOldDates(c3, Seq("o_orderdate")))
    val typed = b.call("schema", "SchemaOps.enforceSchema")(SchemaOps.enforceSchema(c4, targetSchema))
    val n1 = b.call("nested", "NestedOps.filterEmptyFromArray")(
      NestedOps.filterEmptyFromArray(typed, "items", "l_tags"))
      .withColumn("n_items", size(col("items")))
      .withColumn("items_value",
        aggregate(col("items"), lit(0.0), (acc, x) => acc + x("l_qty") * x("l_price")))
    val n2 = b.call("nested", "NestedOps.argMaxInArray")(NestedOps.argMaxInArray(n1, "items", "l_version"))
    val n3 = b.call("nested", "NestedOps.flattenStruct")(NestedOps.flattenStruct(n2, "items"))
      .drop("l_tags")
    val stage = b.call("meta", "MetaOps.addMetadata")(
      MetaOps.addMetadata(n3, day, fileName = Some(s"day=$d.json"), processing = Some(Processing)))
    b.call("merge", "Merge.upsert")(Merge.upsert(stage, target(b, at), Seq("o_orderkey")))
    val dated = b.call("meta", "MetaOps.withPartitionColumns")(
      MetaOps.withPartitionColumns(stage, MetaOps.PartitionDate))
    b.call("io", "Writers.overwritePartitions")(
      Writers.overwritePartitions(dated, parts(b, at), Seq("year", "month", "day")))
    val rest = b.call("merge", "Merge.readTarget")(Merge.readTarget(spark, target(b, at)))
    val wm = b.call("extract", "Extract.maxValue")(Extract.maxValue(rest, MetaOps.PartitionDate))
    if (!wm.contains(day)) throw new IllegalStateException(s"watermark $wm after day $day")
  }

  /** The target must equal last-write-wins per key over `gen.py`'s clean
    * records of every batch (one plain window), and the partitioned
    * write must hold every loaded record. */
  def check(b: Bench): Seq[String] = {
    val spark = b.spark
    val records = spark.read.parquet(new File(root(b), "expected.parquet").getPath)
      .withColumn("o_orderdate", col("o_orderdate").cast(TimestampNTZType))
      .withColumn(MetaOps.PartitionDate, col(MetaOps.PartitionDate).cast(TimestampNTZType))
    val expected = records
      .withColumn("rn", row_number().over(Window.partitionBy("o_orderkey").orderBy(col("day").desc)))
      .where(col("rn") === 1).select(compared.map(col): _*).collect().toSeq
    val got = Merge.readTarget(spark, target(b, s"p$lastPass")).select(compared.map(col): _*)
      .collect().toSeq
    val (en, eh) = Workloads.digest(expected)
    val (gn, gh) = Workloads.digest(got)
    val loaded = records.count()
    val partsRows = spark.read.parquet(parts(b, s"p$lastPass")).count()
    Seq(
      if (gn != en) Some(s"etl target has $gn rows, last-write-wins gives $en") else None,
      if (gn == en && gh != eh) Some("etl target rows differ from last-write-wins") else None,
      if (partsRows != loaded) Some(s"partitioned write holds $partsRows of $loaded rows") else None
    ).flatten
  }

  def inputBytes(b: Bench): Long = Workloads.dirBytes(new File(root(b), "batch"))
  def atRestBytes(b: Bench): Long = Workloads.dirBytes(new File(root(b), s"p$lastPass"))
}

/** Short registered queries — relational, analytics, profile, nested,
  * text scoring and brute-force similarity, plus one dedup and one graph
  * query so those layers are measured too — in a seeded order, each
  * writing its result as a DAG task would. One query is one step. */
final class QueryMix(seed: Long) extends Workload {
  val passS = 11.0
  /** (registered query, module layer it belongs to). */
  val Roster: Seq[(String, String)] = Seq(
    "q_window_rank" -> "relational", "q_rollup" -> "relational",
    "q_events_hourly" -> "analytics", "q_histogram" -> "profile",
    "q_explode_array" -> "nested", "q_json_parse" -> "nested",
    "q_text_tokens" -> "text", "q_text_quality" -> "text",
    "q_embed_norm" -> "similarity", "q_sim_topk_brute" -> "similarity",
    "q_dedup_jaccard" -> "dedup", "q_neighborhood_agg" -> "graph")

  private val order = new scala.util.Random(seed).shuffle(Roster)
  private def input(b: Bench) = new File(b.work, "input").getPath
  private def results(b: Bench) = new File(b.work, "results")

  def reset(b: Bench, pass: Int): Unit = ()

  def pass(b: Bench, p: Int): Unit = {
    val fns = SparkEntry.queries
    order.foreach { case (q, layer) =>
      b.step(q) {
        b.call(layer, q)(fns(q)(b.spark, input(b)).coalesce(1).write.mode("overwrite")
          .parquet(new File(results(b), q).getPath))
      }
    }
  }

  /** Writes the oracle SQL of the roster beside the results; `run.py`
    * replays it in DuckDB with tools/oracle_check.py. */
  def check(b: Bench): Seq[String] = {
    val sql = SparkEntry.oracleSql
    val missing = Roster.map(_._1).filterNot(sql.contains)
    val json = Roster.flatMap { case (q, _) => sql.get(q).map(s => s""""$q":"${Json.esc(s)}"""") }
      .mkString("{", ",", "}")
    Files.write(new File(results(b), "oracle_sql.json").toPath, json.getBytes(StandardCharsets.UTF_8))
    missing.map(q => s"$q has no oracle SQL")
  }

  def inputBytes(b: Bench): Long = Workloads.dirBytes(new File(input(b)))
  def atRestBytes(b: Bench): Long = Workloads.dirBytes(results(b))
}
