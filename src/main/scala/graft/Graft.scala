package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Readers

/** Session factory + canonical test-table loader.
  *
  * Replaces the reference's session bootstrap
  * (`src/pyveb/spark_client.py:51-99`): UTC session timezone, tuned
  * parallelism. Unlike the reference we keep whole-stage codegen ON
  * (the 64KB-codegen workaround it disables codegen for is solved in
  * Spark 3/4 by `spark.sql.codegen.hugeMethodLimit` splitting) and we
  * enable AQE so skewed joins / small partitions re-plan at runtime —
  * essential posture for the 100 TB target.
  */
object Graft {

  /** Runtime confs applied on top of whatever session the host (driver
    * harness, test suite, notebook) created. All of these are safe to
    * set per-session at runtime. Applied once per session — by
    * [[session]], and by `SparkEntry.entry` for a host-made session —
    * never per table load, so a setting the caller makes afterwards
    * stands.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    // older fixture generations wrote `events.ts` as parquet INT64
    // TIMESTAMP(NANOS) which Spark refuses by default; with this conf the
    // column surfaces as Long and Tables.normalizeEventTs converts it.
    // Current fixtures are timestamp[us] and ignore this conf entirely.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark
  }

  /** Core (SparkConf-level) tuning that MUST be in place before the
    * SparkContext exists — `spark.conf.set` rejects these at runtime.
    * Every `main` in this package (and [[session]]) calls it before
    * building its session; on an already-running context it is a
    * harmless no-op for that context.
    *
    * Never use the bypass-merge shuffle writer.
    * Thread-dump sampling of the bench (OPTIMIZATION_r19.md) showed
    * non-combine exchanges (repartition/distinct map sides) dominated
    * by DiskBlockObjectWriter.initialize + createTempShuffleBlock +
    * mmap-merge: the bypass writer opens ONE FILE PER REDUCE PARTITION
    * per map task (32×32 tiny creates/opens/merges per stage here), a
    * uniform ~0.3–0.5 s floor on every map task of every such stage.
    * Threshold 1 routes those stages to the serialized (Unsafe)
    * writer: one spill file + one transferTo merge per task. Scale
    * posture: production shuffle-partition counts exceed the default
    * threshold (200) anyway, so bypass never engages there — this pins
    * the same writer choice at every scale instead of flipping to the
    * file-per-partition writer exactly when partitions are few.
    *
    * Hold every generated class of a session's working set in Spark's
    * codegen cache. `spark.sql.codegen.cache.maxEntries` is a static
    * conf that `CodeGenerator` reads once per JVM, from the active
    * session, when the object initialises: at the first generated
    * class, or at any earlier touch, which finds no session and takes
    * Spark's default of 100. So it must be in the first session's
    * SparkConf, and that session must exist before anything touches
    * `CodeGenerator`. 100 is below one `query_mix` pass (119 classes),
    * so each repeat pass evicts and recompiles most of them; 4096 covers
    * one ETL pass (42), one `query_mix` pass (119) and one pass over all
    * 234 registered queries at sf0.01 (about 2,900). At a mean of 4.4 KB
    * of bytecode a class (136 KB at most), a full cache holds about
    * 18 MB.
    *
    * Either property set beforehand — by `-D` or a builder `.config`,
    * which lands in the same SparkConf — wins over these defaults.
    */
  def coreTune(): Unit =
    Seq("spark.shuffle.sort.bypassMergeThreshold" -> "1",
      "spark.sql.codegen.cache.maxEntries" -> "4096").foreach { case (k, v) =>
      if (System.getProperty(k) == null) System.setProperty(k, v)
    }

  /** Local core count for the package mains (`Bench`, `Verify`,
    * `Profile`, `GenScale`, `ScaleCurves`): `SPARK_GRAFT_CPUS`,
    * default 4. Also their shuffle-partition count. `ScaleCurves`
    * passes its own count to every `Profile` child it spawns, the only
    * child JVMs a main starts. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def session(master: String = s"local[$cpus]", shufflePartitions: Int = cpus): SparkSession = {
    coreTune()
    tune(
      SparkSession.builder()
        .master(master)
        .appName("graft")
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
  }
}

/** Loader for the driver-generated test tables (TESTDATA.md). */
object Tables {
  import org.apache.spark.sql.types._

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Expected post-normalization schema per table (FIXTURES.md §A).
    * Timestamp columns are asserted by FAMILY (TimestampType or
    * TimestampNTZType both accepted — which one Spark infers from a µs
    * parquet column depends on `inferTimestampNTZ` and the writer's
    * isAdjustedToUTC flag) except `events.ts`, which the loader
    * normalizes to TIMESTAMP_NTZ unconditionally for oracle parity.
    */
  private val expected: Map[String, Seq[(String, Any)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> "timestamp", "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> "timestamp"),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** The fixture's `ts` has drifted across driver generations — parquet
    * INT64 TIMESTAMP(NANOS) (surfaced as Long under `nanosAsLong`)
    * through round 7, plain timestamp[us] from round 8 on. Handle both,
    * and normalize the result to TIMESTAMP_NTZ unconditionally: the
    * DuckDB oracle compares against naive µs timestamps, so a
    * session-tz-dependent TimestampType must not leak out of the loader.
    */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // legacy ns-as-long fixture: truncate ns→µs (DuckDB cast semantics)
        df.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampNTZType))
      case other =>
        throw new IllegalStateException(
          s"fixture drift: events.ts is $other; expected INT64-nanos (legacy) " +
            "or a timestamp column — regenerated fixtures changed shape again?")
    }

  /** Fail fast, by name, when a regenerated fixture no longer matches
    * FIXTURES.md — a silent dtype drift otherwise surfaces only as
    * analyzer errors deep inside unrelated plans.
    */
  private def assertSchema(name: String, df: DataFrame): DataFrame = {
    expected.get(name).foreach { cols =>
      val actual = df.schema.map(f => f.name -> f.dataType).toMap
      val drift = cols.flatMap { case (c, want) =>
        actual.get(c) match {
          case None => Some(s"$c: MISSING (expected $want)")
          case Some(got) =>
            val ok = want match {
              case "timestamp" => got == TimestampType || got == TimestampNTZType
              case dt: DataType => got == dt
            }
            if (ok) None else Some(s"$c: got $got, expected $want")
        }
      }
      if (drift.nonEmpty)
        throw new IllegalStateException(
          s"fixture drift in table '$name' (update FIXTURES.md + Tables.expected " +
            s"if intentional): ${drift.mkString("; ")}")
    }
    df
  }

  /** Read one table; `events` gets its timestamp normalized to
    * TIMESTAMP_NTZ µs regardless of which fixture generation is on disk.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = Readers.parquet(spark, s"$dir/$name.parquet")
    assertSchema(name, if (name == "events") normalizeEventTs(df) else df)
  }
}
