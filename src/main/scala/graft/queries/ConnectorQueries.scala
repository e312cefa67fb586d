package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.api.ApiFanout
import graft.connectors.Connectors
import graft.io.{Jdbc, Readers, Writers}

/** Connector-edge queries: CSV/JDBC roundtrips, API fan-out with a
  * deterministic offline transport, paged-source drain, fuzzy match,
  * partitioned write + pruned read. Each lands back on data the DuckDB
  * oracle can recompute from the original tables.
  */
object ConnectorQueries {

  val all: Seq[Q] = Seq(

    // ---- CSV write → schema-enforced read roundtrip (§2.1/§2.9) ----
    Q("q_csv_roundtrip",
      "SELECT r_regionkey, r_name FROM region") { (s, dir) =>
      val path = graft.util.Scratch.path("csv_roundtrip", dir)
      val region = Tables(s, dir, "region")
      Writers.csv(region, path)
      Readers.csv(s, Seq(path), Some(StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
    },

    // ---- JSON-lines write → schema-enforced read roundtrip
    //      (§2.1/§2.9: the reference's list-of-dicts → S3 JSON path,
    //      now oracle-gated end to end) ----
    Q("q_jsonl_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, dir) =>
      val path = graft.util.Scratch.path("jsonl_roundtrip", dir)
      val nation = Tables(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      Writers.json(nation, path)
      Readers.json(s, path, Some(StructType(Seq(
        StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))))
    },

    // ---- JDBC write → read roundtrip on embedded Derby (§2.1) ----
    Q("q_jdbc_roundtrip",
      "SELECT r_regionkey, r_name FROM region") { (s, dir) =>
      val db = graft.util.Scratch.path("derby", dir)
      val url = s"jdbc:derby:$db;create=true"
      Jdbc.write(Tables(s, dir, "region"), url, "GRAFT_REGION")
      Jdbc.read(s, url, "SELECT * FROM GRAFT_REGION")
        .select(col("r_regionkey").cast(IntegerType).as("r_regionkey"),
          col("r_name").as("r_name"))
    },

    // ---- JDBC scalar fetch (§2.1 watermark reads): the driver-side
    //      single-value contract, oracle-gated end to end ----
    Q("q_jdbc_scalar",
      "SELECT CAST(count(*) AS BIGINT) AS n_regions FROM region") { (s, dir) =>
      val db = graft.util.Scratch.path("derby_scalar", dir)
      val url = s"jdbc:derby:$db;create=true"
      Jdbc.write(Tables(s, dir, "region"), url, "GRAFT_REGION_S")
      val n = Jdbc.fetchScalar(s, url, "SELECT COUNT(*) AS N FROM GRAFT_REGION_S")
        .map(_.toString.toLong).getOrElse(0L)
      import s.implicits._
      Seq(n).toDF("n_regions")
    },

    // ---- Excel write → first-sheet read roundtrip (§2.1/§2.9): the
    //      styled-xlsx report sink and the foreign-sheet reader close
    //      the loop without leaving the engine; cells come back as
    //      strings, so the oracle casts ----
    Q("q_excel_roundtrip",
      """SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name FROM region""") { (s, dir) =>
      val path = graft.util.Scratch.path("xlsx_roundtrip", dir) + "/region.xlsx"
      new java.io.File(path).getParentFile.mkdirs()
      graft.io.Excel.write(
        Tables(s, dir, "region").select("r_regionkey", "r_name"), path)
      graft.io.Excel.read(s, path)
    },

    // ---- API fan-out with param passthrough + error channel (§2.1/§2.11) ----
    Q("q_api_fanout",
      """SELECT c_custkey, c_custkey * 2 AS value, true AS ok, 1 AS attempts
        |FROM customer WHERE c_custkey < 100""".stripMargin) { (s, dir) =>
      val params = Tables(s, dir, "customer").where(col("c_custkey") < 100)
        .select("c_custkey")
      val results = ApiFanout.fanout(params, DoubleEchoTransport)
      ApiFanout.withParams(results,
        StructType(Seq(StructField("c_custkey", LongType))))
        .select(col("c_custkey"), col("body").cast(LongType).as("value"),
          col("ok"), col("attempts"))
    },

    // ---- limit/offset paged source drain (§2.1 REST pagination) ----
    Q("q_paged_source",
      "SELECT r_regionkey, r_name FROM region") { (s, dir) =>
      val rows = Tables(s, dir, "region")
        .select(col("r_regionkey").cast(IntegerType), col("r_name"))
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
      Connectors.pagedSource(s, limit = 2) { (limit, offset) =>
        rows.slice(offset, offset + limit)
      }.toDF("r_regionkey", "r_name")
    },

    // ---- fuzzy closest-match ranking (§2.1 sharepoint match) ----
    Q("q_fuzzy_match",
      """SELECT r_regionkey, r_name, n_name, match_distance FROM (
        |  SELECT r.r_regionkey, r.r_name, n.n_name,
        |    CAST(levenshtein(r.r_name, n.n_name) AS INTEGER) AS match_distance,
        |    row_number() OVER (PARTITION BY r.r_regionkey
        |                       ORDER BY levenshtein(r.r_name, n.n_name), n.n_name) AS rn
        |  FROM region r, nation n) WHERE rn = 1""".stripMargin) { (s, dir) =>
      Connectors.fuzzyBestMatch(
        Tables(s, dir, "region"), "r_name",
        Tables(s, dir, "nation"), "n_name")
        .select("r_regionkey", "r_name", "n_name", "match_distance")
    },

    // ---- partitioned write → partition-pruned read (§2.9/§4) ----
    Q("q_partitioned_write",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'""".stripMargin) { (s, dir) =>
      val path = graft.util.Scratch.path("part_write", dir)
      val orders = Tables(s, dir, "orders")
        .withColumn("year", date_format(col("o_orderdate"), "yyyy"))
      Writers.parquet(orders, path, partitionBy = Seq("year"))
      Readers.parquet(s, path).where(col("year") === 1998)
        .select("o_orderkey", "o_totalprice")
    },

    // ---- overwrite + append sink roundtrip (§2.6/§2.9): overwrite
    //      twice (idempotent), append once → target holds exactly two
    //      copies ----
    Q("q_overwrite_append",
      """SELECT r_regionkey, r_name FROM region
        |UNION ALL SELECT r_regionkey, r_name FROM region""".stripMargin) { (s, dir) =>
      val target = graft.util.Scratch.path("ow_append", dir)
      val region = Tables(s, dir, "region").select("r_regionkey", "r_name")
      graft.merge.Merge.insert(region, target, graft.merge.Merge.Overwrite)
      graft.merge.Merge.insert(region, target, graft.merge.Merge.Overwrite) // idempotent
      graft.merge.Merge.insert(region, target, graft.merge.Merge.Append)
      graft.merge.Merge.readTarget(s, target)
    },

    // ---- multi-parquet read with per-file schema drift (§2.1): two
    //      parts with different column sets union-by-name, missing
    //      columns null-filled — previously ScalaTest-only, now the
    //      whole read path is oracle-checked ----
    Q("q_multi_parquet_drift",
      """SELECT r_regionkey, r_name, CAST(NULL AS BIGINT) AS extra FROM region
        |UNION ALL
        |SELECT r_regionkey, NULL AS r_name, CAST(r_regionkey * 10 AS BIGINT) AS extra
        |FROM region""".stripMargin) { (s, dir) =>
      val base = graft.util.Scratch.path("drift", dir)
      val region = Tables(s, dir, "region")
      region.select("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(s"$base/p1")
      region.select(col("r_regionkey"),
          (col("r_regionkey") * 10).cast(LongType).as("extra"))
        .write.mode("overwrite").parquet(s"$base/p2")
      Readers.multipleParquet(s, Seq(s"$base/p1", s"$base/p2"))
    },

    // ---- multi-CSV read with per-file schema drift + declared-schema
    //      cast (§2.1): the CSV twin of q_multi_parquet_drift ----
    Q("q_multi_csv_drift",
      """SELECT r_regionkey, r_name, CAST(NULL AS BIGINT) AS extra FROM region
        |UNION ALL
        |SELECT r_regionkey, NULL AS r_name, CAST(r_regionkey * 10 AS BIGINT) AS extra
        |FROM region""".stripMargin) { (s, dir) =>
      val base = graft.util.Scratch.path("csv_drift", dir)
      val region = Tables(s, dir, "region")
      Writers.csv(region.select("r_regionkey", "r_name"), s"$base/p1")
      Writers.csv(region.select(col("r_regionkey"),
        (col("r_regionkey") * 10).as("extra")), s"$base/p2")
      Readers.multipleCsv(s, Seq(s"$base/p1", s"$base/p2"),
        Some(StructType(Seq(StructField("r_regionkey", IntegerType),
          StructField("r_name", StringType), StructField("extra", LongType)))))
    },

    // ---- Z-order clustering: the bit-interleave key itself is
    //      hash-checked against DuckDB's bit math (the layout effect —
    //      footer-stats skipping — is asserted in ScaleOpsSpec) ----
    Q("q_zorder_key",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum([
        |    (CAST((l_partkey >> i) & 1 AS BIGINT) << (2 * i)) +
        |    (CAST((l_suppkey >> i) & 1 AS BIGINT) << (2 * i + 1))
        |    for i in range(0, 16)]) AS BIGINT) AS zval
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        graft.layout.LayoutOps.zValue(
          Seq(col("l_partkey"), col("l_suppkey")), bitsPerCol = 16).as("zval"))
    },

    // ---- small-file compaction: 8 splinter files rewritten into
    //      target-sized files via the atomic-swap protocol, then read
    //      back — the oracle sees the same rows ----
    Q("q_compact_roundtrip",
      "SELECT r_regionkey, r_name FROM region") { (s, dir) =>
      val path = graft.util.Scratch.path("compact", dir)
      val region = Tables(s, dir, "region").select("r_regionkey", "r_name")
      region.repartition(8).write.mode("overwrite").parquet(path)
      graft.layout.LayoutOps.compact(s, path)
      Readers.parquet(s, path)
    },

    // ---- config.yml-driven pipeline (§3.1 file front door): a YAML
    //      job declaration is searched upwards, parsed, bound to
    //      (env, task), built into a Pipeline.Spec, executed to a
    //      parquet target, and the TARGET is what the oracle checks ----
    Q("q_config_pipeline",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(trunc(o_totalprice) AS INTEGER) AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'""".stripMargin) { (s, dir) =>
      import java.nio.file.{Files, Paths}
      val root = Paths.get(graft.util.Scratch.path("config", dir))
      val nested = root.resolve("jobs/deep") // loader must search UP from here
      Files.createDirectories(nested)
      val target = graft.util.Scratch.path("config_target", dir)
      val yaml =
        s"""general:
           |  pipeline_name: orders_ingest
           |  pipeline_bucket: local
           |  pipeline_type: [full]
           |  prefix_env: {dev: lake-dev, prd: lake-prd}
           |  prefix_logs: logs
           |  prefix_raw: raw
           |  prefix_processed: processed
           |  tasks: [orders_1996]
           |source:
           |  type: parquet
           |  path: {orders_1996: $dir/orders.parquet}
           |transform:
           |  convert_float_to_int: {orders_1996: [o_totalprice]}
           |  partition_window:
           |    col: o_orderdate
           |    start: '1996-01-01 00:00:00'
           |    end: '1997-01-01 00:00:00'
           |target:
           |  dir: $target
           |  insert_type: {orders_1996: {full: overwrite}}
           |""".stripMargin
      Files.write(root.resolve("config.yml"), yaml.getBytes("UTF-8"))
      val conf = graft.pipeline.ConfigFile.load(
        graft.pipeline.ConfigFile.searchUpwards("config.yml", nested).get)
      val resolved = graft.pipeline.ConfigFile.resolve(conf, env = "dev",
        task = "orders_1996", pipelineType = "full",
        executionDate = java.time.LocalDateTime.of(2024, 1, 1, 0, 0))
      val spec = graft.pipeline.ConfigFile.toSpec(resolved, "orders_1996", "full",
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0), addMeta = false)
      spec.run(s)
      graft.merge.Merge.readTarget(s, target)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
    }
  )

  /** Deterministic offline transport: echoes 2× the numeric param —
    * stands in for a real HTTP client behind the same contract. */
  object DoubleEchoTransport extends ApiFanout.Transport {
    private val Num = "\\\"c_custkey\\\":(\\d+)".r
    def fetch(paramsJson: String): ApiFanout.Response = {
      val n = Num.findFirstMatchIn(paramsJson).map(_.group(1).toLong).getOrElse(-1L)
      ApiFanout.Response(200, (n * 2).toString)
    }
  }
}
