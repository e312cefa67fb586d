package graft.queries

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.analytics.EventAnalytics
import graft.clean.CleanOps
import graft.extract.Extract
import graft.graph.GraphOps
import graft.merge.Merge
import graft.meta.MetaOps
import graft.nested.NestedOps
import graft.relational.RelationalOps
import graft.schema.{Expectations, SchemaOps}

/** Driver-checkable queries covering the reference's core operator
  * inventory (SURVEY.md §2.1–§2.10). Each entry runs one engine
  * operator (or a composed slice) and pairs it with the ANSI SQL its
  * DuckDB oracle runs on the same parquet tables.
  *
  * Numeric discipline: any aggregate over doubles goes through an exact
  * DECIMAL sum and is cast back to DOUBLE at the end, so summation order
  * (which differs between Spark partitions and DuckDB) can never change
  * a digit. Double→int truncation is spelled `trunc` in the oracle
  * because DuckDB rounds on int casts while Spark truncates.
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Rule set shared by the split/quarantine queries: two row rules
    * with real violations plus a unique rule whose excess rows the
    * router quarantines first-wins by `o_orderkey`. */
  private val splitRules = Seq(
    Expectations.InRange("o_totalprice", 0, 100000),
    Expectations.InSet("o_orderstatus", Seq("F", "O")),
    Expectations.Unique(Seq("o_custkey")))

  /** The four SCD-2 legs over orders (closed passthrough / keep /
    * close / open) — shared by the apply and as-of oracles. */
  private val duckScd2Legs =
    """WITH cur AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |             WHERE o_orderkey < 1000),
      |stage AS (SELECT o_orderkey, o_orderstatus,
      |            CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      |          FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500)
      |SELECT o_orderkey, o_orderstatus, o_totalprice - 5 AS o_totalprice,
      |       TIMESTAMP '2023-06-01 00:00:00' AS valid_from,
      |       TIMESTAMP '2024-01-01 00:00:00' AS valid_to, FALSE AS is_current
      |FROM cur WHERE o_orderkey % 10 = 0
      |UNION ALL
      |SELECT c.o_orderkey, c.o_orderstatus, c.o_totalprice,
      |       TIMESTAMP '2024-01-01 00:00:00', NULL, TRUE
      |FROM cur c LEFT JOIN stage s USING (o_orderkey)
      |WHERE s.o_orderkey IS NULL
      |   OR (c.o_orderstatus IS NOT DISTINCT FROM s.o_orderstatus
      |       AND c.o_totalprice IS NOT DISTINCT FROM s.o_totalprice)
      |UNION ALL
      |SELECT c.o_orderkey, c.o_orderstatus, c.o_totalprice,
      |       TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-02-01 00:00:00', FALSE
      |FROM cur c JOIN stage s USING (o_orderkey)
      |WHERE c.o_orderstatus IS DISTINCT FROM s.o_orderstatus
      |   OR c.o_totalprice IS DISTINCT FROM s.o_totalprice
      |UNION ALL
      |SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice,
      |       TIMESTAMP '2024-02-01 00:00:00', NULL, TRUE
      |FROM stage s LEFT JOIN cur c USING (o_orderkey)
      |WHERE c.o_orderkey IS NULL
      |   OR c.o_orderstatus IS DISTINCT FROM s.o_orderstatus
      |   OR c.o_totalprice IS DISTINCT FROM s.o_totalprice""".stripMargin

  /** Engine side of the same fixture: day-0 history (+ one pre-closed
    * generation) and the day-30 stage. */
  private def scd2Fixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    val open = o.where(col("o_orderkey") < 1000)
      .withColumn("valid_from", lit("2024-01-01 00:00:00").cast(TimestampNTZType))
      .withColumn("valid_to", lit(null).cast(TimestampNTZType))
      .withColumn("is_current", lit(true))
    val closedHist = o.where(col("o_orderkey") < 1000 && col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") - 5)
      .withColumn("valid_from", lit("2023-06-01 00:00:00").cast(TimestampNTZType))
      .withColumn("valid_to", lit("2024-01-01 00:00:00").cast(TimestampNTZType))
      .withColumn("is_current", lit(false))
    val stage = o.where(col("o_orderkey") >= 500 && col("o_orderkey") < 1500)
      .select(col("o_orderkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 2 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    (open.unionByName(closedHist), stage)
  }

  /** Blocking-candidate CTEs for the entity-resolution queries,
    * ending in `cand(l_id, l_name, l_brand, r_id, r_name, r_brand)`. */
  private val duckErCandCtes =
    """pl AS (SELECT p_partkey AS l_id, concat(p_name, ' ', p_type) AS l_name,
      |         p_brand AS l_brand FROM part),
      |pr AS (SELECT p_partkey AS r_id,
      |         concat(substr(nm, 1, 7), substr(nm, 9)) AS r_name, p_brand AS r_brand
      |       FROM (SELECT p_partkey, concat(p_name, ' ', p_type) AS nm, p_brand
      |             FROM part WHERE p_partkey % 3 = 0)),
      |cand AS (
      |  SELECT pl.l_id, pl.l_name, pl.l_brand, pr.r_id, pr.r_name, pr.r_brand
      |  FROM pl JOIN pr ON concat(split_part(l_name, ' ', 1), '|', l_brand)
      |                   = concat(split_part(r_name, ' ', 1), '|', r_brand)
      |  UNION
      |  SELECT pl.l_id, pl.l_name, pl.l_brand, pr.r_id, pr.r_name, pr.r_brand
      |  FROM pl JOIN pr ON concat(right(l_name, 3), '|', l_brand)
      |                   = concat(right(r_name, 3), '|', r_brand))""".stripMargin

  /** Engine side of the ER fixture: all parts vs the perturbed third
    * (char 8 of `p_name || ' ' || p_type` deleted), plus the two
    * blocking passes. */
  private def erSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val p = t(s, dir, "part").select("p_partkey", "p_name", "p_type", "p_brand")
    val lf = p.select(col("p_partkey").as("l_id"),
      concat_ws(" ", col("p_name"), col("p_type")).as("l_name"),
      col("p_brand").as("l_brand"))
    val rt = p.where(col("p_partkey") % 3 === 0)
      .select(col("p_partkey").as("r_id"),
        expr("concat(substr(concat(p_name, ' ', p_type), 1, 7), " +
          "substr(concat(p_name, ' ', p_type), 9))").as("r_name"),
        col("p_brand").as("r_brand"))
    (lf, rt)
  }

  private def erBlockKeys: Seq[(Column, Column)] = Seq(
    (concat_ws("|", split(col("l_name"), " ").getItem(0), col("l_brand")),
     concat_ws("|", split(col("r_name"), " ").getItem(0), col("r_brand"))),
    (concat_ws("|", expr("right(l_name, 3)"), col("l_brand")),
     concat_ws("|", expr("right(r_name, 3)"), col("r_brand"))))

  val all: Seq[Q] = Seq(

    // ---- aggregation over a scan (TPC-H Q1 shape; SURVEY §2.4) ----
    Q("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2002-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2002-09-01 00:00:00").cast(TimestampNTZType))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          expr("cast(sum(cast(l_quantity as decimal(12,2))) as double)").as("sum_qty"),
          expr("cast(sum(cast(l_extendedprice as decimal(12,2))) as double)").as("sum_base_price"),
          expr("cast(sum(cast(l_extendedprice as decimal(12,2)) * (cast(1 as decimal(5,4)) - cast(l_discount as decimal(5,4)))) as double)").as("sum_disc_price"),
          expr("cast(sum(cast(l_quantity as decimal(12,2))) as double) / count(*)").as("avg_qty"),
          count(lit(1)).as("count_order"))
    },

    // ---- parquet scan + projection (SURVEY §2.1, §2.2) ----
    Q("q_scan_project",
      "SELECT r_regionkey, r_name FROM region") { (s, dir) =>
      SchemaOps.reindexCols(t(s, dir, "region"), Seq("r_regionkey", "r_name"))
    },

    // ---- strict schema enforcement: cast-by-projection (§1.3, §2.2) ----
    Q("q_schema_enforce",
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
        |  CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS c_acctbal, c_mktsegment
        |FROM customer""".stripMargin) { (s, dir) =>
      // decimal cast exercised mid-plan; final projection back to double
      // so both engines emit identical arrow types for the hash compare.
      SchemaOps.enforceSchema(
        SchemaOps.enforceSchema(t(s, dir, "customer"), StructType(Seq(
          StructField("c_custkey", LongType), StructField("c_name", StringType),
          StructField("c_nationkey", LongType),
          StructField("c_acctbal", DecimalType(12, 2)),
          StructField("c_mktsegment", StringType)))),
        StructType(Seq(StructField("c_acctbal", DoubleType))))
    },

    // ---- lenient apply_schema: reorder + try_cast + missing→NULL (§2.2) ----
    Q("q_schema_apply",
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |  TRY_CAST(CASE WHEN l_orderkey % 7 = 0 THEN 'bad'
        |                ELSE CAST(l_orderkey AS VARCHAR) END AS INTEGER) AS s_int,
        |  TRY_CAST(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') || '.123' AS TIMESTAMP) AS s_ts,
        |  CAST(NULL AS INTEGER) AS absent
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val dirty = t(s, dir, "lineitem").select(
        col("l_orderkey"),
        when(col("l_orderkey") % 7 === 0, lit("bad"))
          .otherwise(col("l_orderkey").cast(StringType)).as("s_int"),
        concat(date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"), lit(".123")).as("s_ts"))
      SchemaOps.applySchema(dirty, StructType(Seq(
        StructField("l_orderkey", LongType), StructField("s_int", IntegerType),
        StructField("s_ts", TimestampNTZType), StructField("absent", IntegerType))))
    },

    // ---- nan/null string normalization (§2.2) ----
    Q("q_nan_to_null",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 5 IN (0, 1, 2) THEN NULL ELSE c_mktsegment END AS seg
        |FROM customer""".stripMargin) { (s, dir) =>
      val dirty = t(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_custkey") % 5 === 0, lit("nan"))
          .when(col("c_custkey") % 5 === 1, lit("NULL"))
          .when(col("c_custkey") % 5 === 2, lit(""))
          .otherwise(col("c_mktsegment")).as("seg"))
      CleanOps.nanToNull(dirty, Seq("seg"))
    },

    // ---- NaN / pandas-empty-token normalization (§2.2) ----
    Q("q_empty_nan_to_null",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS bal,
        |  CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_name END AS nm
        |FROM customer""".stripMargin) { (s, dir) =>
      val dirty = t(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_custkey") % 3 === 0, lit(Double.NaN)).otherwise(col("c_acctbal")).as("bal"),
        when(col("c_custkey") % 4 === 0, lit("NaT")).otherwise(col("c_name")).as("nm"))
      CleanOps.emptyAndNanToNull(dirty)
    },

    // ---- pre-1900 timestamp clamp (§2.2) ----
    Q("q_clean_old_dates",
      """SELECT o_orderkey,
        |  CASE WHEN ts < TIMESTAMP '1900-01-01 00:00:00' THEN TIMESTAMP '1900-01-01 00:00:00'
        |       ELSE ts END AS ts
        |FROM (SELECT o_orderkey,
        |        CASE WHEN o_orderkey % 10 = 0 THEN o_orderdate - INTERVAL 150 YEAR
        |             ELSE o_orderdate END AS ts
        |      FROM orders)""".stripMargin) { (s, dir) =>
      val dirty = t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 10 === 0, col("o_orderdate") - expr("INTERVAL 150 YEARS"))
          .otherwise(col("o_orderdate")).as("ts"))
      CleanOps.cleanOldDates(dirty, Seq("ts"))
    },

    // ---- lenient string→int (§2.8; trunc because DuckDB rounds int casts) ----
    Q("q_string_to_int",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(TRUNC(TRY_CAST(
        |    CASE WHEN l_orderkey % 11 = 0 THEN 'junk'
        |         WHEN l_orderkey % 11 = 1 THEN CAST(CAST(l_quantity AS INTEGER) AS VARCHAR) || '.5'
        |         ELSE CAST(CAST(l_quantity AS INTEGER) AS VARCHAR) END
        |    AS DOUBLE)) AS INTEGER) AS qty
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val dirty = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_orderkey") % 11 === 0, lit("junk"))
          .when(col("l_orderkey") % 11 === 1,
            concat(col("l_quantity").cast(IntegerType).cast(StringType), lit(".5")))
          .otherwise(col("l_quantity").cast(IntegerType).cast(StringType)).as("qty"))
      CleanOps.stringToInt(dirty, Seq("qty"))
    },

    // ---- lenient string→timestamp, fractional tail stripped (§2.8) ----
    Q("q_string_to_timestamp",
      """SELECT o_orderkey,
        |  TRY_CAST(split_part(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '.987654', '.', 1)
        |           AS TIMESTAMP) AS ts
        |FROM orders""".stripMargin) { (s, dir) =>
      val dirty = t(s, dir, "orders").select(
        col("o_orderkey"),
        concat(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"), lit(".987654")).as("ts"))
      CleanOps.stringToTimestamp(dirty, Seq("ts"))
    },

    // ---- ascii fold (§2.8): appended non-ascii junk must vanish ----
    Q("q_ascii_fold",
      "SELECT c_custkey, c_name AS s FROM customer") { (s, dir) =>
      val dirty = t(s, dir, "customer").select(
        col("c_custkey"), concat(col("c_name"), lit("é→ë")).as("s"))
      CleanOps.asciiFold(dirty, Seq("s"))
    },

    // ---- META ingestion columns (§2.2) with pinned values ----
    Q("q_meta_add",
      """SELECT r_regionkey, r_name, 'manual' AS META_file_name,
        |  TIMESTAMP '2024-01-15 00:00:00' AS META_partition_date,
        |  TIMESTAMP '2024-01-15 12:00:00' AS META_processing_date_utc
        |FROM region""".stripMargin) { (s, dir) =>
      MetaOps.addMetadata(t(s, dir, "region"),
        partitionDate = LocalDateTime.of(2024, 1, 15, 0, 0),
        fileName = Some("manual"),
        processing = Some(LocalDateTime.of(2024, 1, 15, 12, 0)))
    },

    // ---- union-by-name with schema drift (§2.6) ----
    Q("q_union_drift",
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 100
        |UNION ALL BY NAME
        |SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 200""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      RelationalOps.uniteByName(Seq(
        o.where(col("o_orderkey") < 100).select("o_orderkey", "o_totalprice"),
        o.where(col("o_orderkey") >= 100 && col("o_orderkey") < 200)
          .select("o_orderkey", "o_orderstatus")))
    },

    // ---- exact dedup (§2.4) ----
    Q("q_dedup_exact",
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem") { (s, dir) =>
      RelationalOps.dedupExact(t(s, dir, "lineitem").select("l_returnflag", "l_linestatus"))
    },

    // ---- dedup by key, deterministic first-wins (§2.4) ----
    // (l_orderkey, l_linenumber) is NOT unique in the fixtures, so the
    // ordering covers every projected column — any residual tie then has
    // identical output values and the result is deterministic.
    Q("q_dedup_bykey",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem)
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) = 1""".stripMargin) { (s, dir) =>
      RelationalOps.dedupByKeyFirst(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        Seq("l_orderkey"), Seq(col("l_linenumber").asc, col("l_quantity").asc))
    },

    // ---- duplicate-key detection (§2.4) ----
    Q("q_duplicate_keys",
      """SELECT o_custkey, count(*) AS count FROM orders
        |GROUP BY o_custkey HAVING count(*) > 1""".stripMargin) { (s, dir) =>
      RelationalOps.duplicateKeys(t(s, dir, "orders"), Seq("o_custkey"))
    },

    // ---- strict enrichment join, broadcast build side (§2.3) ----
    Q("q_strict_join",
      """SELECT c.c_custkey, c.c_nationkey, n.n_name
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val n = t(s, dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
      RelationalOps.strictEnrichJoin(c, n, Seq("c_nationkey"), Seq("n_name"))
        .select("c_custkey", "c_nationkey", "n_name")
    },

    // ---- upsert semantics as a pure frame op (§2.3, §2.9) ----
    Q("q_upsert",
      """WITH target AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey < 1000),
        |stage AS (SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
        |          FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500)
        |SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM stage)
        |UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice FROM stage""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val target = o.where(col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val stage = o.where(col("o_orderkey") >= 500 && col("o_orderkey") < 1500)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      Merge.upsertFrame(target, stage, Seq("o_orderkey"))
    },

    // ---- NOT EXISTS conditional insert (§2.3) ----
    Q("q_insert_if_absent",
      """WITH target AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey < 1000),
        |stage AS (SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
        |          FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500)
        |SELECT * FROM target
        |UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice FROM stage
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM target)""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val target = o.where(col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val stage = o.where(col("o_orderkey") >= 500 && col("o_orderkey") < 1500)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      Merge.insertIfAbsentFrame(target, stage, Seq("o_orderkey"))
    },

    // ---- update-on-diff upsert (§2.3/§2.9 — completes the reference's
    //      upsert_on_condition TODO): matched keys update ONLY when a
    //      compared column differs; unchanged matches keep the TARGET
    //      row, so the `src` audit column ('old'/'new') proves which leg
    //      each row took — the oracle hash-checks all four outcomes
    //      (kept / updated / inserted / survived) ----
    Q("q_upsert_on_diff",
      """WITH target AS (SELECT o_orderkey, o_orderstatus, o_totalprice, 'old' AS src
        |               FROM orders WHERE o_orderkey < 1000),
        |stage AS (SELECT o_orderkey, o_orderstatus,
        |            CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
        |            'new' AS src
        |          FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500)
        |SELECT t.* FROM target t LEFT JOIN stage s USING (o_orderkey)
        |WHERE s.o_orderkey IS NULL
        |   OR (t.o_orderstatus IS NOT DISTINCT FROM s.o_orderstatus
        |       AND t.o_totalprice IS NOT DISTINCT FROM s.o_totalprice)
        |UNION ALL
        |SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice, s.src
        |FROM stage s JOIN target t USING (o_orderkey)
        |WHERE t.o_orderstatus IS DISTINCT FROM s.o_orderstatus
        |   OR t.o_totalprice IS DISTINCT FROM s.o_totalprice
        |UNION ALL
        |SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice, s.src
        |FROM stage s LEFT JOIN target t USING (o_orderkey)
        |WHERE t.o_orderkey IS NULL""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val target = o.where(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          lit("old").as("src"))
      val stage = o.where(col("o_orderkey") >= 500 && col("o_orderkey") < 1500)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 2 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          lit("new").as("src"))
      Merge.upsertOnDiffFrame(target, stage, Seq("o_orderkey"),
        compareCols = Seq("o_orderstatus", "o_totalprice"))
    },

    // ---- SCD TYPE-2 dimension history (§2.3 beyond-ref): day-0 open
    //      set + one pre-closed generation, a changed/new/unchanged
    //      stage applied at day-30 — the oracle replays all four legs
    //      (closed passthrough / keep / close / open) ----
    Q("q_scd2_apply", duckScd2Legs) { (s, dir) =>
      val (hist, stage) = scd2Fixture(s, dir)
      Merge.scd2Apply(hist, stage, Seq("o_orderkey"),
        loadTs = "2024-02-01 00:00:00")
    },

    // ---- SCD-2 point-in-time read: the version of every key valid at
    //      day 15 — after the day-0 load, before the day-30 merge, so
    //      the pre-closed generation and the day-30 births are both
    //      correctly absent ----
    Q("q_scd2_asof",
      s"""SELECT * FROM ($duckScd2Legs) q
        |WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')""".stripMargin) {
      (s, dir) =>
        val (hist, stage) = scd2Fixture(s, dir)
        Merge.scd2AsOf(
          Merge.scd2Apply(hist, stage, Seq("o_orderkey"),
            loadTs = "2024-02-01 00:00:00"),
          "2024-01-15 00:00:00")
    },

    // ---- SCD-2 point-in-time enrich: each fact joined to the
    //      dimension version valid at the fact's OWN instant — odd
    //      keys priced at day 15 (pre-merge terms), even keys at day
    //      45 (post-merge terms), keys born day-30 null at day 15 ----
    Q("q_scd2_enrich",
      s"""WITH f AS (SELECT o_orderkey,
        |      CASE WHEN o_orderkey % 2 = 1 THEN TIMESTAMP '2024-01-15 00:00:00'
        |           ELSE TIMESTAMP '2024-03-15 00:00:00' END AS fact_ts
        |    FROM orders WHERE o_orderkey >= 200 AND o_orderkey < 1300)
        |SELECT f.o_orderkey, f.fact_ts,
        |       h.o_totalprice AS o_totalprice_dim,
        |       h.o_orderstatus AS o_orderstatus_dim
        |FROM f LEFT JOIN ($duckScd2Legs) h
        |  ON f.o_orderkey = h.o_orderkey
        | AND h.valid_from <= f.fact_ts
        | AND (h.valid_to IS NULL OR h.valid_to > f.fact_ts)""".stripMargin) { (s, dir) =>
      val (hist, stage) = scd2Fixture(s, dir)
      val applied = Merge.scd2Apply(hist, stage, Seq("o_orderkey"),
        loadTs = "2024-02-01 00:00:00")
      val facts = t(s, dir, "orders")
        .where(col("o_orderkey") >= 200 && col("o_orderkey") < 1300)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 2 === 1, lit("2024-01-15 00:00:00"))
            .otherwise(lit("2024-03-15 00:00:00"))
            .cast(TimestampNTZType).as("fact_ts"))
      Merge.scd2Enrich(facts, applied, Seq("o_orderkey"), "fact_ts",
        Seq("o_totalprice", "o_orderstatus"))
    },

    // ---- blocked entity resolution (§2.3 beyond-ref): two blocking
    //      passes (first-token+brand, suffix-3+brand) recover a
    //      mid-string deletion, exact Levenshtein refine ≤ 2 ----
    Q("q_er_blocked",
      s"""WITH $duckErCandCtes
        |SELECT l_id, r_id, CAST(levenshtein(l_name, r_name) AS INTEGER) AS lev_dist
        |FROM cand WHERE levenshtein(l_name, r_name) <= 2""".stripMargin) { (s, dir) =>
      val (lf, rt) = erSides(s, dir)
      RelationalOps.blockedLevenshteinJoin(lf, rt, "l_name", "r_name",
        erBlockKeys, maxDist = 2)
        .select("l_id", "r_id", "lev_dist")
    },

    // ---- the stop-block cap engaged, oracle-proven: single pass
    //      (first-token+brand) with maxBlock=120 — blocks over the cap
    //      drop on EITHER side before the join (binds at sf0.1 where
    //      blocks average ~100, a no-op at sf0.01) ----
    Q("q_er_blocked_capped",
      s"""WITH $duckErCandCtes,
        |lc AS (SELECT l_id, l_name, l_brand FROM (
        |         SELECT pl.*, count(*) OVER (PARTITION BY
        |           concat(split_part(l_name, ' ', 1), '|', l_brand)) AS bn FROM pl)
        |       WHERE bn <= 120),
        |rc AS (SELECT r_id, r_name, r_brand FROM (
        |         SELECT pr.*, count(*) OVER (PARTITION BY
        |           concat(split_part(r_name, ' ', 1), '|', r_brand)) AS bn FROM pr)
        |       WHERE bn <= 120)
        |SELECT l_id, r_id, CAST(levenshtein(l_name, r_name) AS INTEGER) AS lev_dist
        |FROM lc JOIN rc ON concat(split_part(l_name, ' ', 1), '|', l_brand)
        |                 = concat(split_part(r_name, ' ', 1), '|', r_brand)
        |WHERE levenshtein(l_name, r_name) <= 2""".stripMargin) { (s, dir) =>
      val (lf, rt) = erSides(s, dir)
      RelationalOps.blockedLevenshteinJoin(lf, rt, "l_name", "r_name",
        erBlockKeys.take(1), maxDist = 2, maxBlock = 120)
        .select("l_id", "r_id", "lev_dist")
    },

    // ---- the FREQUENCY-pruned key variant, both
    //      passes, oracle-proven: a key covering > 0.5% of a side's
    //      rows is a stop-key ON THAT SIDE — scale-stable where the
    //      absolute maxBlock is not (fixed-vocabulary keys like the
    //      suffix-3 pass hold constant SHARE as data grows, so the
    //      same keys stay pruned at every corpus size and recall on
    //      the non-degenerate remainder is preserved). Binds at
    //      sf0.01 already (caps ≈ 10 left / 3 right vs suffix blocks
    //      averaging 16 / 5) ----
    Q("q_er_blocked_pruned",
      s"""WITH pl AS (SELECT p_partkey AS l_id, concat(p_name, ' ', p_type) AS l_name,
        |         p_brand AS l_brand FROM part),
        |pr AS (SELECT p_partkey AS r_id,
        |         concat(substr(nm, 1, 7), substr(nm, 9)) AS r_name, p_brand AS r_brand
        |       FROM (SELECT p_partkey, concat(p_name, ' ', p_type) AS nm, p_brand
        |             FROM part WHERE p_partkey % 3 = 0)),
        |lcap AS (SELECT greatest(1, CAST(floor(0.005 * count(*)) AS BIGINT)) AS cap FROM pl),
        |rcap AS (SELECT greatest(1, CAST(floor(0.005 * count(*)) AS BIGINT)) AS cap FROM pr),
        |l1 AS (SELECT l_id, l_name, l_brand FROM (
        |         SELECT pl.*, count(*) OVER (PARTITION BY
        |           concat(split_part(l_name, ' ', 1), '|', l_brand)) AS bn FROM pl)
        |       WHERE bn <= (SELECT cap FROM lcap)),
        |r1 AS (SELECT r_id, r_name, r_brand FROM (
        |         SELECT pr.*, count(*) OVER (PARTITION BY
        |           concat(split_part(r_name, ' ', 1), '|', r_brand)) AS bn FROM pr)
        |       WHERE bn <= (SELECT cap FROM rcap)),
        |l2 AS (SELECT l_id, l_name, l_brand FROM (
        |         SELECT pl.*, count(*) OVER (PARTITION BY
        |           concat(right(l_name, 3), '|', l_brand)) AS bn FROM pl)
        |       WHERE bn <= (SELECT cap FROM lcap)),
        |r2 AS (SELECT r_id, r_name, r_brand FROM (
        |         SELECT pr.*, count(*) OVER (PARTITION BY
        |           concat(right(r_name, 3), '|', r_brand)) AS bn FROM pr)
        |       WHERE bn <= (SELECT cap FROM rcap)),
        |cand AS (
        |  SELECT l1.l_id, l1.l_name, r1.r_id, r1.r_name
        |  FROM l1 JOIN r1 ON concat(split_part(l_name, ' ', 1), '|', l_brand)
        |                   = concat(split_part(r_name, ' ', 1), '|', r_brand)
        |  UNION
        |  SELECT l2.l_id, l2.l_name, r2.r_id, r2.r_name
        |  FROM l2 JOIN r2 ON concat(right(l_name, 3), '|', l_brand)
        |                   = concat(right(r_name, 3), '|', r_brand))
        |SELECT l_id, r_id, CAST(levenshtein(l_name, r_name) AS INTEGER) AS lev_dist
        |FROM cand WHERE levenshtein(l_name, r_name) <= 2""".stripMargin) { (s, dir) =>
      val (lf, rt) = erSides(s, dir)
      RelationalOps.blockedLevenshteinJoin(lf, rt, "l_name", "r_name",
        erBlockKeys, maxDist = 2, maxKeyShare = 0.005)
        .select("l_id", "r_id", "lev_dist")
    },

    // ---- golden-record entity groups: the ER match pairs closed
    //      under transitive connectivity — every part gets its entity
    //      cluster id (min member key, the CC convergence point) and
    //      the cluster size; unmatched parts are singleton entities.
    //      The end state of a record-linkage pipeline: one id per
    //      real-world entity across both "systems" ----
    Q("q_er_groups",
      s"""WITH RECURSIVE $duckErCandCtes,
        |ep AS (SELECT l_id AS id_a, r_id AS id_b FROM cand
        |       WHERE levenshtein(l_name, r_name) <= 2 AND l_id <> r_id),
        |e AS (SELECT id_a AS u, id_b AS v FROM ep UNION SELECT id_b, id_a FROM ep),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |cc AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
        |asg AS (SELECT p.p_partkey, COALESCE(cc.comp, p.p_partkey) AS entity_id
        |        FROM part p LEFT JOIN cc ON cc.u = p.p_partkey)
        |SELECT p_partkey, entity_id,
        |  CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS n_records
        |FROM asg""".stripMargin) { (s, dir) =>
      val (lf, rt) = erSides(s, dir)
      val pairs = RelationalOps.blockedLevenshteinJoin(lf, rt, "l_name", "r_name",
        erBlockKeys, maxDist = 2)
        .where(col("l_id") =!= col("r_id"))
        .select(col("l_id").as("id_a"), col("r_id").as("id_b"))
      val cc = GraphOps.connectedComponents(pairs, "id_a", "id_b")
      t(s, dir, "part").select("p_partkey")
        .join(cc.withColumnRenamed("node", "p_partkey"), Seq("p_partkey"), "left")
        .select(col("p_partkey"),
          coalesce(col("component"), col("p_partkey")).as("entity_id"))
        .withColumn("n_records", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("entity_id")))
    },

    // ---- explicit-values pivot cross-tab (§2.4 beyond-ref): status
    //      columns across, priority down, exact-decimal revenue sums —
    //      the value list is a declared contract, never a hidden
    //      distinct+collect ----
    Q("q_pivot",
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "P"
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      RelationalOps.pivotAgg(
        t(s, dir, "orders").select("o_orderpriority", "o_orderstatus", "o_totalprice"),
        Seq("o_orderpriority"), "o_orderstatus", Seq("F", "O", "P"),
        expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)"))
    },

    // ---- data-contract expectations gate (§2.2/§2.4 beyond-ref):
    //      six rules over orders, mixing passes (key unique, not-null)
    //      with real violations (price cap, status set, priority
    //      shape, customer fan-out) — row rules fused into ONE scan ----
    Q("q_expectations",
      """SELECT rule, target, n_violations, n_violations = 0 AS pass FROM (
        |SELECT 'not_null' AS rule, 'o_custkey' AS target,
        |  CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_violations FROM orders
        |UNION ALL SELECT 'in_range', 'o_totalprice',
        |  CAST(count(*) FILTER (WHERE o_totalprice IS NOT NULL
        |    AND (o_totalprice < 0 OR o_totalprice > 100000)) AS BIGINT) FROM orders
        |UNION ALL SELECT 'matches', 'o_orderpriority',
        |  CAST(count(*) FILTER (WHERE o_orderpriority IS NOT NULL
        |    AND NOT regexp_full_match(o_orderpriority, '(?:[1-3]-.*)')) AS BIGINT) FROM orders
        |UNION ALL SELECT 'in_set', 'o_orderstatus',
        |  CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL
        |    AND o_orderstatus NOT IN ('F', 'O')) AS BIGINT) FROM orders
        |UNION ALL SELECT 'satisfies', 'f_orders_priced',
        |  CAST(count(*) FILTER (WHERE NOT coalesce(
        |    o_orderstatus <> 'F' OR o_totalprice >= 50, false)) AS BIGINT) FROM orders
        |UNION ALL SELECT 'unique', 'o_orderkey',
        |  (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT)
        |   FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1))
        |UNION ALL SELECT 'unique', 'o_custkey',
        |  (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT)
        |   FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey HAVING count(*) > 1)))""".stripMargin) {
      (s, dir) =>
        Expectations.report(t(s, dir, "orders"), Seq(
          Expectations.NotNull("o_custkey"),
          Expectations.InRange("o_totalprice", 0, 100000),
          Expectations.Matches("o_orderpriority", "[1-3]-.*"),
          Expectations.InSet("o_orderstatus", Seq("F", "O")),
          Expectations.Satisfies("f_orders_priced",
            "o_orderstatus <> 'F' OR o_totalprice >= 50"),
          Expectations.Unique(Seq("o_orderkey")),
          Expectations.Unique(Seq("o_custkey"))))
    },

    // ---- per-group contract report: the same rule kinds keyed by
    //      order priority — "which slice broke the feed"; dense (a
    //      clean unique rule still reports its zero row) ----
    Q("q_expectations_by",
      """WITH g AS (SELECT DISTINCT o_orderpriority FROM orders),
        |rowr AS (
        |  SELECT o_orderpriority, 'in_range' AS rule, 'o_totalprice' AS target,
        |    CAST(count(*) FILTER (WHERE o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0 OR o_totalprice > 100000)) AS BIGINT) AS n_violations
        |  FROM orders GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT o_orderpriority, 'in_set', 'o_orderstatus',
        |    CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F', 'O')) AS BIGINT)
        |  FROM orders GROUP BY o_orderpriority),
        |uniq AS (
        |  SELECT g.o_orderpriority, 'unique' AS rule, 'o_custkey' AS target,
        |    CAST(coalesce(x.nv, 0) AS BIGINT) AS n_violations
        |  FROM g LEFT JOIN (
        |    SELECT o_orderpriority, sum(c - 1) AS nv
        |    FROM (SELECT o_orderpriority, o_custkey, count(*) AS c FROM orders
        |          GROUP BY 1, 2 HAVING count(*) > 1)
        |    GROUP BY o_orderpriority) x USING (o_orderpriority))
        |SELECT o_orderpriority, rule, target, n_violations,
        |       n_violations = 0 AS pass
        |FROM (SELECT * FROM rowr UNION ALL SELECT * FROM uniq)""".stripMargin) {
      (s, dir) =>
        Expectations.reportBy(t(s, dir, "orders"), Seq("o_orderpriority"), Seq(
          Expectations.InRange("o_totalprice", 0, 100000),
          Expectations.InSet("o_orderstatus", Seq("F", "O")),
          Expectations.Unique(Seq("o_custkey"))))
    },

    // ---- quarantine ROUTER (§2.2 beyond-ref): the
    //      same contract rules now ROUTE rows instead of observing or
    //      aborting — quarantined rows carry their violated-rule tags
    //      (unique-excess first-wins by o_orderkey, the deterministic
    //      keepOrder the oracle replays with the same window) ----
    Q("q_expectations_split",
      """WITH tg AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0 OR o_totalprice > 100000)
        |      THEN 'in_range:o_totalprice' END AS t1,
        |    CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F', 'O')
        |      THEN 'in_set:o_orderstatus' END AS t2,
        |    CASE WHEN row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) > 1
        |      THEN 'unique:o_custkey' END AS t3
        |  FROM orders)
        |SELECT o_orderkey, concat_ws(',', t1, t2, t3) AS violated
        |FROM tg WHERE t1 IS NOT NULL OR t2 IS NOT NULL OR t3 IS NOT NULL""".stripMargin) {
      (s, dir) =>
        val (_, quar) = Expectations.split(
          t(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
          splitRules, keepOrder = Seq(col("o_orderkey")))
        quar.select(col("o_orderkey"),
          array_join(col("violated"), ",").as("violated"))
    },

    // ---- the split LAWS as a checked frame: pass ∪ quarantine ≡
    //      input (the '__rows' row) and per-tag quarantine counts ≡
    //      report's n_violations (one row per rule, clean rules
    //      included at 0 = 0) — the verdict-#5 "done" criterion as an
    //      oracle row rather than a test-only claim ----
    Q("q_expectations_split_law",
      """WITH tg AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0 OR o_totalprice > 100000)
        |      THEN 'in_range:o_totalprice' END AS t1,
        |    CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F', 'O')
        |      THEN 'in_set:o_orderstatus' END AS t2,
        |    CASE WHEN row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) > 1
        |      THEN 'unique:o_custkey' END AS t3
        |  FROM orders),
        |q AS (SELECT * FROM tg WHERE t1 IS NOT NULL OR t2 IS NOT NULL OR t3 IS NOT NULL),
        |tc AS (SELECT tag, CAST(count(*) AS BIGINT) AS n_quarantined
        |       FROM (SELECT unnest([t1, t2, t3]) AS tag FROM q)
        |       WHERE tag IS NOT NULL GROUP BY tag),
        |rep AS (
        |  SELECT 'in_range:o_totalprice' AS tag,
        |    CAST(count(*) FILTER (WHERE o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0 OR o_totalprice > 100000)) AS BIGINT) AS n_violations
        |  FROM orders
        |  UNION ALL SELECT 'in_set:o_orderstatus',
        |    CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F', 'O')) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'unique:o_custkey',
        |    (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT)
        |     FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey HAVING count(*) > 1)))
        |SELECT tag, n_quarantined, n_violations, n_quarantined = n_violations AS law FROM (
        |  SELECT rep.tag, CAST(coalesce(tc.n_quarantined, 0) AS BIGINT) AS n_quarantined,
        |         rep.n_violations
        |  FROM rep LEFT JOIN tc USING (tag)
        |  UNION ALL
        |  SELECT '__rows',  -- pass + quarantine = (tg - q) + q = tg
        |    (SELECT CAST(count(*) AS BIGINT) FROM tg),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders))""".stripMargin) {
      (s, dir) =>
        val o = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        val (pass, quar) = Expectations.split(o, splitRules,
          keepOrder = Seq(col("o_orderkey")))
        val tc = quar.select(explode(col("violated")).as("tag"))
          .groupBy("tag").agg(count(lit(1)).as("n_quarantined"))
        val rep = Expectations.report(o, splitRules)
          .select(concat_ws(":", col("rule"), col("target")).as("tag"),
            col("n_violations"))
        val tagLaw = rep.join(tc, Seq("tag"), "left")
          .select(col("tag"),
            coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"),
            col("n_violations"))
        val rowsLaw = pass.agg(count(lit(1)).as("__np"))
          .crossJoin(broadcast(quar.agg(count(lit(1)).as("__nq"))))
          .crossJoin(broadcast(o.agg(count(lit(1)).as("__ni"))))
          .select(lit("__rows").as("tag"),
            (col("__np") + col("__nq")).as("n_quarantined"),
            col("__ni").as("n_violations"))
        tagLaw.unionByName(rowsLaw)
          .withColumn("law", col("n_quarantined") === col("n_violations"))
    },

    // ---- case-mode equality filter (§2.2) ----
    Q("q_filter_equals",
      "SELECT c_custkey, c_mktsegment FROM customer WHERE lower(c_mktsegment) = 'furniture'") { (s, dir) =>
      RelationalOps.filterEquals(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        "c_mktsegment", "FURNITURE", "lower")
    },

    // ---- incremental partition window (§2.10) ----
    Q("q_partition_window",
      """SELECT o_orderkey, o_orderdate FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'""".stripMargin) { (s, dir) =>
      Extract.partitionWindow(
        t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        "o_orderdate", "1998-01-01 00:00:00", "1999-01-01 00:00:00")
    },

    // ---- watermark scalar + incremental filter (§2.10) ----
    Q("q_watermark",
      """SELECT o_orderkey, o_orderdate FROM orders
        |WHERE o_orderdate > (SELECT max(o_orderdate) FROM orders
        |                     WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00')""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val wm = Extract.maxValue(
        o.where(col("o_orderdate") < lit("2000-01-01 00:00:00").cast(TimestampNTZType)),
        "o_orderdate").getOrElse(sys.error("empty watermark source"))
      Extract.afterWatermark(o.select("o_orderkey", "o_orderdate"), "o_orderdate", wm)
    },

    // ---- scalar aggregate (§2.4) ----
    Q("q_agg_scalar",
      "SELECT max(o_orderdate) AS wm FROM orders") { (s, dir) =>
      t(s, dir, "orders").agg(max(col("o_orderdate")).as("wm"))
    },

    // ---- struct flatten (§2.7) ----
    Q("q_flatten_struct",
      "SELECT c_custkey, c_name, c_acctbal FROM customer") { (s, dir) =>
      val nested = t(s, dir, "customer").select(
        col("c_custkey"), struct(col("c_name"), col("c_acctbal")).as("info"))
      NestedOps.flattenStruct(nested, "info")
        .select("c_custkey", "c_name", "c_acctbal")
    },

    // ---- array explode (§2.7) ----
    Q("q_explode_array",
      "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents") { (s, dir) =>
      val words = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("word"))
      NestedOps.explodeColumn(words, "word")
    },

    // ---- stringified-list explode path (§2.7) ----
    Q("q_explode_string_list",
      """SELECT l_orderkey, l_linenumber,
        |  unnest(string_split(l_returnflag || ',' || l_linestatus, ',')) AS item
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val df = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        concat(lit("["), col("l_returnflag"), lit(", "), col("l_linestatus"), lit("]")).as("item"))
      NestedOps.explodeColumn(df, "item")
    },

    // ---- HOF filter: drop array elements with empty nested arrays (§2.7) ----
    Q("q_filter_empty_array",
      """SELECT doc_id,
        |  (CASE WHEN len(list_filter(string_split(text, ' '), w -> w LIKE 'a%')) > 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN len(list_filter(string_split(text, ' '), w -> w LIKE 'z%')) > 0 THEN 1 ELSE 0 END)
        |  + 1 AS n_nonempty
        |FROM documents""".stripMargin) { (s, dir) =>
      val df = t(s, dir, "documents").select(
        col("doc_id"),
        expr("""array(
                 named_struct('tags', filter(split(text, ' '), w -> w like 'a%')),
                 named_struct('tags', filter(split(text, ' '), w -> w like 'z%')),
                 named_struct('tags', split(text, ' ')))""").as("items"))
      NestedOps.filterEmptyFromArray(df, "items", "tags")
        .select(col("doc_id"), size(col("items")).cast(IntegerType).as("n_nonempty"))
    },

    // ---- arg-max within array (§2.4/§2.7) ----
    Q("q_argmax_array",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val items = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity")))).as("items"))
      NestedOps.argMaxInArray(items, "items", "l_quantity")
        .select(col("l_orderkey"),
          col("items.l_linenumber").as("l_linenumber"),
          col("items.l_quantity").as("l_quantity"))
    },

    // ---- JSON parse with declared schema (§2.7) ----
    Q("q_json_parse",
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events") { (s, dir) =>
      val parsed = NestedOps.parseJson(
        t(s, dir, "events").select("event_id", "props"),
        "props", StructType(Seq(StructField("k", LongType))))
      parsed.select(col("event_id"), col("props.k").as("k"))
    },

    // ---- row → JSON param string (§2.1 API fan-out prep) ----
    Q("q_to_json_params",
      """SELECT CAST(to_json(struct_pack(r_regionkey := r_regionkey, r_name := r_name)) AS VARCHAR) AS params
        |FROM region""".stripMargin) { (s, dir) =>
      NestedOps.toJsonParams(t(s, dir, "region"))
    },

    // ---- sort + limit with deterministic tiebreak (§2.5) ----
    Q("q_sort_limit",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    },

    // ---- window rank (§2.5) ----
    Q("q_window_rank",
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    },

    // ---- rollup aggregation (§2.4 "free" group-set surface) ----
    Q("q_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(expr("cast(sum(cast(l_quantity as decimal(12,2))) as double)").as("sum_qty"),
          count(lit(1)).as("n"))
    },

    // ---- cube aggregation (§2.4 group-set surface) ----
    Q("q_cube",
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
    },

    // ---- intersect / except (§2.6 — beyond the reference, free in Spark) ----
    Q("q_intersect",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      o.where(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.where(col("o_orderstatus") === "O").select("o_custkey"))
    },

    Q("q_except",
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      c.where(col("c_acctbal") > 5000).select("c_custkey")
        .except(c.where(col("c_mktsegment") === "MACHINERY").select("c_custkey"))
    },

    // ---- multi-way star join w/ broadcast dims (§2.3; TPC-H Q3 shape) ----
    Q("q3_join",
      """SELECT l.l_orderkey,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(5,4)))) AS DOUBLE) AS revenue,
        |  o.o_orderdate, o.o_orderpriority
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'MACHINERY'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "MACHINERY")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(expr("cast(sum(cast(l_extendedprice as decimal(12,2)) * (cast(1 as decimal(5,4)) - cast(l_discount as decimal(5,4)))) as double)").as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },

    // ---- deep star join: region→nation→customer→orders→lineitem (§2.3) ----
    Q("q5_join",
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(5,4)))) AS DOUBLE) AS revenue
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |JOIN customer c ON c.c_nationkey = n.n_nationkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name""".stripMargin) { (s, dir) =>
      val r = t(s, dir, "region").where(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(expr("cast(sum(cast(l_extendedprice as decimal(12,2)) * (cast(1 as decimal(5,4)) - cast(l_discount as decimal(5,4)))) as double)").as("revenue"))
    },

    // ---- typed-record hash identity (§1.1 dbt sha256 pattern) ----
    Q("q_hash_identity",
      """SELECT o_orderkey,
        |  sha256(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
        |         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')) AS row_hash
        |FROM orders""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
        .withColumn("__od", date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
      o.select(col("o_orderkey"),
        MetaOps.hashIdentity(Seq("o_orderkey", "o_orderstatus", "__od")).as("row_hash"))
    },

    // ---- skew-resistant salted join (SCALING.md; identical semantics
    //      to the plain join, so the oracle is the plain SQL join).
    //      TARGETED salting: hotThreshold=6 splits the fixture's
    //      orderkeys (1-7 lineitems each) into genuinely-hot (salted)
    //      and tail (unsalted), so the oracle hash-checks BOTH paths
    //      and their union ----
    // ---- bloom-filter pre-join pruning: the big side is probed
    //      against a sketch of the selective small side's keys before
    //      the join shuffle; false positives only waste shuffle — the
    //      exact semi-join behind it makes the result exact ----
    Q("q_bloom_join",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 7)""".stripMargin) { (s, dir) =>
      RelationalOps.bloomPrefilteredJoin(
        t(s, dir, "orders"),
        t(s, dir, "customer").where(col("c_nationkey") === 7).select("c_custkey"),
        "o_custkey", "c_custkey", joinType = "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    Q("q_salted_join",
      """SELECT o.o_orderpriority,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority""".stripMargin) { (s, dir) =>
      RelationalOps.saltedJoinTargeted(
        t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
        Seq("l_orderkey"), salt = 8, hotThreshold = 6)
        .groupBy("o_orderpriority")
        .agg(expr("cast(sum(cast(l_extendedprice as decimal(12,2))) as double)").as("sum_price"),
          count(lit(1)).as("n"))
    },

    // ---- column-ops chain: reorder → drop → rename → sanitize (§2.2
    //      rows previously ScalaTest-only, now driver-gated) ----
    Q("q_column_ops",
      """SELECT c_mktsegment AS segment, c_custkey, c_acctbal AS acctbalusd
        |FROM customer""".stripMargin) { (s, dir) =>
      val step = SchemaOps.renameColumns(
        SchemaOps.dropCols(
          SchemaOps.reindexCols(t(s, dir, "customer"),
            Seq("c_mktsegment", "c_custkey", "c_acctbal", "c_name")),
          Seq("c_name")),
        Map("c_mktsegment" -> "segment"))
      SchemaOps.sanitizeColumnNames(step.withColumnRenamed("c_acctbal", "acct bal(usd)"))
    },

    // ---- null-sentinel timestamps (§2.2; planted nulls) ----
    Q("q_sentinel_ts",
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F' THEN o_orderdate
        |       ELSE TIMESTAMP '1111-01-01 00:00:00' END AS od
        |FROM orders""".stripMargin) { (s, dir) =>
      CleanOps.sentinelTimestamps(
        t(s, dir, "orders").select(col("o_orderkey"),
          when(col("o_orderstatus") === "F", col("o_orderdate")).as("od")),
        Seq("od"))
    },

    // ---- bounded top-k aggregation: the heap Aggregator (O(k) state,
    //      map-side partial merge) must agree with the window top-k the
    //      oracle computes — the scale claim, hash-checked ----
    Q("q_topk_agg",
      """SELECT o_orderpriority, CAST(rank AS INTEGER) AS rank, o_totalprice, o_orderkey
        |FROM (SELECT o_orderpriority, o_totalprice, o_orderkey,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |      FROM orders)
        |WHERE rank <= 3""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ds = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
        .as[(String, Double, Long)]
      ds.groupByKey(_._1).mapValues(r => (r._2, r._3))
        .agg(graft.functions.TopKAggregator.topK(3).toColumn.name("top"))
        .toDF("o_orderpriority", "top")
        .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast(IntegerType).as("rank"),
          col("t._1").as("o_totalprice"), col("t._2").as("o_orderkey"))
    },

    // ---- backward as-of join (point-in-time lookup; DuckDB's native
    //      ASOF JOIN is the oracle for the union+window formulation) ----
    Q("q_asof_join",
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, l.ts, r.value AS value_asof
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      RelationalOps.asofJoin(
        ev.where(col("event_type") === "click").select("event_id", "user_id", "ts"),
        ev.where(col("event_type") === "purchase").select("user_id", "ts", "value"),
        keys = Seq("user_id"), tsCol = "ts", payload = Seq("value"))
    },

    // ---- range (interval containment) join via bin bucketing — the
    //      equi-join scale path for what Spark would otherwise plan as
    //      a nested-loop; oracle is DuckDB's plain range join ----
    Q("q_range_join",
      """WITH p AS (SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) % 5000 AS p
        |           FROM orders),
        |i AS (SELECT i AS interval_id, (i * 37) % 5000 AS lo,
        |             (i * 37) % 5000 + 150 + (i % 7) * 50 AS hi
        |      FROM range(0, 200) t(i))
        |SELECT o_orderkey, p, interval_id, lo, hi
        |FROM p JOIN i ON p >= lo AND p <= hi""".stripMargin) { (s, dir) =>
      val p = t(s, dir, "orders").select(col("o_orderkey"),
        pmod(floor(col("o_totalprice")).cast(LongType), lit(5000L)).as("p"))
      val iv = s.range(200).select(col("id").as("interval_id"),
        (col("id") * 37 % 5000).as("lo"),
        (col("id") * 37 % 5000 + 150 + col("id") % 7 * 50).as("hi"))
      RelationalOps.rangeJoin(p, iv, "p", "lo", "hi", binWidth = 256)
        .select("o_orderkey", "p", "interval_id", "lo", "hi")
    },

    // ---- batch sessionization by inactivity gap (§2.10) ----
    Q("q_sessionize",
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |                              ROWS UNBOUNDED PRECEDING) AS sess FROM g)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY user_id, sess""".stripMargin) { (s, dir) =>
      // value pre-cast to DECIMAL so the in-operator sum is exact and
      // engine-order-independent; back to double for the compare
      graft.streaming.StreamingOps.sessionizeBatch(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("value").cast(DecimalType(12, 2)).as("value")),
        "user_id", "ts", "value", gapSecs = 1800)
        .select(col("user_id"), col("n_events"),
          col("sum_value").cast(DoubleType).as("sum_value"),
          col("session_start"), col("session_end"))
    },

    // ---- the EVENT-TIME sessionization tier (session_window) run in
    //      batch mode — same function the stream runs, so this oracle
    //      gates the replay path too. Boundary differs from the
    //      lag-based tier: a gap of exactly the threshold SPLITS
    //      (half-open session windows), hence >= in the oracle and
    //      integer-microsecond comparison (session_window compares at
    //      full timestamp precision, not floored seconds) ----
    Q("q_sessionize_event",
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |                              ROWS UNBOUNDED PRECEDING) AS sess FROM g)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY user_id, sess""".stripMargin) { (s, dir) =>
      graft.streaming.StreamingOps.sessionizeEventTime(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("value").cast(DecimalType(12, 2)).as("value")),
        "user_id", "ts", "value", gapSecs = 1800)
        .select(col("user_id"), col("n_events"),
          col("sum_value").cast(DoubleType).as("sum_value"),
          col("session_start"), col("session_end"))
    },

    // ---- event-time tumbling window aggregation (§2.10) ----
    Q("q_events_hourly",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("cast(sum(cast(value as decimal(12,2))) as double)").as("sum_value"))
    },

    // ---- ordered funnel: view→click→signup→purchase, every step's
    //      cumulative min over ONE shared window partitioning; the
    //      oracle replays the same chained windows ----
    Q("q_funnel",
      """WITH w1 AS (SELECT user_id, ts, event_type, event_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) OVER pw AS r0
        |  FROM events
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > r0 THEN ts END) OVER pw AS r1
        |  FROM w1
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'signup' AND ts > r1 THEN ts END) OVER pw AS r2
        |  FROM w2
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w4 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > r2 THEN ts END) OVER pw AS r3
        |  FROM w3
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |u AS (SELECT user_id, min(r0) AS t0, min(r1) AS t1, min(r2) AS t2, min(r3) AS t3
        |      FROM w4 GROUP BY user_id)
        |SELECT 1 AS step, 'view' AS step_name, count(t0) AS n_users FROM u
        |UNION ALL SELECT 2, 'click', count(t1) FROM u
        |UNION ALL SELECT 3, 'signup', count(t2) FROM u
        |UNION ALL SELECT 4, 'purchase', count(t3) FROM u""".stripMargin) { (s, dir) =>
      EventAnalytics.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "signup", "purchase"), tieCol = "event_id")
    },

    // ---- cohort retention: anchor-relative week offsets (not
    //      calendar truncation of the activity) ----
    Q("q_retention",
      """WITH a AS (SELECT user_id, min(ts) AS anchor FROM events
        |           WHERE event_type = 'signup' GROUP BY user_id),
        |x AS (SELECT e.user_id,
        |        strftime(date_trunc('week', a.anchor), '%Y-%m-%d') AS cohort_week,
        |        CAST(floor(date_diff('day', CAST(a.anchor AS DATE), CAST(e.ts AS DATE)) / 7.0)
        |             AS INTEGER) AS week_offset
        |      FROM events e JOIN a USING (user_id)
        |      WHERE e.ts >= a.anchor)
        |SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_users
        |FROM x WHERE week_offset < 8 GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      EventAnalytics.retention(t(s, dir, "events"), "user_id", "ts", "event_type",
        cohortType = "signup", weeks = 8)
    },

    // ---- funnel with a bounded CONVERSION WINDOW: every post-view
    //      step must land within 7 days of the user's first view; the
    //      horizon predicate reads the row's own r0 running min, so
    //      it rides the same single window partitioning ----
    Q("q_funnel_window",
      """WITH w1 AS (SELECT user_id, ts, event_type, event_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) OVER pw AS r0
        |  FROM events
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > r0 AND ts <= r0 + INTERVAL 7 DAY THEN ts END) OVER pw AS r1
        |  FROM w1
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'signup' AND ts > r1 AND ts <= r0 + INTERVAL 7 DAY THEN ts END) OVER pw AS r2
        |  FROM w2
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w4 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > r2 AND ts <= r0 + INTERVAL 7 DAY THEN ts END) OVER pw AS r3
        |  FROM w3
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |u AS (SELECT user_id, min(r0) AS t0, min(r1) AS t1, min(r2) AS t2, min(r3) AS t3
        |      FROM w4 GROUP BY user_id)
        |SELECT 1 AS step, 'view' AS step_name, count(t0) AS n_users FROM u
        |UNION ALL SELECT 2, 'click', count(t1) FROM u
        |UNION ALL SELECT 3, 'signup', count(t2) FROM u
        |UNION ALL SELECT 4, 'purchase', count(t3) FROM u""".stripMargin) { (s, dir) =>
      EventAnalytics.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "signup", "purchase"), tieCol = "event_id",
        horizonSecs = Some(7L * 86400))
    },

    // ---- funnel with RE-ENTRY: expired horizons restart at the next
    //      view (session-window attempts over step-0 events); the
    //      oracle replays the anchor derivation (prev-step-0 running
    //      max + anchor running max) and the same chained mins
    //      partitioned by (user, attempt anchor) ----
    Q("q_funnel_reentry",
      """WITH p0 AS (SELECT user_id, ts, event_type, event_id,
        |    max(CASE WHEN event_type = 'view' THEN ts END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev0
        |  FROM events),
        |a0 AS (SELECT *, CASE WHEN event_type = 'view'
        |         AND (prev0 IS NULL OR ts > prev0 + INTERVAL 7 DAY)
        |         THEN ts END AS na
        |  FROM p0),
        |an AS (SELECT *, max(na) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS anchor
        |  FROM a0),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'view'
        |           AND ts <= anchor + INTERVAL 7 DAY THEN ts END) OVER aw AS r0
        |  FROM an WHERE anchor IS NOT NULL
        |  WINDOW aw AS (PARTITION BY user_id, anchor ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > r0
        |           AND ts <= anchor + INTERVAL 7 DAY THEN ts END) OVER aw AS r1
        |  FROM w1
        |  WINDOW aw AS (PARTITION BY user_id, anchor ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'signup' AND ts > r1
        |           AND ts <= anchor + INTERVAL 7 DAY THEN ts END) OVER aw AS r2
        |  FROM w2
        |  WINDOW aw AS (PARTITION BY user_id, anchor ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w4 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > r2
        |           AND ts <= anchor + INTERVAL 7 DAY THEN ts END) OVER aw AS r3
        |  FROM w3
        |  WINDOW aw AS (PARTITION BY user_id, anchor ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |att AS (SELECT user_id, anchor, min(r0) AS t0, min(r1) AS t1,
        |          min(r2) AS t2, min(r3) AS t3
        |        FROM w4 GROUP BY 1, 2),
        |f AS (SELECT user_id,
        |        max(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS f0,
        |        max(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS f1,
        |        max(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS f2,
        |        max(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS f3
        |      FROM att GROUP BY 1)
        |SELECT 1 AS step, 'view' AS step_name, CAST(sum(f0) AS BIGINT) AS n_users FROM f
        |UNION ALL SELECT 2, 'click', CAST(sum(f1) AS BIGINT) FROM f
        |UNION ALL SELECT 3, 'signup', CAST(sum(f2) AS BIGINT) FROM f
        |UNION ALL SELECT 4, 'purchase', CAST(sum(f3) AS BIGINT) FROM f""".stripMargin) { (s, dir) =>
      EventAnalytics.funnelReentry(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "signup", "purchase"), tieCol = "event_id",
        horizonSecs = 7L * 86400)
    },

    // ---- funnel transition times: users + exact-integer-µs average
    //      seconds per adjacent step pair, same shared single window;
    //      the oracle replays the chained mins and the same
    //      sum-then-divide order so no FP digit can drift ----
    Q("q_funnel_times",
      """WITH w1 AS (SELECT user_id, ts, event_type, event_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) OVER pw AS r0
        |  FROM events
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > r0 THEN ts END) OVER pw AS r1
        |  FROM w1
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'signup' AND ts > r1 THEN ts END) OVER pw AS r2
        |  FROM w2
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |w4 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > r2 THEN ts END) OVER pw AS r3
        |  FROM w3
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |u AS (SELECT user_id, min(r0) AS t0, min(r1) AS t1, min(r2) AS t2, min(r3) AS t3
        |      FROM w4 GROUP BY user_id)
        |SELECT 2 AS step, 'view' AS from_step, 'click' AS to_step, count(t1) AS n_users,
        |  CAST(sum(epoch_us(t1) - epoch_us(t0)) AS DOUBLE) / count(t1) / 1000000.0 AS avg_secs
        |FROM u
        |UNION ALL SELECT 3, 'click', 'signup', count(t2),
        |  CAST(sum(epoch_us(t2) - epoch_us(t1)) AS DOUBLE) / count(t2) / 1000000.0 FROM u
        |UNION ALL SELECT 4, 'signup', 'purchase', count(t3),
        |  CAST(sum(epoch_us(t3) - epoch_us(t2)) AS DOUBLE) / count(t3) / 1000000.0 FROM u""".stripMargin) {
      (s, dir) =>
        EventAnalytics.funnelTimes(t(s, dir, "events"), "user_id", "ts", "event_type",
          Seq("view", "click", "signup", "purchase"), tieCol = "event_id")
    },

    // ---- last-touch attribution: each purchase credited to the most
    //      recent preceding view/click within a 30-day lookback; one
    //      window over the funnel's (user, ts, tie) partitioning ----
    Q("q_attribution",
      """WITH c AS (
        |  SELECT user_id, ts, event_type, event_id,
        |    last_value(CASE WHEN event_type IN ('view','click') THEN event_type END IGNORE NULLS)
        |      OVER w AS touch_type,
        |    last_value(CASE WHEN event_type IN ('view','click') THEN ts END IGNORE NULLS)
        |      OVER w AS touch_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT CASE WHEN touch_ts IS NOT NULL AND ts <= touch_ts + INTERVAL 30 DAY
        |            THEN touch_type ELSE 'unattributed' END AS touch_type,
        |  count(*) AS n_conversions
        |FROM c WHERE event_type = 'purchase' GROUP BY 1""".stripMargin) { (s, dir) =>
      EventAnalytics.attribution(t(s, dir, "events"), "user_id", "ts", "event_type",
        touchTypes = Seq("view", "click"), conversionType = "purchase",
        tieCol = "event_id", lookbackSecs = Some(30L * 86400))
    },

    // ---- first-order Markov transition counts over per-user event
    //      streams: one lag over the shared (user, ts, tie) window ----
    Q("q_event_transitions",
      """WITH t AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS from_type,
        |         event_type AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) AS n_transitions
        |FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      EventAnalytics.eventTransitions(t(s, dir, "events"), "user_id", "ts",
        "event_type", tieCol = "event_id")
    },

    // ---- rolling 7-day distinct purchasers per active day (the
    //      DAU/WAU dashboard series): collapse to distinct (user, day),
    //      bounded 7× explode of the collapsed set, broadcast
    //      days-with-activity filter — no range self-join, no global
    //      window ----
    Q("q_rolling_dau",
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |           WHERE event_type = 'purchase'),
        |days AS (SELECT DISTINCT d FROM a)
        |SELECT strftime(days.d, '%Y-%m-%d') AS day, count(DISTINCT a.user_id) AS n_users
        |FROM days JOIN a ON a.d BETWEEN days.d - 6 AND days.d
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      EventAnalytics.rollingActiveUsers(
        t(s, dir, "events").where(col("event_type") === "purchase"),
        "user_id", "ts", windowDays = 7)
    },

    // ---- regular-grid resampling with last-observation-carried-
    //      forward fill: each user's event series onto an hourly
    //      grid spanning their own [first, last] bucket; empty hours
    //      inherit the prior value (src='fill'). Values are COPIED,
    //      never combined — no float arithmetic anywhere, trivially
    //      engine-replayable; grid fan-out = span/step per key off a
    //      bounded per-key aggregate, not the event volume ----
    Q("q_resample_fill",
      """WITH b AS (SELECT user_id, ts, event_id, value,
        |    CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_ts
        |  FROM events WHERE user_id < 50),
        |lastv AS (SELECT user_id, bucket_ts, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, bucket_ts
        |                                 ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM b) WHERE rn = 1),
        |rng AS (SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx
        |        FROM b GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(mn, mx + 3600, 3600)) AS bucket_ts
        |         FROM rng),
        |j AS (SELECT g.user_id, g.bucket_ts, lastv.value AS obs
        |      FROM grid g LEFT JOIN lastv USING (user_id, bucket_ts))
        |SELECT user_id, bucket_ts,
        |  last_value(obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  CASE WHEN obs IS NULL THEN 'fill' ELSE 'obs' END AS src
        |FROM j""".stripMargin) { (s, dir) =>
      graft.analytics.TimeSeriesOps.resampleFill(
        t(s, dir, "events").where(col("user_id") < 50),
        "user_id", "ts", "value", "event_id", stepSeconds = 3600L)
    },

    // ---- trailing 24-row rolling aggregates over the resampled grid
    //      (dense hourly grid ⇒ "24 rows" IS "24 hours"): exact
    //      DECIMAL window sums cast to double, one IEEE division for
    //      the average — the exact-decimal oracle discipline inside a
    //      window frame, immune to each engine's frame-evaluation
    //      order ----
    Q("q_rolling_avg",
      """WITH b AS (SELECT user_id, ts, event_id, value,
        |    CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_ts
        |  FROM events WHERE user_id < 50),
        |lastv AS (SELECT user_id, bucket_ts, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, bucket_ts
        |                                 ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM b) WHERE rn = 1),
        |rng AS (SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx
        |        FROM b GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(mn, mx + 3600, 3600)) AS bucket_ts
        |         FROM rng),
        |r AS (SELECT g.user_id, g.bucket_ts,
        |    last_value(lastv.value IGNORE NULLS) OVER (PARTITION BY g.user_id
        |      ORDER BY g.bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |  FROM grid g LEFT JOIN lastv USING (user_id, bucket_ts))
        |SELECT user_id, bucket_ts,
        |  CAST(sum(TRY_CAST(value AS DECIMAL(12,2))) OVER wnd AS DOUBLE) AS roll_sum,
        |  count(TRY_CAST(value AS DECIMAL(12,2))) OVER wnd AS roll_n,
        |  CAST(sum(TRY_CAST(value AS DECIMAL(12,2))) OVER wnd AS DOUBLE)
        |    / count(TRY_CAST(value AS DECIMAL(12,2))) OVER wnd AS roll_avg
        |FROM r
        |WINDOW wnd AS (PARTITION BY user_id ORDER BY bucket_ts
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)""".stripMargin) {
      (s, dir) =>
        val grid = graft.analytics.TimeSeriesOps.resampleFill(
          t(s, dir, "events").where(col("user_id") < 50),
          "user_id", "ts", "value", "event_id", stepSeconds = 3600L)
        graft.analytics.TimeSeriesOps.rollingAgg(grid,
          "user_id", "bucket_ts", "value", nRows = 24)
          .select("user_id", "bucket_ts", "roll_sum", "roll_n", "roll_avg")
    },

    // ---- k-sigma outlier flags per event type with ZERO floating
    //      point: the test (n·x−S)² > k²·(n·Q−S²) is exact integer
    //      arithmetic over fixed-point-snapped values — no mean, no
    //      variance, no sqrt, order-free by construction; oracle
    //      replays it in HUGEINT ----
    Q("q_anomaly_sigma",
      """WITH u AS (SELECT event_id, event_type, value,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS u FROM events),
        |st AS (SELECT event_type, CAST(count(u) AS HUGEINT) AS n,
        |         CAST(sum(u) AS HUGEINT) AS s, sum(CAST(u AS HUGEINT) * u) AS q
        |       FROM u GROUP BY 1)
        |SELECT u.event_id, u.event_type, u.value,
        |  CAST(st.n AS BIGINT) AS n_group,
        |  (st.n * u.u - st.s) * (st.n * u.u - st.s) > 9 * (st.n * st.q - st.s * st.s)
        |    AS is_anomaly
        |FROM u JOIN st USING (event_type)""".stripMargin) { (s, dir) =>
      graft.analytics.AnomalyOps.sigmaFlags(
        t(s, dir, "events").select("event_id", "event_type", "value"),
        "event_type", "value", k = 3)
    },

    // ---- ROLLING k-sigma monitoring over the resampled grid: each
    //      hour's value tested against the trailing 24 PRIOR hours —
    //      the same float-free integer inequality, with (n,S,Q) as
    //      exact window sums; the level-shift hour flags on arrival
    //      because the current row never sits in its own baseline ----
    Q("q_rolling_anomaly",
      """WITH b AS (SELECT user_id, ts, event_id, value,
        |    CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_ts
        |  FROM events WHERE user_id < 50),
        |lastv AS (SELECT user_id, bucket_ts, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, bucket_ts
        |                                 ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM b) WHERE rn = 1),
        |rng AS (SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx
        |        FROM b GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(mn, mx + 3600, 3600)) AS bucket_ts
        |         FROM rng),
        |r AS (SELECT g.user_id, g.bucket_ts,
        |    last_value(lastv.value IGNORE NULLS) OVER (PARTITION BY g.user_id
        |      ORDER BY g.bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |  FROM grid g LEFT JOIN lastv USING (user_id, bucket_ts)),
        |u AS (SELECT user_id, bucket_ts, value,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS u FROM r),
        |wn AS (SELECT user_id, bucket_ts, value,
        |    CAST(u AS HUGEINT) AS u,
        |    count(u) OVER wnd AS n, CAST(sum(u) OVER wnd AS HUGEINT) AS s,
        |    sum(CAST(u AS HUGEINT) * u) OVER wnd AS q
        |  FROM u
        |  WINDOW wnd AS (PARTITION BY user_id ORDER BY bucket_ts
        |                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, bucket_ts, value, n AS n_window,
        |  CASE WHEN n >= 2
        |       THEN (n * u - s) * (n * u - s) > 9 * (n * q - s * s)
        |       ELSE FALSE END AS is_anomaly
        |FROM wn""".stripMargin) { (s, dir) =>
      val grid = graft.analytics.TimeSeriesOps.resampleFill(
        t(s, dir, "events").where(col("user_id") < 50),
        "user_id", "ts", "value", "event_id", stepSeconds = 3600L)
        .select("user_id", "bucket_ts", "value")
      graft.analytics.AnomalyOps.rollingSigmaFlags(grid,
        "user_id", "bucket_ts", "value", nRows = 24, k = 3)
    },

    // ---- top-k frequent event PATHS: the most common consecutive
    //      3-step journeys across all users — gaps break paths,
    //      ties rank by path string ----
    Q("q_frequent_paths",
      """WITH o AS (SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS t1, lead(event_type, 2) OVER w AS t2
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT event_type || '>' || t1 || '>' || t2 AS path
        |      FROM o WHERE t1 IS NOT NULL AND t2 IS NOT NULL),
        |c AS (SELECT path, count(*) AS n_occurrences FROM p GROUP BY 1)
        |SELECT path, n_occurrences,
        |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, path) AS INTEGER) AS rank
        |FROM c QUALIFY rank <= 20""".stripMargin) { (s, dir) =>
      graft.analytics.EventAnalytics.frequentPaths(t(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id", len = 3, k = 20)
    },

    // ---- experiment readout: per-segment two-proportion z-test with
    //      ZERO floating point — arms split deterministically over
    //      users, conversion = any purchase; the verdict is exact
    //      integer arithmetic (HUGEINT replay), never a rate or a
    //      square root ----
    Q("q_ab_test",
      """WITH u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
        |  FROM events GROUP BY 1),
        |t AS (SELECT user_id % 3 AS segment,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm, c FROM u),
        |st AS (SELECT segment,
        |    sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN arm = 'a' AND c = 1 THEN 1 ELSE 0 END) AS conv_a,
        |    sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS n_b,
        |    sum(CASE WHEN arm = 'b' AND c = 1 THEN 1 ELSE 0 END) AS conv_b
        |  FROM t GROUP BY 1)
        |SELECT segment, CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    (CAST(conv_a AS HUGEINT) * n_b - CAST(conv_b AS HUGEINT) * n_a)
        |      * (CAST(conv_a AS HUGEINT) * n_b - CAST(conv_b AS HUGEINT) * n_a)
        |      * (CAST(n_a AS HUGEINT) + n_b)
        |    > 4 * (CAST(conv_a AS HUGEINT) + conv_b)
        |      * (CAST(n_a AS HUGEINT) + n_b - conv_a - conv_b)
        |      * n_a * n_b
        |  ELSE FALSE END AS significant
        |FROM st""".stripMargin) { (s, dir) =>
      val users = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("__c"))
        .select((col("user_id") % 3).as("segment"),
          when(col("user_id") % 2 === 0, "a").otherwise("b").as("arm"),
          (col("__c") === 1).as("ok"))
      graft.analytics.ExperimentOps.twoProportionTest(users, "segment", "arm", "ok")
    },

    // ---- CDC-style snapshot diff: yesterday's orders vs today's
    //      (deterministically planted adds/removes/changes) classified
    //      added | removed | changed | unchanged with the same
    //      null-safe compare-set semantics the upsert-on-diff merge
    //      applies — the "what did the load actually do" audit ----
    Q("q_snapshot_diff",
      """WITH oldk AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |              WHERE o_orderkey % 7 <> 0),
        |newk AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0
        |         THEN CAST(o_totalprice AS DECIMAL(12,2)) + 1 ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT COALESCE(oldk.o_orderkey, newk.o_orderkey) AS o_orderkey,
        |  CASE WHEN oldk.o_orderkey IS NULL THEN 'added'
        |       WHEN newk.o_orderkey IS NULL THEN 'removed'
        |       WHEN oldk.o_totalprice IS DISTINCT FROM newk.o_totalprice
        |         OR oldk.o_orderstatus IS DISTINCT FROM newk.o_orderstatus THEN 'changed'
        |       ELSE 'unchanged' END AS change
        |FROM oldk FULL OUTER JOIN newk ON oldk.o_orderkey = newk.o_orderkey""".stripMargin) {
      (s, dir) =>
        val orders = t(s, dir, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        val oldDf = orders.where(col("o_orderkey") % 7 =!= 0)
        val newDf = orders.where(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 5 === 0,
              col("o_totalprice").cast(DecimalType(12, 2)) + 1)
              .otherwise(col("o_totalprice")).as("o_totalprice"),
            col("o_orderstatus"))
        Merge.snapshotDiff(oldDf, newDf, Seq("o_orderkey"))
    },

    // ---- the AT-REST anomaly-stats lifecycle: three day tranches of
    //      (n, S, Q) written, one consolidation mid-stream, then the
    //      LAST day's rows flagged against the cumulative artifact —
    //      exact integer sum algebra makes append ≡ rebuild, so the
    //      oracle is simply the whole-history flags restricted to the
    //      last day ----
    Q("q_anomaly_index",
      """WITH u AS (SELECT event_id, event_type, value,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS u FROM events),
        |st AS (SELECT event_type, CAST(count(u) AS HUGEINT) AS n,
        |         CAST(sum(u) AS HUGEINT) AS s, sum(CAST(u AS HUGEINT) * u) AS q
        |       FROM u GROUP BY 1)
        |SELECT u.event_id, u.event_type, u.value,
        |  CAST(st.n AS BIGINT) AS n_group,
        |  (st.n * u.u - st.s) * (st.n * u.u - st.s) > 9 * (st.n * st.q - st.s * st.s)
        |    AS is_anomaly
        |FROM u JOIN st USING (event_type)
        |WHERE u.event_id % 3 = 2""".stripMargin) { (s, dir) =>
      import graft.analytics.AnomalyOps
      val ev = t(s, dir, "events").select("event_id", "event_type", "value")
      val sDir = graft.util.Scratch.fresh("sigma_stats", dir)
      for (d <- 0 to 2)
        AnomalyOps.writeStatsTranche(
          AnomalyOps.statsSketch(ev.where(col("event_id") % 3 === d),
            "event_type", "value"), sDir, tag = s"d$d")
      AnomalyOps.consolidateStats(s, sDir, "event_type")
      AnomalyOps.sigmaFlagsAgainstStats(ev.where(col("event_id") % 3 === 2),
        AnomalyOps.readStats(s, sDir, "event_type"), "event_type", "value", k = 3)
    }
  )
}
