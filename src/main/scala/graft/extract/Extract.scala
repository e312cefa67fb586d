package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Incremental-extract helpers (SURVEY.md §2.10).
  *
  * The reference's incremental pipelines are driven by a scalar
  * watermark (`select max(x)` on the target, `src/pyveb/lynx_client.py:83-92`,
  * `rs_fetch_single_val` `src/pyveb/rs_client.py:436-442`) and a
  * partition-date window (`partition_start/partition_end`,
  * `src/pyveb/common.py:63-124`). Its "streaming" is a bounded
  * server-side cursor yielding fixed-size row batches
  * (`src/pyveb/rs_client.py:537-551`).
  */
object Extract {

  /** Scalar watermark: max of a column (one value to the driver — the
    * only sanctioned driver-side collect in the engine core). A top-1
    * under Spark's own ordering — NaN above every other double, nulls
    * last — is `max` by definition, and it runs as one job (per-partition
    * top-1, merged on the driver) where `agg(max)` under AQE runs two
    * (the partial aggregate's stage, then the final). An empty or
    * all-null column gives None. */
  def maxValue(df: DataFrame, c: String): Option[Any] =
    df.select(col(c)).orderBy(col(c).desc_nulls_last).limit(1).collect()
      .headOption.flatMap(r => Option(r.get(0)))

  /** Rows strictly after a watermark (the `id__gt` / `> max(x)` pattern,
    * `src/pyveb/dbt_client.py:559-568`). */
  def afterWatermark(df: DataFrame, c: String, watermark: Any): DataFrame =
    df.where(col(c) > lit(watermark))

  /** Half-open partition window [start, end) on a date/timestamp column —
    * the `partition_start/partition_end` incremental filter
    * (`src/pyveb/common.py:105-114`). Pushed down to the scan when the
    * column is a partition or min/max-indexed parquet column.
    */
  def partitionWindow(df: DataFrame, c: String, start: String, end: String): DataFrame =
    df.where(col(c) >= lit(start).cast(df.schema(c).dataType) &&
             col(c) <  lit(end).cast(df.schema(c).dataType))

  /** Exact per-group quantiles (linear interpolation between closest
    * ranks — the standard continuous-quantile definition), one output
    * row per (group, p): corpus profiling (length/quality/token
    * distributions) before curation thresholds are chosen. Exact
    * percentile sorts within each group post-shuffle — profiling runs
    * on samples or bounded groups; switch to `percentile_approx` for
    * full-corpus sketches at 100 TB (not oracle-exact, so the checked
    * tier is the exact one).
    */
  def groupQuantiles(df: DataFrame, keys: Seq[String], valCol: String,
                     ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), "quantiles must be in [0,1]")
    val pArr = array(ps.map(lit): _*)
    df.groupBy(keys.map(col): _*)
      .agg(percentile(col(valCol), pArr).as("__qs"))
      .select(keys.map(col) :+ posexplode(col("__qs")).as(Seq("__pos", "value")): _*)
      .select(keys.map(col) :+ element_at(pArr, col("__pos") + 1).as("p") :+
        round(col("value"), 6).as("value"): _*)
  }

  /** The 100 TB tier of [[groupQuantiles]]: `approx_percentile`
    * (KLL-sketch, bounded memory per group regardless of group size)
    * with the same output shape. `accuracy` trades sketch size for
    * error (at 10000, rank error ≤ 1/10000·|group|). Not bit-exact by
    * construction, so the oracle-checked tier stays the exact one;
    * the spec bounds its divergence against exact quantiles instead. */
  def groupQuantilesApprox(df: DataFrame, keys: Seq[String], valCol: String,
                           ps: Seq[Double], accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), "quantiles must be in [0,1]")
    val pArr = array(ps.map(lit): _*)
    df.groupBy(keys.map(col): _*)
      .agg(percentile_approx(col(valCol), pArr, lit(accuracy)).as("__qs"))
      .select(keys.map(col) :+ posexplode(col("__qs")).as(Seq("__pos", "value")): _*)
      .select(keys.map(col) :+ element_at(pArr, col("__pos") + 1).as("p") :+
        // approx_percentile preserves the input type (exact percentile
        // returns double) — cast so both tiers share one output schema
        round(col("value").cast(DoubleType), 6).as("value"): _*)
  }

  /** Split a frame into ~`batchSize`-row slices by contiguous ranges of a
    * (roughly uniform) numeric key — the distributed analog of the
    * reference's `fetchmany(batch_size)` cursor loop
    * (`src/pyveb/rs_client.py:537-551`: one parquet file per batch).
    * In-engine the same file-sizing contract is met declaratively with
    * `maxRecordsPerFile`; this helper exists for sinks that genuinely
    * need batch-at-a-time delivery (e.g. rate-limited APIs).
    */
  def rangeBatches(df: DataFrame, keyCol: String, batchSize: Long): Iterator[DataFrame] = {
    val Array(lo, hi, n) =
      df.agg(min(col(keyCol)), max(col(keyCol)), count(lit(1))).head() match {
        case r if r.isNullAt(0) => return Iterator.empty
        case r => Array(r.get(0).toString.toDouble.toLong,
                        r.get(1).toString.toDouble.toLong, r.getLong(2))
      }
    val nBatches = math.max(1L, math.ceil(n.toDouble / batchSize).toLong)
    val step = math.max(1L, math.ceil((hi - lo + 1).toDouble / nBatches).toLong)
    (lo to hi by step).iterator.map { s =>
      df.where(col(keyCol) >= s && col(keyCol) < s + step)
    }
  }
}
