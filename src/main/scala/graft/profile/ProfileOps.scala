package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-profiling operators: per-key skew profiles and per-column
  * statistics. The operational counterpart of the engine's skew
  * mitigations ([[graft.relational.RelationalOps.saltedJoin]], AQE skew
  * splits): BEFORE a 100 TB join you profile the key, and the profile
  * tells you whether salting is needed and at what factor. The
  * reference has no profiling surface (its warehouse does it in SQL);
  * this is part of the pipeline extension tier.
  */
object ProfileOps {

  /** Heavy-hitter profile of a key column: the `topN` most frequent
    * keys with absolute count, share of all rows, and skew factor
    * (count ÷ mean-count-per-key; 1.0 = perfectly uniform). The row a
    * planner reads before choosing a salting factor — a key with skew
    * factor s needs ≈s salts to flatten.
    *
    * Scale shape: ONE shuffle (the groupBy); the top-N is a bounded
    * TakeOrdered, never a full sort; totals are a one-row aggregate of
    * the (distinct-key-sized) grouped frame joined back by literal
    * cross join of one row. The grouped frame forks into totals and
    * top-N, so it is persisted behind the returned frame (the dedup
    * pair finders' caching contract, `graft.util.Materialize`).
    */
  def keyProfile(df: DataFrame, keyCol: String, topN: Int = 50): DataFrame = {
    require(topN > 0, "keyProfile: topN must be > 0")
    val grouped = graft.util.Materialize.persist(
      df.groupBy(col(keyCol).cast(StringType).as("key")).agg(count(lit(1)).as("n")))
    val stats = grouped.agg(
      sum(col("n")).cast(DoubleType).as("__total"),
      count(lit(1)).cast(DoubleType).as("__nkeys"))
    grouped
      .orderBy(col("n").desc, col("key").asc)
      .limit(topN)
      .crossJoin(stats) // one row — a broadcast of two scalars
      .select(col("key"), col("n"),
        round(col("n").cast(DoubleType) / col("__total"), 6).as("share"),
        round(col("n").cast(DoubleType) * col("__nkeys") / col("__total"), 6).as("skew"))
  }

  /** Equi-width histogram of a numeric column over the FIXED range
    * `[lo, hi)`: `bins` buckets of width `(hi − lo) / bins`, values
    * outside the range clamped into the edge bins, nulls dropped.
    * Output one row per non-empty bin: `(bin, bin_lo, bin_hi, n)`.
    * The distribution-shape input the planner reads next to
    * [[keyProfile]] — range-partition boundaries, bucket counts, and
    * `maxPartitionBytes` sizing all start from a histogram.
    *
    * The range is caller-fixed rather than data-derived so the result
    * is a pure one-pass aggregation (a data-derived range needs a min/
    * max pass first — compose with [[columnProfile]] for that) and so
    * the bin function is deterministic and replayable cross-engine.
    * Scale shape: one map-side-combinable groupBy shuffle of at most
    * `bins` groups.
    */
  def histogram(df: DataFrame, c: String, bins: Int, lo: Double, hi: Double): DataFrame = {
    require(bins > 0, "histogram: bins must be > 0")
    require(hi > lo, s"histogram: need hi > lo, got [$lo, $hi)")
    val width = (hi - lo) / bins
    // NaN drops with null: (NaN−lo)/width is NaN, whose non-ANSI int
    // cast is 0 — silently inflating the lowest bin otherwise.
    // Clamp on floor()'s LongType BEFORE any narrowing cast: an
    // outlier ≥ lo + 2^31·width (or +Infinity, floor → Long.MaxValue)
    // would wrap negative under a non-ANSI int cast and land in bin 0
    // instead of the top edge bin.
    df.where(col(c).isNotNull && !isnan(col(c).cast(DoubleType)))
      .select(least(lit((bins - 1).toLong), greatest(lit(0L),
        floor((col(c).cast(DoubleType) - lo) / width)))
        .cast(IntegerType).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .select(col("bin"),
        (lit(lo) + col("bin") * width).as("bin_lo"),
        (lit(lo) + (col("bin") + 1) * width).as("bin_hi"),
        col("n"))
  }

  /** Per-column statistics for NUMERIC columns: row count, null count,
    * exact distinct count, min and max (as doubles). One pass over the
    * data — a single aggregation computes every column's stats (Spark
    * plans multi-column `count_distinct` with an expand, ×cols rows
    * shuffled; for quick looks at very wide tables, profile a column
    * subset). Output one row per column, ordered by the input order.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile: need at least one column")
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"__rows_$c"),
        (count(lit(1)) - count(col(c))).as(s"__nulls_$c"),
        count_distinct(col(c)).as(s"__dist_$c"),
        min(col(c)).cast(DoubleType).as(s"__min_$c"),
        max(col(c)).cast(DoubleType).as(s"__max_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // unpivot the single stats row into one row per column
    val entries = cols.map { c =>
      struct(lit(c).as("column"), col(s"__rows_$c").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"), col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"), col(s"__max_$c").as("max_value"))
    }
    one.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** Shannon diversity of a categorical column — the corpus-balance
    * gauge ("is this training mix one domain wearing a trenchcoat"):
    * `H = log2 N − (Σ c_i·log2 c_i)/N` in bits over the group counts,
    * plus the group count and row count it was computed from. H = 0 ⇔
    * one group; H = log2(n_groups) ⇔ perfectly uniform — the two ends
    * a mixture designer steers between ([[graft.training.TrainingOps
    * .sampleToMixture]] is the steering wheel; this is the dial).
    *
    * Determinism (the `unigramLogProb` snap): each `log2` of an exact
    * integer count is snapped to 1e-8 fixed point, the weighted sum
    * runs over exact DECIMAL(38,0) integers (order-free, overflow-safe
    * at any corpus size), and the result is a fixed two-division IEEE
    * chain over exact operands — deliberately NOT re-rounded (the
    * bm25 half-boundary lesson). Cross-engine exposure: one snap
    * boundary per DISTINCT count value.
    *
    * One map-side-combinable count pass + a ≤|groups|-row aggregate.
    * Output: one row `(n_groups, n_rows, entropy_bits)`.
    */
  def groupEntropy(df: DataFrame, keyCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def l8(e: Column): Column =
      floor(log2(e.cast(DoubleType)) * lit(1e8) + lit(0.5)).cast(LongType)
    df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("__c")).as("n_rows"),
        sum(l8(col("__c")).cast(d38) * col("__c")).as("__s8"))
      .select(col("n_groups"), col("n_rows"),
        ((l8(col("n_rows")).cast(d38) * col("n_rows") - col("__s8"))
          .cast(DoubleType) / lit(1e8) / col("n_rows").cast(DoubleType))
          .as("entropy_bits"))
  }
}
