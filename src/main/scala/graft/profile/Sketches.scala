package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Hashes
import graft.io.Readers

/** Mergeable distinct-count sketches (HyperLogLog register layout) —
  * the 100 TB answer to `count_distinct` over a key too hot or too wide
  * to shuffle exactly: a corpus collapses to `m = 2^b` integer
  * registers (one small groupBy, map-side combinable), sketches from
  * different days/partitions/tables MERGE by register-wise max (the
  * union-cardinality property exact counts don't have), and the
  * estimate reads 2^b rows, not the corpus.
  *
  * Everything is EXACTLY replayable in another engine, which is rare
  * for sketches and deliberate here: the register math is pure integer
  * arithmetic on the portable 60-bit md5 hash (bucket = low b bits,
  * ρ = lowest-set-bit position of the remaining 60−b bits via a
  * generated integer CASE chain — no `log`/`pow`/bit intrinsics whose
  * libm rounding could differ between engines), and the estimator is
  * one IEEE division of two exactly-summed integers. The estimator is
  * the RAW LogLog/HLL formula `α·m²/Σ2^(−ρ_j)` — production HLL adds
  * low-range bias correction (linear counting) whose `ln` call is
  * exactly the engine-dependent libm op this design excludes; at the
  * cardinalities a sketch exists for (n ≫ m) the raw estimator is the
  * operative branch anyway. For small-set use the engine still offers
  * the standard correction as an explicitly NON-replayable sibling,
  * [[hllEstimateCorrected]] — spec-bounded against exact
  * `count_distinct` the way the ANN `_approx` tiers are, never
  * oracle-gated.
  *
  * Register rows are `(bucket INT, max_rho INT)` with absent buckets
  * meaning register 0 — sketches stay sparse-friendly and a parquet
  * sketch artifact is a few KB regardless of corpus size.
  */
object Sketches {

  /** Default register-index bits: m = 1024 registers, ~3.2% standard
    * error for the corrected estimator class. */
  val DefaultB = 10

  private def bits(b: Int) = 60 - b          // ρ domain: 1..bits, bits+1 when w = 0
  private def maxRho(b: Int) = bits(b) + 1

  /** α_m · m² · 2^maxRho as an exact double literal shared by the
    * Spark plan and any replaying oracle (embed `alphaNumerator(b)`
    * verbatim — double→string→double round-trips exactly). */
  def alphaNumerator(b: Int): Double = {
    val m = (1L << b).toDouble
    // (1L << maxRho).toDouble is exact; Math.pow only promises 1 ulp
    (0.7213 / (1.0 + 1.079 / m)) * m * m * (1L << maxRho(b)).toDouble
  }

  /** Lowest-set-bit position CASE chain over a non-negative integer
    * SQL expression: 1-based, `bits+1` for zero. `divOp` is the
    * integer-division token (Spark `div`, DuckDB `//`) so one
    * generator serves both dialects — keeping the engine and the
    * oracle running literally the same arithmetic. */
  def rhoCaseSql(w: String, nBits: Int, divOp: String): String = {
    val branches = (1 to nBits).map { k =>
      val cond =
        if (k == 1) s"$w % 2 = 1"
        else s"(($w) $divOp ${1L << (k - 1)}) % 2 = 1"
      s"WHEN $cond THEN $k"
    }
    s"CASE ${branches.mkString(" ")} ELSE ${nBits + 1} END"
  }

  /** Register value → scaled term `2^(maxRho − rho)` as a CASE of
    * literals (the exact-integer form of `2^(−ρ)·2^maxRho`). */
  def termCaseSql(rho: String, b: Int): String = {
    val mr = maxRho(b)
    val branches = (1 to mr).map(k => s"WHEN $rho = $k THEN ${1L << (mr - k)}")
    s"CASE ${branches.mkString(" ")} END"
  }

  /** Build the sketch: one row per OCCUPIED register. One shuffle of
    * ≤m groups (map-side combined), whatever the input size. */
  def hllSketch(df: DataFrame, keyCol: String, b: Int = DefaultB): DataFrame = {
    require(b >= 4 && b <= 16, s"hllSketch: b=$b outside [4,16]")
    val h: Column = Hashes.portable(col(keyCol).cast(StringType))
    // NULL keys are not elements: count_distinct ignores them, and an
    // unfiltered NULL hashes to NULL → every rho branch NULL → the ELSE
    // maximum lands in a phantom NULL-bucket register inflating the
    // estimate. Oracle SQL filters identically.
    df.where(col(keyCol).isNotNull)
      .select(
        h.bitwiseAND(lit((1L << b) - 1)).cast(IntegerType).as("bucket"),
        shiftright(h, b).as("__w"))   // h ≥ 0 (60-bit), so >> is the unsigned shift
      .withColumn("__rho", expr(rhoCaseSql("__w", bits(b), "div")))
      .groupBy("bucket")
      .agg(max(col("__rho")).cast(IntegerType).as("max_rho"))
  }

  /** LOW-RANGE-CORRECTED estimate — the small-cardinality tier the raw
    * estimator deliberately omits: below `n ≈ m` most registers are
    * empty and `α·m²/Σ` reads high, while LINEAR COUNTING
    * `m·ln(m/V)` (V = empty registers) is near-exact there. This
    * applies the standard HLL switch: linear counting when the raw
    * estimate ≤ 2.5·m AND some register is empty, raw otherwise.
    * Returns `(n_estimate DOUBLE, n_present BIGINT, tier STRING)` with
    * `tier` ∈ {'linear', 'raw'} so a profile can show which error
    * model applies. The `ln` is exactly the engine-dependent libm op
    * the replayable family excludes — so this tier is SPEC-BOUNDED
    * (error vs exact `count_distinct` asserted in `SketchesSpec`),
    * never oracle-gated; it sits beside [[hllEstimate]] the way
    * `Extract.groupQuantilesApprox` sits beside the exact tier. Same
    * plan shape as [[hllEstimate]]: one ≤m-row aggregation, the
    * b-mismatch tripwire included.
    */
  def hllEstimateCorrected(sketch: DataFrame, b: Int = DefaultB): DataFrame = {
    val m = 1L << b
    hllEstimate(sketch, b)
      .select(
        when(col("n_estimate") <= lit(2.5 * m) && col("n_present") < lit(m),
            lit(m.toDouble) * log(lit(m.toDouble) / (lit(m) - col("n_present"))))
          .otherwise(col("n_estimate")).as("n_estimate"),
        col("n_present"),
        when(col("n_estimate") <= lit(2.5 * m) && col("n_present") < lit(m),
          lit("linear")).otherwise(lit("raw")).as("tier"))
  }

  /** GROUPED sketch: one register set per group key — "distinct users
    * per source", "distinct docs per language" at sketch cost. One
    * map-side-combinable shuffle of ≤|groups|·m rows; grouped sketches
    * merge with [[hllMergeBy]] (register max within group), so per-day
    * grouped artifacts roll up exactly like the global ones. Output:
    * `(groupCols…, bucket, max_rho)`. */
  def hllSketchBy(df: DataFrame, groupCols: Seq[String], keyCol: String,
                  b: Int = DefaultB): DataFrame = {
    require(b >= 4 && b <= 16, s"hllSketchBy: b=$b outside [4,16]")
    require(groupCols.nonEmpty, "hllSketchBy: need at least one group column")
    val h: Column = Hashes.portable(col(keyCol).cast(StringType))
    df.where(col(keyCol).isNotNull)
      .select(groupCols.map(col) ++ Seq(
        h.bitwiseAND(lit((1L << b) - 1)).cast(IntegerType).as("bucket"),
        shiftright(h, b).as("__w")): _*)
      .withColumn("__rho", expr(rhoCaseSql("__w", bits(b), "div")))
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("__rho")).cast(IntegerType).as("max_rho"))
  }

  /** Merge grouped sketches: register-wise max WITHIN each group. */
  def hllMergeBy(groupCols: Seq[String], sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "hllMergeBy: need at least one sketch")
    sketches.reduce(_.unionByName(_))
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("max_rho")).cast(IntegerType).as("max_rho"))
  }

  /** Per-group estimate from a grouped sketch: `(groupCols…,
    * n_estimate, n_present)`, one ≤|groups|·m-row aggregation with the
    * same integer term algebra (and b-mismatch tripwire) as
    * [[hllEstimate]]. */
  def hllEstimateBy(sketch: DataFrame, groupCols: Seq[String],
                    b: Int = DefaultB): DataFrame = {
    require(groupCols.nonEmpty, "hllEstimateBy: need at least one group column")
    val m = 1L << b
    val emptyTerm = 1L << maxRho(b)
    sketch
      .withColumn("__term",
        when(assert_true(col("bucket") < lit(m),
            lit(s"hllEstimateBy: sketch has bucket >= 2^$b — " +
              "built with a larger b than it is being estimated with")).isNull,
          expr(termCaseSql("max_rho", b))))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_present"), sum(col("__term")).as("__sp"))
      .select(groupCols.map(col) ++ Seq(
        (lit(alphaNumerator(b)) /
          (col("__sp") + (lit(m) - col("n_present")) * lit(emptyTerm))
            .cast(DoubleType)).as("n_estimate"),
        col("n_present")): _*)
  }

  /** Union cardinality without touching either corpus: register-wise
    * max. Associative + commutative + idempotent, so daily sketches
    * roll up in any order and replays are harmless. */
  def hllMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "hllMerge: need at least one sketch")
    sketches.reduce(_.unionByName(_))
      .groupBy("bucket")
      .agg(max(col("max_rho")).cast(IntegerType).as("max_rho"))
  }

  /** Raw estimate from a sketch: `(n_estimate DOUBLE, n_present BIGINT)`
    * in one ≤m-row aggregation. Absent registers enter the sum as
    * `2^maxRho` (ρ = 0). */
  def hllEstimate(sketch: DataFrame, b: Int = DefaultB): DataFrame = {
    val m = 1L << b
    val emptyTerm = 1L << maxRho(b)
    sketch
      // b-mismatch tripwire, in-plan and per register row (≤m·tranches
      // rows — negligible): a sketch built with b' > b carries buckets
      // ≥ 2^b, and estimating it at the wrong b silently reads garbage
      // (or overflows the empty-register arithmetic). assert_true is
      // NULL when the guard holds, so `when` passes the term through.
      .withColumn("__term",
        when(assert_true(col("bucket") < lit(m),
            lit(s"hllEstimate: sketch has bucket >= 2^$b — " +
              "built with a larger b than it is being estimated with")).isNull,
          expr(termCaseSql("max_rho", b))))
      .agg(count(lit(1)).as("n_present"), sum(col("__term")).as("__sp"))
      .select(
        (lit(alphaNumerator(b)) /
          (col("__sp") + (lit(m) - col("n_present")) * lit(emptyTerm))
            .cast(DoubleType)).as("n_estimate"),
        col("n_present"))
  }

  /** ROLLING distinct estimate from per-day sketches — the sketch-side
    * twin of `EventAnalytics.rollingActiveUsers`: for every day with
    * activity, estimate the distinct `keyCol` count over the trailing
    * `windowDays` days by MERGING the per-day register sets instead of
    * re-touching any event. Returns `(day 'yyyy-MM-dd', n_estimate
    * DOUBLE, n_present BIGINT)`.
    *
    * Scale shape: events collapse to ≤ days × m register rows FIRST
    * (one map-side-combinable groupBy — this is the sketch artifact a
    * real pipeline would persist per day); the bounded ≤windowDays
    * explode then fans out REGISTERS, not events or user-days, so a
    * 90-day MAU series over a year of 100 TB events merges
    * 365 × 1024-row artifacts. Exact rolling distinct
    * (`rollingActiveUsers`) fans out the user×day set — fine while
    * users×days is small, linear-in-users when it is not; this is
    * O(m) per day regardless of cardinality.
    */
  def hllRollingEstimate(df: DataFrame, keyCol: String, tsCol: String,
                         windowDays: Int, b: Int = DefaultB): DataFrame = {
    require(windowDays >= 1, "hllRollingEstimate: windowDays must be >= 1")
    hllRollingFromPerDay(dayRegisters(df, keyCol, tsCol, b), windowDays, b)
  }

  /** The `(__d DATE, bucket, max_rho)` per-day register frame — the
    * unit the rolling estimate consumes and [[writeDayHllTranche]]
    * persists. Same NULL-key exclusion as [[hllSketch]]
    * (phantom-register hazard). */
  private def dayRegisters(df: DataFrame, keyCol: String, tsCol: String,
                           b: Int): DataFrame = {
    val m = 1L << b
    val h: Column = Hashes.portable(col(keyCol).cast(StringType))
    df.where(col(keyCol).isNotNull)
      .select(to_date(col(tsCol)).as("__d"),
        h.bitwiseAND(lit(m - 1)).cast(IntegerType).as("bucket"),
        shiftright(h, b).as("__w"))
      .withColumn("__rho", expr(rhoCaseSql("__w", bits(b), "div")))
      .groupBy(col("__d"), col("bucket"))
      .agg(max(col("__rho")).cast(IntegerType).as("max_rho"))
  }

  private def hllRollingFromPerDay(perDay: DataFrame, windowDays: Int,
                                   b: Int): DataFrame = {
    val m = 1L << b
    val emptyTerm = 1L << maxRho(b)
    val days = perDay.select(col("__d").as("day")).distinct()
    perDay
      .select(col("bucket"), col("max_rho"),
        explode(sequence(col("__d"), date_add(col("__d"), windowDays - 1)))
          .as("day"))
      .join(broadcast(days), "day")
      .groupBy(col("day"), col("bucket"))
      .agg(max(col("max_rho")).as("max_rho"))
      .withColumn("__term", expr(termCaseSql("max_rho", b)))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_present"), sum(col("__term")).as("__sp"))
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        (lit(alphaNumerator(b)) /
          (col("__sp") + (lit(m) - col("n_present")) * lit(emptyTerm))
            .cast(DoubleType)).as("n_estimate"),
        col("n_present"))
  }

  // ---- at-rest DAY-KEYED register artifact ---------------------------

  /** AT-REST day-keyed HLL artifact — the distinct-count member of
    * the per-day artifact family (day-keyed histogram / mix /
    * centroid-sum are the others): each ingest collapses to
    * `(__d, bucket, max_rho)` and overwrites its own `batch=<tag>`
    * tranche. Register MAX is idempotent, so like the flat sketch
    * artifact (and unlike the sum families) replays, day splits, and
    * consolidation need no superseding manifest. A 90-day rolling-MAU
    * series over a year of events reads 365 ≤m-register day rows —
    * never an event. `b` is a caller contract shared across tranches
    * (the flat artifact's convention). */
  def writeDayHllTranche(df: DataFrame, keyCol: String, tsCol: String,
                         dir: String, tag: String, b: Int = DefaultB): Unit =
    dayRegisters(df, keyCol, tsCol, b)
      .write.mode("overwrite").parquet(s"$dir/batch=$tag")

  /** Merge-on-read of the day-keyed registers: per-(day, bucket) max. */
  def readDayHll(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Readers.parquet(spark, dir)
      .groupBy(col("__d"), col("bucket"))
      .agg(max(col("max_rho")).as("max_rho"))

  /** Rolling distinct estimate straight from the artifact —
    * register-identical to [[hllRollingEstimate]] over the union of
    * the ingested frames (max merge is exact and order-free), zero
    * event access. */
  def hllRollingFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                          windowDays: Int, b: Int = DefaultB): DataFrame = {
    require(windowDays >= 1, "hllRollingFromIndex: windowDays must be >= 1")
    hllRollingFromPerDay(readDayHll(spark, dir), windowDays, b)
  }

  /** Fold the day-keyed tranches to one, per-(day, bucket) max
    * ([[graft.util.Tranches.foldIdempotent]]); auto-fold with
    * `Tranches.maybeFold(spark, dir, n)(consolidateDayHll(spark, dir))`. */
  def consolidateDayHll(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    graft.util.Tranches.foldIdempotent(spark, dir)(readDayHll(spark, dir))

  /** AT-REST sketch artifact, same tagged-tranche layout as the dedup/
    * winnow/IVF index families: each ingest writes its registers under
    * `dir/batch=<tag>`, overwriting ITS OWN tranche — so a replayed
    * batch (at-least-once delivery, task retry, backfill re-run)
    * converges to one copy and the artifact needs no decide-once
    * protocol (register max is idempotent; there is no "decision"
    * output to freeze). Merge happens at READ: union every tranche,
    * register-wise max — associativity means tranche boundaries never
    * change the answer.
    */
  def writeSketchTranche(sketch: DataFrame, dir: String, tag: String): Unit =
    sketch.write.mode("overwrite").parquet(s"$dir/batch=$tag")

  /** Merge-on-read of an at-rest sketch artifact: one ≤tranches×m-row
    * scan, never a corpus. */
  def readSketch(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Readers.parquet(spark, dir)
      .groupBy("bucket")
      .agg(max(col("max_rho")).cast(IntegerType).as("max_rho"))

  /** Fold every tranche of an at-rest sketch artifact into ONE — the
    * consolidation a long-running [[graft.streaming.StreamingOps
    * .sketchStream]] needs: without it the artifact accumulates one
    * `batch=<epoch>` directory per micro-batch forever and
    * merge-on-read cost grows linearly with epoch count. Register-max
    * idempotence makes the fold crash-safe without a decide-once
    * protocol ([[graft.util.Tranches.foldIdempotent]]).
    */
  def consolidateSketch(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    graft.util.Tranches.foldIdempotent(spark, dir)(readSketch(spark, dir))

  /** Intersection-cardinality estimate of two SKETCHES by
    * inclusion–exclusion: `est(A) + est(B) − est(A ∪ B)` with the
    * union estimated from the register-wise merge — three ≤m-row
    * aggregations over already-built sketches, no corpus access.
    * Returns `(n_intersect_estimate DOUBLE, n_a DOUBLE, n_b DOUBLE,
    * n_union DOUBLE)`. The difference of estimates inherits BOTH
    * operands' error, so small true intersections can estimate
    * negative — that is the honest raw-sketch answer (report it, let
    * the caller clamp), not a defect to hide with a max(0, ·).
    */
  def hllIntersectEstimate(sketchA: DataFrame, sketchB: DataFrame,
                           b: Int = DefaultB): DataFrame = {
    val ea = hllEstimate(sketchA, b).select(col("n_estimate").as("n_a"))
    val eb = hllEstimate(sketchB, b).select(col("n_estimate").as("n_b"))
    val eu = hllEstimate(hllMerge(sketchA, sketchB), b)
      .select(col("n_estimate").as("n_union"))
    // 1×1×1 broadcast singletons — scalar composition, not a fan-out
    ea.crossJoin(eb).crossJoin(eu)
      .select((col("n_a") + col("n_b") - col("n_union")).as("n_intersect_estimate"),
        col("n_a"), col("n_b"), col("n_union"))
  }
}
