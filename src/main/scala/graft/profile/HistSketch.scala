package graft.profile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mergeable QUANTILE sketch — the percentile twin of the
  * [[Sketches]] distinct-count family, closing the one asymmetry the
  * sketch tier had: `Extract.groupQuantilesApprox` is per-run only, so
  * a rolling "p95 doc length by day over 90 days" at 100 TB re-scans
  * history every day. This sketch collapses a corpus to a bounded
  * bucket-count histogram (≤ `63·s + 1` rows for `s` sub-buckets per
  * octave), per-day histograms MERGE BY SUM (count addition is the
  * union property), and a quantile reads the ≤1k-row histogram — never
  * the corpus.
  *
  * Deterministic and ENGINE-REPLAYABLE by the same discipline as the
  * HLL design (`Sketches.scala`): bucketization is a generated integer
  * CASE chain over value octaves (floor-log2 via range tests — no
  * `log`/`pow` libm call whose rounding could differ between engines),
  * bucket → boundary is integer arithmetic, and the only floating-point
  * op on the read path is one IEEE multiply in the rank computation
  * (`ceil(p·N)`) — identical bits in any IEEE-754 engine, so a DuckDB
  * oracle replays every output digit. Randomized KLL (what
  * `percentile_approx` uses) can never be replayed this way; the price
  * of determinism is a VALUE-relative error model instead of a
  * rank-relative one.
  *
  * Error contract: buckets are exponential with `s` linear sub-buckets
  * per power of two, so the returned quantile is the true quantile's
  * bucket lower boundary — relative value error ≤ 1/s (6.25% at the
  * default s=16), any distribution, any scale. Rank selection itself
  * is exact (integer cumulative counts).
  *
  * Domain: the DEFAULT ladder covers non-negative integers (lengths,
  * token counts, byte sizes, latencies — the things corpus profiling
  * most often gates on); values ≤ 0 land in bucket 0 with boundary 0,
  * NULLs are excluded like every aggregate, and doubles must be
  * truncated by the caller (mirror `CAST(TRUNC(x) AS BIGINT)` in any
  * oracle — DuckDB rounds where Spark truncates). Signed and/or
  * fractional metrics (score deltas, margins, log-probs, balances)
  * use the SIGNED tier — [[signedBucketCaseSql]]'s mirrored negative
  * ladder plus [[histSketchSigned]]'s fixed-point `scaleBy` — which
  * keeps the same integer-CASE replayability and the same sum-merge
  * tranche algebra.
  */
object HistSketch {

  /** Default linear sub-buckets per octave: relative value error
    * ≤ 1/16 = 6.25%, ≤ 1009 buckets over the full long domain. */
  val DefaultSubBuckets = 16

  private def logS(s: Int): Int = {
    require(s >= 1 && s <= 256 && Integer.bitCount(s) == 1,
      s"HistSketch: subBuckets=$s must be a power of two in [1,256]")
    Integer.numberOfTrailingZeros(s)
  }

  /** Value → bucket id as a generated CASE chain (63 octave branches —
    * small enough to stay inside whole-stage codegen; this runs per
    * CORPUS row, so it must not be the 1000-branch literal form).
    * Bucket 0 holds v ≤ 0; octave e (v ∈ [2^e, 2^(e+1))) holds buckets
    * `1 + e·s .. s + e·s`, sub-bucket `((v − 2^e)·s) div 2^e`.
    * Overflow-proof: the multiply form runs only below octave log2(s)
    * (tiny operands); above it the same quantity is the exact division
    * `(v − 2^e) div 2^(e−log2 s)`. `divOp` is the integer-division
    * token (Spark `div`, DuckDB `//`) so one generator serves engine
    * and oracle — both run literally the same arithmetic.
    */
  def bucketCaseSql(v: String, s: Int, divOp: String): String = {
    val ls = logS(s)
    val branches = (0 until 63).map { e =>
      val lo = 1L << e
      val base = 1L + e.toLong * s
      val sub =
        if (e < ls) s"((($v) - $lo) * $s) $divOp $lo"
        else if (e == ls) s"(($v) - $lo)"
        else s"(($v) - $lo) $divOp ${1L << (e - ls)}"
      if (e < 62) s"WHEN $v < ${1L << (e + 1)} THEN $base + ($sub)"
      else s"ELSE $base + ($sub)"
    }
    s"CASE WHEN $v <= 0 THEN 0 ${branches.init.mkString(" ")} ${branches.last} END"
  }

  /** Bucket id → the smallest value the bucket admits (the reported
    * quantile). Integer arithmetic with the power-of-two factors as
    * literal CASE chains on the octave — applied only to ≤1k-row
    * sketch frames, never a corpus. Ceil-form sub-boundary
    * `(j·2^e + s − 1) div s` so the boundary is attainable (floor-form
    * would sit one below the bucket's smallest member in the sub-log2(s)
    * octaves where bucket width < 1).
    */
  def lowerBoundCaseSql(b: String, s: Int, divOp: String): String = {
    val ls = logS(s)
    val e = s"((($b) - 1) $divOp $s)"
    val j = s"((($b) - 1) % $s)"
    val p2 = (0 until 63).map(k => s"WHEN $e = $k THEN ${1L << k}").mkString(" ")
    val step = (0 until 63).map { k =>
      val v =
        if (k < ls) s"(($j * ${1L << k}) + ${s - 1}) $divOp $s"
        else if (k == ls) j
        else s"$j * ${1L << (k - ls)}"
      s"WHEN $e = $k THEN $v"
    }.mkString(" ")
    s"CASE WHEN ($b) <= 0 THEN 0 ELSE (CASE $p2 END) + (CASE $step END) END"
  }

  /** SIGNED value → bucket id: the mirrored-ladder extension for
    * metrics that go negative (score deltas, margins, log-probs) —
    * the unsigned ladder collapses all of v ≤ 0 into bucket 0, which
    * silently degrades winsorize/MAD/PSI to one-sided gates on such a
    * column. Bucket 0 holds v = 0;
    * v > 0 keeps the EXACT unsigned bucket ids (so signed and
    * unsigned sketches of a non-negative column agree bucket for
    * bucket); v < 0 lands in `−bucket(−v)` — the mirrored negative
    * ladder. Integer bucket ids then sort in VALUE order, so every
    * rank-selection window downstream works unchanged. Same
    * engine-replayable integer-CASE discipline (the one `abs(v)` is
    * exact; domain excludes Long.MinValue, whose absolute value
    * overflows — nothing measurable sits there). Generated as
    * `sign(v) · bucket(|v|)` — ONE 63-branch ladder, not a mirrored
    * 126-branch CASE: the doubled form generates a single method past
    * janino's 64 KB limit inside whole-stage codegen (splitting is
    * unavailable with streamed input vars), silently dropping the
    * corpus-row hot path out of codegen — measured, not
    * hypothetical. */
  def signedBucketCaseSql(v: String, s: Int, divOp: String): String = {
    val mag = bucketCaseSql(s"abs($v)", s, divOp)
    s"((CASE WHEN ($v) > 0 THEN 1 WHEN ($v) < 0 THEN -1 ELSE 0 END) * ($mag))"
  }

  /** Signed bucket id → the bucket's representative value: for b ≥ 0
    * the unsigned lower boundary; for a negative bucket `−k` the
    * MIRRORED boundary `−lowerBound(k)` — the boundary CLOSEST TO
    * ZERO, which is attainable (|v| = lowerBound(k) is in the bucket)
    * and keeps the ≤1/s relative error in MAGNITUDE on both sides of
    * zero. */
  def signedLowerBoundCaseSql(b: String, s: Int, divOp: String): String = {
    val mag = lowerBoundCaseSql(s"abs($b)", s, divOp)
    s"((CASE WHEN ($b) > 0 THEN 1 WHEN ($b) < 0 THEN -1 ELSE 0 END) * ($mag))"
  }

  /** ANSI-safe value snap shared by every user-value ingestion site in
    * this family (the AnomalyOps.snapped stance): the plain cast THROWS under ANSI mode (Spark 4's
    * default) on NaN or a magnitude beyond the long ladder, killing a
    * monitoring gauge on one wild reading. try_cast yields NULL
    * instead, in both ANSI modes, and every caller treats an
    * unsnappable value exactly like a NULL input — excluded from
    * sketch builds, NULL verdict from flag/bucketize/rank readers,
    * NULL from winsorizers (no measurement, no verdict). The ladder
    * spans ±9.2·10^18; anything outside is a sentinel or corruption,
    * not a measurement. `scaleBy > 1` keeps the documented
    * `trunc(v·scaleBy)` fixed-point semantics (a multiply that
    * overflows to ±Infinity also snaps to NULL). */
  private def snapLong(valCol: String, scaleBy: Long = 1L): Column =
    if (scaleBy == 1L) col(valCol).try_cast(LongType)
    else (col(valCol).try_cast(DoubleType) * lit(scaleBy.toDouble)).try_cast(LongType)

  /** Build the histogram: one row per OCCUPIED bucket, `(bucket INT,
    * cnt BIGINT)`. One map-side-combinable shuffle of ≤ 63·s+1 groups,
    * whatever the input size. */
  def histSketch(df: DataFrame, valCol: String,
                 subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)   // validate
    // raw isNotNull first (pushes to the scan), snapped isNotNull
    // second (excludes unsnappables — see snapLong)
    df.where(col(valCol).isNotNull)
      .select(snapLong(valCol).as("__v"))
      .where(col("__v").isNotNull)
      .select(expr(bucketCaseSql("__v", subBuckets, "div"))
        .cast(IntegerType).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** SIGNED + FRACTIONAL histogram build: the [[histSketch]] shape
    * over the mirrored ladder, with an optional FIXED-POINT pre-scale
    * for fractional metrics — `scaleBy = 10^k` sketches
    * `trunc(v·10^k)` (truncation toward zero, Spark's double→long
    * cast semantics via the ANSI-safe [[snapLong]] try_cast; mirror
    * `TRY_CAST(TRUNC(x · 10^k) AS BIGINT)` in any oracle — identical
    * on every in-ladder value, NULL-excluding on the wild ones), so a
    * log-prob sketched at `scaleBy = 10^6` keeps six fractional
    * digits of resolution inside the same integer ladder. `scaleBy = 1` takes the column as exact longs (no double
    * round-trip). Merges by bucket-wise sum exactly like the unsigned
    * family ([[histMerge]], [[writeHistTranche]] — the tranche
    * algebra never looks at bucket sign); read back with the SIGNED
    * readers ([[histQuantilesSigned]], [[histWinsorizeSigned]]) at
    * the SAME `scaleBy`. */
  def histSketchSigned(df: DataFrame, valCol: String,
                       subBuckets: Int = DefaultSubBuckets,
                       scaleBy: Long = 1L): DataFrame = {
    logS(subBuckets)
    require(scaleBy >= 1, s"histSketchSigned: scaleBy=$scaleBy must be >= 1")
    df.where(col(valCol).isNotNull)
      .select(snapLong(valCol, scaleBy).as("__v"))
      .where(col("__v").isNotNull)
      .select(expr(signedBucketCaseSql("__v", subBuckets, "div"))
        .cast(IntegerType).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantiles from a SIGNED histogram — [[histQuantiles]]' exact
    * rank machinery (negative bucket ids already sort in value order,
    * so the cumulative window is unchanged) with the mirrored
    * boundary read-out, descaled back to original units: `value
    * DOUBLE = signedLowerBound(b) / scaleBy` (exact long boundary,
    * ONE IEEE division — engine-identical). */
  def histQuantilesSigned(sketch: DataFrame, ps: Seq[Double],
                          subBuckets: Int = DefaultSubBuckets,
                          scaleBy: Long = 1L): DataFrame = {
    require(scaleBy >= 1, s"histQuantilesSigned: scaleBy=$scaleBy must be >= 1")
    histQuantilesSignedScaled(sketch, ps, subBuckets)
      .select(col("p"),
        (col("value").cast(DoubleType) / lit(scaleBy.toDouble)).as("value"))
  }

  /** WINSORIZE against a SIGNED at-rest histogram — [[histWinsorize]]
    * for metrics that go negative and/or carry fractional digits
    * (account balances, score deltas): clamp `valCol` into the
    * `[pLo, pHi]` band of the signed sketch, bounds read via
    * [[histQuantilesSigned]] at the SAME `scaleBy`, baked in as
    * double literals (exact integer boundary ÷ scaleBy — one IEEE
    * division at plan build), scoring a shuffle-free per-row
    * projection in ORIGINAL units. Throws on an empty sketch (same
    * named-cause guard as [[histWinsorize]]). */
  def histWinsorizeSigned(df: DataFrame, valCol: String, sketch: DataFrame,
                          pLo: Double, pHi: Double,
                          subBuckets: Int = DefaultSubBuckets,
                          scaleBy: Long = 1L): DataFrame = {
    require(pLo > 0 && pLo < pHi && pHi <= 1,
      s"histWinsorizeSigned: need 0 < pLo < pHi <= 1, got ($pLo, $pHi)")
    val rows = histQuantilesSigned(sketch, Seq(pLo, pHi), subBuckets, scaleBy)
      .collect()                            // ≤2-row sketch read
    require(rows.nonEmpty,
      "histWinsorizeSigned: empty sketch (no non-null values were sketched)")
    val bounds = rows.map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val (lo, hi) = (bounds(pLo), bounds(pHi))
    val v = col(valCol).cast(DoubleType)
    df.withColumn("lo", lit(lo))
      .withColumn("hi", lit(hi))
      .withColumn(s"${valCol}_w",
        when(v.isNull, lit(null).cast(DoubleType))
          .otherwise(least(greatest(v, lit(lo)), lit(hi))))
  }

  /** ROBUST anomaly band from a SIGNED sketch — [[histMadBand]] for
    * metrics that go negative and/or fractional: median and MAD read
    * from the signed ladder at bucket granularity, all four outputs
    * in FIXED-POINT units (`scaleBy`-scaled exact longs — divide by
    * `scaleBy` for display; the gate itself compares in integer
    * space, where replayability is exact). The deviation distribution
    * uses the signed representative boundaries, so MAD carries the
    * ladder's 1/s magnitude error on each side of the median. */
  def histMadBandSigned(sketch: DataFrame, k: Int = 3,
                        subBuckets: Int = DefaultSubBuckets): DataFrame = {
    require(k >= 1, s"histMadBandSigned: k must be >= 1, got $k")
    val medRows = histQuantilesSignedScaled(sketch, Seq(0.5), subBuckets).collect()
    require(medRows.nonEmpty,
      "histMadBandSigned: empty sketch (no non-null values were sketched)")
    val med = medRows(0).getLong(1)          // 1-row sketch read, scaled units
    val dev = sketch.select(
        abs(expr(signedLowerBoundCaseSql("bucket", subBuckets, "div"))
          .cast(LongType) - lit(med)).as("d"),
        col("cnt"))
      .groupBy("d").agg(sum(col("cnt")).as("cnt"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = dev.agg(sum(col("cnt")).as("__total"))
    dev.withColumn("__cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(total))          // 1-row scalar singleton
      .where(col("__cum") >=
        greatest(lit(1L), ceil(lit(0.5) * col("__total"))))
      .agg(min(col("d")).as("mad"))
      .select(lit(med).as("med"), col("mad"),
        (lit(med) - lit(k.toLong) * col("mad")).as("lo"),
        (lit(med) + lit(k.toLong) * col("mad")).as("hi"))
  }

  /** Flag rows outside the signed MAD band of HISTORY — the robust
    * outlier gate over signed/fractional metrics: the batch value is
    * pre-scaled with the SAME `trunc(v·scaleBy)` the sketch build
    * used and compared to the band in exact integer space (baked
    * plan-build literals; one truncation, zero further float ops —
    * engine-identical). Adds `med`/`mad` audit columns (scaled longs)
    * and `is_anomaly` (NULL value → NULL flag). */
  def histMadFlagsSigned(df: DataFrame, valCol: String, sketch: DataFrame,
                         k: Int = 3,
                         subBuckets: Int = DefaultSubBuckets,
                         scaleBy: Long = 1L): DataFrame = {
    require(scaleBy >= 1, s"histMadFlagsSigned: scaleBy=$scaleBy must be >= 1")
    val r = histMadBandSigned(sketch, k, subBuckets).head()
    val (med, mad, lo, hi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val v = snapLong(valCol, scaleBy)
    df.withColumn("med", lit(med))
      .withColumn("mad", lit(mad))
      .withColumn("is_anomaly",
        when(col(valCol).isNull, lit(null).cast(BooleanType))
          .otherwise(v < lit(lo) || v > lit(hi)))
  }

  /** [[histQuantilesSigned]] WITHOUT the descale — `value` as the
    * exact scaled-long boundary (the integer-space form the signed
    * MAD band builds on). */
  def histQuantilesSignedScaled(sketch: DataFrame, ps: Seq[Double],
                                subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      "histQuantilesSignedScaled: quantiles must be in (0,1]")
    val w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = sketch.agg(sum(col("cnt")).as("__total"))
    val pDf = sketch.sparkSession.range(1).select(explode(array(ps.map(lit): _*)).as("p"))
    sketch
      .withColumn("__cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(total))
      .crossJoin(broadcast(pDf))
      .where(col("__cum") >=
        greatest(lit(1L), ceil(col("p") * col("__total"))))
      .groupBy(col("p"))
      .agg(min(col("bucket")).as("__b"))
      .select(col("p"),
        expr(signedLowerBoundCaseSql("__b", subBuckets, "div"))
          .cast(LongType).as("value"))
  }

  /** GROUPED SIGNED + FRACTIONAL histogram build — [[histSketchBy]]
    * over the mirrored ladder with the fixed-point pre-scale
    * ([[histSketchSigned]]'s `trunc(v·scaleBy)`, mirrored as
    * `CAST(TRUNC(x·10^k) AS BIGINT)` in any oracle): one ≤127·s+1-
    * bucket signed histogram per group key, still ONE map-side-
    * combinable shuffle. The signed tier keeps global gates two-sided; per-domain norms differ exactly as they
    * do for the unsigned `_by` tier (a −50 balance delta is an outlier
    * for segment A, median for segment B), hence this grouped form.
    * Merges per-(group, bucket) by SUM ([[histMergeBy]] — the tranche
    * algebra never looks at bucket sign); read back with the SIGNED
    * grouped readers at the SAME `scaleBy`. */
  def histSketchSignedBy(df: DataFrame, groupCols: Seq[String], valCol: String,
                         subBuckets: Int = DefaultSubBuckets,
                         scaleBy: Long = 1L): DataFrame = {
    logS(subBuckets)
    require(groupCols.nonEmpty, "histSketchSignedBy: need at least one group column")
    require(scaleBy >= 1, s"histSketchSignedBy: scaleBy=$scaleBy must be >= 1")
    df.where(col(valCol).isNotNull)
      .select(groupCols.map(col) :+ snapLong(valCol, scaleBy).as("__v"): _*)
      .where(col("__v").isNotNull)
      .select(groupCols.map(col) :+
        expr(signedBucketCaseSql("__v", subBuckets, "div"))
          .cast(IntegerType).as("bucket"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-group quantiles from a [[histSketchSignedBy]] result —
    * [[histQuantilesBy]]'s rank machinery (signed bucket ids already
    * sort in value order, so the group-partitioned cumulative window
    * is unchanged) with the mirrored boundary read-out descaled to
    * original units: `(groupCols..., p, value DOUBLE)` — exact long
    * boundary, ONE IEEE division, engine-identical. */
  def histQuantilesSignedBy(sketch: DataFrame, groupCols: Seq[String],
                            ps: Seq[Double],
                            subBuckets: Int = DefaultSubBuckets,
                            scaleBy: Long = 1L): DataFrame = {
    logS(subBuckets)
    require(groupCols.nonEmpty, "histQuantilesSignedBy: need at least one group column")
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      "histQuantilesSignedBy: quantiles must be in (0,1]")
    require(scaleBy >= 1, s"histQuantilesSignedBy: scaleBy=$scaleBy must be >= 1")
    val spark = sketch.sparkSession
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = sketch.groupBy(groupCols.map(col): _*)
      .agg(sum(col("cnt")).as("__total"))
    val pDf = spark.range(1).select(explode(array(ps.map(lit): _*)).as("p"))
    sketch
      .withColumn("__cum", sum(col("cnt")).over(w))
      .join(totals, groupCols)              // |groups| rows
      .crossJoin(broadcast(pDf))
      .where(col("__cum") >=
        greatest(lit(1L), ceil(col("p") * col("__total"))))
      .groupBy(groupCols.map(col) :+ col("p"): _*)
      .agg(min(col("bucket")).as("__b"))
      .select(groupCols.map(col) :+ col("p") :+
        (expr(signedLowerBoundCaseSql("__b", subBuckets, "div"))
          .cast(DoubleType) / lit(scaleBy.toDouble)).as("value"): _*)
  }

  /** PER-GROUP winsorization against a SIGNED grouped sketch —
    * [[histWinsorizeBy]] for metrics that go negative and/or carry
    * fractional digits: each row clamped into ITS OWN group's
    * `[pLo, pHi]` band read via [[histQuantilesSignedBy]] at the SAME
    * `scaleBy` (bounded |groups|·2 rows, pivoted and BROADCAST-joined
    * — no corpus shuffle), scoring a shuffle-free per-row
    * `least/greatest` in ORIGINAL (double) units. NULL values and
    * rows whose group has no sketch history pass through unclamped
    * (the [[histWinsorizeBy]] stance). */
  def histWinsorizeSignedBy(df: DataFrame, groupCols: Seq[String], valCol: String,
                            sketch: DataFrame, pLo: Double, pHi: Double,
                            subBuckets: Int = DefaultSubBuckets,
                            scaleBy: Long = 1L): DataFrame = {
    require(pLo > 0 && pLo < pHi && pHi <= 1,
      s"histWinsorizeSignedBy: need 0 < pLo < pHi <= 1, got ($pLo, $pHi)")
    val bounds = histQuantilesSignedBy(sketch, groupCols, Seq(pLo, pHi),
      subBuckets, scaleBy)
      .groupBy(groupCols.map(col): _*)
      .agg(min(when(col("p") === pLo, col("value"))).as("lo"),
        max(when(col("p") === pHi, col("value"))).as("hi"))
    val v = col(valCol).cast(DoubleType)
    df.join(broadcast(bounds), groupCols, "left")
      .withColumn(s"${valCol}_w",
        when(v.isNull || col("lo").isNull, v)
          .otherwise(least(greatest(v, col("lo")), col("hi"))))
  }

  /** PER-GROUP robust anomaly band from a SIGNED grouped sketch —
    * [[histMadBandSigned]] under the group-partitioned window
    * machinery: each group's median and MAD rank-selected from ITS
    * OWN ≤127·s+1-bucket signed histogram (both cumulative windows
    * partition by the group key — bounded sketch partitions, no
    * global-order hazard; the median joins back as a |groups|-row
    * broadcast). One row `(groupCols..., med, mad, lo, hi)`, all in
    * `scaleBy`-scaled exact longs — the per-domain robust gate
    * ([[histMadFlagsSignedBy]]) compares in integer space, where
    * replayability is exact. */
  def histMadBandSignedBy(sketch: DataFrame, groupCols: Seq[String],
                          k: Int = 3,
                          subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    require(groupCols.nonEmpty, "histMadBandSignedBy: need at least one group column")
    require(k >= 1, s"histMadBandSignedBy: k must be >= 1, got $k")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = sketch.groupBy(groupCols.map(col): _*)
      .agg(sum(col("cnt")).as("__total"))
    val med = sketch
      .withColumn("__cum", sum(col("cnt")).over(w))
      .join(totals, groupCols)              // |groups| rows
      .where(col("__cum") >=
        greatest(lit(1L), ceil(lit(0.5) * col("__total"))))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col("bucket")).as("__mb"))
      .select(groupCols.map(col) :+
        expr(signedLowerBoundCaseSql("__mb", subBuckets, "div"))
          .cast(LongType).as("med"): _*)
    val dev = sketch.join(broadcast(med), groupCols)
      .select(groupCols.map(col) :+
        abs(expr(signedLowerBoundCaseSql("bucket", subBuckets, "div"))
          .cast(LongType) - col("med")).as("d") :+ col("cnt"): _*)
      .groupBy(groupCols.map(col) :+ col("d"): _*)
      .agg(sum(col("cnt")).as("cnt"))
    val w2 = Window.partitionBy(groupCols.map(col): _*).orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dTotals = dev.groupBy(groupCols.map(col): _*)
      .agg(sum(col("cnt")).as("__dtotal"))
    dev.withColumn("__cum", sum(col("cnt")).over(w2))
      .join(dTotals, groupCols)
      .where(col("__cum") >=
        greatest(lit(1L), ceil(lit(0.5) * col("__dtotal"))))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col("d")).as("mad"))
      .join(broadcast(med), groupCols)
      .select(groupCols.map(col) :+ col("med") :+ col("mad") :+
        (col("med") - lit(k.toLong) * col("mad")).as("lo") :+
        (col("med") + lit(k.toLong) * col("mad")).as("hi"): _*)
  }

  /** Flag rows outside THEIR OWN group's signed MAD band — the
    * per-domain robust outlier gate over signed/fractional metrics:
    * bands from [[histMadBandSignedBy]] BROADCAST-joined (bounded
    * |groups| rows, no corpus shuffle), the batch value pre-scaled
    * with the SAME `trunc(v·scaleBy)` the sketch build used, compared
    * in exact integer space. Adds `med`/`mad` audit columns (scaled
    * longs) and `is_anomaly`; NULL values and rows whose group has no
    * sketch history flag NULL (nothing assertable — quarantine
    * upstream if that should fail instead). */
  def histMadFlagsSignedBy(df: DataFrame, groupCols: Seq[String], valCol: String,
                           sketch: DataFrame, k: Int = 3,
                           subBuckets: Int = DefaultSubBuckets,
                           scaleBy: Long = 1L): DataFrame = {
    require(scaleBy >= 1, s"histMadFlagsSignedBy: scaleBy=$scaleBy must be >= 1")
    val band = histMadBandSignedBy(sketch, groupCols, k, subBuckets)
    val v = snapLong(valCol, scaleBy)
    df.join(broadcast(band), groupCols, "left")
      .withColumn("is_anomaly",
        when(col(valCol).isNull || col("med").isNull, lit(null).cast(BooleanType))
          .otherwise(v < col("lo") || v > col("hi")))
      .drop("lo", "hi")
  }

  /** GROUPED histogram build — the quantile twin of
    * `Sketches.hllSketchBy`: one ≤63·s+1-bucket histogram per group
    * key, `(groupCols..., bucket, cnt)`. Still ONE map-side-combinable
    * shuffle; the sketch frame is |groups|·buckets rows. Grouped
    * sketches with matching `groupCols` merge by per-(group, bucket)
    * SUM ([[histMergeBy]]). */
  def histSketchBy(df: DataFrame, groupCols: Seq[String], valCol: String,
                   subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    require(groupCols.nonEmpty, "histSketchBy: need at least one group column")
    df.where(col(valCol).isNotNull)
      .select(groupCols.map(col) :+ snapLong(valCol).as("__v"): _*)
      .where(col("__v").isNotNull)
      .select(groupCols.map(col) :+
        expr(bucketCaseSql("__v", subBuckets, "div"))
          .cast(IntegerType).as("bucket"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Union of grouped histograms with identical `groupCols`:
    * per-(group, bucket) SUM. */
  def histMergeBy(groupCols: Seq[String], sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "histMergeBy: need at least one sketch")
    sketches.reduce(_.unionByName(_))
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Per-group quantiles from a [[histSketchBy]] result —
    * `(groupCols..., p, value)`: rank selection exactly as
    * [[histQuantiles]], with the cumulative window PARTITIONED by the
    * group key (each partition is one ≤63·s+1-row histogram — bounded,
    * so no global-order hazard) and the per-group totals joined back
    * (|groups| rows, AQE-broadcastable). "p95 doc length per source"
    * at sketch cost, any number of groups. */
  def histQuantilesBy(sketch: DataFrame, groupCols: Seq[String],
                      ps: Seq[Double],
                      subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    require(groupCols.nonEmpty, "histQuantilesBy: need at least one group column")
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      "histQuantilesBy: quantiles must be in (0,1]")
    val spark = sketch.sparkSession
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = sketch.groupBy(groupCols.map(col): _*)
      .agg(sum(col("cnt")).as("__total"))
    val pDf = spark.range(1).select(explode(array(ps.map(lit): _*)).as("p"))
    sketch
      .withColumn("__cum", sum(col("cnt")).over(w))
      .join(totals, groupCols)              // |groups| rows
      .crossJoin(broadcast(pDf))
      .where(col("__cum") >=
        greatest(lit(1L), ceil(col("p") * col("__total"))))
      .groupBy(groupCols.map(col) :+ col("p"): _*)
      .agg(min(col("bucket")).as("__b"))
      .select(groupCols.map(col) :+ col("p") :+
        expr(lowerBoundCaseSql("__b", subBuckets, "div"))
          .cast(LongType).as("value"): _*)
  }

  /** Union of histograms = bucket-wise SUM (associative + commutative,
    * so daily tranches roll up in any order — but unlike the HLL
    * register max it is NOT idempotent: replay safety comes from each
    * ingest overwriting its own tranche, and consolidation needs the
    * superseding manifest in [[consolidateHist]]). */
  def histMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "histMerge: need at least one sketch")
    sketches.reduce(_.unionByName(_))
      .groupBy("bucket")
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Quantiles from a histogram, `(p DOUBLE, value BIGINT)` per
    * requested p: rank = `max(1, ceil(p·N))` (one IEEE multiply on
    * exactly-summed integer counts — engine-identical), value = lower
    * boundary of the first bucket whose cumulative count reaches the
    * rank. The cumulative window is a GLOBAL order — safe here and
    * only here because the frame is a sketch, bounded at 63·s+1 rows
    * by construction. Input must have unique buckets (the contract of
    * [[histSketch]]/[[histMerge]]/[[readHist]]).
    */
  def histQuantiles(sketch: DataFrame, ps: Seq[Double],
                    subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      "histQuantiles: quantiles must be in (0,1]")
    val spark = sketch.sparkSession
    val w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = sketch.agg(sum(col("cnt")).as("__total"))
    val pDf = spark.range(1).select(explode(array(ps.map(lit): _*)).as("p"))
    sketch
      .withColumn("__cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(total))          // 1-row scalar singleton
      .crossJoin(broadcast(pDf))            // ≤ |ps| rows
      .where(col("__cum") >=
        greatest(lit(1L), ceil(col("p") * col("__total"))))
      .groupBy(col("p"))
      .agg(min(col("bucket")).as("__b"))
      .select(col("p"),
        expr(lowerBoundCaseSql("__b", subBuckets, "div"))
          .cast(LongType).as("value"))
  }

  /** Quantile-BAND assignment from a histogram sketch: label every row
    * with how many of the `ps` quantile thresholds its value reaches —
    * "which band of HISTORY's length distribution is this new doc in"
    * (the curation gate that keeps a stable meaning as the corpus
    * grows, because the thresholds come from the at-rest artifact, not
    * from the batch being scored). `band` ∈ 0..|ps|: 0 = below every
    * threshold, |ps| = at or above all of them; NULL values get a NULL
    * band.
    *
    * The thresholds are a ≤|ps|-row [[histQuantiles]] result collected
    * at plan-build time (the fitted-quantizer precedent) and baked in
    * as literals — scoring is then a pure per-row integer-compare
    * projection, shuffle-free, over ANY batch size. Thresholds are
    * exact longs, so the comparison is bit-deterministic in every
    * engine.
    */
  def histBucketize(df: DataFrame, valCol: String, sketch: DataFrame,
                    ps: Seq[Double],
                    subBuckets: Int = DefaultSubBuckets): DataFrame = {
    val thr = histQuantiles(sketch, ps, subBuckets)
      .collect().map(_.getLong(1)) // bounded: ≤ |ps| rows
    require(thr.nonEmpty,
      "histBucketize: empty sketch (no non-null values were sketched)")
    val v = snapLong(valCol)
    val band = thr.map(t => when(v >= lit(t), 1).otherwise(0)).reduce(_ + _)
    df.withColumn("band",
      when(v.isNull, lit(null)).otherwise(band).cast(IntegerType))
  }

  /** ROLLING per-day quantiles — the quantile twin of
    * `Sketches.hllRollingEstimate`: for every day with data, the
    * trailing-`windowDays` quantiles of `valCol`, by merging per-day
    * HISTOGRAMS (sum) instead of re-touching any row. Returns
    * `(day 'yyyy-MM-dd', p DOUBLE, value BIGINT)`.
    *
    * Scale shape: the corpus collapses to ≤ days × (63·s+1) bucket
    * rows FIRST (one map-side-combinable groupBy — the artifact a real
    * pipeline persists per day); the bounded ≤windowDays explode fans
    * out BUCKET ROWS, not events, so a 90-day p95 series over a year
    * of 100 TB events merges 365 ≤1k-row histograms. The cumulative
    * window is per-day (bounded partition), not global.
    */
  def histRollingQuantiles(df: DataFrame, valCol: String, tsCol: String,
                           windowDays: Int, ps: Seq[Double],
                           subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    require(windowDays >= 1, "histRollingQuantiles: windowDays must be >= 1")
    rollingQuantilesFromPerDay(dayHist(df, valCol, tsCol, subBuckets),
      windowDays, ps, subBuckets)
  }

  /** The `(__d DATE, bucket, cnt)` per-day histogram frame — the unit
    * both rolling gauges consume and [[writeDayHistTranche]]
    * persists. */
  private def dayHist(df: DataFrame, valCol: String, tsCol: String,
                      subBuckets: Int): DataFrame =
    df.where(col(valCol).isNotNull)
      .select(to_date(col(tsCol)).as("__d"), snapLong(valCol).as("__v"))
      .where(col("__v").isNotNull)
      .select(col("__d"),
        expr(bucketCaseSql("__v", subBuckets, "div")).cast(IntegerType).as("bucket"))
      .groupBy(col("__d"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  private def rollingQuantilesFromPerDay(perDay0: DataFrame, windowDays: Int,
                                         ps: Seq[Double],
                                         subBuckets: Int): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      "histRollingQuantiles: quantiles must be in (0,1]")
    // perDay feeds days AND the fan — materialize the bounded
    // |days|·buckets frame so the corpus (or the tranche scan)
    // collapses exactly once (graft.util.Materialize rationale)
    val perDay = graft.util.Materialize.bounded(perDay0)
    val spark = perDay.sparkSession
    val days = perDay.select(col("__d").as("day")).distinct()
    val fan = perDay
      .select(col("bucket"), col("cnt"),
        explode(sequence(col("__d"), date_add(col("__d"), windowDays - 1))).as("day"))
      .join(broadcast(days), "day")
      .groupBy(col("day"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    val totals = fan.groupBy(col("day")).agg(sum(col("cnt")).as("__total"))
    val wDay = Window.partitionBy("day").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pDf = spark.range(1).select(explode(array(ps.map(lit): _*)).as("p"))
    fan
      .withColumn("__cum", sum(col("cnt")).over(wDay))
      .join(totals, "day")                  // ≤ |days| rows, AQE-broadcastable
      .crossJoin(broadcast(pDf))
      .where(col("__cum") >=
        greatest(lit(1L), ceil(col("p") * col("__total"))))
      .groupBy(col("day"), col("p"))
      .agg(min(col("bucket")).as("__b"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("p"),
        expr(lowerBoundCaseSql("__b", subBuckets, "div"))
          .cast(LongType).as("value"))
  }

  /** GROUPED rolling quantiles — [[histRollingQuantiles]] with the
    * day series computed PER GROUP ("p95 latency per event type per
    * day, trailing 7"): one map-side-combinable collapse to
    * |groups|·|days|·buckets rows, the bounded ≤windowDays explode
    * fans out bucket rows within each group, and the cumulative
    * window partitions by (group, day) — every partition one bounded
    * histogram. Days appear for a group only where THAT group has
    * data (its own day axis, not the corpus's). Output:
    * `(groupCols..., day 'yyyy-MM-dd', p, value)`. */
  def histRollingQuantilesBy(df: DataFrame, groupCols: Seq[String],
                             valCol: String, tsCol: String,
                             windowDays: Int, ps: Seq[Double],
                             subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    require(groupCols.nonEmpty, "histRollingQuantilesBy: need at least one group column")
    require(windowDays >= 1, "histRollingQuantilesBy: windowDays must be >= 1")
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      "histRollingQuantilesBy: quantiles must be in (0,1]")
    val gc = groupCols.map(col)
    val perDay = graft.util.Materialize.bounded(
      df.where(col(valCol).isNotNull &&
          groupCols.map(c => col(c).isNotNull).reduce(_ && _))
        .select(gc :+ to_date(col(tsCol)).as("__d")
          :+ snapLong(valCol).as("__v"): _*)
        .where(col("__v").isNotNull)
        .select(gc :+ col("__d")
          :+ expr(bucketCaseSql("__v", subBuckets, "div")).cast(IntegerType).as("bucket"): _*)
        .groupBy(gc :+ col("__d") :+ col("bucket"): _*)
        .agg(count(lit(1)).as("cnt")))
    val days = perDay.select(gc :+ col("__d").as("day"): _*).distinct()
    val fan = perDay
      .select(gc ++ Seq(col("bucket"), col("cnt"),
        explode(sequence(col("__d"), date_add(col("__d"), windowDays - 1))).as("day")): _*)
      .join(days, groupCols :+ "day")       // bounded |groups|·|days| side
      .groupBy(gc ++ Seq(col("day"), col("bucket")): _*)
      .agg(sum(col("cnt")).as("cnt"))
    val totals = fan.groupBy(gc :+ col("day"): _*).agg(sum(col("cnt")).as("__total"))
    val w = Window.partitionBy(gc :+ col("day"): _*).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pDf = df.sparkSession.range(1).select(explode(array(ps.map(lit): _*)).as("p"))
    fan
      .withColumn("__cum", sum(col("cnt")).over(w))
      .join(totals, groupCols :+ "day")
      .crossJoin(broadcast(pDf))
      .where(col("__cum") >=
        greatest(lit(1L), ceil(col("p") * col("__total"))))
      .groupBy(gc ++ Seq(col("day"), col("p")): _*)
      .agg(min(col("bucket")).as("__b"))
      .select(gc ++ Seq(date_format(col("day"), "yyyy-MM-dd").as("day"), col("p"),
        expr(lowerBoundCaseSql("__b", subBuckets, "div"))
          .cast(LongType).as("value")): _*)
  }

  // ---- at-rest DAY-KEYED histogram artifact --------------------------

  /** AT-REST day-keyed histogram artifact — the numeric-axis twin of
    * the per-day centroid artifact: each ingest collapses its rows to
    * `(__d, bucket, cnt)` and lands as its own tagged tranche
    * ([[graft.util.Tranches]] — per-(day, bucket) sum merge; a day
    * may split across ingests). ONE artifact family serves BOTH
    * rolling gauges — trailing-window quantiles AND rolling PSI — so
    * the daily monitoring read never re-touches an event row. The
    * flat [[writeHistTranche]] artifact stays for whole-corpus gates
    * (winsorize/MAD/pct-rank), which don't need the day key. */
  def writeDayHistTranche(df: DataFrame, valCol: String, tsCol: String,
                          dir: String, tag: String,
                          subBuckets: Int = DefaultSubBuckets): Unit = {
    logS(subBuckets)
    graft.util.Tranches.write(dayHist(df, valCol, tsCol, subBuckets), dir, tag)
  }

  /** Merge-on-read of the day-keyed artifact: `(__d, bucket, cnt)`,
    * bounded by Σ tranche sizes. */
  def readDayHist(spark: SparkSession, dir: String): DataFrame =
    graft.util.Tranches.read(spark, dir, Seq("__d", "bucket"), "cnt")

  /** Fold the day-keyed tranches (crash-safe superseding-manifest
    * protocol); auto-fold via
    * `Tranches.maybeFold(spark, dir, n)(consolidateDayHist(spark, dir))`. */
  def consolidateDayHist(spark: SparkSession, dir: String): Unit =
    graft.util.Tranches.consolidate(spark, dir, Seq("__d", "bucket"), "cnt")

  /** Rolling quantiles straight from the artifact — byte-identical to
    * [[histRollingQuantiles]] over the union of the ingested frames
    * (per-key sum merge is exact), zero event access. */
  def histRollingQuantilesFromIndex(spark: SparkSession, dir: String,
                                    windowDays: Int, ps: Seq[Double],
                                    subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    require(windowDays >= 1, "histRollingQuantilesFromIndex: windowDays must be >= 1")
    rollingQuantilesFromPerDay(readDayHist(spark, dir), windowDays, ps, subBuckets)
  }

  /** Rolling PSI straight from the artifact — byte-identical to
    * [[histRollingPsi]] over the union of the ingested frames, zero
    * event access. */
  def histRollingPsiFromIndex(spark: SparkSession, dir: String,
                              windowDays: Int): DataFrame = {
    require(windowDays >= 1, "histRollingPsiFromIndex: windowDays must be >= 1")
    rollingPsiFromPerDay(readDayHist(spark, dir), windowDays)
  }

  /** Population-stability-index DRIFT gauge between two histogram
    * sketches — "did this week's length distribution move away from
    * the at-rest profile": `PSI = Σ_i (p_i − q_i)·log2(p_i/q_i)` over
    * the union bucket set, in bits (the conventional nats figure is
    * `psi_bits·ln 2`; the industry rules of thumb 0.1/0.25 scale the
    * same way). Output is one row `(n_buckets, n_a, n_b, psi_bits)`
    * with the raw pre-smoothing totals for context. PSI = 0 ⇔
    * identical bucket distributions; each side of a bucket the other
    * side lacks contributes a large positive term.
    *
    * Empty-bucket smoothing is Laplace +1 over the UNION bucket set
    * (the integer-exact choice — the usual "replace 0 with ε" injects
    * an arbitrary float): `a_i = c_i + 1`, `N = Σc + K` for K union
    * buckets. Deterministic by the [[Sketches]] discipline:
    * probabilities are snapped to 1e-9 fixed point by EXACT integer
    * floor-division (`(a·10⁹) div N` over DECIMAL(38,0) — no IEEE
    * divide), the log-ratio `log2(p_i/q_i)` decomposes into four
    * snapped integer log2 terms (`floor(log2(n)·10⁸ + 0.5)`, the
    * `groupEntropy` snap — one snap boundary per distinct count), the
    * weighted sum runs over exact DECIMAL(38,0) products (order-free),
    * and the only IEEE ops are the final cast + one division by the
    * 1e17 combined scale. A DuckDB oracle replays every digit with
    * HUGEINT `//` in place of DECIMAL `div`.
    *
    * Scale shape: both inputs are ≤63·s+1-row sketches, so the full
    * outer join, the 1-row totals broadcast, and the closing aggregate
    * are all sketch-sized regardless of the corpora the sketches
    * summarize — comparing two 100 TB corpora costs two at-rest
    * artifact reads.
    */
  def histDriftPsi(sketchA: DataFrame, sketchB: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    def l8(e: Column): Column =
      floor(log2(e.cast(DoubleType)) * lit(1e8) + lit(0.5)).cast(LongType)
    val a = sketchA.select(col("bucket").as("__ab"), col("cnt").as("__ca"))
    val b = sketchB.select(col("bucket").as("__bb"), col("cnt").as("__cb"))
    // j feeds the totals AND the main path; materialize the ≤2k-row
    // frame so sketches built inline from a corpus don't scan it once
    // per branch (graft.util.Materialize rationale)
    val j = graft.util.Materialize.bounded(
      a.join(b, col("__ab") === col("__bb"), "full_outer")
        .select(coalesce(col("__ca"), lit(0L)).as("ca"),
          coalesce(col("__cb"), lit(0L)).as("cb")))
    val totals = j.agg(count(lit(1)).as("__k"),
      (sum(col("ca")) + count(lit(1))).as("__na"),
      (sum(col("cb")) + count(lit(1))).as("__nb"))
    // p snapped to 1e-9 by EXACT integer floor-division — `div` (not
    // `/`) so no decimal-division rounding mode is in play
    def q(c: String, n: String): Column =
      expr(s"CAST((CAST($c + 1 AS DECIMAL(38,0)) * 1000000000) div $n AS BIGINT)")
    j.crossJoin(broadcast(totals))        // 1-row scalar singleton
      .select(col("ca"), col("cb"), col("__k"), col("__na"), col("__nb"),
        q("ca", "__na").as("__qa"),
        q("cb", "__nb").as("__qb"),
        (l8(col("ca") + 1) - l8(col("__na"))
          - l8(col("cb") + 1) + l8(col("__nb"))).as("__l"))
      .agg(max(col("__k")).as("n_buckets"),
        (max(col("__na")) - max(col("__k"))).as("n_a"),
        (max(col("__nb")) - max(col("__k"))).as("n_b"),
        (sum((col("__qa") - col("__qb")).cast(d38) * col("__l"))
          .cast(DoubleType) / lit(1e17)).as("psi_bits"))
  }

  /** PER-SOURCE numeric drift — the PSI member of the odd-one-out
    * dashboards (`TextOps.sourceDivergence` is the vocabulary member):
    * for every `groupCol` value, the [[histDriftPsi]] of that source's
    * `valCol` distribution against THE REST of the corpus, with the
    * complement derived by subtraction from global bucket counts —
    * one corpus pass however many sources there are. Output:
    * `(groupCol, n_buckets, n_src, n_rest, psi_bits)`; whole-corpus
    * sources (empty complement) are omitted.
    *
    * Unlike the vocabulary dashboard no coarsening is needed: the
    * bucket domain is bounded at 63·s+1 BY CONSTRUCTION, so the dense
    * source×bucket grid the smoothing needs is |sources|·(63·s+1)
    * rows at any corpus size. Same snapped-exact arithmetic as
    * [[histDriftPsi]], per source; the per-source bucket counts are
    * checkpoint-materialized so the corpus collapses exactly once
    * (graft.util.Materialize rationale).
    */
  def histSourcePsi(df: DataFrame, groupCol: String, valCol: String,
                    subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    val d38 = DecimalType(38, 0)
    def l8(e: Column): Column =
      floor(log2(e.cast(DoubleType)) * lit(1e8) + lit(0.5)).cast(LongType)
    val perSrc = graft.util.Materialize.bounded(
      df.where(col(valCol).isNotNull && col(groupCol).isNotNull)
        .select(col(groupCol).cast(StringType).as("src"),
          snapLong(valCol).as("__v"))
        .where(col("__v").isNotNull)
        .select(col("src"),
          expr(bucketCaseSql("__v", subBuckets, "div")).cast(IntegerType).as("bucket"))
        .groupBy(col("src"), col("bucket")).agg(count(lit(1)).as("c")))
    val global = perSrc.groupBy("bucket").agg(sum(col("c")).as("ctot"))
    val grid = perSrc.select("src").distinct().crossJoin(broadcast(global))
    val ps2 = perSrc.select(col("src").as("__s2"), col("bucket").as("__b2"),
      col("c").as("__ca"))
    val g2 = grid.join(ps2,
        col("src") === col("__s2") && col("bucket") === col("__b2"), "left")
      .select(col("src"), coalesce(col("__ca"), lit(0L)).as("ca"),
        (col("ctot") - coalesce(col("__ca"), lit(0L))).as("cb"))
    val totals = g2.groupBy("src").agg(count(lit(1)).as("__k"),
      (sum(col("ca")) + count(lit(1))).as("__na"),
      (sum(col("cb")) + count(lit(1))).as("__nb"),
      sum(col("cb")).as("__rb"))
    def q(c: String, n: String): Column =
      expr(s"CAST((CAST($c + 1 AS DECIMAL(38,0)) * 1000000000) div $n AS BIGINT)")
    g2.join(totals, "src")                  // |sources| rows, AQE-broadcastable
      .where(col("__rb") > 0)
      .select(col("src"), col("__k"), col("__na"), col("__nb"),
        q("ca", "__na").as("__qa"), q("cb", "__nb").as("__qb"),
        (l8(col("ca") + 1) - l8(col("__na"))
          - l8(col("cb") + 1) + l8(col("__nb"))).as("__l"))
      .groupBy(col("src"))
      .agg(max(col("__k")).as("n_buckets"),
        (max(col("__na")) - max(col("__k"))).as("n_src"),
        (max(col("__nb")) - max(col("__k"))).as("n_rest"),
        (sum((col("__qa") - col("__qb")).cast(d38) * col("__l"))
          .cast(DoubleType) / lit(1e17)).as("psi_bits"))
      .withColumnRenamed("src", groupCol)
  }

  /** ROLLING drift monitor — the per-day twin of [[histDriftPsi]] and
    * the PSI member of the rolling-gauge family
    * (`Sketches.hllRollingEstimate`, [[histRollingQuantiles]]): for
    * every day with data AND a non-empty trailing reference, the PSI
    * of that day's `valCol` distribution against the merged histograms
    * of the `windowDays` days strictly BEFORE it — "which ingest day
    * broke the profile", answered without re-touching any event row.
    * Returns `(day 'yyyy-MM-dd', n_buckets, n_cur, n_ref, psi_bits)`;
    * days with an empty reference window (e.g. the first day) are
    * omitted rather than reported as all-smoothing noise.
    *
    * Same snapped-exact arithmetic as [[histDriftPsi]], applied
    * per-day. Scale shape: the corpus collapses to per-day histograms
    * first (one map-side-combinable groupBy); the bounded ≤windowDays
    * explode fans out BUCKET rows into the days they serve as
    * reference, the day×bucket join is sketch-sized, and the per-day
    * totals frame is |days| rows (AQE-broadcastable). A year of
    * 100 TB events costs 365 ≤1k-row histogram merges.
    */
  def histRollingPsi(df: DataFrame, valCol: String, tsCol: String,
                     windowDays: Int,
                     subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    require(windowDays >= 1, "histRollingPsi: windowDays must be >= 1")
    rollingPsiFromPerDay(dayHist(df, valCol, tsCol, subBuckets), windowDays)
  }

  private def rollingPsiFromPerDay(perDay0: DataFrame,
                                   windowDays: Int): DataFrame = {
    val d38 = DecimalType(38, 0)
    def l8(e: Column): Column =
      floor(log2(e.cast(DoubleType)) * lit(1e8) + lit(0.5)).cast(LongType)
    // perDay feeds days, the reference fan-out AND the current side —
    // materialize the bounded |days|·buckets frame so the corpus
    // (or the tranche scan) collapses exactly once
    // (graft.util.Materialize rationale)
    val perDay = graft.util.Materialize.bounded(perDay0)
    val days = perDay.select(col("__d").as("day")).distinct()
    // each day's buckets serve as REFERENCE for the next windowDays days
    val ref = perDay
      .select(col("bucket"), col("cnt").as("cb"),
        explode(sequence(date_add(col("__d"), 1),
          date_add(col("__d"), windowDays))).as("day"))
      .join(broadcast(days), "day")
      .groupBy(col("day"), col("bucket"))
      .agg(sum(col("cb")).as("cb"))
    val cur = perDay.select(col("__d").as("day"), col("bucket"),
      col("cnt").as("ca"))
    val j = cur.join(ref, Seq("day", "bucket"), "full_outer")
      .select(col("day"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val totals = j.groupBy("day").agg(count(lit(1)).as("__k"),
      (sum(col("ca")) + count(lit(1))).as("__na"),
      (sum(col("cb")) + count(lit(1))).as("__nb"),
      sum(col("ca")).as("__ra"), sum(col("cb")).as("__rb"))
    def q(c: String, n: String): Column =
      expr(s"CAST((CAST($c + 1 AS DECIMAL(38,0)) * 1000000000) div $n AS BIGINT)")
    j.join(totals, "day")                   // |days| rows, AQE-broadcastable
      .where(col("__ra") > 0 && col("__rb") > 0)
      .select(col("day"), col("__k"), col("__na"), col("__nb"),
        q("ca", "__na").as("__qa"), q("cb", "__nb").as("__qb"),
        (l8(col("ca") + 1) - l8(col("__na"))
          - l8(col("cb") + 1) + l8(col("__nb"))).as("__l"))
      .groupBy(col("day"))
      .agg(max(col("__k")).as("n_buckets"),
        (max(col("__na")) - max(col("__k"))).as("n_cur"),
        (max(col("__nb")) - max(col("__k"))).as("n_ref"),
        (sum((col("__qa") - col("__qb")).cast(d38) * col("__l"))
          .cast(DoubleType) / lit(1e17)).as("psi_bits"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_buckets"), col("n_cur"), col("n_ref"), col("psi_bits"))
  }

  /** GROUPED rolling PSI — the full monitoring matrix "which SOURCE
    * broke on which DAY": for every (group, day) with data AND a
    * non-empty trailing reference, the PSI of that group's day
    * distribution against the SAME group's merged trailing-window
    * histograms. [[histRollingPsi]] answers when; [[histSourcePsi]]
    * answers who, single-shot; this answers both at once. Same
    * snapped-exact arithmetic; every frame is bounded at
    * |groups|·|days|·(63·s+1) rows and each group keeps its own day
    * axis. Output `(groupCols..., day, n_buckets, n_cur, n_ref,
    * psi_bits)`. */
  def histRollingPsiBy(df: DataFrame, groupCols: Seq[String],
                       valCol: String, tsCol: String, windowDays: Int,
                       subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    require(groupCols.nonEmpty, "histRollingPsiBy: need at least one group column")
    require(windowDays >= 1, "histRollingPsiBy: windowDays must be >= 1")
    val d38 = DecimalType(38, 0)
    def l8(e: Column): Column =
      floor(log2(e.cast(DoubleType)) * lit(1e8) + lit(0.5)).cast(LongType)
    val gc = groupCols.map(col)
    val perDay = graft.util.Materialize.bounded(
      df.where(col(valCol).isNotNull &&
          groupCols.map(c => col(c).isNotNull).reduce(_ && _))
        .select(gc :+ to_date(col(tsCol)).as("__d")
          :+ snapLong(valCol).as("__v"): _*)
        .where(col("__v").isNotNull)
        .select(gc :+ col("__d")
          :+ expr(bucketCaseSql("__v", subBuckets, "div")).cast(IntegerType).as("bucket"): _*)
        .groupBy(gc :+ col("__d") :+ col("bucket"): _*)
        .agg(count(lit(1)).as("cnt")))
    val days = perDay.select(gc :+ col("__d").as("day"): _*).distinct()
    val ref = perDay
      .select(gc ++ Seq(col("bucket"), col("cnt").as("cb"),
        explode(sequence(date_add(col("__d"), 1),
          date_add(col("__d"), windowDays))).as("day")): _*)
      .join(days, groupCols :+ "day")
      .groupBy(gc ++ Seq(col("day"), col("bucket")): _*)
      .agg(sum(col("cb")).as("cb"))
    val cur = perDay.select(gc ++ Seq(col("__d").as("day"), col("bucket"),
      col("cnt").as("ca")): _*)
    val j = cur.join(ref, groupCols ++ Seq("day", "bucket"), "full_outer")
      .select(gc ++ Seq(col("day"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb")): _*)
    val totals = j.groupBy(gc :+ col("day"): _*).agg(count(lit(1)).as("__k"),
      (sum(col("ca")) + count(lit(1))).as("__na"),
      (sum(col("cb")) + count(lit(1))).as("__nb"),
      sum(col("ca")).as("__ra"), sum(col("cb")).as("__rb"))
    def q(c: String, n: String): Column =
      expr(s"CAST((CAST($c + 1 AS DECIMAL(38,0)) * 1000000000) div $n AS BIGINT)")
    j.join(totals, groupCols :+ "day")
      .where(col("__ra") > 0 && col("__rb") > 0)
      .select(gc ++ Seq(col("day"), col("__k"), col("__na"), col("__nb"),
        q("ca", "__na").as("__qa"), q("cb", "__nb").as("__qb"),
        (l8(col("ca") + 1) - l8(col("__na"))
          - l8(col("cb") + 1) + l8(col("__nb"))).as("__l")): _*)
      .groupBy(gc :+ col("day"): _*)
      .agg(max(col("__k")).as("n_buckets"),
        (max(col("__na")) - max(col("__k"))).as("n_cur"),
        (max(col("__nb")) - max(col("__k"))).as("n_ref"),
        (sum((col("__qa") - col("__qb")).cast(d38) * col("__l"))
          .cast(DoubleType) / lit(1e17)).as("psi_bits"))
      .select(gc ++ Seq(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_buckets"), col("n_cur"), col("n_ref"), col("psi_bits")): _*)
  }

  /** PERCENTILE-RANK normalization against the at-rest histogram —
    * the feature transform ("what fraction of history is below this
    * value") done scale-right: a naive `percent_rank()` window is a
    * GLOBAL SORT of the corpus; this instead maps each row to its
    * bucket with the generated integer CASE and broadcast-joins the
    * ≤63·s+1-row cumulative table, so scoring is shuffle-free at any
    * batch size and the reference distribution is the artifact, not
    * the batch. Adds `pct_rank` ∈ [0, 1): the exact fraction of the
    * sketch's mass in STRICTLY LOWER buckets (one IEEE division of
    * exact longs per row — engine-identical); same-bucket mass is
    * excluded, so the rank is granular to the sketch's 1/s value
    * resolution. NULL value → NULL rank; values below every occupied
    * bucket rank 0, above every occupied bucket rank 1.
    *
    * The cumulative table is DENSIFIED over the full 63·s+1 bucket
    * domain (a bounded `spark.range`), so a value landing in a gap
    * bucket the sketch never saw still ranks by the mass genuinely
    * below it — no range-lookup join needed, the equi-join always
    * hits.
    */
  def histPercentileRank(df: DataFrame, valCol: String, sketch: DataFrame,
                         subBuckets: Int = DefaultSubBuckets): DataFrame = {
    logS(subBuckets)
    val spark = sketch.sparkSession
    val w = Window.orderBy("__bk").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // dense feeds both the cum table and its totals aggregate —
    // materialize the bounded frame so a corpus-built sketch collapses
    // once (graft.util.Materialize rationale)
    val dense = graft.util.Materialize.bounded(
      spark.range(0, 63L * subBuckets + 1)
        .select(col("id").cast(IntegerType).as("__bk"))
        .join(sketch.select(col("bucket").as("__bk"), col("cnt")), Seq("__bk"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .withColumn("__below", sum(col("cnt")).over(w) - col("cnt")))
    val cum = dense
      .crossJoin(broadcast(dense.agg(sum(col("cnt")).as("__total"))))
      .select(col("__bk"), col("__below"), col("__total"))
    val v = snapLong(valCol)
    df.withColumn("__bv",
        when(v.isNull, lit(null).cast(IntegerType))
          .otherwise(expr(bucketCaseSql(s"TRY_CAST($valCol AS BIGINT)", subBuckets, "div"))
            .cast(IntegerType)))
      // the cum side is 63·s+1 rows: forced broadcast, no shuffle
      .join(broadcast(cum), col("__bv") === col("__bk"), "left")
      .withColumn("pct_rank",
        when(col("__bv").isNull, lit(null).cast(DoubleType))
          .otherwise(col("__below").cast(DoubleType) / col("__total").cast(DoubleType)))
      .drop("__bv", "__bk", "__below", "__total")
  }

  /** PER-GROUP winsorization — [[histWinsorize]] with each row
    * clamped into ITS OWN group's `[pLo, pHi]` band from a
    * [[histSketchBy]] result: per-domain outlier norms differ (a
    * 50k-char doc is an outlier for tweets, median for legal filings),
    * so the curation gate should too. Bounds come from the ≤2-row-per-
    * group [[histQuantilesBy]] read, pivoted to `(group..., lo, hi)`
    * and BROADCAST-joined (bounded |groups| rows — no corpus shuffle);
    * scoring stays a per-row `least/greatest`. NULL values pass
    * through; rows whose group has no sketch history pass through
    * UNCLAMPED (no bounds exist to apply — flag upstream if that
    * should quarantine instead).
    */
  def histWinsorizeBy(df: DataFrame, groupCols: Seq[String], valCol: String,
                      sketch: DataFrame, pLo: Double, pHi: Double,
                      subBuckets: Int = DefaultSubBuckets): DataFrame = {
    require(pLo > 0 && pLo < pHi && pHi <= 1,
      s"histWinsorizeBy: need 0 < pLo < pHi <= 1, got ($pLo, $pHi)")
    val bounds = histQuantilesBy(sketch, groupCols, Seq(pLo, pHi), subBuckets)
      .groupBy(groupCols.map(col): _*)
      .agg(min(when(col("p") === pLo, col("value"))).as("lo"),
        max(when(col("p") === pHi, col("value"))).as("hi"))
    val v = snapLong(valCol)
    df.join(broadcast(bounds), groupCols, "left")
      .withColumn(s"${valCol}_w",
        when(v.isNull || col("lo").isNull, v)
          .otherwise(least(greatest(v, col("lo")), col("hi"))))
  }

  /** ROBUST anomaly band from the histogram sketch: `[med − k·MAD,
    * med + k·MAD]` with both the median and the median absolute
    * deviation read from the ≤63·s+1-row sketch — the robust
    * alternative to `AnomalyOps.sigmaFlags`' mean/σ band, which the
    * outliers being hunted inflate (one 10⁹-length document moves a
    * mean; it cannot move a median). Returns one row
    * `(med, mad, lo, hi)`, all exact longs.
    *
    * The deviation distribution is approximated AT BUCKET GRANULARITY:
    * each bucket's mass sits at its lower boundary, so `MAD` carries
    * the sketch's 1/s relative value error (and up to one bucket width
    * of absolute error near the median) — the price of computing a
    * second-order statistic from the at-rest artifact without a second
    * corpus pass. Rank selection on both medians is exact integer
    * arithmetic; the windows order ≤sketch-sized frames only.
    */
  def histMadBand(sketch: DataFrame, k: Int = 3,
                  subBuckets: Int = DefaultSubBuckets): DataFrame = {
    require(k >= 1, s"histMadBand: k must be >= 1, got $k")
    val medRows = histQuantiles(sketch, Seq(0.5), subBuckets)
      .collect()                            // 1-row sketch read
    require(medRows.nonEmpty,
      "histMadBand: empty sketch (no non-null values were sketched)")
    val med = medRows(0).getLong(1)
    val dev = sketch.select(
        abs(expr(lowerBoundCaseSql("bucket", subBuckets, "div"))
          .cast(LongType) - lit(med)).as("d"),
        col("cnt"))
      .groupBy("d").agg(sum(col("cnt")).as("cnt"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = dev.agg(sum(col("cnt")).as("__total"))
    dev.withColumn("__cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(total))          // 1-row scalar singleton
      .where(col("__cum") >=
        greatest(lit(1L), ceil(lit(0.5) * col("__total"))))
      .agg(min(col("d")).as("mad"))
      .select(lit(med).as("med"), col("mad"),
        (lit(med) - lit(k.toLong) * col("mad")).as("lo"),
        (lit(med) + lit(k.toLong) * col("mad")).as("hi"))
  }

  /** Flag rows outside the [[histMadBand]] of HISTORY's distribution —
    * the robust outlier gate: band collected at plan-build time as
    * exact long literals (the [[histWinsorize]] stance), scoring a
    * shuffle-free per-row compare over any batch size. Adds
    * `med`/`mad` audit columns and `is_anomaly` (NULL value → NULL
    * flag). */
  def histMadFlags(df: DataFrame, valCol: String, sketch: DataFrame,
                   k: Int = 3,
                   subBuckets: Int = DefaultSubBuckets): DataFrame = {
    val r = histMadBand(sketch, k, subBuckets).head()
    val (med, mad, lo, hi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val v = snapLong(valCol)
    df.withColumn("med", lit(med))
      .withColumn("mad", lit(mad))
      .withColumn("is_anomaly",
        when(v.isNull, lit(null).cast(BooleanType))
          .otherwise(v < lit(lo) || v > lit(hi)))
  }

  /** WINSORIZE a column against the at-rest histogram artifact: clamp
    * `valCol` into the `[pLo, pHi]` quantile band of HISTORY's
    * distribution — the outlier guard a feature pipeline wants before
    * normalization, with bounds that keep a stable meaning as the
    * corpus grows because they come from the artifact, not from the
    * batch being scored (the [[histBucketize]] stance). Adds
    * `<valCol>_w` (clamped, NULL stays NULL) plus the applied `lo`/`hi`
    * bound columns so downstream audits see which bounds fired.
    *
    * Bounds are a ≤2-row [[histQuantiles]] read collected at
    * plan-build time and baked in as exact long literals (the
    * fitted-quantizer precedent) — scoring is a shuffle-free per-row
    * `least/greatest` projection over any batch size, and the bounds
    * are bucket lower boundaries, so they are bit-identical in any
    * engine.
    */
  def histWinsorize(df: DataFrame, valCol: String, sketch: DataFrame,
                    pLo: Double, pHi: Double,
                    subBuckets: Int = DefaultSubBuckets): DataFrame = {
    require(pLo > 0 && pLo < pHi && pHi <= 1,
      s"histWinsorize: need 0 < pLo < pHi <= 1, got ($pLo, $pHi)")
    val boundRows = histQuantiles(sketch, Seq(pLo, pHi), subBuckets)
      .collect()                            // ≤2-row sketch read
    require(boundRows.nonEmpty,
      "histWinsorize: empty sketch (no non-null values were sketched)")
    val bounds = boundRows.map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val (lo, hi) = (bounds(pLo), bounds(pHi))
    val v = snapLong(valCol)
    df.withColumn("lo", lit(lo))
      .withColumn("hi", lit(hi))
      .withColumn(s"${valCol}_w",
        when(v.isNull, lit(null).cast(LongType))
          .otherwise(least(greatest(v, lit(lo)), lit(hi))))
  }

  // ---- at-rest artifact ------------------------------------------------

  /** AT-REST histogram artifact, tagged-tranche layout like
    * `Sketches.writeSketchTranche`: each ingest overwrites ITS OWN
    * `batch=<tag>` tranche, so a replayed batch (at-least-once
    * delivery, task retry, backfill) converges to one copy. The
    * difference from the HLL artifact is the merge algebra: SUM is not
    * idempotent, so crash-safe CONSOLIDATION needs the superseding-
    * manifest protocol ([[graft.util.Tranches]]) where register-max
    * needed nothing.
    */
  def writeHistTranche(sketch: DataFrame, dir: String, tag: String): Unit =
    graft.util.Tranches.write(sketch, dir, tag)

  /** Merge-on-read of the at-rest artifact: one ≤tranches×(63·s+1)-row
    * scan, manifest-aware (a half-finished consolidation can never
    * double-count). */
  def readHist(spark: SparkSession, dir: String): DataFrame =
    graft.util.Tranches.read(spark, dir, Seq("bucket"), "cnt")

  /** Fold the live tranches into ONE, crash-safe under the sum algebra
    * via the superseding manifest (protocol and crash analysis:
    * [[graft.util.Tranches.consolidate]]). */
  def consolidateHist(spark: SparkSession, dir: String): Unit =
    graft.util.Tranches.consolidate(spark, dir, Seq("bucket"), "cnt")
}
