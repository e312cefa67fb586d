package graft.profile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Hashes

/** Count-min FREQUENCY sketch — the point-lookup member of the
  * mergeable-sketch family: where [[Sketches]] answers "how many
  * distinct" and [[HistSketch]] answers "what quantile", this answers
  * "how often does key X occur" from a bounded `depth × width` count
  * grid instead of a key-cardinality-sized table. The corpus collapses
  * to ≤ d·w cells in one map-side-combinable groupBy; per-day grids
  * MERGE BY CELL-WISE SUM (counts of disjoint row sets add — no group
  * contract needed, unlike the co-occurrence artifact); a lookup joins
  * `|keys|·d` probe rows against the ≤d·w grid (broadcastable) and
  * takes the row-wise minimum.
  *
  * Guarantee: estimates NEVER undercount (every occurrence of a key
  * lands in all d of its cells; collisions only add) and overcount by
  * at most the colliding mass — the standard CM bound
  * `err ≤ e·N/w` with probability `1 − e^(−d)`. Both sides of that
  * contract are deterministic here: the d row hashes are the seeded
  * portable md5 (`r|key`), so the SAME estimate falls out of every
  * run, partitioning, and engine — a DuckDB oracle replays each cell
  * and each minimum exactly, which no randomized-seed CM can offer.
  *
  * At-rest: cell counts are a SUM-algebra artifact —
  * [[graft.util.Tranches]] tranches with the superseding-manifest
  * consolidation, same as the histogram and co-occurrence families.
  */
object CountMin {

  /** Default grid: 4 × 8192 cells ≈ 256 KB of longs — `err ≤ e·N/8192`
    * per lookup at 98% confidence, whatever the key cardinality. */
  val DefaultWidth = 8192
  val DefaultDepth = 4

  private def cell(keyCol: String, r: Int, width: Int) =
    (Hashes.portableSeeded(r, col(keyCol).cast(StringType)) % width)
      .cast(IntegerType)

  /** Build the grid: `(r INT, c INT, cnt BIGINT)`, one row per
    * OCCUPIED cell. The d-fold explode happens before the partial
    * aggregate, so the shuffle still carries ≤ d·w groups per mapper. */
  def cmSketch(df: DataFrame, keyCol: String,
               width: Int = DefaultWidth, depth: Int = DefaultDepth): DataFrame = {
    require(width >= 2 && depth >= 1 && depth <= 16,
      s"cmSketch: width=$width depth=$depth out of range")
    val probes = (0 until depth).map(r =>
      struct(lit(r).as("r"), cell(keyCol, r, width).as("c")))
    df.where(col(keyCol).isNotNull)
      .select(explode(array(probes: _*)).as("__rc"))
      .groupBy(col("__rc.r").as("r"), col("__rc.c").as("c"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Union of grids = cell-wise sum (associative/commutative; replay
    * safety via own-tranche overwrite, as with every sum artifact). */
  def cmMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "cmMerge: need at least one sketch")
    sketches.reduce(_.unionByName(_))
      .groupBy(col("r"), col("c"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Estimated occurrence count per distinct key in `keys`:
    * `(keyCol, n_est)`, `n_est ≥` the true count always. Absent cells
    * read 0 (a key the sketch never saw estimates 0 only if ALL its
    * cells are empty). */
  def cmLookup(sketch: DataFrame, keys: DataFrame, keyCol: String,
               width: Int = DefaultWidth, depth: Int = DefaultDepth): DataFrame = {
    require(width >= 2 && depth >= 1 && depth <= 16,
      s"cmLookup: width=$width depth=$depth out of range")
    val probes = (0 until depth).map(r =>
      struct(lit(r).as("r"), cell(keyCol, r, width).as("c")))
    keys.select(col(keyCol)).where(col(keyCol).isNotNull).distinct()
      .select(col(keyCol), explode(array(probes: _*)).as("__rc"))
      .select(col(keyCol), col("__rc.r").as("r"), col("__rc.c").as("c"))
      .join(sketch, Seq("r", "c"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_est"))
  }

  /** Equi-join OUTPUT-SIZE estimate from two CM grids — the classic
    * count-min inner product (Cormode & Muthukrishnan 2005): the true
    * join size on a shared key is `Σ_k f_A(k)·f_B(k)`, and
    * `min_r Σ_c A[r][c]·B[r][c]` NEVER undercounts it (matching keys
    * land in matching cells; collisions only add mass) while
    * overcounting by at most `e·N_A·N_B/w` per row with the usual
    * `1 − e^(−d)` confidence. This is the shuffle-planning gauge: "is
    * tomorrow's batch ⋈ history a 10^9-row output or a 10^13-row
    * output" answered from two ≤d·w-cell AT-REST artifacts
    * ([[readCm]]) without touching either table — the decision input
    * for broadcast-vs-shuffle, salting, and AQE skew thresholds.
    *
    * Both grids must share (width, depth) — they are joined cell-by-
    * cell, so a mismatched geometry silently estimates garbage; keep
    * grids in [[graft.util.Tranches]] dirs per key-column and the
    * frozen defaults make that structural.
    *
    * Exactness: cell counts are exact integers and the row inner
    * products are DECIMAL(38,0) sums (a 100 TB pair of tables can put
    * ~10^8 in a cell — products overflow BIGINT), so the minimum is
    * deterministic; the single output value is the exact integer cast
    * to double (value-determined, identical in any engine; exact to
    * 2^53, beyond which a planning gauge does not care). A row with NO
    * overlapping occupied cells has inner product 0 — the range(d)
    * left join keeps those zeros in the minimum instead of silently
    * dropping the row.
    *
    * Output: one row, `n_est: double`.
    */
  def cmJoinSize(a: DataFrame, b: DataFrame,
                 depth: Int = DefaultDepth): DataFrame = {
    require(depth >= 1 && depth <= 16, s"cmJoinSize: depth=$depth out of range")
    val spark = a.sparkSession
    val prod = a.select(col("r"), col("c"), col("cnt").as("__ca"))
      .join(b.select(col("r"), col("c"), col("cnt").as("__cb")), Seq("r", "c"))
      .groupBy(col("r"))
      .agg(sum(col("__ca").cast(DecimalType(38, 0)) * col("__cb")).as("__ip"))
    spark.range(depth).select(col("id").cast(IntegerType).as("r"))
      .join(prod, Seq("r"), "left")
      .agg(min(coalesce(col("__ip"), lit(0).cast(DecimalType(38, 0))))
        .cast(DoubleType).as("n_est"))
  }

  /** One ingest = one tranche ([[graft.util.Tranches]] layout). */
  def writeCmTranche(sketch: DataFrame, dir: String, tag: String): Unit =
    graft.util.Tranches.write(sketch, dir, tag)

  /** Merge-on-read of the at-rest grid, superseding-manifest-aware. */
  def readCm(spark: SparkSession, dir: String): DataFrame =
    graft.util.Tranches.read(spark, dir, Seq("r", "c"), "cnt")

  /** Crash-safe fold of the live tranches
    * ([[graft.util.Tranches.consolidate]]). */
  def consolidateCm(spark: SparkSession, dir: String): Unit =
    graft.util.Tranches.consolidate(spark, dir, Seq("r", "c"), "cnt")
}
