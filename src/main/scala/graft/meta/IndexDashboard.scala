package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-family index observability roll-up. Every at-rest index
  * family exposes a per-artifact health gauge in one schema — the
  * ledger families (dedup, winnow, vector, BM25) through
  * [[graft.util.Tranches.ledgerHealth]], the other tranche families
  * through [[graft.util.Tranches.health]]; the query an operator
  * actually runs every morning is "are ALL my indexes healthy", so
  * this unions whichever families are present into one frame with a
  * leading `family` column. Families whose directory is not passed
  * (or passed as None) are simply absent from the output — a
  * deployment rarely runs them all.
  *
  * Same cost contract as the per-family gauges: directory metadata
  * only, no data file opened; the union is a driver-side concat of
  * tiny (≤5-row) local frames.
  */
object IndexDashboard {

  /** One-stop DRIFT dashboard over the monitoring triad: a new batch
    * vs the reference corpus on every axis that can silently rot a
    * training set — numeric profile (PSI of a value distribution, via
    * histogram sketches), vocabulary (Jensen–Shannon of the token
    * mixes), and embedding space (centroid cosine). Output: one row
    * per gauge `(gauge, value, n_ref, n_new)`, the morning-check frame
    * ("did yesterday's crawl drift on ANY axis"). Cost contract: each
    * gauge's own sketch-sized shape — the batch and reference are each
    * tokenized/bucketed/summed once per gauge, nothing corpus-sized
    * crosses a shuffle, and the union is a concat of three 1-row
    * frames.
    */
  def driftDashboard(refDocs: DataFrame, newDocs: DataFrame,
                     valCol: String, textCol: String,
                     refVecs: DataFrame, newVecs: DataFrame,
                     vecCol: String): DataFrame = {
    val psi = graft.profile.HistSketch.histDriftPsi(
        graft.profile.HistSketch.histSketch(newDocs, valCol),
        graft.profile.HistSketch.histSketch(refDocs, valCol))
      .select(lit("psi_bits").as("gauge"), col("psi_bits").as("value"),
        col("n_b").as("n_ref"), col("n_a").as("n_new"))
    val js = graft.text.TextOps.jsDivergence(newDocs, refDocs, textCol)
      .select(lit("js_bits").as("gauge"), col("js_bits").as("value"),
        col("n_b").as("n_ref"), col("n_a").as("n_new"))
    val cen = graft.similarity.SimilarityOps.centroidDrift(newVecs, refVecs, vecCol)
      .select(lit("centroid_cosine").as("gauge"), col("cosine").as("value"),
        col("n_b").as("n_ref"), col("n_a").as("n_new"))
    psi.unionByName(js).unionByName(cen)
  }

  /** Per-source odd-one-out dashboard: every source scored against
    * the rest of the corpus on BOTH drift axes — numeric profile
    * (`HistSketch.histSourcePsi` over `valCol`) and vocabulary
    * (`TextOps.sourceDivergence` over `textCol`) — as one
    * `(source, gauge, value, n_src, n_rest)` frame ordered for the
    * morning scan. The union is a concat of two |sources|-row frames;
    * each member keeps its own bounded-grid shape (bucket domain /
    * coarsened top-K vocabulary), so the whole dashboard costs three
    * corpus passes total (one for PSI, two for JS's top-K election +
    * coarsened counts) at any number of sources.
    */
  def sourceDriftDashboard(df: DataFrame, groupCol: String,
                           valCol: String, textCol: String,
                           vocabLimit: Int = 10000,
                           vectors: Option[(DataFrame, String)] = None): DataFrame = {
    val psi = graft.profile.HistSketch.histSourcePsi(df, groupCol, valCol)
      .select(col(groupCol), lit("psi_bits").as("gauge"),
        col("psi_bits").as("value"), col("n_src"), col("n_rest"))
    val js = graft.text.TextOps.sourceDivergence(df, groupCol, textCol, vocabLimit)
      .select(col(groupCol), lit("js_bits").as("gauge"),
        col("js_bits").as("value"), col("n_src"), col("n_rest"))
    val base = psi.unionByName(js)
    // optional third axis: per-source centroid-vs-rest over a vector
    // frame carrying the same groupCol (vectors usually live in their
    // own table — pass the joined frame)
    vectors.fold(base) { case (vecDf, vecCol) =>
      base.unionByName(
        graft.similarity.SimilarityOps.sourceCentroidDrift(vecDf, groupCol, vecCol)
          .select(col(groupCol), lit("centroid_cosine").as("gauge"),
            col("cosine").as("value"), col("n_src"), col("n_rest")))
    }
  }

  /** ROLLING drift dashboard — the per-day union of the three rolling
    * gauges ([[graft.profile.HistSketch.histRollingPsi]],
    * [[graft.text.TextOps.jsRollingDivergence]],
    * [[graft.similarity.SimilarityOps.centroidRollingDrift]]): one
    * `(day, gauge, value, n_cur, n_ref)` frame answering "WHICH
    * ingest day broke WHICH axis" in a single morning query. Each
    * member keeps its own bounded per-day shape (bucket rows / count
    * rows / dim-sum rows fanned across the trailing window — never
    * events or vectors), so the dashboard costs three bounded-frame
    * gauges however large the corpora; pass only the axes the
    * deployment monitors. */
  def rollingDriftDashboard(numeric: Option[(DataFrame, String, String)],
                            mix: Option[(DataFrame, String, String)],
                            vectors: Option[(DataFrame, String, String)],
                            windowDays: Int): DataFrame = {
    require(numeric.orElse(mix).orElse(vectors).isDefined,
      "rollingDriftDashboard: pass at least one axis")
    val parts = Seq(
      numeric.map { case (df, valCol, tsCol) =>
        graft.profile.HistSketch.histRollingPsi(df, valCol, tsCol, windowDays)
          .select(col("day"), lit("psi_bits").as("gauge"),
            col("psi_bits").as("value"), col("n_cur"), col("n_ref"))
      },
      mix.map { case (df, keyCol, tsCol) =>
        graft.text.TextOps.jsRollingDivergence(df, keyCol, tsCol, windowDays)
          .select(col("day"), lit("js_bits").as("gauge"),
            col("js_bits").as("value"), col("n_cur"), col("n_ref"))
      },
      vectors.map { case (df, vecCol, tsCol) =>
        graft.similarity.SimilarityOps.centroidRollingDrift(df, vecCol, tsCol, windowDays)
          .select(col("day"), lit("centroid_cosine").as("gauge"),
            col("cosine").as("value"), col("n_cur"), col("n_ref"))
      }).flatten
    parts.reduce(_.unionByName(_))
  }

  /** The one-stop "is every index healthy" frame — the thing an
    * operator actually pages on. Families whose directory is not
    * passed are absent; each present family contributes its own
    * triage gauge rows under a leading `family` column, schema-stable
    * across all of them: `(family, artifact, n_tranches, n_marked,
    * n_unproven, count_fresh)`. Beyond the original four
    * tranche-append families this spans the bloom membership index
    * (OR algebra — unproven impossible), the whole-replace rank / cc
    * artifacts (one generation each), the day-keyed hist / HLL /
    * mix / centroid artifacts (where `n_tranches` is the
    * merge-on-read fan-in the auto-consolidate ticks bound and
    * `n_unproven` counts superseded-awaiting-GC leftovers), and the
    * perceptual image-hash index (set semantics — unproven 0). Cost
    * contract unchanged: directory metadata only, no data file
    * opened; the union concatenates ≤5-row local frames. */
  def indexHealthAll(spark: SparkSession,
                     dedupDir: Option[String] = None,
                     winnowDir: Option[String] = None,
                     vectorDir: Option[String] = None,
                     bm25Dir: Option[String] = None,
                     bloomDir: Option[String] = None,
                     rankDir: Option[String] = None,
                     ccDir: Option[String] = None,
                     dayHistDir: Option[String] = None,
                     dayHllDir: Option[String] = None,
                     dayMixDir: Option[String] = None,
                     centroidDir: Option[String] = None,
                     imageHashDir: Option[String] = None): DataFrame = {
    val parts = Seq(
      dedupDir.map(d => graft.dedup.DedupOps.dedupIndexHealth(spark, d)
        .withColumn("family", lit("dedup"))),
      winnowDir.map(d => graft.text.TextOps.winnowIndexHealth(spark, d)
        .withColumn("family", lit("winnow"))),
      vectorDir.map(d => graft.similarity.SimilarityOps.ivfIndexHealth(spark, d)
        .withColumn("family", lit("vector"))),
      bm25Dir.map(d => graft.text.RetrievalOps.bm25IndexHealth(spark, d)
        .withColumn("family", lit("bm25"))),
      bloomDir.map(d => graft.relational.BloomIndex.bloomIndexHealth(spark, d)
        .withColumn("family", lit("bloom"))),
      rankDir.map(d => graft.graph.GraphOps.rankIndexHealth(spark, d)
        .withColumn("family", lit("rank"))),
      ccDir.map(d => graft.graph.GraphOps.groupIndexHealth(spark, d)
        .withColumn("family", lit("cc"))),
      dayHistDir.map(d => graft.util.Tranches.health(spark, d, "dayhist")
        .withColumn("family", lit("dayhist"))),
      dayHllDir.map(d => graft.util.Tranches.health(spark, d, "dayhll")
        .withColumn("family", lit("dayhll"))),
      dayMixDir.map(d => graft.util.Tranches.health(spark, d, "daymix")
        .withColumn("family", lit("daymix"))),
      centroidDir.map(d => graft.util.Tranches.health(spark, d, "centroid")
        .withColumn("family", lit("centroid"))),
      imageHashDir.map(d => graft.util.Tranches.health(spark, d, "dhash")
        .withColumn("family", lit("imagehash")))).flatten
    require(parts.nonEmpty, "indexHealthAll: pass at least one index directory")
    parts.reduce(_.unionByName(_))
      .select(col("family"), col("artifact"), col("n_tranches"),
        col("n_marked"), col("n_unproven"), col("count_fresh"))
  }
}
