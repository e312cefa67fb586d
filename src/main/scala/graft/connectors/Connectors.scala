package graft.connectors

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Readers

/** Connector-edge helpers (SURVEY.md §2.1 REST/file sources).
  *
  * The reference's dbt/tableau/sharepoint clients are driver-side REST
  * consumers producing typed records (`dbt_client.py:444-533` limit/
  * offset pagination, `tableau_client.py:68-183` pageSize/pageNumber,
  * `sharepoint_client.py:91-160` listing + fuzzy match). The engine
  * keeps that acquisition at the edge: a paged fetch drains the API on
  * the driver (REST pagination is inherently sequential), lands in a
  * `Dataset[T]` of case-class records, and everything downstream is a
  * distributed plan. Retry/backoff lives in [[graft.api.ApiFanout]].
  */
object Connectors {

  /** Drain a limit/offset-paginated source into a typed Dataset.
    * `fetchPage(limit, offset)` returns one page; empty page or a page
    * shorter than `limit` ends the drain (both conventions appear in
    * the reference: `dbt_client.py:505-533`).
    *
    * Each page fetch runs under [[graft.util.Retry.retryV2]] (the
    * reference decorates its REST pulls with `retry_v2`,
    * `custom_decorators.py:44-77`): `pageRetries` retries with
    * quadratic backoff, the whole drain failing only when one page
    * exhausts its attempts. Offsets never advance on a failed attempt,
    * so a flaky page is re-fetched, not skipped.
    */
  def pagedSource[T <: Product : TypeTag](spark: SparkSession, limit: Int,
                                          maxPages: Int = 10000,
                                          pageRetries: Int = 0,
                                          sleep: Double => Unit = s => Thread.sleep((s * 1000).toLong),
                                          spillEveryPages: Int = 256)
                                         (fetchPage: (Int, Int) => Seq[T]): Dataset[T] = {
    import spark.implicits._
    require(spillEveryPages > 0, "pagedSource: spillEveryPages must be > 0")
    // drain lazily and bound driver memory at `spillEveryPages` pages:
    // longer drains land chunk-by-chunk in a staging parquet dir and the
    // result is read back lazily. A chunked union of in-memory Datasets
    // would NOT bound anything — LocalRelation rows live in the driver
    // plan — so the spill goes through disk, the same stage-then-read
    // shape the reference's REST→warehouse loads use. Short drains
    // (≤ one chunk, the common case) never touch disk.
    val buf = scala.collection.mutable.ArrayBuffer.empty[T]
    var spillDir: Option[String] = None
    var buffered = 0
    def spill(): Unit = {
      val dir = spillDir.getOrElse {
        val d = java.nio.file.Files.createTempDirectory("graft_paged_spill").toString
        spillDir = Some(d); d
      }
      spark.createDataset(buf.toSeq).write.mode("append").parquet(dir)
      buf.clear(); buffered = 0
    }
    drainPages(limit, maxPages, pageRetries, sleep)(fetchPage).foreach { page =>
      buf ++= page
      buffered += 1
      if (buffered >= spillEveryPages) spill()
    }
    spillDir match {
      case None => spark.createDataset(buf.toSeq)
      case Some(dir) =>
        if (buf.nonEmpty) spill()
        Readers.parquet(spark, dir).as[T] // row order is not defined; a REST drain is a set
    }
  }

  /** The lazy page drain behind [[pagedSource]]: one REST page per
    * `next()`, retry-wrapped, ending on a short/empty page or the
    * `maxPages` guard. Offsets never advance on a failed attempt. */
  private[graft] def drainPages[T](limit: Int, maxPages: Int, pageRetries: Int,
                                   sleep: Double => Unit)
                                  (fetchPage: (Int, Int) => Seq[T]): Iterator[Seq[T]] =
    new Iterator[Seq[T]] {
      private var offset = 0
      private var pages = 0
      private var finished = false
      def hasNext: Boolean = !finished && pages < maxPages
      def next(): Seq[T] = {
        if (!hasNext) throw new NoSuchElementException("page drain exhausted")
        val page =
          if (pageRetries <= 0) fetchPage(limit, offset)
          else graft.util.Retry.retryV2(pageRetries, sleep = sleep)(_ => fetchPage(limit, offset))
        offset += limit
        pages += 1
        if (page.size < limit) finished = true
        page
      }
    }

  /** Closest-match ranking: for each left row, the `candidates` row
    * whose `candCol` minimizes levenshtein distance to `nameCol`
    * (deterministic tiebreak on the candidate value) — the engine-side
    * form of the reference's `difflib.get_close_matches` filename
    * match (`sharepoint_client.py:121-127`). Candidates are broadcast
    * (a file listing — small by definition); left side streams.
    */
  def fuzzyBestMatch(left: DataFrame, nameCol: String,
                     candidates: DataFrame, candCol: String,
                     topK: Int = 1, maxCandidates: Int = 100000): DataFrame = {
    // the broadcast cross join is correct ONLY because candidates are a
    // file listing (small by contract) — enforce the contract instead
    // of letting a huge candidate side turn this into an accidental
    // O(left × candidates) scan. The probe is limit-bounded, so the
    // guard itself never scans more than maxCandidates+1 rows.
    val nCand = candidates.limit(maxCandidates + 1).count()
    require(nCand <= maxCandidates,
      s"fuzzyBestMatch: candidate side exceeds $maxCandidates rows — " +
        "this operator ranks file listings; bucket or pre-filter larger sides")
    // partition by a per-row unique id, not the left columns — two
    // identical left rows must each keep their own topK matches
    val withId = left.withColumn("__row", monotonically_increasing_id())
    val w = Window.partitionBy(col("__row"))
      .orderBy(col("__dist").asc, col(candCol).asc)
    withId.crossJoin(broadcast(candidates.select(candCol)))
      .withColumn("__dist", levenshtein(col(nameCol), col(candCol)))
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= topK)
      .drop("__row")
      .withColumnRenamed("__dist", "match_distance")
      .withColumnRenamed("__rank", "match_rank")
  }
}
