package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.dedup.DedupOps
import graft.graph.GraphOps
import graft.multimodal.MultimodalOps
import graft.similarity.SimilarityOps
import graft.text.{RetrievalOps, TextOps}
import graft.training.TrainingOps

/** LLM-training-data pipeline queries (dedup / similarity / text /
  * multimodal) with DuckDB oracles. These use the `portable` md5-based
  * hash tier so the oracle can reproduce every signature bit; the
  * production default for the same operators is xxhash64.
  */
object LlmQueries {

  private val SIG_K = 16
  private val BANDS = 8

  /** Fit-once caches for the ANN quantizers, keyed by data dir. The
    * coarse centroids and PQ codebooks are a property of the CORPUS,
    * not of any one query — a serving system fits them at index-build
    * time and every search reuses them ([[SimilarityOps.ivfWriteIndex]]
    * returns them for exactly that reason). Refitting per query would
    * cost a full-corpus sample pass per query at 100 TB. Deterministic
    * (seeded), so caching cannot change any result — it only deletes
    * redundant fits within one JVM.
    */
  private val ivfFitCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Array[Double])]]()
  private def sharedCentroids(s: org.apache.spark.sql.SparkSession, dir: String)
  : Array[(Int, Array[Double])] =
    ivfFitCache.computeIfAbsent(dir, _ =>
      SimilarityOps.ivfCentroids(Tables(s, dir, "embeddings"), "embedding", nLists = 16))

  private val pqFitCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  private def sharedCodebooks(s: org.apache.spark.sql.SparkSession, dir: String)
  : Array[Array[Array[Double]]] =
    pqFitCache.computeIfAbsent(dir, _ =>
      SimilarityOps.pqCodebooks(Tables(s, dir, "embeddings"), "embedding",
        dim = 64, m = 8, k = 16))

  // ---------- generated oracles for the approximate ANN configs ----------
  // The fitted quantizers are deterministic given (corpus, seed), so the
  // oracle FREEZES them as SQL literals and replays the engine's exact
  // selection semantics (nearest-list assignment, ADC shortlist, rerank)
  // in DuckDB — the same freeze-the-parameters pattern as the portable
  // minhash affine family. Generated at dump time from the fit caches
  // (`Verify` runs every query before dumping oracle_sql.json); with
  // zero or several fitted dirs the generator returns None and the
  // driver falls back to the rows-only check. Determinism bet: literal
  // doubles round-trip exactly (shortest-repr parse), products/sums are
  // IEEE ops replayed in the engine's fold order (list aggregates with
  // ORDER BY), so selection boundaries agree unless two candidates sit
  // within one ulp of each other — the same bet every hash-checked
  // cosine query already makes.

  private def soleFit[T](cache: java.util.concurrent.ConcurrentHashMap[String, T]): Option[T] =
    if (cache.size == 1) Some(cache.values.iterator.next) else None

  /** Write split `i` ∈ {0, 1} of a two-way ingest as two independent
    * tranches (disjoint `batch=` dirs), overlapped on driver threads
    * ([[graft.util.Par]]). */
  private def twoTranches(write: Int => Unit): Unit =
    graft.util.Par.jobs(() => write(0), () => write(1))

  private def arrLit(a: Array[Double]): String = a.map(_.toString).mkString("[", ", ", "]")

  /** `cents` CTE: one row per inverted list, `(l, cv)`. */
  private def centsCte(cents: Array[(Int, Array[Double])]): String =
    cents.map { case (l, v) => s"($l, ${arrLit(v)})" }
      .mkString("cents AS (SELECT * FROM (VALUES\n  ", ",\n  ", ") t(l, cv))")

  /** `books` CTE: one row per (subspace, code): `(s, cd, cv, n2)` with
    * n2 = ‖codeword‖² computed by the SAME Scala fold `adcNorm2` bakes
    * into the plan, so `sqrt(Σ n2)` is bit-identical cross-engine. */
  private def booksCte(books: Array[Array[Array[Double]]]): String =
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cent, cd) =>
        s"($s, $cd, ${arrLit(cent)}, ${cent.map(x => x * x).sum})"
      }
    }.mkString("books AS (SELECT * FROM (VALUES\n  ", ",\n  ", ") t(s, cd, cv, n2))")

  /** Squared L2 against a centroid list column, left-to-right like the
    * engine's sequential fold. */
  private def duckDist2(v: String, c: String) =
    s"list_sum([(CAST($v[i] AS DOUBLE) - $c[i]) * (CAST($v[i] AS DOUBLE) - $c[i]) for i in range(1, 65)])"

  /** Probed lists per query (`qp`, nProbe nearest) and home list per
    * corpus vector (`ch`, nearest 1): argmin over squared L2 with
    * (d, l) tie-break — the exact total order of `nearestListsExpr`
    * (array_sort over struct(d, list)). */
  private def ivfAssignCtes(nProbe: Int): String =
    s"""qp AS (SELECT query_id, l FROM (
      |    SELECT d.query_id, d.l, row_number() OVER (PARTITION BY d.query_id ORDER BY d.d, d.l) AS rn
      |    FROM (SELECT e.vec_id AS query_id, c.l, ${duckDist2("e.embedding", "c.cv")} AS d
      |          FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 20) d)
      |  WHERE rn <= $nProbe),
      |ch AS (SELECT corpus_id, l FROM (
      |    SELECT d.corpus_id, d.l, row_number() OVER (PARTITION BY d.corpus_id ORDER BY d.d, d.l) AS rn
      |    FROM (SELECT e.vec_id AS corpus_id, c.l, ${duckDist2("e.embedding", "c.cv")} AS d
      |          FROM embeddings e CROSS JOIN cents c) d)
      |  WHERE rn = 1)""".stripMargin

  /** PQ corpus encoding (`enc`: per (vector, subspace) argmin code with
    * (d, cd) tie-break = `pqEncode`), reconstruction norms (`crn`,
    * subspace-ascending sum like `adcNorm2`), query norms (`qn`, the
    * generic double fold `l2Norm`). */
  private def pqEncCtes(sub: Int): String =
    s"""enc AS (SELECT corpus_id, s, cd, n2 FROM (
      |    SELECT d.corpus_id, d.s, d.cd, d.n2,
      |      row_number() OVER (PARTITION BY d.corpus_id, d.s ORDER BY d.d, d.cd) AS rn
      |    FROM (SELECT e.vec_id AS corpus_id, b.s, b.cd, b.n2,
      |            list_sum([(CAST(e.embedding[b.s*$sub + i] AS DOUBLE) - b.cv[i]) * (CAST(e.embedding[b.s*$sub + i] AS DOUBLE) - b.cv[i]) for i in range(1, ${sub + 1})]) AS d
      |          FROM embeddings e CROSS JOIN books b) d)
      |  WHERE rn = 1),
      |crn AS (SELECT corpus_id, sqrt(list_sum(list(n2 ORDER BY s))) AS rnorm FROM enc GROUP BY corpus_id),
      |qn AS (SELECT vec_id AS query_id, sqrt(${duckDot("embedding", "embedding")}) AS qn
      |       FROM embeddings WHERE vec_id < 20)""".stripMargin

  /** Exact-cosine rerank of a `(query_id, corpus_id)` CTE + final top-k. */
  private def duckRerankTail(candCte: String, k: Int): String =
    s"""ex AS (SELECT $candCte.query_id, $candCte.corpus_id, ${duckCos("eq.embedding", "ec.embedding")} AS cos
      |       FROM $candCte JOIN embeddings eq ON eq.vec_id = $candCte.query_id
      |       JOIN embeddings ec ON ec.vec_id = $candCte.corpus_id)
      |SELECT query_id, corpus_id, cos, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
      |  FROM ex) WHERE rank <= $k""".stripMargin

  /** Oracle for `ivfTopK` at nProbe < nLists: candidates = corpus rows
    * whose home list is probed; exact cosine; top-k. */
  private def ivfApproxOracleSql(cents: Array[(Int, Array[Double])],
                                 nProbe: Int, k: Int): String =
    s"""WITH ${centsCte(cents)},
      |${ivfAssignCtes(nProbe)},
      |cand AS (SELECT qp.query_id, ch.corpus_id FROM qp JOIN ch USING (l)
      |         WHERE ch.corpus_id <> qp.query_id),
      |${duckRerankTail("cand", k)}""".stripMargin

  /** Oracle for `recallAtK(ivfTopK(nProbe), bruteForceTopK)`: replay
    * BOTH top-k selections (frozen-centroid probe + brute force) and
    * the per-query overlap fraction. Membership-only comparison — the
    * 6 dp cosine rounding both engines share decides identical sets
    * under the same ulp bet every ANN oracle makes; the final division
    * is one IEEE op on small ints, identical cross-engine. */
  private def annRecallOracleSql(cents: Array[(Int, Array[Double])],
                                 nProbe: Int, k: Int): String =
    s"""WITH ${centsCte(cents)},
      |${ivfAssignCtes(nProbe)},
      |cand AS (SELECT qp.query_id, ch.corpus_id FROM qp JOIN ch USING (l)
      |         WHERE ch.corpus_id <> qp.query_id),
      |aex AS (SELECT cand.query_id, cand.corpus_id, ${duckCos("eq.embedding", "ec.embedding")} AS cos
      |        FROM cand JOIN embeddings eq ON eq.vec_id = cand.query_id
      |        JOIN embeddings ec ON ec.vec_id = cand.corpus_id),
      |atop AS (SELECT query_id, corpus_id, 1 AS hit FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
      |    FROM aex) WHERE rank <= $k),
      |bex AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |          ${duckCos("q.embedding", "c.embedding")} AS cos
      |        FROM embeddings q CROSS JOIN embeddings c
      |        WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
      |btop AS (SELECT query_id, corpus_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
      |    FROM bex) WHERE rank <= $k)
      |SELECT b.query_id,
      |  CAST(sum(COALESCE(a.hit, 0)) AS DOUBLE) / count(*) AS recall
      |FROM btop b LEFT JOIN atop a
      |  ON a.query_id = b.query_id AND a.corpus_id = b.corpus_id
      |GROUP BY 1""".stripMargin

  /** Oracle for `ivfIndexStats` over a build(<300)+append(300..400)
    * lifecycle: replay the frozen-centroid home-list assignment for
    * every indexed vector, then per-list counts. */
  private def ivfStatsOracleSql(cents: Array[(Int, Array[Double])]): String =
    s"""WITH ${centsCte(cents)},
      |ch AS (SELECT corpus_id, l FROM (
      |    SELECT d.corpus_id, d.l, row_number() OVER (PARTITION BY d.corpus_id ORDER BY d.d, d.l) AS rn
      |    FROM (SELECT e.vec_id AS corpus_id, c.l, ${duckDist2("e.embedding", "c.cv")} AS d
      |          FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 400) d)
      |  WHERE rn = 1)
      |SELECT CAST(l AS INTEGER) AS ivf_list, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(DISTINCT corpus_id) AS BIGINT) AS n_ids, 2 AS n_tranches
      |FROM ch GROUP BY 1""".stripMargin

  /** Oracle for `pqTopKReranked` at a bounded shortlist: ADC scores
    * (subspace-ascending LUT sum / norms) ROUNDED to 6 dp pick the
    * shortlist with corpus_id tie-break — exactly `pqTopK`'s window —
    * then the exact rerank. */
  private def pqApproxOracleSql(books: Array[Array[Array[Double]]],
                                shortlist: Int, k: Int): String = {
    val sub = books(0)(0).length
    s"""WITH ${booksCte(books)},
      |${pqEncCtes(sub)},
      |pd AS (SELECT qn.query_id, enc.corpus_id, enc.s,
      |         list_sum([CAST(eq.embedding[enc.s*$sub + i] AS DOUBLE) * b.cv[i] for i in range(1, ${sub + 1})]) AS d
      |       FROM enc JOIN books b ON b.s = enc.s AND b.cd = enc.cd
      |       CROSS JOIN qn
      |       JOIN embeddings eq ON eq.vec_id = qn.query_id
      |       WHERE enc.corpus_id <> qn.query_id),
      |adc AS (SELECT query_id, corpus_id, list_sum(list(d ORDER BY s)) AS adcdot
      |        FROM pd GROUP BY query_id, corpus_id),
      |cand AS (SELECT query_id, corpus_id FROM (
      |    SELECT adc.query_id, adc.corpus_id,
      |      row_number() OVER (PARTITION BY adc.query_id
      |        ORDER BY round(adc.adcdot / (qn.qn * crn.rnorm), 6) DESC, adc.corpus_id) AS rn
      |    FROM adc JOIN qn USING (query_id) JOIN crn USING (corpus_id))
      |  WHERE rn <= $shortlist),
      |${duckRerankTail("cand", k)}""".stripMargin
  }

  /** Oracle for `ivfPqTopK` at serving budgets: probed-list candidates,
    * UNROUNDED ADC shortlist (ivfPqTopK's `__qcos` window), exact
    * rerank. */
  private def ivfPqApproxOracleSql(cents: Array[(Int, Array[Double])],
                                   books: Array[Array[Array[Double]]],
                                   nProbe: Int, shortlist: Int, k: Int): String = {
    val sub = books(0)(0).length
    s"""WITH ${centsCte(cents)},
      |${booksCte(books)},
      |${ivfAssignCtes(nProbe)},
      |${pqEncCtes(sub)},
      |probed AS (SELECT qp.query_id, ch.corpus_id FROM qp JOIN ch USING (l)
      |           WHERE ch.corpus_id <> qp.query_id),
      |pd AS (SELECT probed.query_id, probed.corpus_id, enc.s,
      |         list_sum([CAST(eq.embedding[enc.s*$sub + i] AS DOUBLE) * b.cv[i] for i in range(1, ${sub + 1})]) AS d
      |       FROM probed JOIN enc ON enc.corpus_id = probed.corpus_id
      |       JOIN books b ON b.s = enc.s AND b.cd = enc.cd
      |       JOIN embeddings eq ON eq.vec_id = probed.query_id),
      |adc AS (SELECT query_id, corpus_id, list_sum(list(d ORDER BY s)) AS adcdot
      |        FROM pd GROUP BY query_id, corpus_id),
      |cand AS (SELECT query_id, corpus_id FROM (
      |    SELECT adc.query_id, adc.corpus_id,
      |      row_number() OVER (PARTITION BY adc.query_id
      |        ORDER BY adc.adcdot / (qn.qn * crn.rnorm) DESC, adc.corpus_id) AS rn
      |    FROM adc JOIN qn USING (query_id) JOIN crn USING (corpus_id))
      |  WHERE rn <= $shortlist),
      |${duckRerankTail("cand", k)}""".stripMargin
  }

  // DuckDB fragments reused across oracles.
  private val duckWords = "string_split_regex(trim(lower(text)), '\\s+')"

  /** BM25 replay CTEs ending in `bs(query_id, doc_id, s8sum, n_terms)`.
    * The Okapi constants are rendered from the SAME JVM arithmetic the
    * engine bakes into its plan (`k1+1`, `k1(1−b)`, `k1·b` computed
    * here, serialized shortest-roundtrip), so both engines evaluate an
    * identical IEEE expression tree; the per-term score is snapped to
    * 1e-8 fixed point before the order-free integer sum — the
    * `unigramLogProb` determinism contract. `qCte` supplies the
    * `(query_id, term)` seed set (literal VALUES or a derivation from
    * the corpus). */
  private def duckBm25Ctes(qCte: String, k1: Double = 1.2, b: Double = 0.75): String = {
    val k11 = (k1 + 1.0).toString
    val k1b1 = (k1 * (1.0 - b)).toString
    val k1b = (k1 * b).toString
    s"""WITH q AS ($qCte),
      |toks AS (SELECT doc_id, unnest($duckWords) AS term FROM documents),
      |dlen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS d,
      |              CAST((SELECT count(*) FROM toks) AS DOUBLE) AS t),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       JOIN (SELECT DISTINCT term FROM q) USING (term) GROUP BY 1, 2),
      |dfr AS (SELECT term, df,
      |    CAST(floor(ln(1.0 + (st.d - df + 0.5) / (df + 0.5)) * 1e8 + 0.5) AS BIGINT) AS idf8
      |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1) CROSS JOIN st),
      |sc AS (SELECT q.query_id, tf.doc_id,
      |    CAST(floor(CAST(dfr.idf8 AS DOUBLE) / 1e8
      |      * (tf.tf * $k11)
      |      / (tf.tf + $k1b1 + ($k1b * dlen.dl * st.d) / st.t) * 1e8 + 0.5) AS BIGINT) AS s8
      |  FROM tf JOIN dfr USING (term) JOIN dlen USING (doc_id)
      |  JOIN q USING (term) CROSS JOIN st),
      |bs AS (SELECT query_id, doc_id, sum(s8) AS s8sum, count(*) AS n_terms
      |       FROM sc GROUP BY 1, 2)""".stripMargin
  }

  /** Snapped reciprocal-rank contribution — `rrfFuse`'s exact term. */
  private def duckRrfTerm(kConst: Int) =
    s"CAST(floor(1e12 / ($kConst.0 + rank) + 0.5) AS BIGINT)"
  private def duckHash(e: String) = s"(('0x' || substr(md5($e), 1, 15))::BIGINT)"

  // ---- shared rolling-gauge oracle builders (each used by its own
  //      per-axis query AND the unified q_rolling_dashboard) ----

  private def duckL8(x: String) =
    s"CAST(floor(log2(CAST($x AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)"

  private def duckContaminationSql: String =
    """WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
      |c AS (SELECT doc_id,
      |        CASE WHEN len(w) >= 8
      |             THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)])
      |             ELSE CAST([] AS VARCHAR[]) END AS s
      |      FROM w),
      |b AS (SELECT DISTINCT unnest(s) AS s FROM c WHERE doc_id < 25),
      |hits AS (SELECT doc_id, count(*) AS hit
      |         FROM (SELECT doc_id, unnest(s) AS s FROM c) e JOIN b USING (s)
      |         GROUP BY doc_id)
      |SELECT c.doc_id, CAST(len(c.s) AS BIGINT) AS n_shingles,
      |  CAST(coalesce(hits.hit, 0) AS BIGINT) AS n_contaminated
      |FROM c LEFT JOIN hits USING (doc_id)""".stripMargin

  private def duckSourceCentroidSql: String =
    s"""WITH v AS (SELECT d.source AS src, e.embedding AS e
      |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
      |  WHERE e.embedding IS NOT NULL AND d.source IS NOT NULL),
      |u AS (SELECT src, generate_subscripts(e, 1) AS pos,
      |        CAST(trunc(CAST(unnest(e) AS DOUBLE) * 1000000) AS BIGINT) AS u
      |      FROM v),
      |ps AS (SELECT src, pos, CAST(sum(u) AS HUGEINT) AS s, count(*) AS c
      |       FROM u GROUP BY 1, 2),
      |g AS (SELECT pos, CAST(sum(s) AS HUGEINT) AS st,
      |        CAST(sum(c) AS BIGINT) AS ct FROM ps GROUP BY 1),
      |j AS (SELECT ps.src AS src, ps.s AS s, ps.c AS c,
      |        g.st - ps.s AS sr, g.ct - ps.c AS cr
      |      FROM ps JOIN g ON g.pos = ps.pos)
      |SELECT src AS source, max(c) AS n_src, max(cr) AS n_rest,
      |  CAST(count(*) AS BIGINT) AS dim,
      |  CAST(sum(s * sr) AS DOUBLE)
      |    / (sqrt(CAST(sum(s * s) AS DOUBLE)) * sqrt(CAST(sum(sr * sr) AS DOUBLE)))
      |    AS cosine
      |FROM j GROUP BY 1 HAVING max(cr) > 0""".stripMargin

  private def duckHllRollingSql(windowDays: Int): String = {
    import graft.profile.Sketches._
    val b = 10; val m = 1L << b; val nb = 60 - b
    s"""WITH h AS (SELECT CAST(ts AS DATE) AS d,
      |    ${duckHash("CAST(user_id AS VARCHAR)")} AS hv
      |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
      |r AS (SELECT d, CAST(hv & ${m - 1} AS INTEGER) AS bucket, (hv // $m) AS w FROM h),
      |pd AS (SELECT d, bucket, max(${rhoCaseSql("w", nb, "//")}) AS max_rho
      |       FROM r GROUP BY 1, 2),
      |days AS (SELECT DISTINCT d FROM pd),
      |fan AS (SELECT days.d AS day, pd.bucket, max(pd.max_rho) AS max_rho
      |        FROM days JOIN pd ON pd.d BETWEEN days.d - ${windowDays - 1} AND days.d
      |        GROUP BY 1, 2),
      |s AS (SELECT day, count(*) AS np,
      |        CAST(sum(${termCaseSql("max_rho", b)}) AS BIGINT) AS sp
      |      FROM fan GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  CAST(${alphaNumerator(b)} AS DOUBLE)
      |    / CAST(sp + ($m - np) * ${1L << (nb + 1)} AS DOUBLE) AS n_estimate,
      |  np AS n_present
      |FROM s""".stripMargin
  }

  private def duckPsiRollingSql(windowDays: Int): String = {
    import graft.profile.HistSketch._
    s"""WITH v AS (SELECT CAST(ts AS DATE) AS d,
      |    CAST(trunc(value) AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL),
      |b AS (SELECT d, ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
      |pd AS (SELECT d, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
      |days AS (SELECT DISTINCT d FROM pd),
      |ref AS (SELECT days.d AS day, pd.bucket, sum(pd.cnt) AS cb
      |        FROM days JOIN pd ON pd.d BETWEEN days.d - $windowDays AND days.d - 1
      |        GROUP BY 1, 2),
      |cur AS (SELECT d AS day, bucket, cnt AS ca FROM pd),
      |j AS (SELECT coalesce(cur.day, ref.day) AS day,
      |        coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      |      FROM cur FULL OUTER JOIN ref
      |        ON cur.day = ref.day AND cur.bucket = ref.bucket),
      |t AS (SELECT day, CAST(count(*) AS BIGINT) AS k,
      |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
      |        CAST(sum(cb) + count(*) AS BIGINT) AS nb,
      |        sum(ca) AS ra, sum(cb) AS rb
      |      FROM j GROUP BY 1),
      |term AS (SELECT j.day AS day, k, na, nb,
      |    CAST((CAST(ca + 1 AS HUGEINT) * 1000000000) // na AS BIGINT) AS qa,
      |    CAST((CAST(cb + 1 AS HUGEINT) * 1000000000) // nb AS BIGINT) AS qb,
      |    ${duckL8("ca + 1")} - ${duckL8("na")} - ${duckL8("cb + 1")} + ${duckL8("nb")} AS l
      |  FROM j JOIN t ON t.day = j.day WHERE ra > 0 AND rb > 0)
      |SELECT strftime(day, '%Y-%m-%d') AS day, max(k) AS n_buckets,
      |  max(na) - max(k) AS n_cur, max(nb) - max(k) AS n_ref,
      |  CAST(sum(CAST(qa - qb AS HUGEINT) * l) AS DOUBLE) / 1e17 AS psi_bits
      |FROM term GROUP BY 1""".stripMargin
  }

  private def duckJsRollingSql(windowDays: Int): String =
    s"""WITH v AS (SELECT CAST(ts AS DATE) AS d, event_type AS k
      |    FROM events WHERE event_type IS NOT NULL),
      |pd AS (SELECT d, k, count(*) AS cnt FROM v GROUP BY 1, 2),
      |days AS (SELECT DISTINCT d FROM pd),
      |ref AS (SELECT days.d AS day, pd.k, sum(cnt) AS cb
      |        FROM days JOIN pd ON pd.d BETWEEN days.d - $windowDays AND days.d - 1
      |        GROUP BY 1, 2),
      |cur AS (SELECT d AS day, k, cnt AS ca FROM pd),
      |j AS (SELECT coalesce(cur.day, ref.day) AS day,
      |        coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      |      FROM cur FULL OUTER JOIN ref
      |        ON cur.day = ref.day AND cur.k = ref.k),
      |t AS (SELECT day, CAST(count(*) AS BIGINT) AS k,
      |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
      |        CAST(sum(cb) + count(*) AS BIGINT) AS nb,
      |        sum(ca) AS ra, sum(cb) AS rb
      |      FROM j GROUP BY 1),
      |term AS (SELECT j.day AS day, k, na, nb, ca, cb,
      |    CAST(ca + 1 AS HUGEINT) * nb + CAST(cb + 1 AS HUGEINT) * na AS mix
      |  FROM j JOIN t ON t.day = j.day WHERE ra > 0 AND rb > 0),
      |s AS (SELECT day, max(k) AS k, max(na) AS na, max(nb) AS nb,
      |    sum(CAST(ca + 1 AS HUGEINT) *
      |        (100000000 + ${duckL8("ca + 1")} + ${duckL8("nb")} - ${duckL8("mix")})) AS sa,
      |    sum(CAST(cb + 1 AS HUGEINT) *
      |        (100000000 + ${duckL8("cb + 1")} + ${duckL8("na")} - ${duckL8("mix")})) AS sb
      |  FROM term GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day, k AS n_keys,
      |  na - k AS n_cur, nb - k AS n_ref,
      |  (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
      |    + CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2e8 AS js_bits
      |FROM s""".stripMargin

  private def duckCentroidRollingSql(windowDays: Int): String =
    s"""WITH e AS (SELECT DATE '2024-01-01' + CAST(vec_id % 8 AS INTEGER) AS d,
      |    embedding AS e
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |u AS (SELECT d, generate_subscripts(e, 1) AS pos,
      |        CAST(trunc(CAST(unnest(e) AS DOUBLE) * 1000000) AS BIGINT) AS u
      |      FROM e),
      |pd AS (SELECT d, pos, CAST(sum(u) AS HUGEINT) AS s, count(*) AS c
      |       FROM u GROUP BY 1, 2),
      |days AS (SELECT DISTINCT d FROM pd),
      |ref AS (SELECT days.d AS day, pd.pos, CAST(sum(pd.s) AS HUGEINT) AS sb,
      |          CAST(sum(pd.c) AS BIGINT) AS cb
      |        FROM days JOIN pd ON pd.d BETWEEN days.d - $windowDays AND days.d - 1
      |        GROUP BY 1, 2),
      |cur AS (SELECT d AS day, pos, s AS sa, c AS ca FROM pd),
      |j AS (SELECT cur.day AS day, sa, ca, sb, cb
      |      FROM cur JOIN ref ON ref.day = cur.day AND ref.pos = cur.pos)
      |SELECT strftime(day, '%Y-%m-%d') AS day, max(ca) AS n_cur,
      |  max(cb) AS n_ref, CAST(count(*) AS BIGINT) AS dim,
      |  CAST(sum(sa * sb) AS DOUBLE)
      |    / (sqrt(CAST(sum(sa * sa) AS DOUBLE)) * sqrt(CAST(sum(sb * sb) AS DOUBLE)))
      |    AS cosine
      |FROM j GROUP BY 1""".stripMargin

  /** Fixed-point PageRank replay: the same integer expressions as
    * [[graft.graph.GraphOps.pageRank]] — `//` (DuckDB floor division)
    * equals Spark's `div` on the nonnegative ranks — with each
    * iteration unrolled as its own CTE (aggregates are not allowed in
    * a recursive term) and every rank CAST back to BIGINT (DuckDB
    * widens sum(BIGINT) to HUGEINT, which the arrow compare can't
    * take). Edge set: supplier↔customer via lineitem⋈orders,
    * customers offset into their own id space.
    */
  /** Engine side of the supplier↔customer trade graph shared by the
    * LPA queries (symmetrized; `custFilter` keeps only customers with
    * `o_custkey % m = 0` — the sparser convergence-query slice). */
  /** Both orientations of each edge in ONE pass over the derivation:
    * the `sc.unionAll(sc.reversed)` form evaluated the lineitem⋈orders
    * subtree once per union arm — two full scans + joins per query for
    * what is a per-row row-doubling. Same output multiset; every consumer
    * dedups or repartitions downstream. */
  private def symmetrize(sc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sc.select(inline(array(
      struct(col("src"), col("dst")),
      struct(col("dst").as("src"), col("src").as("dst")))))

  private def lpaTradeEdges(s: org.apache.spark.sql.SparkSession, dir: String,
                            custFilter: Option[Int] = None)
  : org.apache.spark.sql.DataFrame = {
    val o0 = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
    val o = custFilter.fold(o0)(m => o0.where(col("o_custkey") % m === 0))
    val sc = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").cast(LongType).as("src"),
        (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
    symmetrize(sc)
  }

  /** Round count the converged-LPA run actually took — feeds the
    * generated oracle (the fitted-quantizer mechanism). */
  private val lpaItersCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Unrolled synchronous-LPA oracle: `rounds` vote/pick/carry CTE
    * triples over the trade graph (`orderFilter` = the sparser slice,
    * e.g. " WHERE o.o_custkey % 5 = 0"). Mode-of-in-neighbours with
    * min-label ties is a pure function of (edges, round count), so
    * each round replays exactly. */
  private def duckLpaSql(rounds: Int, orderFilter: String = ""): String = {
    val base =
      s"""WITH sc AS (SELECT DISTINCT l.l_suppkey AS src, o.o_custkey + 1000000 AS dst
        |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey$orderFilter),
        |e AS (SELECT src, dst FROM sc UNION SELECT dst, src FROM sc),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |l0 AS (SELECT node, node AS label FROM n)""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""v$k AS (SELECT e.dst AS node, l.label, count(*) AS c FROM e JOIN l${k - 1} l ON e.src = l.node GROUP BY 1, 2),
        |p$k AS (SELECT node, label FROM (SELECT node, label,
        |         row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn FROM v$k) WHERE rn = 1),
        |l$k AS (SELECT l.node, coalesce(p.label, l.label) AS label FROM l${k - 1} l LEFT JOIN p$k p USING (node))""".stripMargin
    }.mkString(",\n")
    s"$base,\n$steps\nSELECT node, label FROM l$rounds"
  }

  private def duckPageRankSql(iters: Int, scale: Long): String = {
    val head =
      s"""WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |    CAST(o_custkey + 1000000 AS BIGINT) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  UNION
        |  SELECT DISTINCT CAST(o_custkey + 1000000 AS BIGINT) AS src,
        |    CAST(l_suppkey AS BIGINT) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |p AS (SELECT count(*) AS n FROM nodes),
        |outd AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, $scale::BIGINT // p.n AS rank FROM nodes, p)""".stripMargin
    val its = (1 to iters).map { i =>
      s"""r$i AS (SELECT nd.node,
        |  CAST((($scale::BIGINT * 3 // 20) // p.n)
        |       + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank
        |  FROM nodes nd CROSS JOIN p
        |  LEFT JOIN (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS s
        |             FROM e JOIN r${i - 1} r ON r.node = e.src
        |             JOIN outd o ON o.src = e.src
        |             GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }
    (head +: its).mkString(",\n") + s"\nSELECT node, rank AS rank_ppb FROM r$iters"
  }

  /** [[duckPageRankSql]] with the teleport re-aimed at a literal seed
    * set: base/init become a CASE over the seed membership divided by
    * |seeds| (computed HERE with the same JVM integer ops the engine
    * bakes in), zero elsewhere — one CASE swapped into the otherwise
    * identical unrolled integer recursion. */
  private def duckPprSql(iters: Int, scale: Long, seeds: Seq[Long]): String = {
    val s = seeds.distinct
    val init = scale / s.size
    val base = (scale * 3L / 20L) / s.size
    val inList = s.mkString(", ")
    val head =
      s"""WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |    CAST(o_custkey + 1000000 AS BIGINT) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  UNION
        |  SELECT DISTINCT CAST(o_custkey + 1000000 AS BIGINT) AS src,
        |    CAST(l_suppkey AS BIGINT) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |outd AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node,
        |  CASE WHEN node IN ($inList) THEN $init::BIGINT ELSE 0::BIGINT END AS rank
        |  FROM nodes)""".stripMargin
    val its = (1 to iters).map { i =>
      s"""r$i AS (SELECT nd.node,
        |  CAST(CASE WHEN nd.node IN ($inList) THEN $base::BIGINT ELSE 0::BIGINT END
        |       + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank
        |  FROM nodes nd
        |  LEFT JOIN (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS s
        |             FROM e JOIN r${i - 1} r ON r.node = e.src
        |             JOIN outd o ON o.src = e.src
        |             GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }
    (head +: its).mkString(",\n") + s"\nSELECT node, rank AS rank_ppb FROM r$iters"
  }

  /** Exact n-gram Jaccard pairs with the engine's maxBucket semantics:
    * shingles in more than `maxBucket` docs are removed from the
    * universe, and per-doc set sizes are recomputed POST-prune so the
    * numerator and denominator agree (DedupOps.ngramJaccardPairs).
    */
  private def duckJaccardCtes(maxBucket: Int, threshold: Double, shingleN: Int = 3,
                              source: String = "documents") =
    s"""sh AS (
      |  SELECT doc_id, list_distinct([array_to_string(w[i:i+${shingleN - 1}], ' ') for i in range(1, len(w) - ${shingleN - 2})]) AS s
      |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM $source)
      |  WHERE len(w) >= $shingleN),
      |ex AS (SELECT doc_id, unnest(s) AS s FROM sh),
      |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= $maxBucket),
      |pr AS (SELECT doc_id, ex.s AS s FROM ex JOIN keep USING (s)),
      |n AS (SELECT doc_id, count(*) AS n FROM pr GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |          FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |jp AS (
      |  SELECT id_a, id_b, CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
      |  FROM pairs JOIN n na ON na.doc_id = pairs.id_a JOIN n nb ON nb.doc_id = pairs.id_b
      |  WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= $threshold)""".stripMargin

  private def duckJaccardPairsSql(maxBucket: Int, threshold: Double, shingleN: Int = 3) =
    s"""WITH ${duckJaccardCtes(maxBucket, threshold, shingleN)}
      |SELECT id_a, id_b, jaccard FROM jp""".stripMargin

  /** Oracle-replay guard for the CHARACTER-indexed stub oracles
    * ([[duckDHashCtes]] and q_mm_features): DuckDB v1.0.0 has no blob
    * indexing, so those oracles read `ascii(substr(text, k, 1))` —
    * byte-exact only while `documents.text` is pure ASCII, whereas the
    * engine hashes raw UTF-8 bytes. If a future fixture generation
    * drifts to non-ASCII, fail the query IN PLAN (per-row codegen'd
    * conditional, no extra pass/shuffle) instead of letting the oracle
    * silently diverge from the engine. */
  private[graft] def asciiGuarded(docs: org.apache.spark.sql.DataFrame) =
    docs.withColumn("text",
      when(length(col("text")) === octet_length(col("text")), col("text"))
        .otherwise(raise_error(concat(
          lit("non-ASCII documents.text breaks the byte-grid oracle replay: doc_id="),
          col("doc_id").cast("string")))))

  /** Stub-tier 64-bit dHash replay (MultimodalOps.imageDHash's
    * byte-grid fallback — fixtures are ASCII, so char codes = UTF-8
    * bytes; [[asciiGuarded]] enforces this at the engine call sites):
    * gray cell k = byte (k mod n), bit r·8+c = gray(r·9+c+1) >
    * gray(r·9+c). The sign bit uses the min-long literal (DuckDB's
    * checked `<<` rejects 1<<63) and is summed LAST so every partial
    * sum stays in signed-64 range. Yields CTEs `g` and `sig
    * (doc_id, sig BIGINT)`. */
  private def duckDHashCtes(source: String = "documents"): String = {
    val minLong = "(-9223372036854775807 - 1)"
    def grayS(k: Int) = s"ascii(substr(text, 1 + (($k) % n), 1))"
    val terms = (for { r <- 0 until 8; c <- 0 until 8 } yield {
      val idx = r * 8 + c
      val bitVal = if (idx == 63) minLong else s"(1::BIGINT << $idx)"
      s"CASE WHEN ${grayS(r * 9 + c + 1)} > ${grayS(r * 9 + c)} THEN $bitVal ELSE 0 END"
    }).mkString(" + ")
    s"""g AS (SELECT doc_id, text, length(text) AS n FROM $source),
      |sig AS (SELECT doc_id, CASE WHEN n = 0 THEN 0 ELSE $terms END AS sig FROM g)""".stripMargin
  }

  /** The banded-hamming candidate join over [[duckDHashCtes]]'s sig
    * frame — mirrors DedupOps.bandedHammingPairs at 64 bits / 8
    * byte-bands: candidates share ≥1 (band, slice), hot buckets
    * dropped at `maxBucket`, exact hamming filter last. Yields CTEs
    * `banded`, `bsz`, `cand`, and `hp (id_a, id_b, hamming)`. */
  private def duckDHashPairCtes(maxHamming: Int, maxBucket: Int): String =
    s"""banded AS (SELECT doc_id, sig, b, (sig >> (b * 8)) & 255 AS key
      |           FROM sig CROSS JOIN (SELECT unnest(range(8)) AS b)),
      |bsz AS (SELECT b, key, count(*) AS cnt FROM banded GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
      |                x.sig AS sa, y.sig AS sb
      |         FROM banded x
      |         JOIN banded y ON y.b = x.b AND y.key = x.key AND x.doc_id < y.doc_id
      |         JOIN bsz ON bsz.b = x.b AND bsz.key = x.key
      |              AND bsz.cnt BETWEEN 2 AND $maxBucket),
      |hp AS (SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
      |       FROM cand WHERE bit_count(xor(sa, sb)) <= $maxHamming)""".stripMargin

  /** Transitive closure of the jaccard pair graph: min-label reach via
    * a recursive CTE (exact at oracle scale), then every document gets
    * its cluster's min id — the oracle for the distributed
    * large-star/small-star connected components.
    */
  private def duckDupGroupsSql(maxBucket: Int, threshold: Double, shingleN: Int = 3) =
    s"""WITH RECURSIVE ${duckJaccardCtes(maxBucket, threshold, shingleN)},
      |e AS (SELECT id_a AS u, id_b AS v FROM jp UNION SELECT id_b, id_a FROM jp),
      |reach(u, v) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
      |cc AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
      |asg AS (SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS group_id
      |        FROM documents d LEFT JOIN cc ON cc.u = d.doc_id)
      |SELECT doc_id, group_id,
      |  CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
      |FROM asg""".stripMargin
  private def duckDot(a: String, b: String) =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, 65)])"
  private def duckCos(a: String, b: String) =
    s"round(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})), 6)"

  /** Exact cosine top-5 for queries vec_id < 20 — the oracle for BOTH
    * the brute-force scorer and the IVF scorer at nProbe = nLists
    * (probing every inverted list scores every candidate ⇒ exact by
    * construction; the identity is also unit-proven in LlmOpsSpec).
    */
  private val duckBruteTopKSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
      |s AS (SELECT query_id, vec_id AS corpus_id, ${duckCos("qv", "embedding")} AS cos
      |      FROM embeddings, q WHERE vec_id <> query_id)
      |SELECT query_id, corpus_id, cos, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
      |  FROM s) WHERE rank <= 5""".stripMargin

  /** 16-bit portable-tier SimHash signatures, ending in
    * `sg(doc_id, simhash)` — shared by the signature query and the
    * banded pair query. */
  private def duckSimhashCtes(bits: Int = 16) =
    s"""tok AS (SELECT doc_id, unnest($duckWords) AS t FROM documents),
      |th AS (SELECT doc_id, ${duckHash("t")} AS h FROM tok),
      |votes AS (
      |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, (SELECT unnest(range(0, $bits)) AS b) GROUP BY 1, 2),
      |sg AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      |FROM votes GROUP BY doc_id)""".stripMargin

  /** Cross-corpus dedup survivor chain, CTE-name-prefixed so two
    * "days" compose in one oracle (the index-lifecycle query): batch
    * rows surviving the exact fingerprint filter AND the cross-corpus
    * post-prune jaccard against `histRel`. Ends in `<p>surv(doc_id,
    * text)`. `batchRel`/`histRel` are parenthesized relations.
    */
  private def duckSurvivorCtes(p: String, batchRel: String, histRel: String,
                               threshold: Double, maxBucket: Int = 1000) =
    s"""${p}hfp AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      |        FROM $histRel),
      |${p}ex AS (SELECT b.doc_id, b.text FROM $batchRel b
      |       WHERE md5(trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g')))
      |             NOT IN (SELECT fp FROM ${p}hfp)),
      |${p}shl AS (SELECT 0 AS side, doc_id, unnest(s) AS s FROM (
      |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
      |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM ${p}ex)
      |  WHERE len(w) >= 3)),
      |${p}shr AS (SELECT 1 AS side, doc_id, unnest(s) AS s FROM (
      |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
      |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM $histRel)
      |  WHERE len(w) >= 3)),
      |${p}un AS (SELECT * FROM ${p}shl UNION ALL SELECT * FROM ${p}shr),
      |${p}keep AS (SELECT s FROM ${p}un GROUP BY s HAVING count(*) <= $maxBucket),
      |${p}pr AS (SELECT side, doc_id, ${p}un.s AS s FROM ${p}un JOIN ${p}keep USING (s)),
      |${p}cnt AS (SELECT side, doc_id, count(*) AS n FROM ${p}pr GROUP BY 1, 2),
      |${p}pairs AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS inter
      |          FROM ${p}pr a JOIN ${p}pr b ON a.s = b.s AND a.side = 0 AND b.side = 1
      |          GROUP BY 1, 2),
      |${p}jac AS (SELECT id_l, id_r, CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS j
      |        FROM ${p}pairs
      |        JOIN ${p}cnt na ON na.side = 0 AND na.doc_id = ${p}pairs.id_l
      |        JOIN ${p}cnt nb ON nb.side = 1 AND nb.doc_id = ${p}pairs.id_r),
      |${p}dups AS (SELECT DISTINCT id_l FROM ${p}jac WHERE j >= $threshold),
      |${p}surv AS (SELECT doc_id, text FROM ${p}ex WHERE doc_id NOT IN (SELECT id_l FROM ${p}dups))""".stripMargin

  /** Cross-corpus APPROXIMATE dedup survivor chain — the sig-artifact
    * twin of [[duckSurvivorCtes]]: batch rows surviving the exact
    * fingerprint filter AND the banded MinHash estimated-jaccard
    * against `histRel` (frozen affine family, combined hot-bucket
    * prune, batch×hist only — never a self-join). Ends in
    * `<p>surv(doc_id, text)`.
    */
  private def duckMinhashSurvivorCtes(p: String, batchRel: String, histRel: String,
                                      threshold: Double, maxBucket: Int = 1000) = {
    val rowsPer = SIG_K / BANDS
    def sigCtes(side: String, rel: String) =
      s"""${p}${side}sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM $rel)
        |  WHERE len(w) >= 3),
        |${p}${side}hs AS (
        |  SELECT doc_id, list_transform(s, x -> ${duckHash("x")} % 1000000007) AS h
        |  FROM ${p}${side}sh WHERE len(s) > 0),
        |${p}${side}sg AS (
        |  SELECT doc_id,
        |    [list_min(list_transform(h, v -> ((2*j + 1) * v + j*j + 7) % 1000000007)) for j in range(0, $SIG_K)] AS sig
        |  FROM ${p}${side}hs),
        |${p}${side}b AS (
        |  SELECT doc_id, sig, b, array_to_string(sig[$rowsPer*b+1:$rowsPer*b+$rowsPer], ',') AS key
        |  FROM ${p}${side}sg, (SELECT unnest(range(0, $BANDS)) AS b))""".stripMargin
    s"""${p}hfp AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      |        FROM $histRel),
      |${p}ex AS (SELECT b.doc_id, b.text FROM $batchRel b
      |       WHERE md5(trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g')))
      |             NOT IN (SELECT fp FROM ${p}hfp)),
      |${sigCtes("l", s"${p}ex")},
      |${sigCtes("r", histRel)},
      |${p}bk AS (SELECT b, key FROM (
      |    SELECT b, key FROM ${p}lb UNION ALL SELECT b, key FROM ${p}rb)
      |  GROUP BY b, key HAVING count(*) <= $maxBucket),
      |${p}cand AS (SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r,
      |    l.sig AS sl, r.sig AS sr
      |  FROM ${p}lb l JOIN ${p}rb r ON l.b = r.b AND l.key = r.key
      |  JOIN ${p}bk bk ON bk.b = l.b AND bk.key = l.key),
      |${p}dups AS (SELECT DISTINCT id_l FROM ${p}cand
      |  WHERE list_sum([CASE WHEN sl[i] = sr[i] THEN 1 ELSE 0 END for i in range(1, ${SIG_K + 1})]) / $SIG_K.0 >= $threshold),
      |${p}surv AS (SELECT doc_id, text FROM ${p}ex WHERE doc_id NOT IN (SELECT id_l FROM ${p}dups))""".stripMargin
  }

  /** MinHash signature → banded buckets → candidate pairs, the CTE
    * chain shared by the pair query and the transitive-groups query.
    * `cand` carries (id_a, id_b, sa, sb); [[duckMinhashEst]] is the
    * estimated-Jaccard expression over those signatures.
    */
  private def duckMinhashCtes = duckMinhashCtesFrom("documents")

  /** [[duckMinhashCtes]] over an arbitrary `(doc_id, text)` relation —
    * the sig-tier composition plugs its post-decontamination `clean`
    * CTE in here. */
  private def duckMinhashCtesFrom(rel: String) =
    s"""sh AS (
      |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
      |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM $rel)
      |  WHERE len(w) >= 3),
      |hs AS (
      |  SELECT doc_id, list_transform(s, x -> ${duckHash("x")} % 1000000007) AS h
      |  FROM sh WHERE len(s) > 0),
      |sig AS (
      |  SELECT doc_id,
      |    [list_min(list_transform(h, v -> ((2*j + 1) * v + j*j + 7) % 1000000007)) for j in range(0, $SIG_K)] AS sig
      |  FROM hs),
      |bands AS (
      |  SELECT doc_id, sig, b, array_to_string(sig[2*b+1:2*b+2], ',') AS key
      |  FROM sig, (SELECT unnest(range(0, $BANDS)) AS b)),
      |bkt AS (SELECT b, key FROM bands GROUP BY b, key HAVING count(*) <= 1000),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
      |  JOIN bkt ON bkt.b = a.b AND bkt.key = a.key)""".stripMargin

  private def duckMinhashEst =
    s"list_sum([CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END for i in range(1, ${SIG_K + 1})]) / $SIG_K.0"

  /** Multi-probe sign-LSH top-5 (bucket + hamming-1 neighborhood) —
    * the oracle for the in-memory multi-probe scorer AND the written
    * bucket-partitioned layout (build→append→probe is bucket-identical
    * because the sign bucket is a pure function of (vector, nbits)).
    */
  private def duckLshProbeTopKSql(nbits: Int) =
    s"""WITH e AS (SELECT vec_id, embedding,
      |    CAST(list_sum([CASE WHEN embedding[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END for i in range(0, $nbits)]) AS BIGINT) AS bucket
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qv,
      |        [bucket] || [xor(bucket, (1::BIGINT << i)) for i in range(0, $nbits)] AS probes
      |      FROM e WHERE vec_id < 20),
      |qp AS (SELECT query_id, qv, unnest(probes) AS bucket FROM q),
      |s AS (SELECT query_id, e.vec_id AS corpus_id, ${duckCos("qv", "embedding")} AS cos
      |      FROM e JOIN qp USING (bucket) WHERE e.vec_id <> query_id)
      |SELECT query_id, corpus_id, cos, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
      |  FROM s) WHERE rank <= 5""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- token counting: whitespace + BPE-ish regex ----
    Q("q_text_tokens",
      s"""SELECT doc_id, CAST(len($duckWords) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).cast(LongType).as("n_bpe"))
    },

    // ---- quality scoring ----
    Q("q_text_quality", {
      val stop = TextOps.EnStopwords.map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id, n_chars, n_words,
        |  round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / n_words, 4) AS avg_word_len,
        |  round(punct / n_chars, 6) AS punct_ratio,
        |  round(stop / n_words, 6) AS stopword_ratio,
        |  round(least(1.0, greatest(0.0,
        |    0.2 + 2.0 * (stop / n_words)
        |        + CASE WHEN n_words >= 20 AND n_words <= 2000 THEN 0.3 ELSE 0.0 END
        |        - 1.5 * (punct / n_chars))), 6) AS quality_score
        |FROM (SELECT doc_id, text,
        |        CAST(length(text) AS DOUBLE) AS n_chars,
        |        CAST(len($duckWords) AS DOUBLE) AS n_words,
        |        CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS punct,
        |        CAST(len(list_filter($duckWords, w -> w IN ($stop))) AS DOUBLE) AS stop
        |      FROM documents)""".stripMargin
    }) { (s, dir) =>
      TextOps.qualityScore(Tables(s, dir, "documents"), "text")
        .select("doc_id", "n_chars", "n_words", "avg_word_len",
          "punct_ratio", "stopword_ratio", "quality_score")
    },

    // ---- language-ID heuristic ----
    Q("q_text_langid", {
      def sc(markers: Seq[String]) =
        s"len(list_filter($duckWords, w -> w IN (${markers.map(m => s"'$m'").mkString(", ")})))"
      val Seq(en, de, fr, es) = TextOps.LangMarkers.map(m => sc(m._2))
      s"""SELECT doc_id,
        |  CASE WHEN $es > greatest($en, $de, $fr) THEN 'es'
        |       WHEN $fr > greatest($en, $de) THEN 'fr'
        |       WHEN $de > $en THEN 'de'
        |       WHEN $en > 0 THEN 'en'
        |       ELSE 'und' END AS lang_pred
        |FROM documents""".stripMargin
    }) { (s, dir) =>
      TextOps.langId(Tables(s, dir, "documents"), "text")
        .select("doc_id", "lang_pred")
    },

    // ---- content fingerprint ----
    Q("q_text_fingerprint",
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"), TextOps.fingerprint(col("text")).as("fingerprint"))
    },

    // ---- exact dedup over a corpus with planted duplicates ----
    Q("q_dedup_exact_docs",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents)
        |SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  min(doc_id) AS rep_id, count(*) AS n_copies
        |FROM corpus GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents").select("doc_id", "text")
      val corpus = d.unionByName(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      DedupOps.contentGroups(corpus, "doc_id", "text")
    },

    // ---- exact n-gram Jaccard near-dup pairs (operator-default
    //      hot-shingle cap, planted in the oracle too) ----
    Q("q_dedup_jaccard", duckJaccardPairsSql(maxBucket = 1000, threshold = 0.5)) { (s, dir) =>
      DedupOps.ngramJaccardPairs(Tables(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.5)
    },

    // ---- same operator with a cap SMALL enough to actually prune at
    //      this SF (29 shingles dropped at sf0.01) — the skew-guard
    //      path itself is oracle-checked, not just the uncapped one ----
    Q("q_dedup_jaccard_capped", duckJaccardPairsSql(maxBucket = 5, threshold = 0.5)) { (s, dir) =>
      DedupOps.ngramJaccardPairs(Tables(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxBucket = 5)
    },

    // ---- asymmetric CONTAINMENT pairs: excerpts planted as new docs
    //      (first 12 words of every 10th document) are invisible to
    //      Jaccard against their long sources but score containment
    //      ≈ 1.0 — Broder's resemblance-vs-containment split on the
    //      same exact-overlap candidate core ----
    Q("q_dedup_containment",
      """WITH d2 AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, array_to_string(w[1:12], ' ')
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |        FROM documents)
        |  WHERE doc_id % 10 = 0),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM d2)
        |  WHERE len(w) >= 3),
        |ex AS (SELECT doc_id, unnest(s) AS s FROM sh),
        |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 1000),
        |pr AS (SELECT doc_id, ex.s AS s FROM ex JOIN keep USING (s)),
        |n AS (SELECT doc_id, count(*) AS n FROM pr GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |          FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / na.n AS c_a_in_b,
        |  CAST(inter AS DOUBLE) / nb.n AS c_b_in_a
        |FROM pairs JOIN n na ON na.doc_id = pairs.id_a JOIN n nb ON nb.doc_id = pairs.id_b
        |WHERE greatest(CAST(inter AS DOUBLE) / na.n, CAST(inter AS DOUBLE) / nb.n) >= 0.8""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        val excerpts = docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat_ws(" ", slice(TextOps.words(col("text")), 1, 12)).as("text"))
        DedupOps.ngramContainmentPairs(docs.unionByName(excerpts),
          "doc_id", "text", shingleN = 3, threshold = 0.8)
    },

    // ---- transitive near-dup clusters: jaccard pairs closed with
    //      distributed connected components (large-star/small-star);
    //      the oracle recomputes the closure with a recursive CTE ----
    Q("q_dedup_groups", duckDupGroupsSql(maxBucket = 1000, threshold = 0.5)) { (s, dir) =>
      DedupOps.nearDupGroups(Tables(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.5)
    },

    // ---- quality-based representative selection: one row per
    //      near-dup cluster, keeping the member with the most tokens
    //      (tie → smaller id) instead of the arbitrary min-id — winner
    //      selection is a map-side-combinable max_by, never a
    //      corpus-wide window sort ----
    Q("q_dedup_keep_best",
      s"""WITH RECURSIVE ${duckJaccardCtes(1000, 0.5, 3)},
        |e AS (SELECT id_a AS u, id_b AS v FROM jp UNION SELECT id_b, id_a FROM jp),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |cc AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
        |asg AS (SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS group_id,
        |               CAST(len($duckWords) AS BIGINT) AS n_words
        |        FROM documents d LEFT JOIN cc ON cc.u = d.doc_id)
        |SELECT group_id, doc_id AS kept_id, CAST(group_size AS BIGINT) AS group_size
        |FROM (SELECT doc_id, group_id,
        |        count(*) OVER (PARTITION BY group_id) AS group_size,
        |        row_number() OVER (PARTITION BY group_id ORDER BY n_words DESC, doc_id) AS rk
        |      FROM asg)
        |WHERE rk = 1""".stripMargin) { (s, dir) =>
      DedupOps.keepBestPerGroup(Tables(s, dir, "documents"), "doc_id", "text",
        TextOps.tokenCount(col("text")), shingleN = 3, threshold = 0.5)
    },

    // ---- incremental-ingest dedup: a new batch (doc_id ≥ 400) is
    //      filtered against the existing corpus (doc_id < 400) —
    //      exact fingerprint anti-join, then cross-corpus jaccard
    //      (the history NEVER self-joins); survivors come back ----
    Q("q_dedup_incremental",
      s"""WITH ${duckSurvivorCtes("i",
           "(SELECT doc_id, text FROM documents WHERE doc_id >= 400)",
           "(SELECT doc_id, text FROM documents WHERE doc_id < 400)", 0.5)}
        |SELECT doc_id FROM isurv""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      DedupOps.dedupAgainstHistory(
        docs.where(col("doc_id") >= 400), docs.where(col("doc_id") < 400),
        "doc_id", "text", shingleN = 3, threshold = 0.5)
        .select("doc_id")
    },

    // ---- at-rest dedup-index lifecycle: BUILD the fingerprint +
    //      hashed-shingle index from the oldest tranche, dedup day-1's
    //      batch against it, APPEND the survivors, dedup day-2's batch
    //      against the grown index — day-2's survivors are the gate.
    //      The oracle replays both days against the cumulative text ----
    Q("q_dedup_index_lifecycle",
      s"""WITH ${duckSurvivorCtes("a",
           "(SELECT doc_id, text FROM documents WHERE doc_id >= 300 AND doc_id < 400)",
           "(SELECT doc_id, text FROM documents WHERE doc_id < 300)", 0.5)},
        |${duckSurvivorCtes("b",
           "(SELECT doc_id, text FROM documents WHERE doc_id >= 400)",
           "(SELECT doc_id, text FROM documents WHERE doc_id < 300 UNION ALL SELECT doc_id, text FROM asurv)",
           0.5)}
        |SELECT doc_id FROM bsurv""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val idx = graft.util.Scratch.path("dedup_index", dir)
      DedupOps.writeDedupIndex(docs.where(col("doc_id") < 300), idx,
        "doc_id", "text", portable = true)
      val day1 = DedupOps.dedupAgainstIndex(
        docs.where(col("doc_id") >= 300 && col("doc_id") < 400), idx,
        "doc_id", "text", threshold = 0.5, portable = true)
      DedupOps.appendToDedupIndex(day1, idx, "doc_id", "text", tag = "day1",
        portable = true)
      // mid-lifecycle maintenance: collapse build + day1 tranches into
      // one — a pure rewrite (distinct of the same rows), so the oracle
      // is unchanged by construction and day-2 gates that invariant
      DedupOps.consolidateDedupIndex(s, idx)
      DedupOps.dedupAgainstIndex(docs.where(col("doc_id") >= 400), idx,
        "doc_id", "text", threshold = 0.5, portable = true)
        .select("doc_id")
    },

    // ---- at-rest index statistics: the maintenance gauge — per
    //      artifact (rows, docs, tranches) after a build + one append;
    //      the oracle recomputes every count from the TEXT (distinct
    //      shingles per doc, distinct fingerprints, survivor set), so
    //      artifact integrity is gated end-to-end ----
    Q("q_index_stats",
      s"""WITH ${duckSurvivorCtes("a",
           "(SELECT doc_id, text FROM documents WHERE doc_id >= 300 AND doc_id < 400)",
           "(SELECT doc_id, text FROM documents WHERE doc_id < 300)", 0.5)},
        |hw AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
        |       FROM documents WHERE doc_id < 300),
        |sw AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM asurv),
        |hn AS (SELECT doc_id, len(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS n
        |       FROM hw WHERE len(w) >= 3),
        |sn AS (SELECT doc_id, len(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS n
        |       FROM sw WHERE len(w) >= 3),
        |hfp2 AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |         FROM documents WHERE doc_id < 300),
        |sfp AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |        FROM asurv),
        |hds AS (SELECT count(DISTINCT s) AS n FROM (
        |  SELECT unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
        |  FROM hw WHERE len(w) >= 3)),
        |sds AS (SELECT count(DISTINCT s) AS n FROM (
        |  SELECT unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
        |  FROM sw WHERE len(w) >= 3)),
        |hsg AS (SELECT [list_min(list_transform(h, v -> ((2*j + 1) * v + j*j + 7) % 1000000007)) for j in range(0, $SIG_K)] AS sig
        |  FROM (SELECT list_transform(s, x -> ${duckHash("x")} % 1000000007) AS h FROM (
        |    SELECT list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |    FROM hw WHERE len(w) >= 3) WHERE len(s) > 0)),
        |ssg AS (SELECT [list_min(list_transform(h, v -> ((2*j + 1) * v + j*j + 7) % 1000000007)) for j in range(0, $SIG_K)] AS sig
        |  FROM (SELECT list_transform(s, x -> ${duckHash("x")} % 1000000007) AS h FROM (
        |    SELECT list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |    FROM sw WHERE len(w) >= 3) WHERE len(s) > 0)),
        |hbf AS (SELECT count(*) AS n FROM (SELECT DISTINCT b, sig[${SIG_K / BANDS}*b+1:${SIG_K / BANDS}*b+${SIG_K / BANDS}] AS key
        |  FROM hsg, (SELECT unnest(range(0, $BANDS)) AS b))),
        |sbf AS (SELECT count(*) AS n FROM (SELECT DISTINCT b, sig[${SIG_K / BANDS}*b+1:${SIG_K / BANDS}*b+${SIG_K / BANDS}] AS key
        |  FROM ssg, (SELECT unnest(range(0, $BANDS)) AS b)))
        |SELECT 'sh' AS artifact,
        |  CAST((SELECT COALESCE(sum(n), 0) FROM hn) + (SELECT COALESCE(sum(n), 0) FROM sn) AS BIGINT) AS n_rows,
        |  CAST((SELECT count(*) FROM hn) + (SELECT count(*) FROM sn) AS BIGINT) AS n_docs,
        |  2 AS n_tranches
        |UNION ALL
        |SELECT 'fp',
        |  CAST((SELECT count(*) FROM hfp2) + (SELECT count(*) FROM sfp) AS BIGINT),
        |  CAST(NULL AS BIGINT), 2
        |UNION ALL
        |SELECT 'sig',
        |  CAST((SELECT count(*) FROM hn) + (SELECT count(*) FROM sn) AS BIGINT),
        |  CAST((SELECT count(*) FROM hn) + (SELECT count(*) FROM sn) AS BIGINT), 2
        |UNION ALL
        |SELECT 'df',
        |  CAST((SELECT n FROM hds) + (SELECT n FROM sds) AS BIGINT),
        |  CAST(NULL AS BIGINT), 2
        |UNION ALL
        |SELECT 'bf',
        |  CAST((SELECT n FROM hbf) + (SELECT n FROM sbf) AS BIGINT),
        |  CAST(NULL AS BIGINT), 2""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val idx = graft.util.Scratch.path("dedup_stats_idx", dir)
      DedupOps.writeDedupIndex(docs.where(col("doc_id") < 300), idx,
        "doc_id", "text", portable = true)
      val day1 = DedupOps.dedupAgainstIndex(
        docs.where(col("doc_id") >= 300 && col("doc_id") < 400), idx,
        "doc_id", "text", threshold = 0.5, portable = true)
      DedupOps.appendToDedupIndex(day1, idx, "doc_id", "text", tag = "day1",
        portable = true)
      DedupOps.dedupIndexStats(s, idx)
    },

    // ---- at-rest index HEALTH gauge: tranche counts, unproven
    //      (marker-less) tranches, count-artifact freshness — pure
    //      directory metadata; a healthy build+append lifecycle reads
    //      all-clear, and the sick states (pending retry, stale
    //      counts) are spec-exercised where the oracle can't follow ----
    Q("q_index_health",
      s"""SELECT 'sh' AS artifact, CAST(2 AS INTEGER) AS n_tranches,
        |  CAST(2 AS INTEGER) AS n_marked,
        |  CAST(0 AS INTEGER) AS n_unproven, CAST(NULL AS VARCHAR) AS count_fresh
        |UNION ALL SELECT 'fp', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'sig', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'df', 2, 2, 0, 'true'
        |UNION ALL SELECT 'bf', 2, 2, 0, 'true'""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val idx = graft.util.Scratch.path("dedup_health_idx", dir)
      DedupOps.writeDedupIndex(docs.where(col("doc_id") < 300), idx,
        "doc_id", "text", portable = true)
      DedupOps.appendToDedupIndex(
        docs.where(col("doc_id") >= 300 && col("doc_id") < 400), idx,
        "doc_id", "text", tag = "day1", portable = true)
      // boolean-with-NULL trips the arrow compare (NaN vs None) — the
      // gauge keeps its boolean schema; only the gate projects varchar
      DedupOps.dedupIndexHealth(s, idx)
        .withColumn("count_fresh", col("count_fresh").cast(StringType))
    },

    // ---- the cross-family health DASHBOARD: all three index families
    //      (dedup text tiers, winnow fingerprints, IVF vectors) built
    //      through their build+append lifecycles, one unioned gauge —
    //      the single query an index operator runs every morning.
    //      Directory metadata only, 8 rows, no data file opened ----
    Q("q_index_health_all",
      s"""SELECT 'dedup' AS family, 'sh' AS artifact, CAST(2 AS INTEGER) AS n_tranches,
        |  CAST(2 AS INTEGER) AS n_marked, CAST(0 AS INTEGER) AS n_unproven,
        |  CAST(NULL AS VARCHAR) AS count_fresh
        |UNION ALL SELECT 'dedup', 'fp', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'dedup', 'sig', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'dedup', 'df', 2, 2, 0, 'true'
        |UNION ALL SELECT 'dedup', 'bf', 2, 2, 0, 'true'
        |UNION ALL SELECT 'winnow', 'wfp', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'winnow', 'wdf', 2, 2, 0, 'true'
        |UNION ALL SELECT 'vector', 'vec', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'bm25', 'postings', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'bm25', 'doclen', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'bloom', 'pos', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'rank', 'rank', 1, 1, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'cc', 'assignment', 1, 1, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'dayhist', 'dayhist', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'dayhll', 'dayhll', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'daymix', 'daymix', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'centroid', 'centroid', 2, 2, 0, CAST(NULL AS VARCHAR)
        |UNION ALL SELECT 'imagehash', 'dhash', 2, 2, 0, CAST(NULL AS VARCHAR)""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        val e = Tables(s, dir, "embeddings")
        // build each family ONCE per process (pid-scoped scratch, so
        // never stale across fixture regenerations): the operational
        // morning dashboard reads EXISTING indexes — rebuilding all
        // four families on every run measured 4.3 s of build against
        // a directory-metadata gauge. Deterministic:
        // the builders are pure functions of the fixture, so a reused
        // build yields the identical gauge.
        val dedupIdx = graft.util.Scratch.path("health_all_dedup", dir)
        if (!new java.io.File(dedupIdx).exists()) {
          DedupOps.writeDedupIndex(docs.where(col("doc_id") < 300), dedupIdx,
            "doc_id", "text", portable = true)
          DedupOps.appendToDedupIndex(
            docs.where(col("doc_id") >= 300 && col("doc_id") < 400), dedupIdx,
            "doc_id", "text", tag = "day1", portable = true)
        }
        val winnowIdx = graft.util.Scratch.path("health_all_winnow", dir)
        if (!new java.io.File(winnowIdx).exists()) {
          TextOps.writeWinnowIndex(docs.where(col("doc_id") < 300), winnowIdx,
            "doc_id", "text", k = 12, w = 8, portable = true)
          TextOps.appendToWinnowIndex(
            docs.where(col("doc_id") >= 300 && col("doc_id") < 400), winnowIdx,
            "doc_id", "text", tag = "day1")
        }
        val ivfIdx = graft.util.Scratch.path("health_all_ivf", dir)
        if (!new java.io.File(ivfIdx).exists()) {
          SimilarityOps.ivfWriteIndex(e.where(col("vec_id") < 300), ivfIdx,
            "vec_id", "embedding", nLists = 16,
            precomputed = Some(sharedCentroids(s, dir)))
          SimilarityOps.ivfAppendToIndex(
            e.where(col("vec_id") >= 300 && col("vec_id") < 400), ivfIdx,
            "vec_id", "embedding", tag = "day1")
        }
        val bm25Idx = graft.util.Scratch.path("health_all_bm25", dir)
        if (!new java.io.File(bm25Idx).exists()) {
          RetrievalOps.bm25WriteIndex(docs.where(col("doc_id") < 300), bm25Idx,
            "doc_id", "text", nBuckets = 16)
          RetrievalOps.bm25AppendToIndex(
            docs.where(col("doc_id") >= 300 && col("doc_id") < 400), bm25Idx,
            "doc_id", "text", tag = "day1")
        }
        // the other eight families (bloom … imagehash): tiny artifacts, same
        // build-once-per-process discipline (the dashboard is a
        // directory-metadata gauge — content volume is irrelevant, so
        // the builders run on bounded slices)
        val ev = Tables(s, dir, "events")
          .where(col("event_id") < 2000).select("event_id", "ts", "user_id", "value")
        val bloomIdx = graft.util.Scratch.path("health_all_bloom", dir)
        if (!new java.io.File(bloomIdx).exists()) {
          graft.relational.BloomIndex.writeBloomTranche(
            docs.where(col("doc_id") < 300), "doc_id", bloomIdx, "day0")
          graft.relational.BloomIndex.writeBloomTranche(
            docs.where(col("doc_id") >= 300 && col("doc_id") < 400),
            "doc_id", bloomIdx, "day1")
        }
        val rankIdx = graft.util.Scratch.path("health_all_rank", dir)
        if (!new java.io.File(rankIdx).exists())
          graft.graph.GraphOps.writeRankIndex(
            Tables(s, dir, "nation").select(col("n_nationkey").as("node"),
              lit(1000000L).as("rank")), rankIdx)
        val ccIdx = graft.util.Scratch.path("health_all_cc", dir)
        if (!new java.io.File(ccIdx).exists())
          graft.graph.GraphOps.writeGroupIndex(
            Tables(s, dir, "nation").select(col("n_nationkey").as("node"),
              col("n_regionkey").as("component")), ccIdx)
        val dayHistIdx = graft.util.Scratch.path("health_all_dayhist", dir)
        if (!new java.io.File(dayHistIdx).exists()) {
          graft.profile.HistSketch.writeDayHistTranche(
            ev.where(col("event_id") < 1000), "value", "ts", dayHistIdx, "e0")
          graft.profile.HistSketch.writeDayHistTranche(
            ev.where(col("event_id") >= 1000), "value", "ts", dayHistIdx, "e1")
        }
        val dayHllIdx = graft.util.Scratch.path("health_all_dayhll", dir)
        if (!new java.io.File(dayHllIdx).exists()) {
          graft.profile.Sketches.writeDayHllTranche(
            ev.where(col("event_id") < 1000), "user_id", "ts", dayHllIdx, "e0")
          graft.profile.Sketches.writeDayHllTranche(
            ev.where(col("event_id") >= 1000), "user_id", "ts", dayHllIdx, "e1")
        }
        val dayMixIdx = graft.util.Scratch.path("health_all_daymix", dir)
        if (!new java.io.File(dayMixIdx).exists()) {
          TextOps.writeDayMixTranche(
            ev.where(col("event_id") < 1000), "user_id", "ts", dayMixIdx, "e0")
          TextOps.writeDayMixTranche(
            ev.where(col("event_id") >= 1000), "user_id", "ts", dayMixIdx, "e1")
        }
        val centroidIdx = graft.util.Scratch.path("health_all_centroid", dir)
        if (!new java.io.File(centroidIdx).exists()) {
          val ec = e.where(col("vec_id") < 200)
            .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
          SimilarityOps.writeCentroidTranche(ec.where(col("vec_id") < 100),
            "embedding", "ts", centroidIdx, "e0")
          SimilarityOps.writeCentroidTranche(ec.where(col("vec_id") >= 100),
            "embedding", "ts", centroidIdx, "e1")
        }
        val imgIdx = graft.util.Scratch.path("health_all_imghash", dir)
        if (!new java.io.File(imgIdx).exists()) {
          val media = MultimodalOps.attachBinary(docs, "doc_id", "text", "image")
          MultimodalOps.writeImageHashTranche(s,
            media.where(col("media_id") < 300), imgIdx, "day0")
          MultimodalOps.writeImageHashTranche(s,
            media.where(col("media_id") >= 300 && col("media_id") < 400),
            imgIdx, "day1")
        }
        graft.meta.IndexDashboard.indexHealthAll(s,
          dedupDir = Some(dedupIdx), winnowDir = Some(winnowIdx),
          vectorDir = Some(ivfIdx), bm25Dir = Some(bm25Idx),
          bloomDir = Some(bloomIdx), rankDir = Some(rankIdx),
          ccDir = Some(ccIdx), dayHistDir = Some(dayHistIdx),
          dayHllDir = Some(dayHllIdx), dayMixDir = Some(dayMixIdx),
          centroidDir = Some(centroidIdx), imageHashDir = Some(imgIdx))
          .withColumn("count_fresh", col("count_fresh").cast(StringType))
    },

    // ---- per-document dedup decision report: every batch doc gets
    //      (id, decision, best_jaccard) — exact | near | unique with
    //      the best history jaccard (near-misses included: the
    //      candidate join runs unthresholded) ----
    Q("q_dedup_report",
      s"""WITH ${duckSurvivorCtes("r",
           "(SELECT doc_id, text FROM documents WHERE doc_id >= 400)",
           "(SELECT doc_id, text FROM documents WHERE doc_id < 400)", 0.5)},
        |best AS (SELECT id_l, max(j) AS best_jaccard FROM rjac GROUP BY id_l)
        |SELECT d.doc_id,
        |  CASE WHEN md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')))
        |            IN (SELECT fp FROM rhfp) THEN 'exact'
        |       WHEN best.best_jaccard >= 0.5 THEN 'near'
        |       ELSE 'unique' END AS decision,
        |  best.best_jaccard
        |FROM documents d LEFT JOIN best ON best.id_l = d.doc_id
        |WHERE d.doc_id >= 400""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val idx = graft.util.Scratch.path("dedup_report_idx", dir)
      DedupOps.writeDedupIndex(docs.where(col("doc_id") < 400), idx,
        "doc_id", "text", portable = true)
      DedupOps.dedupDecisions(docs.where(col("doc_id") >= 400), idx,
        "doc_id", "text", threshold = 0.5, portable = true)
    },

    // ---- the APPROXIMATE index lifecycle: same two days, but the
    //      daily near-dup pass reads the sig artifact (k longs/doc)
    //      instead of every hashed shingle of the growing history —
    //      banded signature equi-join, estimated jaccard. The oracle
    //      replays both days with the frozen affine family ----
    Q("q_dedup_index_minhash",
      s"""WITH ${duckMinhashSurvivorCtes("a",
           "(SELECT doc_id, text FROM documents WHERE doc_id >= 300 AND doc_id < 400)",
           "(SELECT doc_id, text FROM documents WHERE doc_id < 300)", 0.4)},
        |${duckMinhashSurvivorCtes("b",
           "(SELECT doc_id, text FROM documents WHERE doc_id >= 400)",
           "(SELECT doc_id, text FROM documents WHERE doc_id < 300 UNION ALL SELECT doc_id, text FROM asurv)",
           0.4)}
        |SELECT doc_id FROM bsurv""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val idx = graft.util.Scratch.path("dedup_index_mh", dir)
      DedupOps.writeDedupIndex(docs.where(col("doc_id") < 300), idx,
        "doc_id", "text", portable = true, sigK = SIG_K, sigBands = BANDS)
      val day1 = DedupOps.dedupAgainstIndexApprox(
        docs.where(col("doc_id") >= 300 && col("doc_id") < 400), idx,
        "doc_id", "text", threshold = 0.4)
      DedupOps.appendToDedupIndex(day1, idx, "doc_id", "text", tag = "day1",
        portable = true)
      // mid-lifecycle consolidation gates the SIG artifact's rewrite
      // too (pure distinct of the same rows — oracle unchanged)
      DedupOps.consolidateDedupIndex(s, idx)
      DedupOps.dedupAgainstIndexApprox(docs.where(col("doc_id") >= 400), idx,
        "doc_id", "text", threshold = 0.4)
        .select("doc_id")
    },

    // ---- per-document decision report for the APPROXIMATE tier —
    //      the steady-state loop's triage view: exact | near | unique
    //      with the best signature-ESTIMATED jaccard (matches/k is an
    //      exact dyadic rational at k = 16, so the doubles hash-match
    //      cross-engine). The oracle replays the frozen affine family
    //      and takes max agreement over unthresholded candidates ----
    Q("q_dedup_report_minhash",
      s"""WITH ${duckMinhashSurvivorCtes("r",
           "(SELECT doc_id, text FROM documents WHERE doc_id >= 400)",
           "(SELECT doc_id, text FROM documents WHERE doc_id < 400)", 0.4)},
        |best AS (SELECT id_l,
        |    max(list_sum([CASE WHEN sl[i] = sr[i] THEN 1 ELSE 0 END for i in range(1, ${SIG_K + 1})]) / $SIG_K.0) AS best_est_jaccard
        |  FROM rcand GROUP BY id_l)
        |SELECT d.doc_id,
        |  CASE WHEN md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')))
        |            IN (SELECT fp FROM rhfp) THEN 'exact'
        |       WHEN best.best_est_jaccard >= 0.4 THEN 'near'
        |       ELSE 'unique' END AS decision,
        |  best.best_est_jaccard
        |FROM documents d LEFT JOIN best ON best.id_l = d.doc_id
        |WHERE d.doc_id >= 400""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val idx = graft.util.Scratch.path("dedup_report_mh", dir)
      DedupOps.writeDedupIndex(docs.where(col("doc_id") < 400), idx,
        "doc_id", "text", portable = true, sigK = SIG_K, sigBands = BANDS)
      DedupOps.dedupDecisionsApprox(docs.where(col("doc_id") >= 400), idx,
        "doc_id", "text", threshold = 0.4)
    },

    // ---- RAG chunking: 40-word chunks, 10-word overlap (stride 30);
    //      a pure per-row explode — chunk text, ids, and tail sizes
    //      all hash-checked ----
    Q("q_chunk_docs",
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |c AS (SELECT doc_id, w,
        |        unnest(range(0, CAST(ceil(greatest(len(w) - 10, 1) / 30.0) AS BIGINT))) AS chunk_id
        |      FROM t)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  array_to_string(w[chunk_id*30+1 : chunk_id*30+40], ' ') AS chunk_text,
        |  CAST(least(40, len(w) - chunk_id*30) AS BIGINT) AS n_words
        |FROM c""".stripMargin) { (s, dir) =>
      TextOps.chunkDocuments(Tables(s, dir, "documents"), "doc_id", "text",
        chunkWords = 40, overlapWords = 10)
    },

    // ---- key skew profile: the stats a planner reads before choosing
    //      a salting factor — top keys, share, skew-vs-uniform ----
    Q("q_key_profile",
      """WITH g AS (SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS n
        |           FROM orders GROUP BY 1),
        |s AS (SELECT CAST(sum(n) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS nkeys FROM g)
        |SELECT key, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / total, 6) AS share,
        |  round(CAST(n AS DOUBLE) * nkeys / total, 6) AS skew
        |FROM g, s ORDER BY n DESC, key LIMIT 50""".stripMargin) { (s, dir) =>
      graft.profile.ProfileOps.keyProfile(Tables(s, dir, "orders"), "o_custkey", topN = 50)
    },

    // ---- per-column statistics in one pass: rows, nulls, exact
    //      distincts, min/max over the lineitem measures ----
    Q("q_column_profile", {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map(c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_value,
           |  CAST(max($c) AS DOUBLE) AS max_value
           |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n")
    }) { (s, dir) =>
      graft.profile.ProfileOps.columnProfile(Tables(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },

    // ---- equi-width histogram over a fixed range: the distribution-
    //      shape input next to the key profile; one map-side-combinable
    //      shuffle of ≤ bins groups ----
    Q("q_histogram",
      """WITH b AS (SELECT CAST(least(19, greatest(0,
        |    floor((CAST(l_extendedprice AS DOUBLE) - 0.0) / 4000.0))) AS INTEGER) AS bin
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT bin, 0.0 + bin * 4000.0 AS bin_lo, 0.0 + (bin + 1) * 4000.0 AS bin_hi,
        |  count(*) AS n
        |FROM b GROUP BY bin""".stripMargin) { (s, dir) =>
      graft.profile.ProfileOps.histogram(Tables(s, dir, "lineitem"),
        "l_extendedprice", bins = 20, lo = 0.0, hi = 80000.0)
    },

    // ---- span-level exact dedup: repeated 5-word passages survive
    //      only at their first corpus occurrence; docs reassembled
    //      from surviving spans (windowed approximation of substring
    //      dedup — the tiny fixture vocabulary makes spans actually
    //      collide, so the drop path is exercised) ----
    Q("q_span_dedup",
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |           FROM documents),
        |sp AS (SELECT doc_id,
        |         unnest(range(1, CAST(ceil(len(w) / 5.0) AS BIGINT) + 1)) AS idx, w
        |       FROM t),
        |sp2 AS (SELECT doc_id, idx,
        |          array_to_string(w[(idx - 1) * 5 + 1 : idx * 5], ' ') AS span
        |        FROM sp),
        |k AS (SELECT doc_id, idx, span,
        |        row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
        |      FROM sp2),
        |ag AS (SELECT doc_id,
        |         CAST(count(*) AS BIGINT) AS n_spans,
        |         CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped,
        |         string_agg(span, ' ' ORDER BY idx) FILTER (WHERE rn = 1) AS text_clean
        |       FROM k GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(ag.text_clean, '') AS text_clean,
        |  COALESCE(ag.n_spans, 0) AS n_spans, COALESCE(ag.n_dropped, 0) AS n_dropped
        |FROM documents d LEFT JOIN ag USING (doc_id)""".stripMargin) { (s, dir) =>
      DedupOps.spanDedupGlobal(Tables(s, dir, "documents"), "doc_id", "text",
        spanWords = 5)
    },

    // ---- MinHash + LSH banded near-dup pairs (portable hash tier) ----
    Q("q_dedup_minhash",
      s"""WITH $duckMinhashCtes
        |SELECT id_a, id_b, $duckMinhashEst AS est_jaccard
        |FROM cand
        |WHERE $duckMinhashEst >= 0.4""".stripMargin) { (s, dir) =>
      DedupOps.minhashNearDupPairs(Tables(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, k = SIG_K, bands = BANDS, threshold = 0.4,
        portable = true)
    },

    // ---- transitive groups from the MinHash pairs: the web-scale
    //      pair generator (banded signature join) composed with the
    //      same CC closure as q_dedup_groups ----
    Q("q_dedup_groups_minhash",
      s"""WITH RECURSIVE $duckMinhashCtes,
        |mh AS (SELECT id_a, id_b FROM cand WHERE $duckMinhashEst >= 0.4),
        |e AS (SELECT id_a AS u, id_b AS v FROM mh UNION SELECT id_b, id_a FROM mh),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |cc AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
        |asg AS (SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS group_id
        |        FROM documents d LEFT JOIN cc ON cc.u = d.doc_id)
        |SELECT doc_id, group_id,
        |  CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
        |FROM asg""".stripMargin) { (s, dir) =>
      DedupOps.minhashDupGroups(Tables(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, k = SIG_K, bands = BANDS, threshold = 0.4,
        portable = true)
    },

    // ---- winnowing fingerprints (MOSS): per-window minima of char
    //      8-gram hashes — docs sharing an 11+-char substring share a
    //      fingerprint; one row per (doc, selected hash) ----
    Q("q_winnow_fingerprint",
      s"""WITH t AS (SELECT doc_id,
        |        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
        |g AS (SELECT doc_id,
        |        CASE WHEN len(t) >= 8
        |             THEN [${duckHash("substr(t, i, 8)")} for i in range(1, len(t) - 6)]
        |             ELSE [${duckHash("t")}] END AS h
        |      FROM t),
        |fp AS (SELECT doc_id,
        |         CASE WHEN len(h) >= 4
        |              THEN list_sort(list_distinct([list_min(h[p:p+3]) for p in range(1, len(h) - 2)]))
        |              ELSE [list_min(h)] END AS fps
        |       FROM g)
        |SELECT doc_id, unnest(fps) AS fp FROM fp""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents").select(col("doc_id"),
        explode(TextOps.winnowFingerprints(col("text"), k = 8, w = 4,
          portable = true)).as("fp"))
    },

    // ---- partial-overlap pairs from winnowing fingerprints: docs
    //      sharing ≥5 selected 12-gram hashes, hashes shared by >50
    //      docs dropped as cliché — char grams of common words are
    //      corpus-wide, so a discriminative config needs long grams
    //      and a tight hot-hash cap (minShared=3 at k=8 paired 80% of
    //      this corpus: a quadratic pair bomb, not a signal) ----
    Q("q_winnow_overlap",
      s"""WITH t AS (SELECT doc_id,
        |        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
        |g AS (SELECT doc_id,
        |        CASE WHEN len(t) >= 12
        |             THEN [${duckHash("substr(t, i, 12)")} for i in range(1, len(t) - 10)]
        |             ELSE [${duckHash("t")}] END AS h
        |      FROM t),
        |fp AS (SELECT doc_id,
        |         CASE WHEN len(h) >= 8
        |              THEN list_distinct([list_min(h[p:p+7]) for p in range(1, len(h) - 6)])
        |              ELSE [list_min(h)] END AS fps
        |       FROM g),
        |ex AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
        |keep AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) <= 50),
        |pr AS (SELECT doc_id, ex.fp AS fp FROM ex JOIN keep USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin) { (s, dir) =>
      TextOps.winnowOverlapPairs(Tables(s, dir, "documents"), "doc_id", "text",
        k = 12, w = 8, minShared = 5, portable = true, maxBucket = 50)
    },

    // ---- at-rest winnow index lifecycle: BUILD selected-hash rows
    //      from the old corpus, APPEND a day's documents, then the
    //      daily partial-overlap probe reads the compact artifact
    //      instead of re-winnowing history text. Combined hot-hash
    //      cap; batch × history only (never a self-join) ----
    Q("q_winnow_index",
      s"""WITH t AS (SELECT doc_id,
        |        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
        |g AS (SELECT doc_id,
        |        CASE WHEN len(t) >= 12
        |             THEN [${duckHash("substr(t, i, 12)")} for i in range(1, len(t) - 10)]
        |             ELSE [${duckHash("t")}] END AS h
        |      FROM t),
        |fp AS (SELECT doc_id,
        |         CASE WHEN len(h) >= 8
        |              THEN list_distinct([list_min(h[p:p+7]) for p in range(1, len(h) - 6)])
        |              ELSE [list_min(h)] END AS fps
        |       FROM g),
        |ex AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
        |l AS (SELECT doc_id, fp FROM ex WHERE doc_id >= 400),
        |r AS (SELECT doc_id, fp FROM ex WHERE doc_id < 400),
        |keep AS (SELECT fp FROM (SELECT fp FROM l UNION ALL SELECT fp FROM r) u
        |         GROUP BY fp HAVING count(*) <= 50),
        |pl AS (SELECT doc_id, l.fp AS fp FROM l JOIN keep USING (fp)),
        |ph AS (SELECT doc_id, r.fp AS fp FROM r JOIN keep USING (fp))
        |SELECT pl.doc_id AS id_l, ph.doc_id AS id_r, count(*) AS n_shared
        |FROM pl JOIN ph USING (fp)
        |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val idx = graft.util.Scratch.path("winnow_index", dir)
      TextOps.writeWinnowIndex(docs.where(col("doc_id") < 300), idx,
        "doc_id", "text", k = 12, w = 8, portable = true)
      TextOps.appendToWinnowIndex(docs.where(col("doc_id") >= 300 && col("doc_id") < 400),
        idx, "doc_id", "text", tag = "day1")
      TextOps.winnowOverlapAgainstIndex(docs.where(col("doc_id") >= 400), idx,
        "doc_id", "text", minShared = 5, maxBucket = 50)
    },

    // ---- winnow-index stats gauge over the same build+append
    //      lifecycle: the oracle re-winnows the indexed corpus from
    //      text and recomputes every count the gauge reports ----
    Q("q_winnow_stats",
      s"""WITH t AS (SELECT doc_id,
        |        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
        |      FROM documents WHERE doc_id < 400),
        |g AS (SELECT doc_id,
        |        CASE WHEN len(t) >= 12
        |             THEN [${duckHash("substr(t, i, 12)")} for i in range(1, len(t) - 10)]
        |             ELSE [${duckHash("t")}] END AS h
        |      FROM t),
        |fp AS (SELECT doc_id,
        |         CASE WHEN len(h) >= 8
        |              THEN list_distinct([list_min(h[p:p+7]) for p in range(1, len(h) - 6)])
        |              ELSE [list_min(h)] END AS fps
        |       FROM g),
        |ex AS (SELECT doc_id, unnest(fps) AS fp FROM fp)
        |SELECT 'wfp' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, 2 AS n_tranches
        |FROM ex
        |UNION ALL
        |SELECT 'wdf',
        |  CAST((SELECT count(DISTINCT fp) FROM ex WHERE doc_id < 300)
        |     + (SELECT count(DISTINCT fp) FROM ex WHERE doc_id >= 300) AS BIGINT),
        |  CAST(NULL AS BIGINT), 2""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val idx = graft.util.Scratch.path("winnow_stats_idx", dir)
      TextOps.writeWinnowIndex(docs.where(col("doc_id") < 300), idx,
        "doc_id", "text", k = 12, w = 8, portable = true)
      TextOps.appendToWinnowIndex(docs.where(col("doc_id") >= 300 && col("doc_id") < 400),
        idx, "doc_id", "text", tag = "day1")
      TextOps.winnowIndexStats(s, idx)
    },

    // ---- SimHash document signatures (portable hash tier) ----
    Q("q_dedup_simhash",
      s"""WITH ${duckSimhashCtes()}
        |SELECT doc_id, simhash FROM sg""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        DedupOps.simhash(col("text"), bits = 16, portable = true).as("simhash"))
    },

    // ---- SimHash near-dup pairs via bit-banding (pigeonhole: ≤3
    //      differing bits with 4 bands ⇒ one band matches exactly) —
    //      the cheapest pair tier, 8 bytes per doc on the shuffle ----
    Q("q_dedup_simhash_pairs",
      s"""WITH ${duckSimhashCtes(32)},
        |bd AS (SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS key
        |       FROM sg, (SELECT unnest(range(0, 4)) AS b)),
        |bkt AS (SELECT b, key FROM bd GROUP BY b, key HAVING count(*) <= 10000),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |           a.simhash AS sa, b.simhash AS sb
        |         FROM bd a JOIN bd b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
        |         JOIN bkt ON bkt.b = a.b AND bkt.key = a.key)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin) { (s, dir) =>
      DedupOps.simhashNearDupPairs(Tables(s, dir, "documents"), "doc_id", "text",
        bits = 32, maxHamming = 3, bands = 4, portable = true)
        .select(col("id_a"), col("id_b"), col("hamming").cast(LongType).as("hamming"))
    },

    // ---- embedding norms ----
    Q("q_embed_norm",
      s"""SELECT vec_id, round(sqrt(${duckDot("embedding", "embedding")}), 6) AS norm
        |FROM embeddings""".stripMargin) { (s, dir) =>
      Tables(s, dir, "embeddings").select(
        col("vec_id"), round(SimilarityOps.l2Norm(col("embedding")), 6).as("norm"))
    },

    // ---- brute-force cosine top-k (broadcast queries × corpus) ----
    Q("q_sim_topk_brute", duckBruteTopKSql) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      SimilarityOps.bruteForceTopK(
        e.where(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding", k = 5)
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- sign-LSH bucketed approximate top-k ----
    Q("q_sim_topk_lsh",
      s"""WITH e AS (SELECT vec_id, embedding,
        |    CAST(list_sum([CASE WHEN embedding[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END for i in range(0, 8)]) AS BIGINT) AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM e WHERE vec_id < 20),
        |s AS (SELECT query_id, e.vec_id AS corpus_id, ${duckCos("qv", "embedding")} AS cos
        |      FROM e JOIN q USING (bucket) WHERE e.vec_id <> query_id)
        |SELECT query_id, corpus_id, cos, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      SimilarityOps.lshTopK(
        e.where(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding", k = 5, nbits = 8)
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- multi-probe LSH: each query also searches every bucket at
    //      hamming distance 1 (recall knob without touching the corpus
    //      side) — deterministic sign buckets make even the probe set
    //      oracle-expressible ----
    Q("q_sim_topk_lsh_probe", duckLshProbeTopKSql(8)) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      SimilarityOps.lshTopK(
        e.where(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding",
        k = 5, nbits = 8, multiProbe = true)
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- materialized LSH layout, full lifecycle: BUILD the bucket-
    //      partitioned corpus from the even vectors, APPEND the odd
    //      ones (no fitted quantizer — the append invariant is just the
    //      frozen nbits), multi-probe the written index. The in-memory
    //      multi-probe oracle hash-checks build→append→prune→probe.
    //      nbits = 4 here (16 partitions): bucket count tracks file
    //      count at rest, and a gate corpus of thousands of rows wants
    //      16 real partitions, not 256 splinter files — at 100 TB the
    //      same knob goes the other way ----
    Q("q_sim_topk_lsh_index", duckLshProbeTopKSql(4)) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val idx = graft.util.Scratch.path("lsh_index", dir)
      SimilarityOps.lshWriteIndex(e.where(col("vec_id") % 2 === 0),
        idx, "vec_id", "embedding", nbits = 4)
      SimilarityOps.lshAppendToIndex(e.where(col("vec_id") % 2 === 1),
        idx, "vec_id", "embedding", tag = "odd")
      SimilarityOps.lshProbeTopK(s, idx,
        e.where(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, multiProbe = true)
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- embedding-cosine near-dup pairs via bucketed candidates ----
    Q("q_embed_near_dup",
      s"""WITH e AS (SELECT vec_id, embedding,
        |    CAST(list_sum([CASE WHEN embedding[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END for i in range(0, 4)]) AS BIGINT) AS bucket
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCos("a.embedding", "b.embedding")} AS cos
        |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE ${duckCos("a.embedding", "b.embedding")} >= 0.3""".stripMargin) { (s, dir) =>
      SimilarityOps.cosineNearDupPairs(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3, nbits = 4)
    },

    // ---- incremental SEMANTIC dedup against the materialized IVF
    //      index: day-1 vectors dedup against the built history index,
    //      survivors append (frozen centroids), day-2 dedups against
    //      the grown index. nProbe = nLists ⇒ exact by construction,
    //      so the oracle needs no frozen quantizer — it replays plain
    //      cross-corpus cosine thresholds over both days ----
    Q("q_semantic_dedup_index",
      s"""WITH h1 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
        |b1 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 300 AND vec_id < 400),
        |d1 AS (SELECT DISTINCT b1.vec_id FROM b1, h1
        |       WHERE ${duckCos("b1.embedding", "h1.embedding")} >= 0.3),
        |s1 AS (SELECT vec_id, embedding FROM b1
        |       WHERE vec_id NOT IN (SELECT vec_id FROM d1)),
        |h2 AS (SELECT vec_id, embedding FROM h1
        |       UNION ALL SELECT vec_id, embedding FROM s1),
        |b2 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 400),
        |d2 AS (SELECT DISTINCT b2.vec_id FROM b2, h2
        |       WHERE ${duckCos("b2.embedding", "h2.embedding")} >= 0.3)
        |SELECT vec_id FROM b2 WHERE vec_id NOT IN (SELECT vec_id FROM d2)""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings").select("vec_id", "embedding")
      val idx = graft.util.Scratch.path("sem_dedup_idx", dir)
      SimilarityOps.ivfWriteIndex(emb.where(col("vec_id") < 300), idx,
        "vec_id", "embedding", nLists = 16,
        precomputed = Some(sharedCentroids(s, dir)))
      // day-1 batch dedups against the artifact (quantizer from
      // _graft_meta), survivors append as a tagged tranche; mid-
      // lifecycle consolidation is answer-preserving (same oracle)
      val s1 = SimilarityOps.semanticDedupAgainstIndex(s, idx,
        emb.where(col("vec_id") >= 300 && col("vec_id") < 400),
        "vec_id", "embedding", threshold = 0.3, nProbe = 16)
      SimilarityOps.ivfAppendToIndex(
        graft.util.Materialize.freeze(s1), idx, "vec_id", "embedding", tag = "day1")
      SimilarityOps.consolidateIvfIndex(s, idx)
      SimilarityOps.semanticDedupAgainstIndex(s, idx,
        emb.where(col("vec_id") >= 400),
        "vec_id", "embedding", threshold = 0.3, nProbe = 16)
        .select("vec_id")
    },

    // ---- SemDeDup-style semantic dedup: embedding near-dup pairs
    //      closed transitively → (id, group_id, group_size) for every
    //      vector; the oracle replays buckets, cosine gate, and the
    //      closure as a recursive CTE ----
    Q("q_semantic_dedup",
      s"""WITH RECURSIVE e0 AS (SELECT vec_id, embedding,
        |    CAST(list_sum([CASE WHEN embedding[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END for i in range(0, 4)]) AS BIGINT) AS bucket
        |  FROM embeddings),
        |jp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |       FROM e0 a JOIN e0 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |       WHERE ${duckCos("a.embedding", "b.embedding")} >= 0.3),
        |e AS (SELECT id_a AS u, id_b AS v FROM jp UNION SELECT id_b, id_a FROM jp),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |cc AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
        |asg AS (SELECT d.vec_id, COALESCE(cc.comp, d.vec_id) AS group_id
        |        FROM embeddings d LEFT JOIN cc ON cc.u = d.vec_id)
        |SELECT vec_id, group_id,
        |  CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
        |FROM asg""".stripMargin) { (s, dir) =>
      SimilarityOps.semanticDedupGroups(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3, nbits = 4)
    },

    // ---- end-to-end curation pipeline: quality filter → exact dedup
    //      → near-dup removal → token stats (the marquee composition) ----
    Q("q_curation", {
      val stop = TextOps.EnStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH q AS (
        |  SELECT doc_id, text,
        |    round(least(1.0, greatest(0.0,
        |      0.2 + 2.0 * (CAST(len(list_filter($duckWords, w -> w IN ($stop))) AS DOUBLE)
        |                   / CAST(len($duckWords) AS DOUBLE))
        |          + CASE WHEN len($duckWords) >= 20 AND len($duckWords) <= 2000 THEN 0.3 ELSE 0.0 END
        |          - 1.5 * (CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
        |                   / CAST(length(text) AS DOUBLE)))), 6) AS quality_score
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL SELECT doc_id + 10000, text FROM documents)),
        |fp AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM q),
        |keep1 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fp)
        |  WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
        |        FROM q JOIN keep1 USING (doc_id)) WHERE len(w) >= 3),
        |shx AS (SELECT doc_id, unnest(s) AS s FROM sh),
        |shkeep AS (SELECT s FROM shx GROUP BY s HAVING count(*) <= 1000),
        |shpr AS (SELECT doc_id, shx.s AS s FROM shx JOIN shkeep USING (s)),
        |shn AS (SELECT doc_id, count(*) AS n FROM shpr GROUP BY doc_id),
        |shpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |            FROM shpr a JOIN shpr b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |drops AS (
        |  SELECT DISTINCT id_b FROM shpairs
        |  JOIN shn na ON na.doc_id = shpairs.id_a JOIN shn nb ON nb.doc_id = shpairs.id_b
        |  WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.6)
        |SELECT q.doc_id, CAST(len($duckWords) AS BIGINT) AS n_tokens, quality_score
        |FROM q JOIN keep1 USING (doc_id)
        |WHERE quality_score >= 0.4 AND doc_id NOT IN (SELECT id_b FROM drops)""".stripMargin
    }) { (s, dir) =>
      val d = Tables(s, dir, "documents").select("doc_id", "text")
      // corpus with planted exact duplicates, as a real crawl has
      val corpus = d.unionByName(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val scored = TextOps.qualityScore(corpus, "text")
      // 1. exact dedup: first-wins by content fingerprint. The deduped
      //    frame forks (near-dup candidate generation AND the final
      //    anti-join) — persist the compact projection so the
      //    union+quality+window subtree runs once, not per branch
      val deduped = graft.util.Materialize.persist(
        graft.dedup.DedupOps.exactDedup(scored, "text", Seq(col("doc_id").asc))
          .select("doc_id", "text", "quality_score"))
      // 2. near-dup removal: drop the higher id of each jaccard>=0.6 pair
      //    (operator-default hot-shingle cap — the oracle plants the same)
      val drops = graft.dedup.DedupOps.ngramJaccardPairs(deduped, "doc_id", "text",
        shingleN = 3, threshold = 0.6)
        .select(col("id_b").as("doc_id")).distinct()
      // 3. quality gate + token stats
      deduped.join(drops, Seq("doc_id"), "left_anti")
        .where(col("quality_score") >= 0.4)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          col("quality_score"))
    },

    // ---- end-to-end TRAINING-DATA pipeline: quality gate → exact
    //      dedup → benchmark decontamination → deterministic split —
    //      the LLM-data operator composition, one oracle (the eval-set
    //      docs themselves are 100% contaminated and must drop out) ----
    Q("q_training_pipeline", {
      val stop = TextOps.EnStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH q AS (
        |  SELECT doc_id, text,
        |    round(least(1.0, greatest(0.0,
        |      0.2 + 2.0 * (CAST(len(list_filter($duckWords, w -> w IN ($stop))) AS DOUBLE)
        |                   / CAST(len($duckWords) AS DOUBLE))
        |          + CASE WHEN len($duckWords) >= 20 AND len($duckWords) <= 2000 THEN 0.3 ELSE 0.0 END
        |          - 1.5 * (CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
        |                   / CAST(length(text) AS DOUBLE)))), 6) AS quality_score
        |  FROM documents),
        |gated AS (SELECT * FROM q WHERE quality_score >= 0.4),
        |keep1 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (
        |      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        |      ORDER BY doc_id) AS rn FROM gated)
        |  WHERE rn = 1),
        |surv AS (SELECT gated.* FROM gated JOIN keep1 USING (doc_id)),
        |sw AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM surv),
        |sc AS (SELECT doc_id,
        |         CASE WHEN len(w) >= 8
        |              THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)])
        |              ELSE CAST([] AS VARCHAR[]) END AS s
        |       FROM sw),
        |bw AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
        |       FROM documents WHERE doc_id < 25),
        |b AS (SELECT DISTINCT unnest(
        |        CASE WHEN len(w) >= 8
        |             THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)])
        |             ELSE CAST([] AS VARCHAR[]) END) AS s FROM bw),
        |hits AS (SELECT doc_id, count(*) AS hit
        |         FROM (SELECT doc_id, unnest(s) AS s FROM sc) e JOIN b USING (s)
        |         GROUP BY doc_id),
        |clean AS (
        |  SELECT sc.doc_id FROM sc LEFT JOIN hits USING (doc_id)
        |  WHERE len(sc.s) > 0
        |    AND CAST(coalesce(hits.hit, 0) AS DOUBLE) / len(sc.s) <= 0.5)
        |SELECT surv.doc_id,
        |  CASE WHEN b2 < 900000 THEN 'train' WHEN b2 < 950000 THEN 'val' ELSE 'test' END AS split,
        |  CAST(len(${duckWords.replace("(text)", "(surv.text)")}) AS BIGINT) AS n_tokens,
        |  quality_score
        |FROM (SELECT *, ${duckHash("'split|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS b2
        |      FROM surv) surv
        |JOIN clean USING (doc_id)""".stripMargin
    }) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // 1. quality gate
      val gated = TextOps.qualityScore(docs.select("doc_id", "text"), "text")
        .where(col("quality_score") >= 0.4)
      // 2. exact dedup, first-wins by doc_id (compact persist: the
      //    frame forks into decontamination and the final split join)
      val deduped = graft.util.Materialize.persist(
        DedupOps.exactDedup(gated, "text", Seq(col("doc_id").asc))
          .select("doc_id", "text", "quality_score"))
      // 3. decontamination vs the eval set (doc_id < 25): drop docs
      //    sharing more than half their 8-gram shingles with it
      val contamination = DedupOps.contaminationCheck(
        deduped, docs.where(col("doc_id") < 25), "doc_id", "text", shingleN = 8)
      val clean = contamination
        .where(col("n_shingles") > 0 &&
          col("n_contaminated").cast(DoubleType) / col("n_shingles") <= 0.5)
        .select("doc_id")
      // 4. deterministic split + token stats
      TrainingOps.hashSplit(deduped.join(clean, Seq("doc_id")), "doc_id",
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)), portable = true)
        .select(col("doc_id"), col("split"),
          TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          col("quality_score"))
    },

    // ---- IVF ANN, exact configuration: nProbe = nLists probes every
    //      inverted list, so the result equals brute force and the
    //      brute-force oracle hash-checks the whole IVF pipeline
    //      (k-means fit, list assignment, probe join, scoring) ----
    Q("q_sim_topk_ivf", duckBruteTopKSql) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      SimilarityOps.ivfTopK(
        e.where(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding",
        k = 5, nLists = 16, nProbe = 16,
        centroids = Some(sharedCentroids(s, dir)))
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- IVF ANN, approximate production configuration (recall < 1 by
    //      design). Hash-checked anyway: the oracle freezes the shared
    //      centroid fit as literals and replays the nProbe=4 list
    //      selection exactly ----
    Q.dynamic("q_sim_topk_ivf_approx")(
      soleFit(ivfFitCache).map(c => ivfApproxOracleSql(c, nProbe = 4, k = 5))) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      SimilarityOps.ivfTopK(
        e.where(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding",
        k = 5, nLists = 16, nProbe = 4,
        centroids = Some(sharedCentroids(s, dir)))
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- ANN recall gauge: the measurement every budget knob is
    //      tuned against — per-query recall@5 of the nProbe=4 config
    //      vs exact brute force on a sampled query set; the oracle
    //      replays BOTH selections and the overlap fraction ----
    Q.dynamic("q_ann_recall")(
      soleFit(ivfFitCache).map(c => annRecallOracleSql(c, nProbe = 4, k = 5))) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 20)
      val approx = SimilarityOps.ivfTopK(q, e, "vec_id", "vec_id", "embedding",
        k = 5, nLists = 16, nProbe = 4, centroids = Some(sharedCentroids(s, dir)))
      val exact = SimilarityOps.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      SimilarityOps.recallAtK(approx, exact)
    },

    // ---- materialized IVF index, full lifecycle: BUILD from the even
    //      vectors, APPEND the odd ones with the frozen centroids, then
    //      probe the written index. At nProbe = nLists every partition
    //      is probed, so the result is exact and the brute oracle
    //      hash-checks the whole build→append→partition-prune→probe
    //      path (the prune itself is plan-asserted in ScaleOpsSpec) ----
    Q("q_sim_topk_ivf_index", duckBruteTopKSql) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val idx = graft.util.Scratch.path("ivf_index", dir)
      SimilarityOps.ivfWriteIndex(e.where(col("vec_id") % 2 === 0),
        idx, "vec_id", "embedding",
        nLists = 16, precomputed = Some(sharedCentroids(s, dir)))
      SimilarityOps.ivfAppendToIndex(e.where(col("vec_id") % 2 === 1),
        idx, "vec_id", "embedding", tag = "odd")
      SimilarityOps.ivfProbeTopK(s, idx,
        e.where(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, nProbe = 16)
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- IVF index per-list stats gauge (the skew signal partition-
    //      prune economics depend on): build + tagged append, then one
    //      pruned agg pass; the oracle replays the frozen-centroid
    //      home-list assignment from the raw embeddings ----
    Q.dynamic("q_ivf_stats")(soleFit(ivfFitCache).map(ivfStatsOracleSql)) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val idx = graft.util.Scratch.path("ivf_stats_idx", dir)
      SimilarityOps.ivfWriteIndex(e.where(col("vec_id") < 300), idx,
        "vec_id", "embedding", nLists = 16,
        precomputed = Some(sharedCentroids(s, dir)))
      SimilarityOps.ivfAppendToIndex(e.where(col("vec_id") >= 300 && col("vec_id") < 400),
        idx, "vec_id", "embedding", tag = "day1")
      SimilarityOps.ivfIndexStats(s, idx)
    },

    // ---- PQ shortlist + exact re-rank, full-budget configuration:
    //      with shortlist ≥ |corpus| every candidate reaches the exact
    //      re-rank, so the output equals brute force REGARDLESS of
    //      quantization error and the brute oracle hash-checks the
    //      whole encode→decode→score→rerank pipeline ----
    Q("q_sim_topk_pq", duckBruteTopKSql) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val books = sharedCodebooks(s, dir)
      val codes = e.select(col("vec_id"),
        SimilarityOps.pqEncode(col("embedding"), books).as("codes"))
      SimilarityOps.pqTopKReranked(
        e.where(col("vec_id") < 20), e, codes, "vec_id", "vec_id",
        "embedding", "codes", books, k = 5, shortlist = Int.MaxValue)
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- PQ serving configuration: bounded shortlist (recall < 1 by
    //      design). Hash-checked: the oracle freezes the codebooks and
    //      replays encode → ADC shortlist(50) → exact rerank ----
    Q.dynamic("q_sim_topk_pq_approx")(
      soleFit(pqFitCache).map(b => pqApproxOracleSql(b, shortlist = 50, k = 5))) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val books = sharedCodebooks(s, dir)
      val codes = e.select(col("vec_id"),
        SimilarityOps.pqEncode(col("embedding"), books).as("codes"))
      SimilarityOps.pqTopKReranked(
        e.where(col("vec_id") < 20), e, codes, "vec_id", "vec_id",
        "embedding", "codes", books, k = 5, shortlist = 50)
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- IVF-PQ, full-budget configuration: nProbe = nLists covers
    //      every candidate, shortlist ≥ |corpus| sends them all to the
    //      exact re-rank — the billion-scale composition collapses to
    //      brute force by construction and the oracle hash-checks it ----
    Q("q_sim_topk_ivfpq", duckBruteTopKSql) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      SimilarityOps.ivfPqTopK(
        e.where(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding",
        k = 5, nLists = 16, nProbe = 16, m = 8, codebookK = 16,
        shortlist = Int.MaxValue,
        centroids = Some(sharedCentroids(s, dir)),
        codebooks = Some(sharedCodebooks(s, dir)))
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- materialized IVF-PQ index, full lifecycle: build the
    //      at-rest layout (code rows partitioned by list id) from the
    //      even vectors, append the odd ones with the frozen
    //      centroids+codebooks, probe at full budget → exact → brute
    //      oracle hash-checks build→append→prune→ADC→rerank ----
    Q("q_sim_topk_ivfpq_index", duckBruteTopKSql) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val idx = graft.util.Scratch.path("ivfpq_index", dir)
      SimilarityOps.ivfPqWriteIndex(
        e.where(col("vec_id") % 2 === 0), idx, "vec_id", "embedding",
        nLists = 16, m = 8, codebookK = 16,
        centroids = Some(sharedCentroids(s, dir)),
        codebooks = Some(sharedCodebooks(s, dir)))
      SimilarityOps.ivfPqAppendToIndex(e.where(col("vec_id") % 2 === 1),
        idx, "vec_id", "embedding", tag = "odd")
      SimilarityOps.ivfPqProbeTopK(s, idx, e,
        e.where(col("vec_id") < 20), "vec_id", "vec_id", "embedding",
        k = 5, nProbe = 16, shortlist = Int.MaxValue)
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- IVF-PQ serving configuration. Hash-checked: frozen centroids
    //      + codebooks replay probe(4) → ADC shortlist(50) → rerank ----
    Q.dynamic("q_sim_topk_ivfpq_approx")(
      for { c <- soleFit(ivfFitCache); b <- soleFit(pqFitCache) }
        yield ivfPqApproxOracleSql(c, b, nProbe = 4, shortlist = 50, k = 5)) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      SimilarityOps.ivfPqTopK(
        e.where(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding",
        k = 5, nLists = 16, nProbe = 4, m = 8, codebookK = 16, shortlist = 50,
        centroids = Some(sharedCentroids(s, dir)),
        codebooks = Some(sharedCodebooks(s, dir)))
        .select("query_id", "corpus_id", "cos", "rank")
    },

    // ---- PII redaction (emails/phones/IPs planted deterministically,
    //      since the fixture corpus is digit-free) ----
    Q("q_redact_pii",
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS text
        |FROM (SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0
        |            THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' call +32 2 555 0199 today' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |            THEN ' from 10.0.' || doc_id % 256 || '.7' ELSE '' END AS raw
        |  FROM documents)""".stripMargin) { (s, dir) =>
      val planted = Tables(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" call +32 2 555 0199 today")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" from 10.0."), col("doc_id") % 256, lit(".7")))
            .otherwise(lit(""))).as("raw"))
      planted.select(col("doc_id"), TextOps.redactPii(col("raw")).as("text"))
    },

    // ---- benchmark decontamination: distinct 8-gram overlap of every
    //      corpus doc against the eval set (doc_id < 25 stands in) ----
    Q("q_decontaminate", duckContaminationSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      DedupOps.contaminationCheck(docs, docs.where(col("doc_id") < 25),
        "doc_id", "text", shingleN = 8)
    },

    // ---- BLOOM-GATED decontamination (the 13-gram-filter pattern):
    //      benchmark shingles live as an at-rest bloom position
    //      artifact; corpus shingles provably absent never enter the
    //      exact join. Output IDENTICAL to the exact check (no false
    //      negatives; FP candidates fail the exact join) — same
    //      oracle ----
    Q("q_decontaminate_bloom", duckContaminationSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val bench = docs.where(col("doc_id") < 25)
      val idx = graft.util.Scratch.fresh("decontam_bloom", dir)
      DedupOps.benchmarkShingleBloom(bench, "text", idx, "suite0", shingleN = 8)
      DedupOps.contaminationCheckViaBloom(docs, bench, idx,
        "doc_id", "text", shingleN = 8)
    },

    // ---- web-text scrub: planted HTML wrappers / script payloads /
    //      escaped entities around the corpus text, then the full
    //      clean chain (block-drop → tag-strip → entity unescape →
    //      whitespace collapse) replayed step-for-step — every
    //      pattern in the shared Java-regex ∩ RE2 subset ----
    Q("q_clean_html",
      """WITH raw AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN '<html><body><p>' || text ||
        |           '</p><script type="text/javascript">var x = 1 &amp;&amp; 2;</script></body></html>'
        |         WHEN doc_id % 3 = 1 THEN '<div class="a">' || text ||
        |           ' &amp; more &lt;tags&gt;&nbsp;here</div>'
        |         ELSE text END AS r
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |    regexp_replace(r, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS r
        |  FROM raw),
        |s2 AS (SELECT doc_id, regexp_replace(r, '<[^>]*>', ' ', 'g') AS r FROM s1),
        |s3 AS (SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(r,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS r
        |  FROM s2)
        |SELECT doc_id, trim(regexp_replace(r, '\s+', ' ', 'g')) AS text FROM s3""".stripMargin) {
      (s, dir) =>
        val raw = when(col("doc_id") % 3 === 0,
            concat(lit("<html><body><p>"), col("text"),
              lit("</p><script type=\"text/javascript\">var x = 1 &amp;&amp; 2;</script></body></html>")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("<div class=\"a\">"), col("text"),
              lit(" &amp; more &lt;tags&gt;&nbsp;here</div>")))
          .otherwise(col("text"))
        Tables(s, dir, "documents")
          .select(col("doc_id"), TextOps.cleanWebText(raw).as("text"))
    },

    // ---- TF-IDF sparse text representation ----
    Q("q_tfidf",
      s"""WITH t AS (SELECT doc_id, unnest($duckWords) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |idf AS (SELECT term, ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
        |                        / count(*)) AS idf
        |        FROM tf GROUP BY term)
        |SELECT doc_id, tf.term AS term, tf,
        |  round(tf * idf, 6) AS tf_idf
        |FROM tf JOIN idf ON tf.term = idf.term""".stripMargin) { (s, dir) =>
      TextOps.tfidf(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ---- corpus-unigram log-prob (perplexity-proxy quality gate) ----
    Q("q_unigram_logprob",
      s"""WITH t AS (SELECT doc_id, unnest($duckWords) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |f AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term),
        |nn AS (SELECT count(*) AS n FROM t)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(floor(log10(CAST(c AS DOUBLE)) * 1e8 + 0.5) AS BIGINT) * tf)
        |             - (SELECT CAST(floor(log10(CAST(n AS DOUBLE)) * 1e8 + 0.5) AS BIGINT) FROM nn)
        |               * sum(tf) AS DOUBLE)
        |        / 1e8 / sum(tf), 6) AS mean_logp
        |FROM tf JOIN f USING (term)
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.unigramLogProb(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ---- stupid-backoff bigram LM quality score (Brants et al.
    //      2007): model trained on the even-doc_id half, the odd half
    //      scored against it — exercises all four branches (doc-start
    //      unigram, seen bigram, backoff to seen unigram, OOV floor) ----
    Q("q_bigram_logprob",
      s"""WITH wt AS (SELECT doc_id, $duckWords AS w FROM documents WHERE doc_id % 2 = 0),
        |ws AS (SELECT doc_id, $duckWords AS w FROM documents WHERE doc_id % 2 = 1),
        |tt AS (SELECT doc_id, unnest(w) AS term, unnest(range(1, len(w)+1)) AS pos FROM wt),
        |ts AS (SELECT doc_id, unnest(w) AS term, unnest(range(1, len(w)+1)) AS pos FROM ws),
        |ttp AS (SELECT doc_id, term, lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM tt),
        |tsp AS (SELECT doc_id, pos, term, lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM ts),
        |c1 AS (SELECT term, count(*) AS c FROM tt GROUP BY 1),
        |c2 AS (SELECT prev, term, count(*) AS c2 FROM ttp WHERE prev IS NOT NULL GROUP BY 1, 2),
        |nn AS (SELECT count(*) AS n FROM tt),
        |sc AS (SELECT tsp.doc_id,
        |         CASE
        |           WHEN tsp.prev IS NULL THEN
        |             CAST(floor(log10(CAST(coalesce(u.c, 1) AS DOUBLE)) * 1e8 + 0.5) AS BIGINT)
        |             - (SELECT CAST(floor(log10(CAST(n AS DOUBLE)) * 1e8 + 0.5) AS BIGINT) FROM nn)
        |           WHEN b.c2 IS NOT NULL THEN
        |             CAST(floor(log10(CAST(b.c2 AS DOUBLE)) * 1e8 + 0.5) AS BIGINT)
        |             - CAST(floor(log10(CAST(p.c AS DOUBLE)) * 1e8 + 0.5) AS BIGINT)
        |           ELSE
        |             CAST(floor(log10(0.4) * 1e8 + 0.5) AS BIGINT)
        |             + CAST(floor(log10(CAST(coalesce(u.c, 1) AS DOUBLE)) * 1e8 + 0.5) AS BIGINT)
        |             - (SELECT CAST(floor(log10(CAST(n AS DOUBLE)) * 1e8 + 0.5) AS BIGINT) FROM nn)
        |         END AS s8
        |       FROM tsp
        |       LEFT JOIN c1 u ON tsp.term = u.term
        |       LEFT JOIN c1 p ON tsp.prev = p.term
        |       LEFT JOIN c2 b ON tsp.prev = b.prev AND tsp.term = b.term)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(s8) AS DOUBLE) / 1e8 / count(*), 6) AS mean_logp
        |FROM sc GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      TextOps.bigramLogProbBackoff(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
    },

    // ---- corpus-level top-50 bigrams (boilerplate profiling) ----
    Q("q_top_ngrams",
      """WITH g AS (
        |  SELECT unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS ngram
        |  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 2)
        |SELECT ngram, count(*) AS n_occurrences FROM g GROUP BY ngram
        |ORDER BY n_occurrences DESC, ngram LIMIT 50""".stripMargin) { (s, dir) =>
      TextOps.topNgrams(Tables(s, dir, "documents"), "text", n = 2, k = 50)
    },

    // ---- corpus diversity: Shannon entropy of the source mix in
    //      bits — the balance dial for the mixture designer; snapped
    //      log2 of exact counts, order-free integer sum, fixed IEEE
    //      division chain, never re-rounded ----
    Q("q_source_entropy",
      """WITH c AS (SELECT source, count(*) AS c FROM documents
        |           WHERE source IS NOT NULL GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |        CAST(sum(c) AS BIGINT) AS n_rows,
        |        sum(CAST(floor(log2(CAST(c AS DOUBLE)) * 1e8 + 0.5) AS HUGEINT) * c) AS s8
        |      FROM c)
        |SELECT n_groups, n_rows,
        |  CAST(CAST(floor(log2(CAST(n_rows AS DOUBLE)) * 1e8 + 0.5) AS HUGEINT)
        |         * n_rows - s8 AS DOUBLE) / 1e8 / CAST(n_rows AS DOUBLE) AS entropy_bits
        |FROM a""".stripMargin) { (s, dir) =>
      graft.profile.ProfileOps.groupEntropy(Tables(s, dir, "documents"), "source")
    },

    // ---- corpus profiling: per-language length quantiles ----
    Q("q_len_quantiles",
      """SELECT lang, CAST(0.5 AS DOUBLE) AS p,
        |  round(quantile_cont(n_chars, 0.5), 6) AS value FROM documents GROUP BY lang
        |UNION ALL SELECT lang, CAST(0.9 AS DOUBLE),
        |  round(quantile_cont(n_chars, 0.9), 6) FROM documents GROUP BY lang
        |UNION ALL SELECT lang, CAST(0.99 AS DOUBLE),
        |  round(quantile_cont(n_chars, 0.99), 6) FROM documents GROUP BY lang""".stripMargin) { (s, dir) =>
      graft.extract.Extract.groupQuantiles(
        Tables(s, dir, "documents"), Seq("lang"), "n_chars", Seq(0.5, 0.9, 0.99))
    },

    // ---- deterministic train/val/test split by stable id hash ----
    Q("q_train_split",
      s"""SELECT doc_id,
        |  CASE WHEN b < 900000 THEN 'train'
        |       WHEN b < 950000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        ${duckHash("'split|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS b
        |      FROM documents)""".stripMargin) { (s, dir) =>
      TrainingOps.hashSplit(Tables(s, dir, "documents"), "doc_id",
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)), portable = true)
        .select("doc_id", "split")
    },

    // ---- LEAKAGE-SAFE split: splits assigned per near-dup GROUP so
    //      no duplicate cluster straddles train/test (the
    //      eval-inflation bug an id-hash split has on every cluster);
    //      oracle recomputes the closure and replays the group-id
    //      hash split ----
    Q("q_leakage_split", {
      s"""WITH RECURSIVE ${duckJaccardCtes(1000, 0.5, 3)},
        |e AS (SELECT id_a AS u, id_b AS v FROM jp UNION SELECT id_b, id_a FROM jp),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |cc AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
        |asg AS (SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS group_id
        |        FROM documents d LEFT JOIN cc ON cc.u = d.doc_id)
        |SELECT doc_id, group_id,
        |  CASE WHEN b < 900000 THEN 'train'
        |       WHEN b < 950000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, group_id,
        |        ${duckHash("'lsplit|' || CAST(group_id AS VARCHAR)")} % 1000000 AS b
        |      FROM asg)""".stripMargin
    }) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val (pairs, release) = graft.util.Materialize.scoped {
        DedupOps.ngramJaccardPairs(
          docs, "doc_id", "text", shingleN = 3, threshold = 0.5, maxBucket = 1000)
      }
      val cc = GraphOps.connectedComponents(pairs, "id_a", "id_b")
      release()
      TrainingOps.leakageSafeSplit(docs.select("doc_id"), "doc_id", cc,
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)),
        salt = "lsplit", portable = true)
        .select("doc_id", "group_id", "split")
    },

    // ---- the OPERATIONAL leakage-safe split: served from the AT-REST
    //      group index instead of an in-run closure — the daily shape
    //      where today's split must be stable against yesterday's
    //      stored clusters. The oracle recomputes the closure in full
    //      recursive SQL, so the hash match PROVES artifact-served ≡
    //      in-run on unchanged data ----
    Q("q_leakage_split_index", {
      s"""WITH RECURSIVE ${duckJaccardCtes(1000, 0.5, 3)},
        |e AS (SELECT id_a AS u, id_b AS v FROM jp UNION SELECT id_b, id_a FROM jp),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |cc AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
        |asg AS (SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS group_id
        |        FROM documents d LEFT JOIN cc ON cc.u = d.doc_id)
        |SELECT doc_id, group_id,
        |  CASE WHEN b < 900000 THEN 'train'
        |       WHEN b < 950000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, group_id,
        |        ${duckHash("'lsplit|' || CAST(group_id AS VARCHAR)")} % 1000000 AS b
        |      FROM asg)""".stripMargin
    }) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val ccIdx = graft.util.Scratch.path("leak_split_cc", dir)
      if (!new java.io.File(ccIdx).exists()) {
        val (pairs, release) = graft.util.Materialize.scoped {
          DedupOps.ngramJaccardPairs(
            docs, "doc_id", "text", shingleN = 3, threshold = 0.5, maxBucket = 1000)
        }
        GraphOps.writeGroupIndex(
          GraphOps.connectedComponents(pairs, "id_a", "id_b"), ccIdx)
        release()
      }
      TrainingOps.leakageSafeSplitFromIndex(docs.select("doc_id"), "doc_id",
        ccIdx, Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)),
        salt = "lsplit", portable = true)
        .select("doc_id", "group_id", "split")
    },

    // ---- the MODERN end-to-end assembly: bloom-gated
    //      decontamination → near-dup closure over the survivors →
    //      leakage-safe split — contaminated docs out first, then
    //      every remaining dup cluster lands wholly in one split;
    //      the oracle replays all three stages ----
    Q("q_decontam_dedup_split", {
      s"""WITH RECURSIVE w0 AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
        |c0 AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 8
        |             THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)])
        |             ELSE CAST([] AS VARCHAR[]) END AS s
        |      FROM w0),
        |bset AS (SELECT DISTINCT unnest(s) AS s FROM c0 WHERE doc_id < 25),
        |contam AS (SELECT DISTINCT e.doc_id
        |           FROM (SELECT doc_id, unnest(s) AS s FROM c0) e JOIN bset USING (s)),
        |clean AS (SELECT d.doc_id, d.text FROM documents d
        |          WHERE d.doc_id NOT IN (SELECT doc_id FROM contam)),
        |${duckJaccardCtes(1000, 0.5, 3, source = "clean")},
        |e AS (SELECT id_a AS u, id_b AS v FROM jp UNION SELECT id_b, id_a FROM jp),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |cc AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
        |asg AS (SELECT c.doc_id, COALESCE(cc.comp, c.doc_id) AS group_id
        |        FROM clean c LEFT JOIN cc ON cc.u = c.doc_id)
        |SELECT doc_id, group_id,
        |  CASE WHEN b < 900000 THEN 'train'
        |       WHEN b < 950000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, group_id,
        |        ${duckHash("'plsplit|' || CAST(group_id AS VARCHAR)")} % 1000000 AS b
        |      FROM asg)""".stripMargin
    }) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val bench = docs.where(col("doc_id") < 25)
      val bloomDir = graft.util.Scratch.fresh("pipeline_bloom", dir)
      DedupOps.benchmarkShingleBloom(bench, "text", bloomDir, "s0", shingleN = 8)
      // the assembly lives in graft.pipeline.DecontamPipeline —
      // clean-id set materialized ONCE (a lazy plan re-runs the whole
      // bloom gate per consumer: 185 s vs ~90 s of stage work at 100×
      // data), tier forced Exact so the oracle replay is
      // SF-independent. The ~8 B/doc clean-id blocks register with the
      // caller's Materialize scope.
      graft.pipeline.DecontamPipeline.decontamDedupSplit(docs, "doc_id", "text",
        bench, bloomDir, Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)),
        salt = "plsplit", tier = graft.pipeline.DecontamPipeline.Exact,
        jaccardThreshold = 0.5, portable = true)
    },

    // ---- the SIG-TIER assembly: same pipeline, but the near-dup
    //      stage is the banded-MinHash signature join instead of the
    //      exact n-gram Jaccard pair join. Per-stage timing at 10× and
    //      100× data (SCALING.md) makes the exact pair join the
    //      composition's SOLE 100× slope owner (13.0×/decade; every
    //      other stage ≤1.9×) and the sig tier its scale path — this
    //      registers that path as an oracle-gated query so the claim
    //      is executable, not prose.
    //      Signature cost is O(docs·k), bucketing is an equi-join on
    //      (band, key) with the same hot-bucket cap — no shingle²
    //      pair blowup at any scale. ----
    Q("q_decontam_dedup_split_sig", {
      s"""WITH RECURSIVE w0 AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
        |c0 AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 8
        |             THEN list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)])
        |             ELSE CAST([] AS VARCHAR[]) END AS s
        |      FROM w0),
        |bset AS (SELECT DISTINCT unnest(s) AS s FROM c0 WHERE doc_id < 25),
        |contam AS (SELECT DISTINCT e.doc_id
        |           FROM (SELECT doc_id, unnest(s) AS s FROM c0) e JOIN bset USING (s)),
        |clean AS (SELECT d.doc_id, d.text FROM documents d
        |          WHERE d.doc_id NOT IN (SELECT doc_id FROM contam)),
        |${duckMinhashCtesFrom("clean")},
        |mh AS (SELECT id_a, id_b FROM cand WHERE $duckMinhashEst >= 0.4),
        |e AS (SELECT id_a AS u, id_b AS v FROM mh UNION SELECT id_b, id_a FROM mh),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |cc AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
        |asg AS (SELECT c.doc_id, COALESCE(cc.comp, c.doc_id) AS group_id
        |        FROM clean c LEFT JOIN cc ON cc.u = c.doc_id)
        |SELECT doc_id, group_id,
        |  CASE WHEN b < 900000 THEN 'train'
        |       WHEN b < 950000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, group_id,
        |        ${duckHash("'plsplit|' || CAST(group_id AS VARCHAR)")} % 1000000 AS b
        |      FROM asg)""".stripMargin
    }) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val bench = docs.where(col("doc_id") < 25)
      val bloomDir = graft.util.Scratch.fresh("pipeline_bloom_sig", dir)
      DedupOps.benchmarkShingleBloom(bench, "text", bloomDir, "s0", shingleN = 8)
      // same assembly via DecontamPipeline, tier forced Sig — this
      // query IS the registered scale path (the Auto route above the
      // measured threshold), so the sig tier must run at every SF
      graft.pipeline.DecontamPipeline.decontamDedupSplit(docs, "doc_id", "text",
        bench, bloomDir, Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)),
        salt = "plsplit", tier = graft.pipeline.DecontamPipeline.Sig,
        sigK = SIG_K, sigBands = BANDS, sigThreshold = 0.4, portable = true)
    },

    // ---- deterministic per-language stratified sampling ----
    Q("q_stratified_sample",
      s"""SELECT doc_id, lang
        |FROM (SELECT doc_id, lang,
        |        ${duckHash("'sample|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS b
        |      FROM documents)
        |WHERE b < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 250000
        |                    ELSE 100000 END""".stripMargin) { (s, dir) =>
      TrainingOps.stratifiedSample(Tables(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.25), default = 0.1, portable = true)
        .select("doc_id", "lang")
    },

    // ---- per-source cap: anti-domination gate (keep the n best docs
    //      per source so no domain swamps the corpus) ----
    // ---- data-mixture sampling: downsample sources toward target
    //      weights (no upsampling — the binding source keeps all its
    //      rows and caps the feasible total); deterministic salted-
    //      hash Bernoulli, rates frozen from per-source counts. The
    //      oracle recomputes T = min(n/w) and the ppm cuts with the
    //      same IEEE op order ----
    Q("q_mixture",
      s"""WITH wts AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)) v(s, w)),
        |cnt AS (SELECT source AS s, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY source),
        |jt AS (SELECT cnt.s, cnt.n, wts.w FROM cnt JOIN wts USING (s) WHERE cnt.n > 0),
        |t AS (SELECT min(n / w) AS t FROM jt),
        |rates AS (SELECT s, CAST(round(w * t.t / n * 1000000) AS BIGINT) AS cut FROM jt, t)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN rates ON rates.s = d.source
        |WHERE ${duckHash("'mix|' || CAST(doc_id AS VARCHAR)")} % 1000000 < cut""".stripMargin) { (s, dir) =>
      TrainingOps.sampleToMixture(Tables(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), portable = true)
        .select("doc_id", "source")
    },

    Q("q_source_cap",
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20""".stripMargin) { (s, dir) =>
      TrainingOps.capPerGroup(Tables(s, dir, "documents"),
        "source", "doc_id", "n_chars", n = 20)
        .select("doc_id", "source")
    },

    // ---- token-budget corpus selection: biggest-docs-first until the
    //      budget fills (two-phase global cumsum — no single-task
    //      window; the oracle is the naive global window) ----
    Q("q_token_budget",
      s"""WITH t AS (SELECT doc_id, CAST(len($duckWords) AS BIGINT) AS n_tokens, n_chars
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT doc_id, n_tokens FROM c WHERE cum <= 20000""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"), col("n_chars"))
      TrainingOps.selectToTokenBudget(t, "doc_id", "n_tokens", "n_chars", budget = 20000L)
        .select("doc_id", "n_tokens")
    },

    // ---- within-doc repetition signals (Gopher-style repeat gates) ----
    Q("q_text_repetition",
      """WITH sh AS (
        |  SELECT doc_id, [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS gs
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 2),
        |ex AS (SELECT doc_id, unnest(gs) AS g FROM sh),
        |c AS (SELECT doc_id, g, count(*) AS c FROM ex GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
        |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_ngram_fraction,
        |  round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS dup_ngram_fraction
        |FROM c GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.repetitionSignals(Tables(s, dir, "documents"), "doc_id", "text", n = 2)
    },

    // ---- sequence packing: concat-and-chunk layout per shard ----
    Q("q_pack_sequences",
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len($duckWords) AS BIGINT) AS n_tokens,
        |    CAST(${duckHash("'pack|' || CAST(doc_id AS VARCHAR)")} % 8 AS INTEGER) AS shard
        |  FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                                    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS seq_start,
        |  CAST(floor((cum - 1) / 512) AS BIGINT) AS seq_end,
        |  CAST((cum - n_tokens) % 512 AS BIGINT) AS offset
        |FROM c""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      TrainingOps.packSequences(docs, "doc_id", "n_tokens",
        maxTokens = 512, nShards = 8, portable = true)
        .select("doc_id", "shard", "n_tokens", "seq_start", "seq_end", "offset")
    },

    // ---- deterministic epoch shuffle: seeded-hash total order as
    //      (bucket, rank-within-bucket) — reproducible across runs,
    //      engines, and partition layouts, unlike orderBy(rand()) ----
    Q("q_epoch_shuffle",
      s"""WITH h AS (SELECT doc_id,
        |    ${duckHash("'shuffle|1|' || CAST(doc_id AS VARCHAR)")} AS hv
        |  FROM documents)
        |SELECT doc_id, CAST(hv % 64 AS INTEGER) AS shuffle_bucket,
        |  CAST(row_number() OVER (PARTITION BY hv % 64 ORDER BY hv, doc_id)
        |       AS INTEGER) AS shuffle_rank
        |FROM h""".stripMargin) { (s, dir) =>
      TrainingOps.epochShuffle(Tables(s, dir, "documents").select("doc_id"),
        "doc_id", epoch = 1, nBuckets = 64, portable = true)
    },

    // ---- corpus-level quality gate: keep EXACTLY the top 25% by
    //      score (ties id-broken) via the two-phase bucketed
    //      cumulative count — no global-order window ----
    Q("q_quantile_gate",
      s"""WITH n AS (SELECT CAST(floor(count(*) * 0.25) AS BIGINT) AS k FROM documents)
        |SELECT doc_id, n_chars FROM documents, n
        |QUALIFY row_number() OVER (ORDER BY n_chars DESC, doc_id) <= k""".stripMargin) {
      (s, dir) =>
        TrainingOps.quantileGate(Tables(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", "n_chars", keepFraction = 0.25)
    },

    // ---- fixed-point PageRank over the supplier↔customer trade
    //      graph: integer (ppb-scaled) arithmetic makes every rank
    //      bit-identical across runs, partitionings, and engines —
    //      the oracle replays all iterations exactly, no FP drift ----
    Q("q_pagerank", duckPageRankSql(iters = 6, scale = 1000000000L)) { (s, dir) =>
      val sc = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(Tables(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast(LongType).as("src"),
          (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
      GraphOps.pageRank(symmetrize(sc),
        "src", "dst", iterations = 6)
        .withColumnRenamed("rank", "rank_ppb")
    },

    // ---- deterministic synchronous label propagation (Raghavan et
    //      al. 2007): 3 rounds over the supplier–customer bipartite
    //      graph, mode-of-neighbours with min-label ties — the oracle
    //      unrolls every round ----
    Q("q_label_prop", duckLpaSql(rounds = 3)) { (s, dir) =>
      GraphOps.labelPropagation(lpaTradeEdges(s, dir), "src", "dst", iterations = 3)
    },

    // ---- LPA iterated to a fixpoint (1-scalar changed-count checksum
    //      per round, the pageRankConverged discipline) on a sparser
    //      slice of the trade graph. The oracle is GENERATED from the
    //      round count the run actually took (the fitted-quantizer
    //      mechanism), so the replay is exact whether the state
    //      converged or hit the cap — synchronous LPA can 2-cycle on
    //      bipartite regions, and the cap report is the honest answer ----
    Q.dynamic("q_label_prop_converged")(
      Option(lpaItersCache.get("conv"))
        .map(n => duckLpaSql(n.intValue, " WHERE o.o_custkey % 5 = 0"))) { (s, dir) =>
      val (labels, iters) = GraphOps.labelPropagationConverged(
        lpaTradeEdges(s, dir, custFilter = Some(5)), "src", "dst", maxIterations = 8)
      lpaItersCache.put("conv", iters)
      labels
    },

    // ---- graph FEATURE aggregation: average/sum account balance over
    //      every node's distinct 2-hop trade neighborhood (for a
    //      supplier: its customers + suppliers sharing a customer) —
    //      exact decimal sums, one IEEE division; the feature column a
    //      downstream model joins on ----
    // ---- 2-hop feature aggregation with the fan-out cap engaged: the
    //      supplier↔customer graph is DENSE bipartite (uncapped 2-hop
    //      = hundreds of millions of rows at sf0.1 — measured at
    //      240 s), so each intermediate node expands only its 32
    //      smallest-id neighbors, bounding the self-join at |E|·32 ----
    Q("q_neighborhood_agg",
      """WITH sc AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |    CAST(o_custkey + 1000000 AS BIGINT) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM sc UNION SELECT dst, src FROM sc),
        |e2c AS (SELECT m, d2 FROM (SELECT src AS m, dst AS d2,
        |          row_number() OVER (PARTITION BY src ORDER BY dst) AS rn FROM e)
        |        WHERE rn <= 32),
        |two AS (SELECT e.src, c.d2 AS dst FROM e JOIN e2c c ON e.dst = c.m
        |        WHERE c.d2 <> e.src),
        |nbr AS (SELECT src, dst FROM e UNION SELECT src, dst FROM two),
        |v AS (SELECT CAST(s_suppkey AS BIGINT) AS node,
        |        CAST(s_acctbal AS DECIMAL(12,2)) AS val FROM supplier
        |      UNION ALL
        |      SELECT CAST(c_custkey + 1000000 AS BIGINT),
        |        CAST(c_acctbal AS DECIMAL(12,2)) FROM customer)
        |SELECT nbr.src AS node, count(*) AS n_neighbors,
        |  CAST(sum(v.val) AS DOUBLE) AS sum_val,
        |  CAST(sum(v.val) AS DOUBLE) / count(*) AS avg_val
        |FROM nbr JOIN v ON v.node = nbr.dst
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val sc = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(Tables(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast(LongType).as("src"),
          (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
      val edges = symmetrize(sc)
      val values = Tables(s, dir, "supplier")
        .select(col("s_suppkey").cast(LongType).as("node"), col("s_acctbal").as("val"))
        .unionAll(Tables(s, dir, "customer")
          .select((col("c_custkey") + 1000000L).cast(LongType).as("node"),
            col("c_acctbal").as("val")))
      GraphOps.neighborhoodAgg(edges, "src", "dst", values, "node", "val",
        hops = 2, maxDegree = 32)
    },

    // ---- UNBIASED deterministic 2-hop cap: the smallest-id
    //      truncation above is id-correlated (ids encoding time or
    //      source bias the sampled neighborhood); this variant orders
    //      the cap by a salted portable hash of the neighbor id — a
    //      fixed unbiased sample, every rank replayed by the oracle
    //      from the same md5 arithmetic ----
    Q("q_neighborhood_sample",
      s"""WITH sc AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |    CAST(o_custkey + 1000000 AS BIGINT) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM sc UNION SELECT dst, src FROM sc),
        |e2c AS (SELECT m, d2 FROM (SELECT src AS m, dst AS d2,
        |          row_number() OVER (PARTITION BY src ORDER BY
        |            ${duckHash("'nbh|' || CAST(dst AS VARCHAR)")}, dst) AS rn FROM e)
        |        WHERE rn <= 8),
        |two AS (SELECT e.src, c.d2 AS dst FROM e JOIN e2c c ON e.dst = c.m
        |        WHERE c.d2 <> e.src),
        |nbr AS (SELECT src, dst FROM e UNION SELECT src, dst FROM two),
        |v AS (SELECT CAST(s_suppkey AS BIGINT) AS node,
        |        CAST(s_acctbal AS DECIMAL(12,2)) AS val FROM supplier
        |      UNION ALL
        |      SELECT CAST(c_custkey + 1000000 AS BIGINT),
        |        CAST(c_acctbal AS DECIMAL(12,2)) FROM customer)
        |SELECT nbr.src AS node, count(*) AS n_neighbors,
        |  CAST(sum(v.val) AS DOUBLE) AS sum_val,
        |  CAST(sum(v.val) AS DOUBLE) / count(*) AS avg_val
        |FROM nbr JOIN v ON v.node = nbr.dst
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val sc = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(Tables(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast(LongType).as("src"),
          (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
      val edges = symmetrize(sc)
      val values = Tables(s, dir, "supplier")
        .select(col("s_suppkey").cast(LongType).as("node"), col("s_acctbal").as("val"))
        .unionAll(Tables(s, dir, "customer")
          .select((col("c_custkey") + 1000000L).cast(LongType).as("node"),
            col("c_acctbal").as("val")))
      GraphOps.neighborhoodAgg(edges, "src", "dst", values, "node", "val",
        hops = 2, maxDegree = 8, sampleSalt = Some("nbh"), portable = true)
    },

    // ---- the SUBLINEAR 2-hop tier: walk-multiset
    //      aggregate computed by combining per-node 1-hop stat
    //      tranches — O(|E|) shuffled rows, no E·cap pair
    //      materialization, no global distinct; exact for walk
    //      semantics, so the oracle replays it as the literal
    //      walk-set SQL and the hash gate applies. Sparser trade
    //      slice (cust % 17) keeps the ORACLE's materialized walk
    //      join bounded at sf0.1 — the engine side never builds it ----
    Q("q_neighborhood_paths",
      """WITH sc AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |    CAST(o_custkey + 1000000 AS BIGINT) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey % 17 = 0),
        |e AS (SELECT src, dst FROM sc UNION SELECT dst, src FROM sc),
        |v AS (SELECT CAST(s_suppkey AS BIGINT) AS node,
        |        CAST(s_acctbal AS DECIMAL(12,2)) AS val FROM supplier
        |      UNION ALL
        |      SELECT CAST(c_custkey + 1000000 AS BIGINT),
        |        CAST(c_acctbal AS DECIMAL(12,2)) FROM customer),
        |one AS (SELECT e.src, v.val FROM e JOIN v ON v.node = e.dst),
        |two AS (SELECT a.src, v.val FROM e a JOIN e b ON b.src = a.dst
        |        JOIN v ON v.node = b.dst WHERE b.dst <> a.src),
        |w AS (SELECT * FROM one UNION ALL SELECT * FROM two)
        |SELECT src AS node, CAST(count(*) AS BIGINT) AS n_paths,
        |  CAST(sum(val) AS DOUBLE) AS sum_val,
        |  CAST(sum(val) AS DOUBLE) / count(*) AS avg_val
        |FROM w GROUP BY 1""".stripMargin) { (s, dir) =>
      val sc = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(Tables(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("o_custkey") % 17 === 0)
        .select(col("l_suppkey").cast(LongType).as("src"),
          (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
      val edges = symmetrize(sc)
      val values = Tables(s, dir, "supplier")
        .select(col("s_suppkey").cast(LongType).as("node"), col("s_acctbal").as("val"))
        .unionAll(Tables(s, dir, "customer")
          .select((col("c_custkey") + 1000000L).cast(LongType).as("node"),
            col("c_acctbal").as("val")))
      GraphOps.neighborhoodAggPaths(edges, "src", "dst", values, "node", "val")
    },

    // ---- PERSONALIZED PageRank: teleport re-aimed at suppliers
    //      {1,2,3} — random walks restart at the seeds, so rank is
    //      proximity-weighted importance relative to them (the
    //      graph-walk recommendation primitive); same integer
    //      recursion, oracle replays all 6 iterations with the seed
    //      CASE swapped in ----
    Q("q_pagerank_seeded", duckPprSql(iters = 6, scale = 1000000000L,
      seeds = Seq(1L, 2L, 3L))) { (s, dir) =>
      val sc = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(Tables(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast(LongType).as("src"),
          (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
      GraphOps.pageRankPersonalized(
        symmetrize(sc),
        "src", "dst", seeds = Seq(1L, 2L, 3L), iterations = 6)
        .withColumnRenamed("rank", "rank_ppb")
    },

    // ---- WARM-START PageRank through the AT-REST rank artifact: the
    //      3-iteration prior vector lives as an atomic-swap artifact
    //      (born once per process — the operational daily-refresh
    //      reads yesterday's vector, it does not recompute it), and
    //      the measured shape is read-artifact → continue 3 more
    //      iterations → swap the refreshed vector out → read back.
    //      Bit-identical to 6 straight iterations (the oracle replays
    //      6): continuation is exact, and the artifact round-trip
    //      changes no bit. The convergence dividend (fewer rounds to
    //      tol after an edge-tranche append) is spec-gated in
    //      GraphOpsSpec; a warm entry that recomputed its prior inline
    //      would bench SLOWER than cold-start, which this shape
    //      rules out ----
    Q("q_pagerank_warm", duckPageRankSql(iters = 6, scale = 1000000000L)) { (s, dir) =>
      val sc = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(Tables(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast(LongType).as("src"),
          (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
      val edges = symmetrize(sc)
      val priorDir = graft.util.Scratch.path("pagerank_prior", dir)
      // birth the prior ONCE (pid-scoped scratch: always fresh per
      // process, so a regenerated fixture can never leak a stale
      // vector in); updateRankIndex from an absent artifact = uniform
      // start, releasing its state once the artifact is durable
      if (!new java.io.File(priorDir).exists())
        GraphOps.updateRankIndex(s, priorDir, edges, "src", "dst", iterations = 3)
      // the daily-refresh shape, prior kept frozen so every run of
      // this query continues from the same 3-iteration vector
      GraphOps.updateRankIndex(s, priorDir, edges, "src", "dst", iterations = 3,
          outDir = Some(graft.util.Scratch.path("pagerank_warm_out", dir)))
        .withColumnRenamed("rank", "rank_ppb")
    },

    // ---- at-rest GROUP index lifecycle: CC over half the pairs →
    //      atomic-swap artifact → warm-start refresh with the other
    //      half through the stored assignment → read back; the oracle
    //      is the whole-history closure, so artifact round-trip +
    //      incremental refresh ≡ rebuild is proven by hash match ----
    Q("q_cc_index", duckDupGroupsSql(maxBucket = 1000, threshold = 0.5)) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val (pairs, release) = graft.util.Materialize.scoped {
        DedupOps.ngramJaccardPairs(
          docs, "doc_id", "text", shingleN = 3, threshold = 0.5, maxBucket = 1000)
      }
      val half = pmod(xxhash64(lit("cci"), col("id_a"), col("id_b")), lit(2))
      val gDir = graft.util.Scratch.fresh("cc_group_index", dir)
      GraphOps.writeGroupIndex(
        GraphOps.connectedComponents(pairs.where(half === 0), "id_a", "id_b"), gDir)
      val cc = GraphOps.updateGroupIndex(s, gDir,
        pairs.where(half === 1), "id_a", "id_b")
      release()
      GraphOps.assignGroups(docs, "doc_id", cc)
    },

    // ---- group-index content gauge: cluster-shape sanity ("did one
    //      giant component eat the corpus") from the stored node-sized
    //      assignment; oracle recomputes the closure and aggregates ----
    Q("q_cc_index_stats",
      s"""WITH RECURSIVE ${duckJaccardCtes(1000, 0.5, 3)},
        |e AS (SELECT id_a AS u, id_b AS v FROM jp UNION SELECT id_b, id_a FROM jp),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |cc AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
        |g AS (SELECT comp, count(*) AS sz FROM cc GROUP BY 1)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_nodes,
        |  CAST(count(*) AS BIGINT) AS n_components,
        |  CAST(max(sz) AS BIGINT) AS max_group_size
        |FROM g""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val (pairs, release) = graft.util.Materialize.scoped {
        DedupOps.ngramJaccardPairs(
          docs, "doc_id", "text", shingleN = 3, threshold = 0.5, maxBucket = 1000)
      }
      val gDir = graft.util.Scratch.fresh("cc_group_index_stats", dir)
      GraphOps.writeGroupIndex(
        GraphOps.connectedComponents(pairs, "id_a", "id_b"), gDir)
      release()
      GraphOps.groupIndexStats(s, gDir)
    },

    // ---- WARM-START connected components: yesterday's group
    //      assignment (CC over half the near-dup pairs, re-encoded as
    //      its spanning star) plus only today's new pairs reproduces
    //      the full-rebuild grouping bit for bit — the oracle is the
    //      very q_dedup_groups closure over ALL pairs, so append ≡
    //      rebuild is proven by hash match, not by a self-comparison ----
    Q("q_cc_incremental", duckDupGroupsSql(maxBucket = 1000, threshold = 0.5)) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val (pairs, release) = graft.util.Materialize.scoped {
        DedupOps.ngramJaccardPairs(
          docs, "doc_id", "text", shingleN = 3, threshold = 0.5, maxBucket = 1000)
      }
      val half = pmod(xxhash64(lit("ccw"), col("id_a"), col("id_b")), lit(2))
      val prior = GraphOps.connectedComponents(
        pairs.where(half === 0), "id_a", "id_b")
      val cc = GraphOps.connectedComponentsFrom(
        prior, pairs.where(half === 1), "id_a", "id_b")
      release()
      GraphOps.assignGroups(docs, "doc_id", cc)
    },

    // ---- multimodal: payload metadata through the REAL decode path
    //      (PNG headers parse to true dimensions; the text fixtures are
    //      not PNGs, so they exercise the deterministic stub fallback
    //      the oracle replays — the real-parse branch is spec-gated) ----
    Q("q_mm_meta",
      s"""SELECT doc_id AS media_id, CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
        |  CAST(64 + (${duckHash("md5(text)")} % 1217) AS INTEGER) AS width,
        |  CAST(64 + (${duckHash("md5(text)")} % 977) AS INTEGER) AS height,
        |  3 AS channels
        |FROM documents""".stripMargin) { (s, dir) =>
      MultimodalOps.decodeMeta(
        MultimodalOps.attachBinary(Tables(s, dir, "documents"), "doc_id", "text", "text"))
        .select("media_id", "n_bytes", "width", "height", "channels")
    },

    // ---- multimodal: stub resize over decoded metadata ----
    Q("q_mm_resize",
      s"""WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(64 + (${duckHash("md5(text)")} % 1217) AS INTEGER) AS w,
        |    CAST(64 + (${duckHash("md5(text)")} % 977) AS INTEGER) AS h
        |  FROM documents),
        |s AS (SELECT *, least(1.0, 128.0 / greatest(w, h)) AS sc FROM m)
        |SELECT media_id,
        |  CAST(floor(w * sc) AS INTEGER) AS width,
        |  CAST(floor(h * sc) AS INTEGER) AS height
        |FROM s""".stripMargin) { (s, dir) =>
      MultimodalOps.fakeResize(
        MultimodalOps.decodeMeta(
          MultimodalOps.attachBinary(Tables(s, dir, "documents"), "doc_id", "text", "image")),
        maxSide = 128)
        .select("media_id", "width", "height")
    },

    // ---- multimodal: frame sampling explode ----
    Q("q_mm_frames",
      """SELECT doc_id AS media_id,
        |  unnest(range(0, CAST(floor(octet_length(text::BLOB) / 100) AS INTEGER) + 1, 10)) AS frame_idx
        |FROM documents""".stripMargin) { (s, dir) =>
      MultimodalOps.sampleFrames(
        MultimodalOps.attachBinary(Tables(s, dir, "documents"), "doc_id", "text", "video"),
        bytesPerFrame = 100, step = 10)
    },

    // ---- multimodal: audio metadata through the REAL decode path
    //      (canonical PCM WAV headers parse to true rate/channels/
    //      duration; the text fixtures are not WAVs, so they exercise
    //      the deterministic stub fallback the oracle replays — the
    //      real-parse branch is spec-gated like the PNG one) ----
    Q("q_mm_audio",
      s"""SELECT doc_id AS media_id,
        |  CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
        |  16000 AS sample_rate,
        |  CAST(1 + (${duckHash("md5(text)")} % 2) AS INTEGER) AS channels,
        |  16 AS bits_per_sample,
        |  CAST((500 + (${duckHash("md5(text)")} % 60000)) * 16 AS BIGINT) AS n_frames,
        |  CAST(500 + (${duckHash("md5(text)")} % 60000) AS BIGINT) AS duration_ms,
        |  false AS decoded_wav
        |FROM documents""".stripMargin) { (s, dir) =>
      MultimodalOps.decodeAudioMeta(
        MultimodalOps.attachBinary(Tables(s, dir, "documents"), "doc_id", "text", "audio"))
        .select("media_id", "n_bytes", "sample_rate", "channels",
          "bits_per_sample", "n_frames", "duration_ms", "decoded_wav")
    },

    // ---- multimodal: batched per-partition feature extraction. The
    //      kernel is a deterministic byte-statistics STUB, so DuckDB can
    //      reproduce it exactly (documents.text is ASCII: char codes =
    //      UTF-8 bytes) — the mapPartitions plumbing, encoders, and
    //      batch shape are hash-checked end-to-end ----
    Q("q_mm_features",
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(string_split(text, '')::VARCHAR[], c -> ascii(c))) AS DOUBLE)
        |    / octet_length(text::BLOB) AS mean_byte,
        |  CAST(ascii(text) AS INTEGER) AS first_byte
        |FROM documents""".stripMargin) { (s, dir) =>
      MultimodalOps.decodeBatched(s,
        MultimodalOps.attachBinary(asciiGuarded(Tables(s, dir, "documents")),
          "doc_id", "text", "image"))
        .toDF()
    },

    // ---- multimodal: PERCEPTUAL near-dup pairs — 64-bit dHash
    //      (9×8 grayscale gradient grid) through the banded-hamming
    //      pigeonhole the SimHash tier uses. The fixtures are not
    //      PNGs, so every payload takes the deterministic byte-grid
    //      stub tier, which the oracle replays bit for bit (the 64
    //      comparison terms and the band join below mirror the engine
    //      kernel exactly; the REAL decoded tier is spec-gated
    //      banded≡brute on in-test PNGs) ----
    Q("q_mm_near_dup",
      s"""WITH ${duckDHashCtes()},
        |${duckDHashPairCtes(6, 10000)}
        |SELECT id_a, id_b, hamming FROM hp""".stripMargin) { (s, dir) =>
      MultimodalOps.imageNearDupPairs(s,
        MultimodalOps.attachBinary(asciiGuarded(Tables(s, dir, "documents")),
          "doc_id", "text", "image"))
        .select(col("id_a"), col("id_b"), col("hamming").cast(IntegerType))
    },

    // ---- multimodal: TRANSITIVE image near-dup groups — the dHash
    //      pair graph closed under connectedness; oracle replays the
    //      closure via recursive min-label reach ----
    Q("q_mm_dedup_groups",
      s"""WITH RECURSIVE ${duckDHashCtes()},
        |${duckDHashPairCtes(6, 10000)},
        |e AS (SELECT id_a AS u, id_b AS v FROM hp UNION SELECT id_b, id_a FROM hp),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |cc AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
        |asg AS (SELECT d.doc_id AS media_id, COALESCE(cc.comp, d.doc_id) AS group_id
        |        FROM documents d LEFT JOIN cc ON cc.u = d.doc_id)
        |SELECT media_id, group_id,
        |  CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
        |FROM asg""".stripMargin) { (s, dir) =>
      MultimodalOps.imageNearDupGroups(s,
        MultimodalOps.attachBinary(asciiGuarded(Tables(s, dir, "documents")),
          "doc_id", "text", "image"))
    },

    // ---- multimodal: the image-dedup STEADY STATE — today's batch
    //      probed against the at-rest 9-byte/image hash index; the
    //      oracle brute-forces the hamming match (equivalent by
    //      pigeonhole: 8 bands > maxHamming 6, and no history bucket
    //      reaches the cap at fixture scale) ----
    Q("q_mm_dedup_index",
      s"""WITH ${duckDHashCtes()},
        |hist AS (SELECT DISTINCT doc_id, sig FROM sig WHERE doc_id < 300),
        |batch AS (SELECT doc_id, sig FROM sig WHERE doc_id >= 300),
        |hit AS (SELECT DISTINCT b.doc_id FROM batch b
        |        JOIN hist h ON bit_count(xor(b.sig, h.sig)) <= 6)
        |SELECT b.doc_id AS media_id, b.sig AS dhash
        |FROM batch b WHERE b.doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin) {
      (s, dir) =>
        val media = MultimodalOps.attachBinary(
          asciiGuarded(Tables(s, dir, "documents")), "doc_id", "text", "image")
        val idx = graft.util.Scratch.path("mm_hash_idx", dir)
        if (!new java.io.File(idx).exists())
          MultimodalOps.writeImageHashTranche(s,
            media.where(col("media_id") < 300), idx, "day0")
        MultimodalOps.imageDedupAgainstIndex(s,
          media.where(col("media_id") >= 300), idx)
          .select("media_id", "dhash")
    },

    // ---- mergeable distinct sketch: HLL register build + raw
    //      estimate, every register bit integer-replayed (the rho CASE
    //      chain and scaled-term literals come from the same generator
    //      both engines run — no libm op anywhere) ----
    Q("q_hll_estimate", {
      import graft.profile.Sketches._
      val b = 10; val m = 1L << b; val nb = 60 - b
      s"""WITH h AS (SELECT ${duckHash("CAST(l_partkey AS VARCHAR)")} AS hv
        |  FROM lineitem WHERE l_partkey IS NOT NULL),
        |r AS (SELECT CAST(hv & ${m - 1} AS INTEGER) AS bucket, (hv // $m) AS w FROM h),
        |rr AS (SELECT bucket, ${rhoCaseSql("w", nb, "//")} AS rho FROM r),
        |sk AS (SELECT bucket, max(rho) AS max_rho FROM rr GROUP BY bucket),
        |s AS (SELECT count(*) AS n_present,
        |        CAST(sum(${termCaseSql("max_rho", b)}) AS BIGINT) AS sp FROM sk)
        |SELECT CAST(${alphaNumerator(b)} AS DOUBLE)
        |         / CAST(sp + ($m - n_present) * ${1L << (nb + 1)} AS DOUBLE) AS n_estimate,
        |  n_present,
        |  (SELECT count(DISTINCT l_partkey) FROM lineitem) AS n_exact
        |FROM s""".stripMargin
    }) { (s, dir) =>
      import graft.profile.Sketches
      val li = Tables(s, dir, "lineitem")
      val est = Sketches.hllEstimate(Sketches.hllSketch(li, "l_partkey", b = 10), b = 10)
      // 1×1 broadcast singleton join: calibration column, not a fan-out
      est.crossJoin(
        li.agg(count_distinct(col("l_partkey")).as("n_exact")))
    },

    // ---- sketch MERGE ≡ sketch of the union: the engine sketches two
    //      disjoint halves and merges register-wise; the oracle
    //      sketches the whole table in one pass. Register-row identity
    //      proves the mergeability a daily rollup relies on ----
    Q("q_hll_merge", {
      import graft.profile.Sketches._
      val b = 10; val m = 1L << b; val nb = 60 - b
      s"""WITH h AS (SELECT ${duckHash("CAST(o_custkey AS VARCHAR)")} AS hv
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |r AS (SELECT CAST(hv & ${m - 1} AS INTEGER) AS bucket, (hv // $m) AS w FROM h),
        |rr AS (SELECT bucket, ${rhoCaseSql("w", nb, "//")} AS rho FROM r)
        |SELECT bucket, CAST(max(rho) AS INTEGER) AS max_rho FROM rr GROUP BY bucket""".stripMargin
    }) { (s, dir) =>
      import graft.profile.Sketches
      val o = Tables(s, dir, "orders")
      Sketches.hllMerge(
        Sketches.hllSketch(o.where(col("o_orderkey") % 2 === 0), "o_custkey"),
        Sketches.hllSketch(o.where(col("o_orderkey") % 2 === 1), "o_custkey"))
    },

    // ---- the at-rest sketch ARTIFACT path: two tagged tranches
    //      written, merged on read — register-identical to one pass
    //      over the whole table (tranche boundaries can't change the
    //      answer; the streaming loop rides the same protocol) ----
    Q("q_hll_tranches", {
      import graft.profile.Sketches._
      val b = 10; val m = 1L << b; val nb = 60 - b
      s"""WITH h AS (SELECT ${duckHash("CAST(l_suppkey AS VARCHAR)")} AS hv
        |  FROM lineitem WHERE l_suppkey IS NOT NULL),
        |r AS (SELECT CAST(hv & ${m - 1} AS INTEGER) AS bucket, (hv // $m) AS w FROM h),
        |rr AS (SELECT bucket, ${rhoCaseSql("w", nb, "//")} AS rho FROM r)
        |SELECT bucket, CAST(max(rho) AS INTEGER) AS max_rho FROM rr GROUP BY bucket""".stripMargin
    }) { (s, dir) =>
      import graft.profile.Sketches
      val li = Tables(s, dir, "lineitem")
      val skDir = graft.util.Scratch.path("hll_tranches", dir)
      Sketches.writeSketchTranche(
        Sketches.hllSketch(li.where(col("l_orderkey") % 2 === 0), "l_suppkey"),
        skDir, tag = "day0")
      Sketches.writeSketchTranche(
        Sketches.hllSketch(li.where(col("l_orderkey") % 2 === 1), "l_suppkey"),
        skDir, tag = "day1")
      Sketches.readSketch(s, skDir)
    },

    // ---- sketch-side intersection estimate (inclusion–exclusion over
    //      three register-replay estimates; negative results possible
    //      and honest — the raw-sketch error contract) ----
    Q("q_hll_intersect", {
      import graft.profile.Sketches._
      val b = 10; val m = 1L << b; val nb = 60 - b
      def sk(p: String, where: String) =
        s"""${p}h AS (SELECT ${duckHash("CAST(o_custkey AS VARCHAR)")} AS hv
          |  FROM orders WHERE ($where) AND o_custkey IS NOT NULL),
          |${p}r AS (SELECT CAST(hv & ${m - 1} AS INTEGER) AS bucket, (hv // $m) AS w FROM ${p}h),
          |${p}sk AS (SELECT bucket, max(${rhoCaseSql("w", nb, "//")}) AS max_rho
          |  FROM ${p}r GROUP BY bucket)""".stripMargin
      def est(p: String, skName: String) =
        s"""$p AS (SELECT CAST(${alphaNumerator(b)} AS DOUBLE)
          |  / CAST(sp + ($m - np) * ${1L << (nb + 1)} AS DOUBLE) AS v
          |  FROM (SELECT count(*) AS np,
          |          CAST(sum(${termCaseSql("max_rho", b)}) AS BIGINT) AS sp
          |        FROM (SELECT bucket, max(max_rho) AS max_rho FROM $skName GROUP BY bucket)))""".stripMargin
      s"""WITH ${sk("a", "o_orderkey % 2 = 0")},
        |${sk("b", "o_orderkey % 3 = 0")},
        |usk AS (SELECT * FROM ask UNION ALL SELECT * FROM bsk),
        |${est("ea", "ask")},
        |${est("eb", "bsk")},
        |${est("eu", "usk")}
        |SELECT ea.v + eb.v - eu.v AS n_intersect_estimate,
        |  ea.v AS n_a, eb.v AS n_b, eu.v AS n_union
        |FROM ea, eb, eu""".stripMargin
    }) { (s, dir) =>
      import graft.profile.Sketches
      val o = Tables(s, dir, "orders")
      Sketches.hllIntersectEstimate(
        Sketches.hllSketch(o.where(col("o_orderkey") % 2 === 0), "o_custkey"),
        Sketches.hllSketch(o.where(col("o_orderkey") % 3 === 0), "o_custkey"))
    },

    // ---- rolling distinct from per-day sketch artifacts: the sketch
    //      twin of q_rolling_dau — registers fan out across the
    //      trailing window, never events or user-days; O(m) per day
    //      at any cardinality ----
    Q("q_hll_rolling", duckHllRollingSql(7)) { (s, dir) =>
      graft.profile.Sketches.hllRollingEstimate(
        Tables(s, dir, "events").where(col("event_type") === "purchase"),
        "user_id", "ts", windowDays = 7)
    },

    // ---- rolling distinct-count from the AT-REST day-keyed register
    //      artifact: split-ingest tranches + a plain max-rewrite fold
    //      (idempotent algebra — no protocol), the 90-day-MAU series
    //      read from registers with zero event access; same oracle as
    //      the inline form (register-identical by construction) ----
    Q("q_hll_rolling_index", duckHllRollingSql(7)) { (s, dir) =>
      import graft.profile.Sketches
      val ev = Tables(s, dir, "events").where(col("event_type") === "purchase")
      val idx = graft.util.Scratch.fresh("dayhll_idx", dir)
      val half = pmod(xxhash64(lit("dhll"), col("event_id")), lit(2))
      twoTranches(i =>
        Sketches.writeDayHllTranche(ev.where(half === i), "user_id", "ts", idx, s"t$i"))
      Sketches.consolidateDayHll(s, idx)
      Sketches.hllRollingFromIndex(s, idx, windowDays = 7)
    },

    // ---- capped co-occurrence projection (market-basket pairs):
    //      parts meeting in the same order, every group truncated to
    //      its 8 smallest part ids BEFORE any pair exists — bounded
    //      fan-out, no self-join in the engine plan (in-row pair
    //      expansion); the oracle takes the self-join road to the same
    //      rows ----
    Q("q_cooccurrence",
      """WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |c AS (SELECT g, i FROM m
        |      QUALIFY row_number() OVER (PARTITION BY g ORDER BY i) <= 8)
        |SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_groups
        |FROM c a JOIN c b ON a.g = b.g AND a.i < b.i
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
      GraphOps.coOccurrencePairs(Tables(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", maxPerGroup = 8, minCount = 2)
    },

    // ---- association strength over the same capped projection:
    //      lift = n_pair·N / (n_a·n_b), margins counted over the SAME
    //      capped set the pairs came from; exact integer counts, one
    //      IEEE division ----
    Q("q_cooccurrence_lift",
      """WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |c AS (SELECT g, i FROM m
        |      QUALIFY row_number() OVER (PARTITION BY g ORDER BY i) <= 8),
        |p AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_groups
        |      FROM c a JOIN c b ON a.g = b.g AND a.i < b.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |ic AS (SELECT i, count(*) AS n_i FROM c GROUP BY 1),
        |n AS (SELECT count(DISTINCT g) AS ng FROM c)
        |SELECT p.item_a, p.item_b, p.n_groups,
        |  CAST(p.n_groups * n.ng AS DOUBLE) / CAST(ia.n_i * ib.n_i AS DOUBLE) AS lift
        |FROM p
        |CROSS JOIN n
        |JOIN ic ia ON ia.i = p.item_a
        |JOIN ic ib ON ib.i = p.item_b""".stripMargin) { (s, dir) =>
      GraphOps.coOccurrenceLift(Tables(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", maxPerGroup = 8, minCount = 2)
    },

    // ---- the at-rest CO-OCCURRENCE index: three order-partitioned
    //      tranches (pairs/margins/totals), one consolidated
    //      mid-stream, then lift computed from the ARTIFACT only —
    //      byte-identical to q_cooccurrence_lift's whole-corpus
    //      projection because the cap is per-group and orders
    //      partition cleanly across tranches ----
    Q("q_cooccurrence_index",
      """WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |c AS (SELECT g, i FROM m
        |      QUALIFY row_number() OVER (PARTITION BY g ORDER BY i) <= 8),
        |p AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_groups
        |      FROM c a JOIN c b ON a.g = b.g AND a.i < b.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |ic AS (SELECT i, count(*) AS n_i FROM c GROUP BY 1),
        |n AS (SELECT count(DISTINCT g) AS ng FROM c)
        |SELECT p.item_a, p.item_b, p.n_groups,
        |  CAST(p.n_groups * n.ng AS DOUBLE) / CAST(ia.n_i * ib.n_i AS DOUBLE) AS lift
        |FROM p
        |CROSS JOIN n
        |JOIN ic ia ON ia.i = p.item_a
        |JOIN ic ib ON ib.i = p.item_b""".stripMargin) { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val cDir = graft.util.Scratch.fresh("cooc_index", dir)
      twoTranches(i => GraphOps.writeCoocTranche(li.where(col("l_orderkey") % 3 === i),
        "l_orderkey", "l_partkey", cDir, tag = s"d$i", maxPerGroup = 8))
      GraphOps.consolidateCooc(s, cDir)   // fold d0+d1, then append d2
      GraphOps.writeCoocTranche(li.where(col("l_orderkey") % 3 === 2),
        "l_orderkey", "l_partkey", cDir, tag = "d2", maxPerGroup = 8)
      GraphOps.coocLiftFromIndex(s, cDir, minCount = 2)
    },

    // ---- mergeable QUANTILE sketch over the at-rest tranche artifact:
    //      three tranches (one consolidated mid-stream) merge by
    //      bucket-count SUM and the quantile reads the ≤1k-row
    //      histogram; the oracle replays the identical integer octave
    //      CASE + one IEEE rank multiply over the whole table in one
    //      pass — tranche boundaries and consolidation cannot change a
    //      digit ----
    Q("q_quantile_sketch", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |sk AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        |c AS (SELECT bucket, cnt,
        |        sum(cnt) OVER (ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER () AS total
        |      FROM sk),
        |pp AS (SELECT unnest([0.5, 0.9, 0.99]) AS p),
        |sel AS (SELECT pp.p AS p, min(c.bucket) AS b
        |        FROM pp JOIN c
        |          ON c.cum >= greatest(1, CAST(ceil(pp.p * c.total) AS BIGINT))
        |        GROUP BY 1)
        |SELECT p, CAST(${lowerBoundCaseSql("b", 16, "//")} AS BIGINT) AS value
        |FROM sel""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val docs = Tables(s, dir, "documents")
      val hDir = graft.util.Scratch.fresh("hist_tranches", dir)
      twoTranches(i => HistSketch.writeHistTranche(
        HistSketch.histSketch(docs.where(col("doc_id") % 3 === i), "n_chars"), hDir, tag = s"d$i"))
      HistSketch.consolidateHist(s, hDir)   // fold d0+d1, then append d2
      HistSketch.writeHistTranche(
        HistSketch.histSketch(docs.where(col("doc_id") % 3 === 2), "n_chars"),
        hDir, tag = "d2")
      HistSketch.histQuantiles(HistSketch.readHist(s, hDir), Seq(0.5, 0.9, 0.99))
    },

    // ---- quantile-band assignment from the AT-REST histogram: every
    //      doc labeled with how many of history's {p50, p90} length
    //      thresholds it reaches — thresholds from the artifact, so
    //      the gate keeps a stable meaning as the corpus grows;
    //      scoring is a pure per-row integer-compare projection ----
    Q("q_hist_bucketize", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |sk AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        |c AS (SELECT bucket, cnt,
        |        sum(cnt) OVER (ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER () AS total
        |      FROM sk),
        |pp AS (SELECT unnest([0.5, 0.9]) AS p),
        |sel AS (SELECT pp.p AS p, min(c.bucket) AS b
        |        FROM pp JOIN c
        |          ON c.cum >= greatest(1, CAST(ceil(pp.p * c.total) AS BIGINT))
        |        GROUP BY 1),
        |thr AS (SELECT CAST(${lowerBoundCaseSql("b", 16, "//")} AS BIGINT) AS t FROM sel)
        |SELECT d.doc_id, d.n_chars,
        |  CAST(sum(CASE WHEN d.n_chars >= thr.t THEN 1 ELSE 0 END) AS INTEGER) AS band
        |FROM documents d CROSS JOIN thr
        |GROUP BY 1, 2""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val docs = Tables(s, dir, "documents")
      val hDir = graft.util.Scratch.fresh("hist_bucketize", dir)
      twoTranches(i => HistSketch.writeHistTranche(
        HistSketch.histSketch(docs.where(col("doc_id") % 2 === i), "n_chars"), hDir, tag = s"d$i"))
      HistSketch.histBucketize(docs.select("doc_id", "n_chars"), "n_chars",
        HistSketch.readHist(s, hDir), Seq(0.5, 0.9))
    },

    // ---- rolling per-day quantiles from per-day histograms: the
    //      quantile twin of q_hll_rolling — bucket rows fan out across
    //      the trailing window, never events; O(63·s) per day at any
    //      corpus size. Spark truncates double→long where DuckDB
    //      rounds, so the oracle spells TRUNC ----
    Q("q_quantile_rolling", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(trunc(value) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT d, ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |pd AS (SELECT d, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
        |days AS (SELECT DISTINCT d FROM pd),
        |fan AS (SELECT days.d AS day, pd.bucket, sum(pd.cnt) AS cnt
        |        FROM days JOIN pd ON pd.d BETWEEN days.d - 6 AND days.d
        |        GROUP BY 1, 2),
        |c AS (SELECT day, bucket,
        |        sum(cnt) OVER (PARTITION BY day ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY day) AS total
        |      FROM fan),
        |pp AS (SELECT unnest([0.5, 0.95]) AS p),
        |sel AS (SELECT c.day AS day, pp.p AS p, min(c.bucket) AS b
        |        FROM pp JOIN c
        |          ON c.cum >= greatest(1, CAST(ceil(pp.p * c.total) AS BIGINT))
        |        GROUP BY 1, 2)
        |SELECT strftime(day, '%Y-%m-%d') AS day, p,
        |  CAST(${lowerBoundCaseSql("b", 16, "//")} AS BIGINT) AS value
        |FROM sel""".stripMargin
    }) { (s, dir) =>
      graft.profile.HistSketch.histRollingQuantiles(
        Tables(s, dir, "events"), "value", "ts",
        windowDays = 7, ps = Seq(0.5, 0.95))
    },

    // ---- PSI drift gauge between two histogram-sketch artifacts:
    //      "did the English docs' length distribution move away from
    //      the rest of the corpus" answered from two ≤1k-row sketches
    //      (one assembled from tranches, proving artifact-merge ≡
    //      direct-build); Laplace-+1 smoothing over the union bucket
    //      set, probabilities snapped by exact integer floor-division,
    //      log-ratios by the snapped-log2 decomposition — the oracle
    //      replays every digit with HUGEINT // ----
    Q("q_psi_drift", {
      import graft.profile.HistSketch._
      def l8(x: String) =
        s"CAST(floor(log2(CAST($x AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)"
      s"""WITH va AS (SELECT n_chars AS v FROM documents
        |    WHERE lang = 'en' AND n_chars IS NOT NULL),
        |vb AS (SELECT n_chars AS v FROM documents
        |    WHERE lang <> 'en' AND n_chars IS NOT NULL),
        |ha AS (SELECT ${bucketCaseSql("v", 16, "//")} AS bucket, count(*) AS cnt
        |       FROM va GROUP BY 1),
        |hb AS (SELECT ${bucketCaseSql("v", 16, "//")} AS bucket, count(*) AS cnt
        |       FROM vb GROUP BY 1),
        |j AS (SELECT coalesce(ha.cnt, 0) AS ca, coalesce(hb.cnt, 0) AS cb
        |      FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
        |        CAST(sum(cb) + count(*) AS BIGINT) AS nb FROM j),
        |term AS (SELECT k, na, nb,
        |    CAST((CAST(ca + 1 AS HUGEINT) * 1000000000) // na AS BIGINT) AS qa,
        |    CAST((CAST(cb + 1 AS HUGEINT) * 1000000000) // nb AS BIGINT) AS qb,
        |    ${l8("ca + 1")} - ${l8("na")} - ${l8("cb + 1")} + ${l8("nb")} AS l
        |  FROM j CROSS JOIN t)
        |SELECT max(k) AS n_buckets, max(na) - max(k) AS n_a,
        |  max(nb) - max(k) AS n_b,
        |  CAST(sum(CAST(qa - qb AS HUGEINT) * l) AS DOUBLE) / 1e17 AS psi_bits
        |FROM term""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val docs = Tables(s, dir, "documents")
      val en = docs.where(col("lang") === "en")
      val hDir = graft.util.Scratch.fresh("psi_drift", dir)
      twoTranches(i => HistSketch.writeHistTranche(
        HistSketch.histSketch(en.where(col("doc_id") % 2 === i), "n_chars"), hDir, tag = s"d$i"))
      HistSketch.histDriftPsi(
        HistSketch.readHist(s, hDir),
        HistSketch.histSketch(docs.where(col("lang") =!= "en"), "n_chars"))
    },

    // ---- per-group winsorize: each doc clamped into ITS SOURCE's
    //      [p05, p95] length band (per-domain outlier norms differ);
    //      bounds from the grouped histogram, broadcast-joined ----
    Q("q_winsorize_by", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT source AS g, n_chars AS v FROM documents
        |    WHERE n_chars IS NOT NULL),
        |b AS (SELECT g, ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |sk AS (SELECT g, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
        |c AS (SELECT g, bucket, cnt,
        |        sum(cnt) OVER (PARTITION BY g ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY g) AS total
        |      FROM sk),
        |pp AS (SELECT unnest([0.05, 0.95]) AS p),
        |sel AS (SELECT c.g AS g, pp.p AS p, min(c.bucket) AS b
        |        FROM pp JOIN c
        |          ON c.cum >= greatest(1, CAST(ceil(pp.p * c.total) AS BIGINT))
        |        GROUP BY 1, 2),
        |bv AS (SELECT g, p, CAST(${lowerBoundCaseSql("b", 16, "//")} AS BIGINT) AS val
        |       FROM sel),
        |bounds AS (SELECT g, min(CASE WHEN p = 0.05 THEN val END) AS lo,
        |                  max(CASE WHEN p = 0.95 THEN val END) AS hi
        |           FROM bv GROUP BY 1)
        |SELECT d.doc_id, d.source, d.n_chars, bounds.lo, bounds.hi,
        |  CASE WHEN d.n_chars IS NULL OR bounds.lo IS NULL THEN d.n_chars
        |       ELSE least(greatest(d.n_chars, bounds.lo), bounds.hi) END AS n_chars_w
        |FROM documents d LEFT JOIN bounds ON bounds.g = d.source""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val docs = Tables(s, dir, "documents")
      HistSketch.histWinsorizeBy(docs.select("doc_id", "source", "n_chars"),
        Seq("source"), "n_chars",
        HistSketch.histSketchBy(docs, Seq("source"), "n_chars"),
        pLo = 0.05, pHi = 0.95)
    },

    // ---- GROUPED quantiles from grouped histograms — the quantile
    //      twin of q_hll_grouped: per-source p50/p95 doc length, built
    //      from two disjoint halves merged per-(group, bucket) by sum;
    //      cumulative window partitioned by group (bounded sketch
    //      partitions, no global order) ----
    Q("q_quantile_by", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT source AS g, n_chars AS v FROM documents
        |    WHERE n_chars IS NOT NULL),
        |b AS (SELECT g, ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |sk AS (SELECT g, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
        |c AS (SELECT g, bucket, cnt,
        |        sum(cnt) OVER (PARTITION BY g ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY g) AS total
        |      FROM sk),
        |pp AS (SELECT unnest([0.5, 0.95]) AS p),
        |sel AS (SELECT c.g AS g, pp.p AS p, min(c.bucket) AS b
        |        FROM pp JOIN c
        |          ON c.cum >= greatest(1, CAST(ceil(pp.p * c.total) AS BIGINT))
        |        GROUP BY 1, 2)
        |SELECT g AS source, p,
        |  CAST(${lowerBoundCaseSql("b", 16, "//")} AS BIGINT) AS value
        |FROM sel""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val docs = Tables(s, dir, "documents")
      val gk = Seq("source")
      HistSketch.histQuantilesBy(
        HistSketch.histMergeBy(gk,
          HistSketch.histSketchBy(docs.where(col("doc_id") % 2 === 0), gk, "n_chars"),
          HistSketch.histSketchBy(docs.where(col("doc_id") % 2 === 1), gk, "n_chars")),
        gk, ps = Seq(0.5, 0.95))
    },

    // ---- ROLLING drift monitor: per-day PSI of the event-value
    //      distribution against the trailing-7-day histogram — "which
    //      ingest day broke the profile" from per-day bucket rows,
    //      never event rows; first day (empty reference) omitted ----
    Q("q_psi_rolling", duckPsiRollingSql(7)) { (s, dir) =>
      graft.profile.HistSketch.histRollingPsi(
        Tables(s, dir, "events"), "value", "ts", windowDays = 7)
    },

    // ---- GROUPED rolling PSI — the full monitoring matrix ("which
    //      event type broke on which day"): each group's day scored
    //      against ITS OWN trailing window; group-local day axes ----
    Q("q_psi_rolling_by", {
      import graft.profile.HistSketch._
      def l8(x: String) =
        s"CAST(floor(log2(CAST($x AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)"
      s"""WITH v AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
        |    CAST(trunc(value) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (SELECT g, d, ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |pd AS (SELECT g, d, bucket, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
        |days AS (SELECT DISTINCT g, d FROM pd),
        |ref AS (SELECT days.g AS g, days.d AS day, pd.bucket, sum(pd.cnt) AS cb
        |        FROM days JOIN pd ON pd.g = days.g
        |          AND pd.d BETWEEN days.d - 7 AND days.d - 1
        |        GROUP BY 1, 2, 3),
        |cur AS (SELECT g, d AS day, bucket, cnt AS ca FROM pd),
        |j AS (SELECT coalesce(cur.g, ref.g) AS g,
        |        coalesce(cur.day, ref.day) AS day,
        |        coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |      FROM cur FULL OUTER JOIN ref
        |        ON cur.g = ref.g AND cur.day = ref.day AND cur.bucket = ref.bucket),
        |t AS (SELECT g, day, CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
        |        CAST(sum(cb) + count(*) AS BIGINT) AS nb,
        |        sum(ca) AS ra, sum(cb) AS rb
        |      FROM j GROUP BY 1, 2),
        |term AS (SELECT j.g AS g, j.day AS day, k, na, nb,
        |    CAST((CAST(ca + 1 AS HUGEINT) * 1000000000) // na AS BIGINT) AS qa,
        |    CAST((CAST(cb + 1 AS HUGEINT) * 1000000000) // nb AS BIGINT) AS qb,
        |    ${l8("ca + 1")} - ${l8("na")} - ${l8("cb + 1")} + ${l8("nb")} AS l
        |  FROM j JOIN t ON t.g = j.g AND t.day = j.day WHERE ra > 0 AND rb > 0)
        |SELECT g AS event_type, strftime(day, '%Y-%m-%d') AS day,
        |  max(k) AS n_buckets, max(na) - max(k) AS n_cur,
        |  max(nb) - max(k) AS n_ref,
        |  CAST(sum(CAST(qa - qb AS HUGEINT) * l) AS DOUBLE) / 1e17 AS psi_bits
        |FROM term GROUP BY 1, 2""".stripMargin
    }) { (s, dir) =>
      graft.profile.HistSketch.histRollingPsiBy(
        Tables(s, dir, "events"), Seq("event_type"), "value", "ts", windowDays = 7)
    },

    // ---- GROUPED rolling quantiles: each event type's own trailing-
    //      7-day p50/p95 series — the per-source SLO dashboard; the
    //      cumulative window partitions by (group, day), every
    //      partition one bounded histogram ----
    Q("q_quantile_rolling_by", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
        |    CAST(trunc(value) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (SELECT g, d, ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |pd AS (SELECT g, d, bucket, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
        |days AS (SELECT DISTINCT g, d FROM pd),
        |fan AS (SELECT days.g AS g, days.d AS day, pd.bucket, sum(pd.cnt) AS cnt
        |        FROM days JOIN pd ON pd.g = days.g
        |          AND pd.d BETWEEN days.d - 6 AND days.d
        |        GROUP BY 1, 2, 3),
        |c AS (SELECT g, day, bucket, cnt,
        |        sum(cnt) OVER (PARTITION BY g, day ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY g, day) AS total
        |      FROM fan),
        |pp AS (SELECT unnest([0.5, 0.95]) AS p),
        |sel AS (SELECT c.g AS g, c.day AS day, pp.p AS p, min(c.bucket) AS b
        |        FROM pp JOIN c
        |          ON c.cum >= greatest(1, CAST(ceil(pp.p * c.total) AS BIGINT))
        |        GROUP BY 1, 2, 3)
        |SELECT g AS event_type, strftime(day, '%Y-%m-%d') AS day, p,
        |  CAST(${lowerBoundCaseSql("b", 16, "//")} AS BIGINT) AS value
        |FROM sel""".stripMargin
    }) { (s, dir) =>
      graft.profile.HistSketch.histRollingQuantilesBy(
        Tables(s, dir, "events"), Seq("event_type"), "value", "ts",
        windowDays = 7, ps = Seq(0.5, 0.95))
    },

    // ---- rolling PSI from the AT-REST day-keyed histogram artifact:
    //      two arbitrary-split ingest tranches + an auto-fold tick,
    //      gauge read with zero event access — hash-identical to the
    //      inline whole-corpus form (per-(day,bucket) sum is exact),
    //      so the oracle is the SAME rolling-PSI replay ----
    Q("q_psi_rolling_index", duckPsiRollingSql(7)) { (s, dir) =>
      import graft.profile.HistSketch
      val ev = Tables(s, dir, "events")
      val idx = graft.util.Scratch.fresh("dayhist_idx", dir)
      val half = pmod(xxhash64(lit("dh"), col("event_id")), lit(2))
      twoTranches(i =>
        HistSketch.writeDayHistTranche(ev.where(half === i), "value", "ts", idx, s"t$i"))
      graft.util.Tranches.maybeFold(s, idx, maxLive = 1)(
        HistSketch.consolidateDayHist(s, idx))
      HistSketch.histRollingPsiFromIndex(s, idx, windowDays = 7)
    },

    // ---- embedding-space drift: cosine between two corpus-half
    //      centroid directions — the third leg of the drift triad
    //      (PSI = numeric column, JS = vocabulary, this = where the
    //      vectors live); snapped-long per-dim sums, exact decimal
    //      dot/norms, one IEEE closing chain ----
    Q("q_centroid_drift",
      s"""WITH ea AS (SELECT embedding AS e FROM embeddings
        |    WHERE vec_id % 2 = 0 AND embedding IS NOT NULL),
        |eb AS (SELECT embedding AS e FROM embeddings
        |    WHERE vec_id % 2 = 1 AND embedding IS NOT NULL),
        |ua AS (SELECT generate_subscripts(e, 1) AS pos,
        |         CAST(trunc(CAST(unnest(e) AS DOUBLE) * 1000000) AS BIGINT) AS u
        |       FROM ea),
        |ub AS (SELECT generate_subscripts(e, 1) AS pos,
        |         CAST(trunc(CAST(unnest(e) AS DOUBLE) * 1000000) AS BIGINT) AS u
        |       FROM eb),
        |sa AS (SELECT pos, CAST(sum(u) AS HUGEINT) AS s, count(*) AS c
        |       FROM ua GROUP BY 1),
        |sb AS (SELECT pos, CAST(sum(u) AS HUGEINT) AS s, count(*) AS c
        |       FROM ub GROUP BY 1),
        |j AS (SELECT sa.s AS x, sb.s AS y, sa.c AS ca, sb.c AS cb
        |      FROM sa JOIN sb ON sa.pos = sb.pos)
        |SELECT max(ca) AS n_a, max(cb) AS n_b, CAST(count(*) AS BIGINT) AS dim,
        |  CAST(sum(x * y) AS DOUBLE)
        |    / (sqrt(CAST(sum(x * x) AS DOUBLE)) * sqrt(CAST(sum(y * y) AS DOUBLE)))
        |    AS cosine
        |FROM j""".stripMargin) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      SimilarityOps.centroidDrift(
        emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 === 1), "embedding")
    },

    // ---- ROLLING embedding-space drift: per-day centroid vs the
    //      trailing-3-day merged centroid — the per-day tier on the
    //      third drift axis (PSI and vocab JS already have theirs);
    //      the corpus collapses to |days|·dim snapped sum rows first,
    //      the explode fans out SUM rows, never vectors. Ingest days
    //      are synthesized from vec_id (the embeddings fixture has no
    //      timestamp) — a deterministic 8-day spread ----
    Q("q_centroid_rolling", duckCentroidRollingSql(3)) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
        .withColumn("d", date_add(to_date(lit("2024-01-01")),
          (col("vec_id") % 8).cast(IntegerType)))
      SimilarityOps.centroidRollingDrift(emb, "embedding", "d", windowDays = 3)
    },

    // ---- weighted deterministic sampling: keep docs with probability
    //      proportional to length targeting 30% of the corpus — the
    //      importance-sampling gate; thresholds exact integer
    //      arithmetic over plan-build scalars, keep set hash-decided
    //      and engine-identical ----
    Q("q_weighted_sample", {
      val r = math.floor(0.3 * 1000000).toLong
      s"""WITH w AS (SELECT doc_id,
        |    greatest(0, coalesce(
        |      CAST(CAST(n_chars AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0)) AS u
        |  FROM documents),
        |t AS (SELECT CAST(sum(u) AS HUGEINT) AS s, count(*) AS n FROM w)
        |SELECT d.doc_id, d.n_chars
        |FROM documents d JOIN w ON w.doc_id = d.doc_id CROSS JOIN t
        |WHERE (${duckHash("'wsample|' || CAST(d.doc_id AS VARCHAR)")} % 1000000)
        |  < least(1000000, (CAST(w.u AS HUGEINT) * $r * t.n) // t.s)""".stripMargin
    }) { (s, dir) =>
      TrainingOps.weightedSample(
        Tables(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", rate = 0.3, portable = true)
    },

    // ---- one-stop drift dashboard: the odd half of the corpus
    //      scored against the even half on all three axes (numeric
    //      PSI, vocabulary JS, embedding-centroid cosine) — one row
    //      per gauge, the morning "did anything drift" frame ----
    Q("q_drift_dashboard", {
      import graft.profile.HistSketch._
      def l8(x: String) =
        s"CAST(floor(log2(CAST($x AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)"
      val psi =
        s"""WITH va AS (SELECT n_chars AS v FROM documents
          |    WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
          |vb AS (SELECT n_chars AS v FROM documents
          |    WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
          |ha AS (SELECT ${bucketCaseSql("v", 16, "//")} AS bucket, count(*) AS cnt
          |       FROM va GROUP BY 1),
          |hb AS (SELECT ${bucketCaseSql("v", 16, "//")} AS bucket, count(*) AS cnt
          |       FROM vb GROUP BY 1),
          |j AS (SELECT coalesce(ha.cnt, 0) AS ca, coalesce(hb.cnt, 0) AS cb
          |      FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
          |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
          |        CAST(sum(cb) + count(*) AS BIGINT) AS nb FROM j),
          |term AS (SELECT k, na, nb,
          |    CAST((CAST(ca + 1 AS HUGEINT) * 1000000000) // na AS BIGINT) AS qa,
          |    CAST((CAST(cb + 1 AS HUGEINT) * 1000000000) // nb AS BIGINT) AS qb,
          |    ${l8("ca + 1")} - ${l8("na")} - ${l8("cb + 1")} + ${l8("nb")} AS l
          |  FROM j CROSS JOIN t)
          |SELECT CAST(sum(CAST(qa - qb AS HUGEINT) * l) AS DOUBLE) / 1e17 AS value,
          |  max(nb) - max(k) AS n_ref, max(na) - max(k) AS n_new
          |FROM term""".stripMargin
      val js =
        s"""WITH ta AS (SELECT unnest($duckWords) AS term FROM documents
          |    WHERE doc_id % 2 = 1),
          |tb AS (SELECT unnest($duckWords) AS term FROM documents
          |    WHERE doc_id % 2 = 0),
          |ga AS (SELECT term, count(*) AS c FROM ta GROUP BY 1),
          |gb AS (SELECT term, count(*) AS c FROM tb GROUP BY 1),
          |j AS (SELECT coalesce(ga.c, 0) AS ca, coalesce(gb.c, 0) AS cb
          |      FROM ga FULL OUTER JOIN gb ON ga.term = gb.term),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
          |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
          |        CAST(sum(cb) + count(*) AS BIGINT) AS nb FROM j),
          |term AS (SELECT k, na, nb, ca, cb,
          |    CAST(ca + 1 AS HUGEINT) * nb + CAST(cb + 1 AS HUGEINT) * na AS mix
          |  FROM j CROSS JOIN t),
          |s AS (SELECT max(k) AS k, max(na) AS na, max(nb) AS nb,
          |    sum(CAST(ca + 1 AS HUGEINT) *
          |        (100000000 + ${l8("ca + 1")} + ${l8("nb")} - ${l8("mix")})) AS sa,
          |    sum(CAST(cb + 1 AS HUGEINT) *
          |        (100000000 + ${l8("cb + 1")} + ${l8("na")} - ${l8("mix")})) AS sb
          |  FROM term)
          |SELECT (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
          |    + CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2e8 AS value,
          |  nb - k AS n_ref, na - k AS n_new
          |FROM s""".stripMargin
      val cen =
        s"""WITH ea AS (SELECT embedding AS e FROM embeddings
          |    WHERE vec_id % 2 = 1 AND embedding IS NOT NULL),
          |eb AS (SELECT embedding AS e FROM embeddings
          |    WHERE vec_id % 2 = 0 AND embedding IS NOT NULL),
          |ua AS (SELECT generate_subscripts(e, 1) AS pos,
          |         CAST(trunc(CAST(unnest(e) AS DOUBLE) * 1000000) AS BIGINT) AS u
          |       FROM ea),
          |ub AS (SELECT generate_subscripts(e, 1) AS pos,
          |         CAST(trunc(CAST(unnest(e) AS DOUBLE) * 1000000) AS BIGINT) AS u
          |       FROM eb),
          |sa AS (SELECT pos, CAST(sum(u) AS HUGEINT) AS s, count(*) AS c
          |       FROM ua GROUP BY 1),
          |sb AS (SELECT pos, CAST(sum(u) AS HUGEINT) AS s, count(*) AS c
          |       FROM ub GROUP BY 1),
          |j AS (SELECT sa.s AS x, sb.s AS y, sa.c AS ca, sb.c AS cb
          |      FROM sa JOIN sb ON sa.pos = sb.pos)
          |SELECT CAST(sum(x * y) AS DOUBLE)
          |    / (sqrt(CAST(sum(x * x) AS DOUBLE)) * sqrt(CAST(sum(y * y) AS DOUBLE)))
          |    AS value,
          |  max(cb) AS n_ref, max(ca) AS n_new
          |FROM j""".stripMargin
      s"""SELECT 'psi_bits' AS gauge, value, n_ref, n_new FROM ($psi)
        |UNION ALL
        |SELECT 'js_bits' AS gauge, value, n_ref, n_new FROM ($js)
        |UNION ALL
        |SELECT 'centroid_cosine' AS gauge, value, n_ref, n_new FROM ($cen)""".stripMargin
    }) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val emb = Tables(s, dir, "embeddings")
      graft.meta.IndexDashboard.driftDashboard(
        docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
        "n_chars", "text",
        emb.where(col("vec_id") % 2 === 0), emb.where(col("vec_id") % 2 === 1),
        "embedding")
    },

    // ---- Jensen–Shannon divergence between two corpora's unigram
    //      mixes — the vocabulary-drift twin of q_psi_drift (that
    //      gauges a numeric distribution; this gauges what the corpora
    //      are ABOUT); Laplace-+1 over the union vocabulary, snapped
    //      log2 decomposition, exact HUGEINT weighted sums ----
    Q("q_js_divergence", {
      def l8(x: String) =
        s"CAST(floor(log2(CAST($x AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)"
      s"""WITH ta AS (SELECT unnest($duckWords) AS term FROM documents
        |    WHERE lang = 'en'),
        |tb AS (SELECT unnest($duckWords) AS term FROM documents
        |    WHERE lang <> 'en'),
        |ga AS (SELECT term, count(*) AS c FROM ta GROUP BY 1),
        |gb AS (SELECT term, count(*) AS c FROM tb GROUP BY 1),
        |j AS (SELECT coalesce(ga.c, 0) AS ca, coalesce(gb.c, 0) AS cb
        |      FROM ga FULL OUTER JOIN gb ON ga.term = gb.term),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
        |        CAST(sum(cb) + count(*) AS BIGINT) AS nb FROM j),
        |term AS (SELECT k, na, nb, ca, cb,
        |    CAST(ca + 1 AS HUGEINT) * nb + CAST(cb + 1 AS HUGEINT) * na AS mix
        |  FROM j CROSS JOIN t),
        |s AS (SELECT max(k) AS k, max(na) AS na, max(nb) AS nb,
        |    sum(CAST(ca + 1 AS HUGEINT) *
        |        (100000000 + ${l8("ca + 1")} + ${l8("nb")} - ${l8("mix")})) AS sa,
        |    sum(CAST(cb + 1 AS HUGEINT) *
        |        (100000000 + ${l8("cb + 1")} + ${l8("na")} - ${l8("mix")})) AS sb
        |  FROM term)
        |SELECT k AS n_terms, na - k AS n_a, nb - k AS n_b,
        |  (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    + CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2e8 AS js_bits
        |FROM s""".stripMargin
    }) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      TextOps.jsDivergence(
        docs.where(col("lang") === "en"),
        docs.where(col("lang") =!= "en"), "text")
    },

    // ---- rolling event-mix drift: per-day JS of the event-type mix
    //      vs the trailing 7 days — "did today's event distribution
    //      shift", from per-(day, type) count rows, never events ----
    Q("q_js_rolling", duckJsRollingSql(7)) { (s, dir) =>
      TextOps.jsRollingDivergence(
        Tables(s, dir, "events"), "event_type", "ts", windowDays = 7)
    },

    // ---- GROUPED rolling JS: per-segment event-mix drift — each
    //      user segment's day mix scored against ITS OWN trailing
    //      window; the mix member of the per-group rolling family ----
    Q("q_js_rolling_by", {
      def l8(x: String) =
        s"CAST(floor(log2(CAST($x AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)"
      s"""WITH v AS (SELECT CAST(user_id % 3 AS BIGINT) AS g, CAST(ts AS DATE) AS d,
        |    event_type AS k
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |pd AS (SELECT g, d, k, count(*) AS cnt FROM v GROUP BY 1, 2, 3),
        |days AS (SELECT DISTINCT g, d FROM pd),
        |ref AS (SELECT days.g AS g, days.d AS day, pd.k, sum(cnt) AS cb
        |        FROM days JOIN pd ON pd.g = days.g
        |          AND pd.d BETWEEN days.d - 7 AND days.d - 1
        |        GROUP BY 1, 2, 3),
        |cur AS (SELECT g, d AS day, k, cnt AS ca FROM pd),
        |j AS (SELECT coalesce(cur.g, ref.g) AS g,
        |        coalesce(cur.day, ref.day) AS day,
        |        coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |      FROM cur FULL OUTER JOIN ref
        |        ON cur.g = ref.g AND cur.day = ref.day AND cur.k = ref.k),
        |t AS (SELECT g, day, CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
        |        CAST(sum(cb) + count(*) AS BIGINT) AS nb,
        |        sum(ca) AS ra, sum(cb) AS rb
        |      FROM j GROUP BY 1, 2),
        |term AS (SELECT j.g AS g, j.day AS day, k, na, nb, ca, cb,
        |    CAST(ca + 1 AS HUGEINT) * nb + CAST(cb + 1 AS HUGEINT) * na AS mix
        |  FROM j JOIN t ON t.g = j.g AND t.day = j.day WHERE ra > 0 AND rb > 0),
        |s AS (SELECT g, day, max(k) AS k, max(na) AS na, max(nb) AS nb,
        |    sum(CAST(ca + 1 AS HUGEINT) *
        |        (100000000 + ${l8("ca + 1")} + ${l8("nb")} - ${l8("mix")})) AS sa,
        |    sum(CAST(cb + 1 AS HUGEINT) *
        |        (100000000 + ${l8("cb + 1")} + ${l8("na")} - ${l8("mix")})) AS sb
        |  FROM term GROUP BY 1, 2)
        |SELECT g AS segment, strftime(day, '%Y-%m-%d') AS day, k AS n_keys,
        |  na - k AS n_cur, nb - k AS n_ref,
        |  (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    + CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2e8 AS js_bits
        |FROM s""".stripMargin
    }) { (s, dir) =>
      TextOps.jsRollingDivergenceBy(
        Tables(s, dir, "events")
          .where(col("user_id").isNotNull)
          .withColumn("segment", (col("user_id") % 3).cast(LongType)),
        Seq("segment"), "event_type", "ts", windowDays = 7)
    },

    // ---- rolling JS from the AT-REST day-keyed mix artifact: same
    //      lifecycle shape as q_psi_rolling_index (arbitrary-split
    //      tranches + auto-fold), gauge reads counts, never events —
    //      hash-identical to the inline form, same oracle ----
    Q("q_js_rolling_index", duckJsRollingSql(7)) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val idx = graft.util.Scratch.fresh("daymix_idx", dir)
      val half = pmod(xxhash64(lit("dm"), col("event_id")), lit(2))
      TextOps.writeDayMixTranche(ev.where(half === 0), "event_type", "ts", idx, "t0")
      TextOps.writeDayMixTranche(ev.where(half === 1), "event_type", "ts", idx, "t1")
      graft.util.Tranches.maybeFold(s, idx, maxLive = 1)(
        graft.util.Tranches.consolidate(s, idx, Seq("__d", "k"), "cnt"))
      TextOps.jsRollingFromIndex(s, idx, windowDays = 7)
    },

    // ---- GROUPED rolling centroid drift: each source's per-day
    //      embedding centroid vs ITS OWN trailing window — completes
    //      the 3×3 drift matrix (axes × {corpus, per-source,
    //      per-source-per-day}) ----
    Q("q_centroid_rolling_by",
      s"""WITH v AS (SELECT d.source AS g,
        |    DATE '2024-01-01' + CAST(e.vec_id % 6 AS INTEGER) AS dd,
        |    e.embedding AS e
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        |  WHERE e.embedding IS NOT NULL AND d.source IS NOT NULL),
        |u AS (SELECT g, dd, generate_subscripts(e, 1) AS pos,
        |        CAST(trunc(CAST(unnest(e) AS DOUBLE) * 1000000) AS BIGINT) AS u
        |      FROM v),
        |pd AS (SELECT g, dd, pos, CAST(sum(u) AS HUGEINT) AS s, count(*) AS c
        |       FROM u GROUP BY 1, 2, 3),
        |days AS (SELECT DISTINCT g, dd FROM pd),
        |ref AS (SELECT days.g AS g, days.dd AS day, pd.pos,
        |          CAST(sum(pd.s) AS HUGEINT) AS sb, CAST(sum(pd.c) AS BIGINT) AS cb
        |        FROM days JOIN pd ON pd.g = days.g
        |          AND pd.dd BETWEEN days.dd - 3 AND days.dd - 1
        |        GROUP BY 1, 2, 3),
        |cur AS (SELECT g, dd AS day, pos, s AS sa, c AS ca FROM pd),
        |j AS (SELECT cur.g AS g, cur.day AS day, sa, ca, sb, cb
        |      FROM cur JOIN ref ON ref.g = cur.g AND ref.day = cur.day
        |        AND ref.pos = cur.pos)
        |SELECT g AS source, strftime(day, '%Y-%m-%d') AS day, max(ca) AS n_cur,
        |  max(cb) AS n_ref, CAST(count(*) AS BIGINT) AS dim,
        |  CAST(sum(sa * sb) AS DOUBLE)
        |    / (sqrt(CAST(sum(sa * sa) AS DOUBLE)) * sqrt(CAST(sum(sb * sb) AS DOUBLE)))
        |    AS cosine
        |FROM j GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val vec = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .join(Tables(s, dir, "documents").select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id"))
        .withColumn("dd", date_add(to_date(lit("2024-01-01")),
          (col("vec_id") % 6).cast(IntegerType)))
      SimilarityOps.centroidRollingDriftBy(vec, Seq("source"), "embedding", "dd",
        windowDays = 3)
    },

    // ---- per-source EMBEDDING drift: every source's centroid vs the
    //      rest of the corpus, complement by exact subtraction from
    //      the global per-dim sums — one corpus pass, grid bounded at
    //      |sources|·dim; completes the odd-one-out dashboard on the
    //      third drift axis ----
    Q("q_source_centroid", duckSourceCentroidSql) { (s, dir) =>
      val vec = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .join(Tables(s, dir, "documents").select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id"))
      SimilarityOps.sourceCentroidDrift(vec, "source", "embedding")
    },

    // ---- ROLLING drift dashboard: the per-day union of all three
    //      rolling gauges — "which ingest day broke which axis" in one
    //      morning query; each member keeps its own bounded per-day
    //      fan (bucket rows / count rows / dim-sum rows, never events
    //      or vectors) ----
    Q("q_rolling_dashboard", {
      def proj(sql: String, gauge: String, value: String) =
        s"SELECT day, '$gauge' AS gauge, $value AS value, n_cur, n_ref FROM (\n$sql\n)"
      proj(duckPsiRollingSql(7), "psi_bits", "psi_bits") +
        "\nUNION ALL\n" +
        proj(duckJsRollingSql(7), "js_bits", "js_bits") +
        "\nUNION ALL\n" +
        proj(duckCentroidRollingSql(7), "centroid_cosine", "cosine")
    }) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val emb = Tables(s, dir, "embeddings")
        .withColumn("d", date_add(to_date(lit("2024-01-01")),
          (col("vec_id") % 8).cast(IntegerType)))
      graft.meta.IndexDashboard.rollingDriftDashboard(
        numeric = Some((ev, "value", "ts")),
        mix = Some((ev, "event_type", "ts")),
        vectors = Some((emb, "embedding", "d")),
        windowDays = 7)
    },

    // ---- per-source drift dashboard: both odd-one-out gauges
    //      (numeric PSI + vocabulary JS) per source in one frame ----
    Q("q_source_drift", {
      import graft.profile.HistSketch._
      def l8(x: String) =
        s"CAST(floor(log2(CAST($x AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)"
      val psi =
        s"""WITH v AS (SELECT source AS src, n_chars AS v FROM documents
          |    WHERE n_chars IS NOT NULL AND source IS NOT NULL),
          |b AS (SELECT src, ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
          |ps AS (SELECT src, bucket, count(*) AS c FROM b GROUP BY 1, 2),
          |g AS (SELECT bucket, sum(c) AS ctot FROM ps GROUP BY 1),
          |grid AS (SELECT s.src, g.bucket, g.ctot
          |         FROM (SELECT DISTINCT src FROM ps) s CROSS JOIN g),
          |g2 AS (SELECT grid.src, coalesce(ps.c, 0) AS ca,
          |         grid.ctot - coalesce(ps.c, 0) AS cb
          |       FROM grid LEFT JOIN ps
          |         ON ps.src = grid.src AND ps.bucket = grid.bucket),
          |t AS (SELECT src, CAST(count(*) AS BIGINT) AS k,
          |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
          |        CAST(sum(cb) + count(*) AS BIGINT) AS nb,
          |        sum(cb) AS rb
          |      FROM g2 GROUP BY 1),
          |term AS (SELECT g2.src AS src, k, na, nb,
          |    CAST((CAST(ca + 1 AS HUGEINT) * 1000000000) // na AS BIGINT) AS qa,
          |    CAST((CAST(cb + 1 AS HUGEINT) * 1000000000) // nb AS BIGINT) AS qb,
          |    ${l8("ca + 1")} - ${l8("na")} - ${l8("cb + 1")} + ${l8("nb")} AS l
          |  FROM g2 JOIN t ON t.src = g2.src WHERE rb > 0)
          |SELECT src AS source,
          |  CAST(sum(CAST(qa - qb AS HUGEINT) * l) AS DOUBLE) / 1e17 AS value,
          |  max(na) - max(k) AS n_src, max(nb) - max(k) AS n_rest
          |FROM term GROUP BY 1""".stripMargin
      val js =
        s"""WITH toks AS (SELECT source AS src, unnest($duckWords) AS term
          |    FROM documents WHERE source IS NOT NULL),
          |tc AS (SELECT src, term, count(*) AS c FROM toks GROUP BY 1, 2),
          |gt AS (SELECT term, sum(c) AS c FROM tc GROUP BY 1),
          |top AS (SELECT term FROM gt ORDER BY c DESC, term LIMIT 50),
          |tc2 AS (SELECT src,
          |          CASE WHEN term IN (SELECT term FROM top) THEN term END AS t,
          |          sum(c) AS c
          |        FROM tc GROUP BY 1, 2),
          |gt2 AS (SELECT t, sum(c) AS ctot FROM tc2 GROUP BY 1),
          |grid AS (SELECT s.src, g.t, g.ctot
          |         FROM (SELECT DISTINCT src FROM tc2) s CROSS JOIN gt2 g),
          |g2 AS (SELECT grid.src, coalesce(tc2.c, 0) AS ca,
          |         grid.ctot - coalesce(tc2.c, 0) AS cb
          |       FROM grid LEFT JOIN tc2
          |         ON tc2.src = grid.src AND tc2.t IS NOT DISTINCT FROM grid.t),
          |t AS (SELECT src, CAST(count(*) AS BIGINT) AS k,
          |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
          |        CAST(sum(cb) + count(*) AS BIGINT) AS nb,
          |        sum(cb) AS rb
          |      FROM g2 GROUP BY 1),
          |term AS (SELECT g2.src AS src, k, na, nb, ca, cb,
          |    CAST(ca + 1 AS HUGEINT) * nb + CAST(cb + 1 AS HUGEINT) * na AS mix
          |  FROM g2 JOIN t ON t.src = g2.src WHERE rb > 0),
          |s AS (SELECT src, max(k) AS k, max(na) AS na, max(nb) AS nb,
          |    sum(CAST(ca + 1 AS HUGEINT) *
          |        (100000000 + ${l8("ca + 1")} + ${l8("nb")} - ${l8("mix")})) AS sa,
          |    sum(CAST(cb + 1 AS HUGEINT) *
          |        (100000000 + ${l8("cb + 1")} + ${l8("na")} - ${l8("mix")})) AS sb
          |  FROM term GROUP BY 1)
          |SELECT src AS source,
          |  (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
          |    + CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2e8 AS value,
          |  na - k AS n_src, nb - k AS n_rest
          |FROM s""".stripMargin
      s"""SELECT source, 'psi_bits' AS gauge, value, n_src, n_rest FROM ($psi)
        |UNION ALL
        |SELECT source, 'js_bits' AS gauge, value, n_src, n_rest FROM ($js)
        |UNION ALL
        |SELECT source, 'centroid_cosine' AS gauge, cosine AS value, n_src, n_rest
        |FROM ($duckSourceCentroidSql)""".stripMargin
    }) { (s, dir) =>
      val vec = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .join(Tables(s, dir, "documents").select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id"))
      graft.meta.IndexDashboard.sourceDriftDashboard(
        Tables(s, dir, "documents"), "source", "n_chars", "text", vocabLimit = 50,
        vectors = Some((vec, "embedding")))
    },

    // ---- per-source NUMERIC drift: every source's length PSI against
    //      the rest of the corpus, complement by subtraction from
    //      global bucket counts — one corpus pass, dense grid bounded
    //      at sources×(63·s+1) by the bucket domain itself ----
    Q("q_source_psi", {
      import graft.profile.HistSketch._
      def l8(x: String) =
        s"CAST(floor(log2(CAST($x AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)"
      s"""WITH v AS (SELECT source AS src, n_chars AS v FROM documents
        |    WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |b AS (SELECT src, ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |ps AS (SELECT src, bucket, count(*) AS c FROM b GROUP BY 1, 2),
        |g AS (SELECT bucket, sum(c) AS ctot FROM ps GROUP BY 1),
        |grid AS (SELECT s.src, g.bucket, g.ctot
        |         FROM (SELECT DISTINCT src FROM ps) s CROSS JOIN g),
        |g2 AS (SELECT grid.src, coalesce(ps.c, 0) AS ca,
        |         grid.ctot - coalesce(ps.c, 0) AS cb
        |       FROM grid LEFT JOIN ps
        |         ON ps.src = grid.src AND ps.bucket = grid.bucket),
        |t AS (SELECT src, CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
        |        CAST(sum(cb) + count(*) AS BIGINT) AS nb,
        |        sum(cb) AS rb
        |      FROM g2 GROUP BY 1),
        |term AS (SELECT g2.src AS src, k, na, nb,
        |    CAST((CAST(ca + 1 AS HUGEINT) * 1000000000) // na AS BIGINT) AS qa,
        |    CAST((CAST(cb + 1 AS HUGEINT) * 1000000000) // nb AS BIGINT) AS qb,
        |    ${l8("ca + 1")} - ${l8("na")} - ${l8("cb + 1")} + ${l8("nb")} AS l
        |  FROM g2 JOIN t ON t.src = g2.src WHERE rb > 0)
        |SELECT src AS source, max(k) AS n_buckets,
        |  max(na) - max(k) AS n_src, max(nb) - max(k) AS n_rest,
        |  CAST(sum(CAST(qa - qb AS HUGEINT) * l) AS DOUBLE) / 1e17 AS psi_bits
        |FROM term GROUP BY 1""".stripMargin
    }) { (s, dir) =>
      graft.profile.HistSketch.histSourcePsi(
        Tables(s, dir, "documents"), "source", "n_chars")
    },

    // ---- per-source divergence dashboard: every source's JS against
    //      the REST of the corpus, complement derived by subtraction
    //      from global counts (one tokenize pass for all sources);
    //      vocabulary coarsened to top-50 + a NULL-keyed OTHER bucket
    //      so the dense source×term grid is bounded by construction ----
    Q("q_source_divergence", {
      def l8(x: String) =
        s"CAST(floor(log2(CAST($x AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)"
      s"""WITH toks AS (SELECT source AS src, unnest($duckWords) AS term
        |    FROM documents WHERE source IS NOT NULL),
        |tc AS (SELECT src, term, count(*) AS c FROM toks GROUP BY 1, 2),
        |gt AS (SELECT term, sum(c) AS c FROM tc GROUP BY 1),
        |top AS (SELECT term FROM gt ORDER BY c DESC, term LIMIT 50),
        |tc2 AS (SELECT src,
        |          CASE WHEN term IN (SELECT term FROM top) THEN term END AS t,
        |          sum(c) AS c
        |        FROM tc GROUP BY 1, 2),
        |gt2 AS (SELECT t, sum(c) AS ctot FROM tc2 GROUP BY 1),
        |grid AS (SELECT s.src, g.t, g.ctot
        |         FROM (SELECT DISTINCT src FROM tc2) s CROSS JOIN gt2 g),
        |g2 AS (SELECT grid.src, coalesce(tc2.c, 0) AS ca,
        |         grid.ctot - coalesce(tc2.c, 0) AS cb
        |       FROM grid LEFT JOIN tc2
        |         ON tc2.src = grid.src AND tc2.t IS NOT DISTINCT FROM grid.t),
        |t AS (SELECT src, CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(ca) + count(*) AS BIGINT) AS na,
        |        CAST(sum(cb) + count(*) AS BIGINT) AS nb,
        |        sum(cb) AS rb
        |      FROM g2 GROUP BY 1),
        |term AS (SELECT g2.src AS src, k, na, nb, ca, cb,
        |    CAST(ca + 1 AS HUGEINT) * nb + CAST(cb + 1 AS HUGEINT) * na AS mix
        |  FROM g2 JOIN t ON t.src = g2.src WHERE rb > 0),
        |s AS (SELECT src, max(k) AS k, max(na) AS na, max(nb) AS nb,
        |    sum(CAST(ca + 1 AS HUGEINT) *
        |        (100000000 + ${l8("ca + 1")} + ${l8("nb")} - ${l8("mix")})) AS sa,
        |    sum(CAST(cb + 1 AS HUGEINT) *
        |        (100000000 + ${l8("cb + 1")} + ${l8("na")} - ${l8("mix")})) AS sb
        |  FROM term GROUP BY 1)
        |SELECT src AS source, k AS n_terms, na - k AS n_src, nb - k AS n_rest,
        |  (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    + CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2e8 AS js_bits
        |FROM s""".stripMargin
    }) { (s, dir) =>
      TextOps.sourceDivergence(Tables(s, dir, "documents"), "source", "text",
        vocabLimit = 50)
    },

    // ---- percentile-rank normalization against the at-rest
    //      histogram: what a global-sort percent_rank() would cost a
    //      corpus-wide shuffle, answered per row by a broadcast join
    //      against the densified ≤1k-row cumulative table ----
    Q("q_pct_rank", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |sk AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        |dense AS (SELECT r.bk AS bk, coalesce(sk.cnt, 0) AS cnt
        |          FROM (SELECT unnest(range(0, ${63 * 16 + 1})) AS bk) r
        |          LEFT JOIN sk ON sk.bucket = r.bk),
        |c AS (SELECT bk,
        |        sum(cnt) OVER (ORDER BY bk
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS below,
        |        sum(cnt) OVER () AS total
        |      FROM dense)
        |SELECT d.doc_id, d.n_chars,
        |  CASE WHEN d.n_chars IS NULL THEN NULL
        |       ELSE CAST(c.below AS DOUBLE) / CAST(c.total AS DOUBLE) END AS pct_rank
        |FROM documents d
        |LEFT JOIN c ON c.bk = (${bucketCaseSql("d.n_chars", 16, "//")})""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val docs = Tables(s, dir, "documents")
      HistSketch.histPercentileRank(docs.select("doc_id", "n_chars"), "n_chars",
        HistSketch.histSketch(docs, "n_chars"))
    },

    // ---- robust MAD outlier gate from the at-rest histogram: median
    //      and median-absolute-deviation both read from the sketch
    //      (outliers can't move them the way they inflate a mean/σ
    //      band), flags a pure per-row integer compare ----
    Q("q_mad_flags", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |sk AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        |c AS (SELECT bucket, cnt,
        |        sum(cnt) OVER (ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER () AS total
        |      FROM sk),
        |msel AS (SELECT min(bucket) AS b FROM c
        |         WHERE cum >= greatest(1, CAST(ceil(0.5 * total) AS BIGINT))),
        |med AS (SELECT CAST(${lowerBoundCaseSql("b", 16, "//")} AS BIGINT) AS med
        |        FROM msel),
        |dev AS (SELECT abs(CAST(${lowerBoundCaseSql("bucket", 16, "//")} AS BIGINT)
        |          - med.med) AS d, sum(cnt) AS cnt
        |        FROM sk CROSS JOIN med GROUP BY 1),
        |dc AS (SELECT d, cnt,
        |        sum(cnt) OVER (ORDER BY d
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER () AS total
        |      FROM dev),
        |mad AS (SELECT min(d) AS mad FROM dc
        |        WHERE cum >= greatest(1, CAST(ceil(0.5 * total) AS BIGINT)))
        |SELECT d.doc_id, d.n_chars, med.med, mad.mad,
        |  CASE WHEN d.n_chars IS NULL THEN NULL
        |       ELSE d.n_chars < med.med - 3 * mad.mad
        |         OR d.n_chars > med.med + 3 * mad.mad END AS is_anomaly
        |FROM documents d CROSS JOIN med CROSS JOIN mad""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val docs = Tables(s, dir, "documents")
      HistSketch.histMadFlags(docs.select("doc_id", "n_chars"), "n_chars",
        HistSketch.histSketch(docs, "n_chars"), k = 3)
    },

    // ---- winsorize against the at-rest histogram: clamp doc lengths
    //      into HISTORY's [p05, p95] band — bounds from the artifact
    //      (stable meaning as the corpus grows), baked in as exact
    //      long literals, scoring a shuffle-free per-row projection ----
    Q("q_winsorize", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT ${bucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |sk AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        |c AS (SELECT bucket, cnt,
        |        sum(cnt) OVER (ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER () AS total
        |      FROM sk),
        |pp AS (SELECT unnest([0.05, 0.95]) AS p),
        |sel AS (SELECT pp.p AS p, min(c.bucket) AS b
        |        FROM pp JOIN c
        |          ON c.cum >= greatest(1, CAST(ceil(pp.p * c.total) AS BIGINT))
        |        GROUP BY 1),
        |bv AS (SELECT p, CAST(${lowerBoundCaseSql("b", 16, "//")} AS BIGINT) AS val
        |       FROM sel),
        |bounds AS (SELECT min(CASE WHEN p < 0.5 THEN val END) AS lo,
        |                  max(CASE WHEN p > 0.5 THEN val END) AS hi FROM bv)
        |SELECT d.doc_id, d.n_chars, bounds.lo, bounds.hi,
        |  CASE WHEN d.n_chars IS NULL THEN NULL
        |       ELSE least(greatest(d.n_chars, bounds.lo), bounds.hi) END AS n_chars_w
        |FROM documents d CROSS JOIN bounds""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val docs = Tables(s, dir, "documents")
      HistSketch.histWinsorize(docs.select("doc_id", "n_chars"), "n_chars",
        HistSketch.histSketch(docs, "n_chars"), pLo = 0.05, pHi = 0.95)
    },

    // ---- AT-REST bloom membership index: "which of these keys has
    //      history NEVER seen" with zero history access — position-set
    //      tranches (OR algebra: idempotent, protocol-free), bounded
    //      at mBits rows forever; two-tranche build + replay +
    //      plain-rewrite consolidation, then the provably-new prune;
    //      every position replayed from the md5 family ----
    Q("q_bloom_index", {
      def h(i: Int, e: String) =
        s"${duckHash(s"'bf$i|' || CAST($e AS VARCHAR)")} % 65536"
      s"""WITH hist AS (SELECT DISTINCT o_custkey AS key FROM orders
        |    WHERE o_orderkey % 2 = 0 AND o_custkey IS NOT NULL),
        |pos AS (SELECT ${h(0, "key")} AS pos FROM hist
        |  UNION SELECT ${h(1, "key")} FROM hist
        |  UNION SELECT ${h(2, "key")} FROM hist)
        |SELECT c.c_custkey, c.c_name FROM customer c
        |WHERE c.c_custkey IS NULL OR NOT (
        |      ${h(0, "c.c_custkey")} IN (SELECT pos FROM pos)
        |  AND ${h(1, "c.c_custkey")} IN (SELECT pos FROM pos)
        |  AND ${h(2, "c.c_custkey")} IN (SELECT pos FROM pos))""".stripMargin
    }) { (s, dir) =>
      import graft.relational.BloomIndex
      val orders = Tables(s, dir, "orders")
      val idx = graft.util.Scratch.fresh("bloom_idx", dir)
      val hist = orders.select(col("o_orderkey"), col("o_custkey"))
      BloomIndex.writeBloomTranche(hist.where(col("o_orderkey") % 4 === 0),
        "o_custkey", idx, "t0", mBits = 65536L, k = 3, portable = true)
      BloomIndex.writeBloomTranche(hist.where(col("o_orderkey") % 4 === 2),
        "o_custkey", idx, "t1", mBits = 65536L, k = 3, portable = true)
      // replayed ingest overwrites its own tranche; fold is a plain
      // distinct rewrite (no manifest needed under OR algebra)
      BloomIndex.writeBloomTranche(hist.where(col("o_orderkey") % 4 === 2),
        "o_custkey", idx, "t1", mBits = 65536L, k = 3, portable = true)
      BloomIndex.consolidateBloom(s, idx)
      BloomIndex.pruneAgainstBloomIndex(
        Tables(s, dir, "customer").select("c_custkey", "c_name"), idx, "c_custkey")
    },

    // ---- SIGNED robust anomaly gate: median/MAD band read from the
    //      signed ladder at cent resolution, the batch pre-scaled with
    //      the same truncation and gated in exact integer space ----
    Q("q_mad_signed", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT CAST(trunc(CAST(c_acctbal AS DOUBLE) * 100.0) AS BIGINT) AS v
        |  FROM customer WHERE c_acctbal IS NOT NULL),
        |b AS (SELECT ${signedBucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |sk AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        |c AS (SELECT bucket, cnt,
        |        sum(cnt) OVER (ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER () AS total
        |      FROM sk),
        |msel AS (SELECT min(bucket) AS b FROM c
        |         WHERE cum >= greatest(1, CAST(ceil(0.5 * total) AS BIGINT))),
        |med AS (SELECT CAST(${signedLowerBoundCaseSql("b", 16, "//")} AS BIGINT) AS med
        |        FROM msel),
        |dev AS (SELECT abs(CAST(${signedLowerBoundCaseSql("bucket", 16, "//")} AS BIGINT)
        |          - med.med) AS d, sum(cnt) AS cnt
        |        FROM sk CROSS JOIN med GROUP BY 1),
        |dc AS (SELECT d, cnt,
        |        sum(cnt) OVER (ORDER BY d
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER () AS total
        |      FROM dev),
        |mad AS (SELECT min(d) AS mad FROM dc
        |        WHERE cum >= greatest(1, CAST(ceil(0.5 * total) AS BIGINT)))
        |SELECT d.c_custkey, d.c_acctbal, med.med, mad.mad,
        |  CASE WHEN d.c_acctbal IS NULL THEN NULL
        |       ELSE CAST(trunc(CAST(d.c_acctbal AS DOUBLE) * 100.0) AS BIGINT)
        |              < med.med - 3 * mad.mad
        |         OR CAST(trunc(CAST(d.c_acctbal AS DOUBLE) * 100.0) AS BIGINT)
        |              > med.med + 3 * mad.mad END AS is_anomaly
        |FROM customer d CROSS JOIN med CROSS JOIN mad""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val cust = Tables(s, dir, "customer").select("c_custkey", "c_acctbal")
      HistSketch.histMadFlagsSigned(cust, "c_acctbal",
        HistSketch.histSketchSigned(cust, "c_acctbal", scaleBy = 100L),
        k = 3, scaleBy = 100L)
    },

    // ---- GROUPED signed MAD gate: each balance flagged against ITS
    //      SEGMENT's robust median/MAD band (per-domain outlier norms),
    //      both rank selections group-partitioned, bands broadcast,
    //      comparison in exact fixed-point integer space ----
    Q("q_mad_signed_by", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT c_mktsegment AS g,
        |    CAST(trunc(CAST(c_acctbal AS DOUBLE) * 100.0) AS BIGINT) AS v
        |  FROM customer WHERE c_acctbal IS NOT NULL),
        |b AS (SELECT g, ${signedBucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |sk AS (SELECT g, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
        |c AS (SELECT g, bucket, cnt,
        |        sum(cnt) OVER (PARTITION BY g ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY g) AS total
        |      FROM sk),
        |msel AS (SELECT g, min(bucket) AS b FROM c
        |         WHERE cum >= greatest(1, CAST(ceil(0.5 * total) AS BIGINT))
        |         GROUP BY 1),
        |med AS (SELECT g, CAST(${signedLowerBoundCaseSql("b", 16, "//")} AS BIGINT) AS med
        |        FROM msel),
        |dev AS (SELECT sk.g AS g,
        |          abs(CAST(${signedLowerBoundCaseSql("bucket", 16, "//")} AS BIGINT)
        |            - med.med) AS d, sum(cnt) AS cnt
        |        FROM sk JOIN med ON med.g = sk.g GROUP BY 1, 2),
        |dc AS (SELECT g, d, cnt,
        |        sum(cnt) OVER (PARTITION BY g ORDER BY d
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY g) AS total
        |      FROM dev),
        |mad AS (SELECT g, min(d) AS mad FROM dc
        |        WHERE cum >= greatest(1, CAST(ceil(0.5 * total) AS BIGINT))
        |        GROUP BY 1),
        |band AS (SELECT med.g AS g, med.med, mad.mad,
        |           med.med - 3 * mad.mad AS lo, med.med + 3 * mad.mad AS hi
        |         FROM med JOIN mad ON mad.g = med.g)
        |SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal, band.med, band.mad,
        |  CASE WHEN d.c_acctbal IS NULL OR band.med IS NULL THEN NULL
        |       ELSE CAST(trunc(CAST(d.c_acctbal AS DOUBLE) * 100.0) AS BIGINT) < band.lo
        |         OR CAST(trunc(CAST(d.c_acctbal AS DOUBLE) * 100.0) AS BIGINT) > band.hi
        |  END AS is_anomaly
        |FROM customer d LEFT JOIN band ON band.g = d.c_mktsegment""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val cust = Tables(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      HistSketch.histMadFlagsSignedBy(cust, Seq("c_mktsegment"), "c_acctbal",
        HistSketch.histSketchSignedBy(cust, Seq("c_mktsegment"), "c_acctbal",
          scaleBy = 100L),
        k = 3, scaleBy = 100L)
    },

    // ---- SIGNED + FRACTIONAL winsorize: account balances go negative
    //      and carry cents, so the sketch runs the mirrored negative
    //      octave ladder at fixed-point scaleBy=100 (trunc(v·100) —
    //      cent resolution inside the integer-CASE replayability);
    //      bounds are descaled exact boundaries, scoring stays a
    //      shuffle-free per-row clamp in original units ----
    Q("q_winsorize_signed", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT CAST(trunc(CAST(c_acctbal AS DOUBLE) * 100.0) AS BIGINT) AS v
        |  FROM customer WHERE c_acctbal IS NOT NULL),
        |b AS (SELECT ${signedBucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |sk AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        |c AS (SELECT bucket, cnt,
        |        sum(cnt) OVER (ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER () AS total
        |      FROM sk),
        |pp AS (SELECT unnest([0.05, 0.95]) AS p),
        |sel AS (SELECT pp.p AS p, min(c.bucket) AS b
        |        FROM pp JOIN c
        |          ON c.cum >= greatest(1, CAST(ceil(pp.p * c.total) AS BIGINT))
        |        GROUP BY 1),
        |bv AS (SELECT p,
        |         CAST(${signedLowerBoundCaseSql("b", 16, "//")} AS DOUBLE) / 100.0 AS val
        |       FROM sel),
        |bounds AS (SELECT min(CASE WHEN p < 0.5 THEN val END) AS lo,
        |                  max(CASE WHEN p > 0.5 THEN val END) AS hi FROM bv)
        |SELECT d.c_custkey, d.c_acctbal, bounds.lo, bounds.hi,
        |  CASE WHEN d.c_acctbal IS NULL THEN NULL
        |       ELSE least(greatest(CAST(d.c_acctbal AS DOUBLE), bounds.lo), bounds.hi)
        |  END AS c_acctbal_w
        |FROM customer d CROSS JOIN bounds""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val cust = Tables(s, dir, "customer").select("c_custkey", "c_acctbal")
      HistSketch.histWinsorizeSigned(cust, "c_acctbal",
        HistSketch.histSketchSigned(cust, "c_acctbal", scaleBy = 100L),
        pLo = 0.05, pHi = 0.95, scaleBy = 100L)
    },

    // ---- GROUPED signed winsorize: each balance clamped into ITS
    //      SEGMENT's signed [p05, p95] band — the signed ladder
    //      (mirrored buckets, fixed-point cents) under the grouped-
    //      window machinery of q_winsorize_by; bounds broadcast-joined,
    //      scoring stays a shuffle-free per-row clamp ----
    Q("q_winsorize_signed_by", {
      import graft.profile.HistSketch._
      s"""WITH v AS (SELECT c_mktsegment AS g,
        |    CAST(trunc(CAST(c_acctbal AS DOUBLE) * 100.0) AS BIGINT) AS v
        |  FROM customer WHERE c_acctbal IS NOT NULL),
        |b AS (SELECT g, ${signedBucketCaseSql("v", 16, "//")} AS bucket FROM v),
        |sk AS (SELECT g, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
        |c AS (SELECT g, bucket, cnt,
        |        sum(cnt) OVER (PARTITION BY g ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY g) AS total
        |      FROM sk),
        |pp AS (SELECT unnest([0.05, 0.95]) AS p),
        |sel AS (SELECT c.g AS g, pp.p AS p, min(c.bucket) AS b
        |        FROM pp JOIN c
        |          ON c.cum >= greatest(1, CAST(ceil(pp.p * c.total) AS BIGINT))
        |        GROUP BY 1, 2),
        |bv AS (SELECT g, p,
        |         CAST(${signedLowerBoundCaseSql("b", 16, "//")} AS DOUBLE) / 100.0 AS val
        |       FROM sel),
        |bounds AS (SELECT g, min(CASE WHEN p = 0.05 THEN val END) AS lo,
        |                  max(CASE WHEN p = 0.95 THEN val END) AS hi
        |           FROM bv GROUP BY 1)
        |SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal, bounds.lo, bounds.hi,
        |  CASE WHEN d.c_acctbal IS NULL OR bounds.lo IS NULL
        |         THEN CAST(d.c_acctbal AS DOUBLE)
        |       ELSE least(greatest(CAST(d.c_acctbal AS DOUBLE), bounds.lo), bounds.hi)
        |  END AS c_acctbal_w
        |FROM customer d LEFT JOIN bounds ON bounds.g = d.c_mktsegment""".stripMargin
    }) { (s, dir) =>
      import graft.profile.HistSketch
      val cust = Tables(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      HistSketch.histWinsorizeSignedBy(cust, Seq("c_mktsegment"), "c_acctbal",
        HistSketch.histSketchSignedBy(cust, Seq("c_mktsegment"), "c_acctbal",
          scaleBy = 100L),
        pLo = 0.05, pHi = 0.95, scaleBy = 100L)
    },

    // ---- GROUPED distinct sketch: one register set per order
    //      priority, built from two disjoint halves and merged
    //      register-wise within group — "distinct customers per
    //      segment" at sketch cost, with the exact per-group count as
    //      a calibration column; every register bit replayed ----
    Q("q_hll_grouped", {
      import graft.profile.Sketches._
      val b = 10; val m = 1L << b; val nb = 60 - b
      s"""WITH h AS (SELECT o_orderpriority AS g,
        |    ${duckHash("CAST(o_custkey AS VARCHAR)")} AS hv
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |r AS (SELECT g, CAST(hv & ${m - 1} AS INTEGER) AS bucket, (hv // $m) AS w FROM h),
        |sk AS (SELECT g, bucket, max(${rhoCaseSql("w", nb, "//")}) AS max_rho
        |       FROM r GROUP BY 1, 2),
        |s AS (SELECT g, count(*) AS n_present,
        |        CAST(sum(${termCaseSql("max_rho", b)}) AS BIGINT) AS sp
        |      FROM sk GROUP BY 1),
        |ex AS (SELECT o_orderpriority AS g, count(DISTINCT o_custkey) AS n_exact
        |       FROM orders GROUP BY 1)
        |SELECT s.g AS o_orderpriority,
        |  CAST(${alphaNumerator(b)} AS DOUBLE)
        |    / CAST(sp + ($m - n_present) * ${1L << (nb + 1)} AS DOUBLE) AS n_estimate,
        |  n_present, ex.n_exact
        |FROM s JOIN ex ON ex.g = s.g""".stripMargin
    }) { (s, dir) =>
      import graft.profile.Sketches
      val o = Tables(s, dir, "orders")
      val gk = Seq("o_orderpriority")
      val est = Sketches.hllEstimateBy(
        Sketches.hllMergeBy(gk,
          Sketches.hllSketchBy(o.where(col("o_orderkey") % 2 === 0), gk, "o_custkey"),
          Sketches.hllSketchBy(o.where(col("o_orderkey") % 2 === 1), gk, "o_custkey")),
        gk)
      est.join(o.groupBy(col("o_orderpriority"))
        .agg(count_distinct(col("o_custkey")).as("n_exact")), "o_orderpriority")
    },

    // ---- count-min frequency grid: per-key occurrence estimates from
    //      a d×w cell artifact built as two sum-tranches and merged on
    //      read; deterministic seeded hashes make every cell and every
    //      row-minimum engine-replayable, and the exact counts ride
    //      along to exhibit the never-undercount contract ----
    Q("q_cm_counts", {
      val w = graft.profile.CountMin.DefaultWidth
      val d = graft.profile.CountMin.DefaultDepth
      val cells = (0 until d).map(r =>
        s"""SELECT $r AS r,
          |    CAST(${duckHash(s"'$r|' || CAST(l_partkey AS VARCHAR)")} % $w AS INTEGER) AS c
          |  FROM lineitem WHERE l_partkey IS NOT NULL""".stripMargin)
        .mkString("\n  UNION ALL ")
      val probes = (0 until d).map(r =>
        s"""SELECT key, $r AS r,
          |    CAST(${duckHash(s"'$r|' || CAST(key AS VARCHAR)")} % $w AS INTEGER) AS c
          |  FROM ks""".stripMargin)
        .mkString("\n  UNION ALL ")
      s"""WITH cm AS (SELECT r, c, count(*) AS cnt FROM ($cells) GROUP BY 1, 2),
        |ks AS (SELECT DISTINCT l_partkey AS key FROM lineitem WHERE l_partkey <= 50),
        |p AS ($probes),
        |est AS (SELECT p.key, min(COALESCE(cm.cnt, 0)) AS n_est
        |        FROM p LEFT JOIN cm USING (r, c) GROUP BY 1),
        |ex AS (SELECT l_partkey AS key, count(*) AS n_exact FROM lineitem GROUP BY 1)
        |SELECT est.key AS l_partkey, est.n_est, ex.n_exact
        |FROM est JOIN ex ON ex.key = est.key""".stripMargin
    }) { (s, dir) =>
      import graft.profile.CountMin
      val li = Tables(s, dir, "lineitem")
      val cmDir = graft.util.Scratch.fresh("cm_counts", dir)
      twoTranches(i => CountMin.writeCmTranche(
        CountMin.cmSketch(li.where(col("l_orderkey") % 2 === i), "l_partkey"), cmDir, tag = s"d$i"))
      CountMin.cmLookup(CountMin.readCm(s, cmDir),
          li.where(col("l_partkey") <= 50), "l_partkey")
        .join(li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_exact")),
          "l_partkey")
    },

    // ---- CM inner-product JOIN-SIZE estimate: "today's batch ⋈
    //      history on part" answered from two at-rest count grids
    //      without touching either table — the broadcast-vs-shuffle /
    //      salting decision input; never undercounts; row products in
    //      HUGEINT/DECIMAL(38), min over rows, zero-overlap rows kept
    //      in the min ----
    Q("q_cm_join_size", {
      val w = graft.profile.CountMin.DefaultWidth
      val d = graft.profile.CountMin.DefaultDepth
      def cells(parity: Int) = (0 until d).map(r =>
        s"""SELECT $r AS r,
          |    CAST(${duckHash(s"'$r|' || CAST(l_partkey AS VARCHAR)")} % $w AS INTEGER) AS c
          |  FROM lineitem WHERE l_partkey IS NOT NULL AND l_orderkey % 2 = $parity""".stripMargin)
        .mkString("\n  UNION ALL ")
      s"""WITH cma AS (SELECT r, c, count(*) AS cnt FROM (${cells(0)}) GROUP BY 1, 2),
        |cmb AS (SELECT r, c, count(*) AS cnt FROM (${cells(1)}) GROUP BY 1, 2),
        |prod AS (SELECT cma.r, sum(CAST(cma.cnt AS HUGEINT) * cmb.cnt) AS ip
        |         FROM cma JOIN cmb USING (r, c) GROUP BY 1),
        |est AS (SELECT CAST(min(COALESCE(prod.ip, 0)) AS DOUBLE) AS n_est
        |        FROM range($d) rs(r) LEFT JOIN prod ON prod.r = rs.r),
        |ea AS (SELECT l_partkey, count(*) AS na FROM lineitem
        |       WHERE l_orderkey % 2 = 0 GROUP BY 1),
        |eb AS (SELECT l_partkey, count(*) AS nb FROM lineitem
        |       WHERE l_orderkey % 2 = 1 GROUP BY 1),
        |ex AS (SELECT CAST(sum(CAST(na AS HUGEINT) * nb) AS BIGINT) AS n_exact
        |       FROM ea JOIN eb USING (l_partkey))
        |SELECT n_est, n_exact FROM est CROSS JOIN ex""".stripMargin
    }) { (s, dir) =>
      import graft.profile.CountMin
      val li = Tables(s, dir, "lineitem")
      val even = li.where(col("l_orderkey") % 2 === 0)
      val odd = li.where(col("l_orderkey") % 2 === 1)
      val est = CountMin.cmJoinSize(
        CountMin.cmSketch(even, "l_partkey"), CountMin.cmSketch(odd, "l_partkey"))
      val exact = even.groupBy(col("l_partkey")).agg(count(lit(1)).as("__na"))
        .join(odd.groupBy(col("l_partkey")).agg(count(lit(1)).as("__nb")), "l_partkey")
        .agg(sum(col("__na").cast(DecimalType(38, 0)) * col("__nb"))
          .cast(LongType).as("n_exact"))
      est.crossJoin(exact)
    },

    // ---- Okapi BM25 lexical retrieval: three seed keyword queries
    //      scored against every matching document — corpus side is
    //      filtered to query terms BEFORE any shuffle; per-term scores
    //      snapped to 1e-8 fixed point so the cross-term sum is
    //      order-free (the unigramLogProb contract) ----
    Q("q_bm25",
      s"""${duckBm25Ctes(
        """SELECT * FROM (VALUES
          |    ('q1', 'spark'), ('q1', 'join'), ('q1', 'window'),
          |    ('q2', 'hash'), ('q2', 'merge'),
          |    ('q3', 'vector'), ('q3', 'stream'), ('q3', 'customer')) t(query_id, term)""".stripMargin)}
        |SELECT query_id, doc_id, CAST(s8sum AS DOUBLE) / 1e8 AS bm25,
        |  CAST(n_terms AS BIGINT) AS n_terms
        |FROM bs""".stripMargin) { (s, dir) =>
      import s.implicits._
      val qs = Seq(("q1", "spark"), ("q1", "join"), ("q1", "window"),
        ("q2", "hash"), ("q2", "merge"),
        ("q3", "vector"), ("q3", "stream"), ("q3", "customer"))
        .toDF("query_id", "term")
      RetrievalOps.bm25Scores(Tables(s, dir, "documents"), "doc_id", "text", qs)
        .select("query_id", "doc_id", "bm25", "n_terms")
    },

    // ---- the at-rest BM25 POSTINGS index lifecycle: build from the
    //      even docs, append the odd docs, consolidate, probe — the
    //      partition-pruned lexical search (≤|query terms| of the
    //      nbuckets partitions read) matching the one-shot in-memory
    //      ranking row-for-row; oracle = the whole-corpus BM25 replay
    //      with the same rank window ----
    Q("q_bm25_index",
      s"""${duckBm25Ctes(
        """SELECT * FROM (VALUES
          |    ('q1', 'spark'), ('q1', 'join'), ('q1', 'window'),
          |    ('q2', 'hash'), ('q2', 'merge'),
          |    ('q3', 'vector'), ('q3', 'stream'), ('q3', 'customer')) t(query_id, term)""".stripMargin)}
        |SELECT query_id, doc_id, CAST(s8sum AS DOUBLE) / 1e8 AS bm25, rank
        |FROM (SELECT query_id, doc_id, s8sum,
        |        row_number() OVER (PARTITION BY query_id ORDER BY s8sum DESC, doc_id) AS rank
        |      FROM bs) WHERE rank <= 20""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val idx = graft.util.Scratch.fresh("bm25_index", dir)
      RetrievalOps.bm25WriteIndex(docs.where(col("doc_id") % 2 === 0),
        idx, "doc_id", "text", nBuckets = 16)
      RetrievalOps.bm25AppendToIndex(docs.where(col("doc_id") % 2 === 1),
        idx, "doc_id", "text", tag = "odd")
      RetrievalOps.bm25ConsolidateIndex(s, idx)
      val qs = Seq(("q1", "spark"), ("q1", "join"), ("q1", "window"),
        ("q2", "hash"), ("q2", "merge"),
        ("q3", "vector"), ("q3", "stream"), ("q3", "customer"))
        .toDF("query_id", "term")
      RetrievalOps.bm25ProbeIndex(s, idx, qs, k = 20)
    },

    // ---- hybrid search: BM25 lexical top-20 (query terms = the seed
    //      docs' own distinct words) fused with exact-cosine semantic
    //      top-20 (the paired seed embeddings) by reciprocal-rank
    //      fusion — rank-based, so neither score scale needs
    //      calibration; fusion inputs are k·|queries| rows regardless
    //      of corpus size ----
    Q("q_hybrid_rrf",
      s"""${duckBm25Ctes(
        s"""SELECT DISTINCT CAST(doc_id AS VARCHAR) AS query_id, unnest($duckWords) AS term
          |    FROM documents WHERE doc_id < 5""".stripMargin)},
        |lexk AS (SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY s8sum DESC, doc_id) AS rank
        |    FROM bs) WHERE rank <= 20),
        |sem0 AS (SELECT CAST(q.vec_id AS VARCHAR) AS query_id, c.vec_id AS doc_id,
        |           ${duckCos("q.embedding", "c.embedding")} AS cos
        |         FROM embeddings q CROSS JOIN embeddings c
        |         WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |semk AS (SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
        |    FROM sem0) WHERE rank <= 20),
        |u AS (SELECT query_id, doc_id, ${duckRrfTerm(60)} AS c12 FROM lexk
        |      UNION ALL SELECT query_id, doc_id, ${duckRrfTerm(60)} FROM semk),
        |f AS (SELECT query_id, doc_id, sum(c12) AS s12, count(*) AS n_sources
        |      FROM u GROUP BY 1, 2)
        |SELECT query_id, doc_id, CAST(s12 AS DOUBLE) / 1e12 AS rrf,
        |  CAST(n_sources AS BIGINT) AS n_sources, rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s12 DESC, doc_id) AS rank
        |      FROM f) WHERE rank <= 10""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val e = Tables(s, dir, "embeddings")
      val qterms = docs.where(col("doc_id") < 5)
        .select(col("doc_id").cast(StringType).as("query_id"),
          explode(TextOps.words(col("text"))).as("term"))
      val lex = RetrievalOps.bm25TopK(docs, "doc_id", "text", qterms, k = 20)
        .select("query_id", "doc_id", "rank")
      val sem = SimilarityOps.bruteForceTopK(
        e.where(col("vec_id") < 5), e, "vec_id", "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
      RetrievalOps.rrfFuse(Seq(lex, sem), "doc_id", k = 10)
    },

    // ---- triangle counts + local clustering over the part
    //      co-purchase graph (the capped co-occurrence projection as
    //      the edge set): degree-ordered orientation — each triangle
    //      counted at its lowest-(deg,id) vertex, hub wedge fan-out
    //      bounded O(√m) — the "last reducer" killer ----
    Q("q_triangles",
      """WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |c AS (SELECT g, i FROM m
        |      QUALIFY row_number() OVER (PARTITION BY g ORDER BY i) <= 8),
        |e AS (SELECT a.i AS a, b.i AS b FROM c a JOIN c b ON a.g = b.g AND a.i < b.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT v, count(*) AS deg
        |        FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |         THEN e.a ELSE e.b END AS u,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |         THEN e.b ELSE e.a END AS v
        |  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
        |w AS (SELECT o1.u AS u, o1.v AS x, o2.v AS y
        |      FROM o o1 JOIN o o2 ON o1.u = o2.u
        |      JOIN deg dx ON dx.v = o1.v JOIN deg dy ON dy.v = o2.v
        |      WHERE dx.deg < dy.deg OR (dx.deg = dy.deg AND o1.v < o2.v)),
        |tri AS (SELECT w.u, w.x, w.y FROM w JOIN o ON o.u = w.x AND o.v = w.y),
        |pn AS (SELECT v, count(*) AS t FROM (
        |    SELECT u AS v FROM tri UNION ALL SELECT x FROM tri UNION ALL SELECT y FROM tri)
        |  GROUP BY 1)
        |SELECT deg.v AS item, CAST(deg.deg AS BIGINT) AS degree,
        |  CAST(COALESCE(pn.t, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN deg.deg >= 2
        |       THEN round(CAST(COALESCE(pn.t, 0) * 2 AS DOUBLE)
        |                  / CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 6)
        |       ELSE 0.0 END AS clustering
        |FROM deg LEFT JOIN pn ON pn.v = deg.v""".stripMargin) { (s, dir) =>
      GraphOps.triangleCounts(
        GraphOps.coOccurrencePairs(Tables(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxPerGroup = 8, minCount = 2),
        "item_a", "item_b")
    },

    // ---- multi-source BFS over the co-purchase graph: min hops from
    //      seed items {1,2,3} within a 3-hop horizon — the "related
    //      items within k links" expansion; oracle = recursive CTE
    //      with UNION dedup (each level bounded by |V|, no walk
    //      explosion) + min(dist) ----
    Q("q_bfs_reach",
      """WITH RECURSIVE m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |c AS (SELECT g, i FROM m
        |      QUALIFY row_number() OVER (PARTITION BY g ORDER BY i) <= 8),
        |p AS (SELECT a.i AS a, b.i AS b FROM c a JOIN c b ON a.g = b.g AND a.i < b.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
        |d(node, dist) AS (
        |  SELECT * FROM (VALUES (CAST(1 AS BIGINT), 0), (CAST(2 AS BIGINT), 0),
        |                        (CAST(3 AS BIGINT), 0)) t(node, dist)
        |  UNION
        |  SELECT e.dst, d.dist + 1 FROM d JOIN e ON e.src = d.node WHERE d.dist < 3)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM d GROUP BY 1""".stripMargin) {
      (s, dir) =>
        val pairs = GraphOps.coOccurrencePairs(Tables(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxPerGroup = 8, minCount = 2)
        val und = pairs.select(col("item_a").as("src"), col("item_b").as("dst"))
          .unionAll(pairs.select(col("item_b").as("src"), col("item_a").as("dst")))
        GraphOps.bfsDistances(und, "src", "dst", Seq(1L, 2L, 3L), maxHops = 3)
    }
  )
}
