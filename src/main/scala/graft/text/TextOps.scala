package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Readers

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * Extension surface beyond the reference (BASELINE.json north star).
  * Everything is a native Catalyst expression over string columns —
  * shuffle-free per-row projections that scale linearly with splits and
  * stay inside whole-stage codegen; no UDFs, no driver collects.
  */
object TextOps {

  /** Whitespace-token split (lowercased, trimmed). */
  def words(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(words(text))

  /** BPE-ish subword proxy: words plus standalone punctuation marks —
    * the shape of a byte-pair tokenizer's pre-tokenization regex. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("\\w+|[^\\w\\s]"))

  /** English stopword markers for quality scoring. */
  val EnStopwords: Seq[String] =
    Seq("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")

  private def countIn(ws: Column, set: Seq[String]): Column =
    size(filter(ws, w => w.isin(set.map(x => x: Any): _*)))

  /** Per-document quality metrics + a composite score in [0,1].
    * All double math is the same expression tree the oracle runs, so
    * results are bit-identical across engines.
    *
    * Empty and whitespace-only documents (n_chars = 0 or n_words = 0)
    * get NULL metrics and a NULL score — no text, no verdict, and a
    * NULL fails every downstream `quality_score >= t` gate, which is
    * what an empty doc deserves. The guards exist because under ANSI
    * mode (Spark 4's default) EVERY numeric division by zero THROWS —
    * double included — so one empty string would otherwise kill the
    * whole quality job.
    */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // all integer counts come from ONE fused pass over the text
    // (TextCountsExpr); they land in real columns so every derived
    // metric references an attribute (CollapseProject duplicates only
    // cheap expressions, so the multi-referenced kernel is evaluated
    // once). The derived double math is unchanged — counts are exact
    // integers, so fusing cannot flip an oracle digit.
    val staged = df
      .withColumn("__tc", graft.functions.TextCountsExpr.textCounts(t))
      .withColumn("n_chars", length(t).cast(DoubleType))
      .withColumn("n_words", col("__tc.n_words").cast(DoubleType))
      .withColumn("__punct", col("__tc.n_punct").cast(DoubleType))
      .withColumn("__stop", col("__tc.n_stop").cast(DoubleType))
    staged
      .withColumn("avg_word_len", when(col("n_words") > 0,
        round(length(regexp_replace(t, "\\s", "")).cast(DoubleType) / col("n_words"), 4)))
      .withColumn("punct_ratio", when(col("n_chars") > 0,
        round(col("__punct") / col("n_chars"), 6)))
      .withColumn("stopword_ratio", when(col("n_words") > 0,
        round(col("__stop") / col("n_words"), 6)))
      .withColumn("quality_score", when(col("n_words") > 0 && col("n_chars") > 0,
        round(least(lit(1.0), greatest(lit(0.0),
          lit(0.2)
            + lit(2.0) * (col("__stop") / col("n_words"))
            + when(col("n_words") >= 20 && col("n_words") <= 2000, lit(0.3)).otherwise(lit(0.0))
            - lit(1.5) * (col("__punct") / col("n_chars")))), 6)))
      .drop("__tc", "__punct", "__stop")
  }

  /** Marker-word sets for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "that"),
    "de" -> Seq("der", "die", "und", "ist", "das", "ein", "nicht"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "que"),
    "es" -> Seq("el", "los", "y", "es", "una", "por", "como"))

  /** Heuristic language ID: argmax of marker-word hit counts, ties and
    * zero-hits resolving in `LangMarkers` order / to "und" (undetermined
    * — ISO 639-2's code for exactly this).
    */
  def langId(df: DataFrame, textCol: String, out: String = "lang_pred"): DataFrame = {
    // all marker counts come from the ONE fused text pass; scores land
    // in real columns because the strictly-greater fold references each
    // score repeatedly (CollapseProject would otherwise duplicate a
    // non-cheap subtree per reference)
    val scored = df.withColumn("__tc",
        graft.functions.TextCountsExpr.textCounts(col(textCol)))
      .withColumns(LangMarkers.map { case (lang, _) =>
        s"__lid_$lang" -> col(s"__tc.$lang")
      }.toMap)
    // strictly-greater chain → first language in declared order wins ties
    val best = LangMarkers.map(_._1).foldLeft((lit("und"), lit(0))) {
      case ((bl, bs), lang) =>
        val sc = col(s"__lid_$lang")
        (when(sc > bs, lit(lang)).otherwise(bl), greatest(sc, bs))
    }._1
    scored.withColumn(out, best)
      .drop("__tc" +: LangMarkers.map(m => s"__lid_${m._1}"): _*)
  }

  /** Word n-grams WITH multiplicity (no dedup — repetition analysis
    * needs every occurrence; the dedup ops use the distinct variant
    * [[graft.dedup.DedupOps.wordShingles]]). Texts with fewer than n
    * words → empty array. Fused kernel
    * ([[graft.functions.WordShinglesExpr]]). */
  def wordNgrams(text: Column, n: Int): Column =
    graft.functions.WordShinglesExpr.wordShingles(text, n, distinct = false)

  /** Within-document repetition signals (the Gopher/MassiveText repeat
    * filters, adapted to word n-grams): per doc,
    *   - `n_ngrams`      — total n-gram occurrences,
    *   - `top_ngram_fraction` — occurrences of the most frequent n-gram
    *     over total (Gopher's "top n-gram fraction" gate),
    *   - `dup_ngram_fraction` — fraction of occurrences that are
    *     repeats of an earlier occurrence (1 − distinct/total).
    * Docs with fewer than n words (no n-grams) are dropped — they have
    * no repetition signal to report.
    *
    * Shuffle plan: explode → partial-aggregated count on (doc, gram) →
    * per-doc reduce. Two map-side-combinable shuffles keyed by doc id,
    * no windows, no self-joins — linear at 100 TB.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 2): DataFrame = {
    val grams = df.select(col(idCol), explode(wordNgrams(col(textCol), n)).as("__g"))
    grams.groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_ngrams"),
        max(col("__c")).as("__top"),
        count(lit(1)).as("__distinct"))
      .select(col(idCol),
        col("n_ngrams"),
        round(col("__top").cast(DoubleType) / col("n_ngrams"), 6).as("top_ngram_fraction"),
        round(lit(1.0) - col("__distinct").cast(DoubleType) / col("n_ngrams"), 6)
          .as("dup_ngram_fraction"))
  }

  /** PII redaction patterns — deliberately conservative character-class
    * regexes that parse identically under Java regex (Spark) and RE2
    * (DuckDB/production scanners): emails, international-ish phone
    * numbers, IPv4 addresses. Order matters: emails first so the
    * phone pattern can't eat digits inside an address. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+" -> "<EMAIL>",
    "\\+?[0-9][0-9 ()-]{6,}[0-9]" -> "<PHONE>",
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}" -> "<IP>")

  /** Redact PII spans with typed placeholders — the pre-training scrub
    * every public-crawl pipeline runs before anything else sees the
    * text. A per-row regex projection: shuffle-free, codegen'd, linear.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Common HTML entities, unescape order-sensitive: `&amp;` LAST, so
    * double-escaped text (`&amp;lt;`) resolves one level per pass like
    * every standard unescaper — running it first would turn
    * `&amp;lt;` into a live `<` that the caller never wrote. All
    * literal patterns, regex-safe in both Java regex and RE2. */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Web-text scrub — the boilerplate-removal step between a crawl and
    * every text operator in this module: drop `<script>`/`<style>`
    * blocks WITH their payload (executable/style text is never
    * training text), strip remaining tags to spaces, unescape the
    * common entities ([[HtmlEntities]] order), collapse whitespace,
    * trim. A pure per-row regex projection: shuffle-free, codegen'd,
    * linear — and every pattern parses identically under Java regex
    * (engine) and RE2 (oracle/production scanners): `(?is)` flags,
    * lazy `.*?`, and the literal entity patterns are all in the RE2
    * subset, the same portability contract as [[PiiPatterns]].
    */
  def cleanWebText(text: Column): Column = {
    val noBlocks = regexp_replace(text,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    val unescaped = HtmlEntities.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, e, r)
    }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** TF-IDF weights per (document, term): tf = term occurrences in the
    * doc, idf = ln(N / df) with df = docs containing the term. The
    * classic sparse text representation (retrieval scoring, cheap
    * keyword features before an embedding model exists).
    *
    * Shuffle plan: explode → (doc, term) count [tf, map-side combined]
    * → term-level df aggregation joined back on the term. N is a
    * bounded scalar (one count at plan-build time, like the ANN
    * quantizer fits). Terms are lowercased whitespace tokens.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = df.count()
    val terms = df.select(col(idCol), explode(words(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf", log(lit(n.toDouble) / col("df")))
    tf.join(idf, "term")
      .select(col(idCol), col("term"), col("tf"),
        round(col("tf") * col("idf"), 6).as("tf_idf"))
  }

  /** Corpus-unigram log-probability quality signal — the poor-man's
    * perplexity filter (CCNet-style pipelines gate on LM perplexity;
    * with no model in reach, mean token log-prob under the corpus's own
    * unigram distribution separates fluent text from gibberish the same
    * way, cheaper): per doc, `mean_logp` = avg over tokens of
    * `log10(c(w)/N)`, where `c(w)` is the corpus count of `w` and `N`
    * total tokens. Gibberish/rare-token docs score low; boilerplate
    * scores suspiciously high — both ends are curation gates.
    *
    * Shuffle plan: explode → (doc, term) tf [map-side combined] →
    * term-level corpus counts joined back on term → per-doc reduce; `N`
    * is one bounded scalar. Cross-engine determinism: each `log10` is
    * snapped to fixed-point 1e-8 units with `floor(x·1e8 + 0.5)` (floor
    * and IEEE multiplication are bit-deterministic across engines,
    * unlike `round(double, n)` semantics) and summed as exact integers
    * scaled by tf — so SUMMATION ORDER can't flip a digit — with a
    * single double division at the end (`(Σ − n·log10 N)/n`, rounded
    * 6 dp, 100× coarser than the snap unit).
    *
    * Residual cross-engine dependence (deliberate, not covered by the
    * snap): the snap makes the aggregation order-free, but the log10
    * VALUES still come from each engine's libm. Inputs are integer
    * counts, so the exposure is one boundary check per DISTINCT count:
    * a flip needs that engine's `log10(c)` to land within ~1 ulp of a
    * 0.5 fixed-point boundary (~2⁻³⁰ per distinct count) AND the
    * accumulated 1e-8-unit difference to straddle a 6-dp final-round
    * boundary. Verified green at sf0.01/sf0.1; at much larger
    * vocabularies a flip is possible in principle — if one appears,
    * coarsen the snap (1e6 units) before touching anything else.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df.select(col(idCol), explode(words(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val freq = tf.groupBy("term").agg(sum("tf").as("c"))
    // max(1): an all-empty corpus yields ZERO rows (empty output is
    // already correct) but l8(lit(0)) is a CONSTANT — log10(0) = -Inf,
    // whose long cast ANSI-throws at constant-folding time, crashing a
    // job whose right answer is "no rows"
    val n = math.max(terms.count(), 1L) // bounded scalar, like the tfidf N
    def l8(e: Column): Column =
      floor(log10(e.cast(DoubleType)) * lit(1e8) + lit(0.5)).cast(LongType)
    tf.join(freq, "term")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(l8(col("c")) * col("tf")).as("__s"))
      .select(col(idCol), col("n_tokens"),
        round((col("__s") - l8(lit(n)) * col("n_tokens")).cast(DoubleType)
          / lit(1e8) / col("n_tokens"), 6).as("mean_logp"))
  }

  /** Per-document mean log10-probability of `score` docs under a
    * BIGRAM model trained on `train`, with STUPID BACKOFF (Brants et
    * al. 2007, "Large Language Models in Machine Translation") — the
    * web-scale fluency filter one tier above [[unigramLogProb]]: text
    * whose word PAIRS are reference-corpus-typical scores high, while
    * shuffled or boilerplate-stitched text with common words but
    * improbable transitions scores low (the CCNet/KenLM
    * perplexity-filter role; the backoff family is what actually runs
    * at web scale because it needs no normalization pass over the
    * context table). Train ≠ score is the deployment shape — score a
    * new crawl against the trusted reference corpus — and is what
    * makes the backoff and OOV branches live at all (a corpus scored
    * against itself has seen every one of its own bigrams).
    *
    *   score(w | prev) = log10 c(prev,w) − log10 c(prev)   bigram seen
    *                   = log10 α + log10 ĉ(w) − log10 N    otherwise
    *
    * with ĉ(w) = max(c(w), 1) — an out-of-vocabulary word takes the
    * count-1 floor rather than poisoning the document with −∞ — and a
    * doc's first token scored as a plain unigram (no backoff
    * penalty). Every log10 is of an exact integer, snapped to 1e-8
    * fixed point ([[unigramLogProb]]'s determinism contract): each
    * per-token score is an exact long, the per-doc sum is order-free,
    * and a DuckDB oracle replays every digit; α enters as one snapped
    * constant both engines derive from the same IEEE expression.
    *
    * Scale shape: tokenization is a per-row explode (no shuffle); the
    * prev-token attach is one per-doc window (partition = doc, bounded
    * by doc length); unigram/bigram counts are map-side-combinable
    * aggregates shuffled at VOCABULARY cardinality, not corpus; the
    * three model joins are token⋈vocab equi-joins (AQE broadcasts the
    * count tables when they fit); one closing per-doc aggregate. N is
    * one bounded scalar (the tfidf discipline). Output:
    * `(idCol, n_tokens, mean_logp)`, one row per scored doc.
    */
  def bigramLogProbBackoff(train: DataFrame, score: DataFrame,
                           idCol: String, textCol: String,
                           alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha < 1, s"bigramLogProbBackoff: alpha=$alpha not in (0,1)")
    def l8(e: Column): Column =
      floor(log10(e.cast(DoubleType)) * lit(1e8) + lit(0.5)).cast(LongType)
    def toks(df: DataFrame) =
      df.select(col(idCol), posexplode(words(col(textCol))).as(Seq("pos", "term")))
    def withPrev(t: DataFrame) = t.withColumn("prev",
      lag(col("term"), 1).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col("pos"))))
    val trainToks = toks(train)
    val uni = trainToks.groupBy("term").agg(count(lit(1)).as("__c1"))
    val big = withPrev(trainToks).where(col("prev").isNotNull)
      .groupBy("prev", "term").agg(count(lit(1)).as("__c2"))
    val n = trainToks.count() // bounded scalar, like the tfidf N
    // a token-less REFERENCE corpus is a misconfiguration, not a
    // scorable state (every doc would be "OOV against nothing") —
    // and l8(lit(0)) would ANSI-throw at constant folding anyway;
    // fail with a named cause instead
    require(n > 0, "bigramLogProbBackoff: training corpus has no tokens")
    withPrev(toks(score))
      .join(uni, Seq("term"), "left")
      .join(uni.select(col("term").as("prev"), col("__c1").as("__cp")), Seq("prev"), "left")
      .join(big, Seq("prev", "term"), "left")
      .withColumn("__s8",
        when(col("prev").isNull, l8(coalesce(col("__c1"), lit(1L))) - l8(lit(n)))
          .when(col("__c2").isNotNull, l8(col("__c2")) - l8(col("__cp")))
          .otherwise(l8(lit(alpha)) + l8(coalesce(col("__c1"), lit(1L))) - l8(lit(n))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("__s8")).cast(DoubleType) / lit(1e8) / count(lit(1)), 6)
          .as("mean_logp"))
  }

  /** Jensen–Shannon divergence between two corpora's unigram
    * distributions — the vocabulary-drift twin of
    * `HistSketch.histDriftPsi` (that gauges a NUMERIC column's
    * distribution; this gauges what the corpora are ABOUT): "did the
    * new crawl shift the token mix away from the training corpus".
    * `JS = ½·KL(A‖M) + ½·KL(B‖M)`, `M = (p+q)/2`, in bits — bounded
    * [0, 1] and exactly symmetric; identical token distributions read
    * as 0 within the snap tolerance (~1e-8 — unlike PSI's difference
    * form, the KL terms don't cancel algebraically, so the log snaps
    * leave a bounded residue). No
    * division-by-zero pathologies (every term has M > 0). Output: one
    * row `(n_terms, n_a, n_b, js_bits)` with the union vocabulary size
    * and raw token totals.
    *
    * Laplace-+1 smoothing over the UNION vocabulary (so Σ(c+1) = N
    * exactly, keeping the weighted sums integer-exact). Deterministic
    * by the sketch-family discipline: with `a = cA+1, b = cB+1`,
    * `log2(p_t/M_t) = 1 + log2 a + log2 NB − log2(a·NB + b·NA)` — each
    * log2 of an exact integer snapped to 1e-8 fixed point, the
    * per-term weights are exact longs summed over DECIMAL(38,0)
    * (order-free), and the result is a fixed four-op IEEE chain over
    * exact operands. A DuckDB oracle replays every digit.
    *
    * Scale shape: one map-side-combinable term count per corpus, one
    * vocabulary-sized full outer join (shuffled on term — vocabulary,
    * not corpus, cardinality), a 1-row totals broadcast, and a closing
    * aggregate. No corpus-sized shuffle and nothing driver-side.
    */
  def jsDivergence(dfA: DataFrame, dfB: DataFrame, textCol: String,
                   vocabLimit: Int = 0): DataFrame = {
    require(vocabLimit >= 0, s"jsDivergence: vocabLimit=$vocabLimit must be >= 0")
    val d38 = DecimalType(38, 0)
    def l8(e: Column): Column =
      floor(log2(e.cast(DoubleType)) * lit(1e8) + lit(0.5)).cast(LongType)
    def termCounts(df: DataFrame) =
      df.select(explode(words(col(textCol))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
    val aRaw = termCounts(dfA)
    val bRaw = termCounts(dfB)
    // MEMORY CONTRACT: the default (vocabLimit = 0) materializes the
    // full union-vocabulary join — exact JS, but the frame grows with
    // the corpus's vocabulary, NOT bounded by construction (the one
    // Materialize call in this module whose bound is data-dependent).
    // For corpora whose vocabulary outgrows memory, vocabLimit > 0
    // coarsens BOTH sides to the top-K terms by combined count (ties
    // by term) plus one NULL-keyed OTHER bucket before the join — the
    // [[sourceDivergence]] discipline: the grid is ≤ vocabLimit+1
    // rows whatever the corpus, probabilities still sum exactly, and
    // the figure is the exact JS of the coarsened distributions (a
    // deterministic lower bound of the raw JS). Election costs one
    // extra tokenization pass, irreducible as in [[sourceDivergence]].
    val (a, b) =
      if (vocabLimit == 0)
        (aRaw.select(col("term"), col("c").as("__cta")),
          bRaw.select(col("term").as("__tb"), col("c").as("__ctb")))
      else {
        val spark = dfA.sparkSession
        import spark.implicits._
        val topTerms = aRaw.unionAll(bRaw)
          .groupBy("term").agg(sum(col("c")).as("c"))
          .orderBy(col("c").desc, col("term").asc).limit(vocabLimit)
          .collect().map(_.getString(0)).toSeq // ≤ vocabLimit strings
        val top = broadcast(topTerms.toDF("__kept"))
        def coarsen(tc: DataFrame) = tc
          .join(top, col("term") === col("__kept"), "left")
          .groupBy(col("__kept")).agg(sum(col("c")).as("c"))
        (coarsen(aRaw).select(col("__kept").as("term"), col("c").as("__cta")),
          coarsen(bRaw).select(col("__kept").as("__tb"), col("c").as("__ctb")))
      }
    // j feeds the totals AND the main path; materialize the
    // vocabulary-sized frame so each corpus tokenizes exactly once
    // (graft.util.Materialize rationale); null-safe join key so the
    // coarsened OTHER bucket (NULL-keyed) matches across sides
    val j = graft.util.Materialize.bounded(
      a.join(b, col("term") <=> col("__tb"), "full_outer")
        .select(coalesce(col("__cta"), lit(0L)).as("ca"),
          coalesce(col("__ctb"), lit(0L)).as("cb")))
    val totals = j.agg(count(lit(1)).as("__k"),
      (sum(col("ca")) + count(lit(1))).as("__na"),
      (sum(col("cb")) + count(lit(1))).as("__nb"))
    val mix = ((col("ca") + 1).cast(d38) * col("__nb")
      + (col("cb") + 1).cast(d38) * col("__na"))
    j.crossJoin(broadcast(totals))          // 1-row scalar singleton
      .select(col("__k"), col("__na"), col("__nb"),
        ((col("ca") + 1).cast(d38) *
          (lit(100000000L) + l8(col("ca") + 1) + l8(col("__nb")) - l8(mix))).as("__ta"),
        ((col("cb") + 1).cast(d38) *
          (lit(100000000L) + l8(col("cb") + 1) + l8(col("__na")) - l8(mix))).as("__tb"))
      .agg(max(col("__k")).as("n_terms"),
        (max(col("__na")) - max(col("__k"))).as("n_a"),
        (max(col("__nb")) - max(col("__k"))).as("n_b"),
        ((sum(col("__ta")).cast(DoubleType) / max(col("__na")).cast(DoubleType)
          + sum(col("__tb")).cast(DoubleType) / max(col("__nb")).cast(DoubleType))
          / lit(2e8)).as("js_bits"))
  }

  /** ROLLING categorical-mix drift — the JS member of the per-day
    * monitor family ([[graft.profile.HistSketch.histRollingPsi]] is
    * the numeric member): for every day with data AND a non-empty
    * trailing reference, the Jensen–Shannon divergence of that day's
    * `keyCol` MIX (event types, languages, sources — any categorical;
    * for token mixes explode + coarsen upstream) against the merged
    * counts of the `windowDays` days strictly before it. Returns
    * `(day 'yyyy-MM-dd', n_keys, n_cur, n_ref, js_bits)`; first-day /
    * empty-reference rows are omitted.
    *
    * Same snapped-exact arithmetic as [[jsDivergence]], per day. Scale
    * shape: the corpus collapses to per-(day, key) counts first (one
    * map-side-combinable groupBy, materialized — bounded at
    * days × |categories|); the ≤windowDays explode fans out COUNT
    * rows, never events, and every later join is count-row-sized.
    */
  def jsRollingDivergence(df: DataFrame, keyCol: String, tsCol: String,
                          windowDays: Int): DataFrame = {
    require(windowDays >= 1, "jsRollingDivergence: windowDays must be >= 1")
    jsRollingFromPerDay(dayMix(df, keyCol, tsCol), windowDays)
  }

  /** The `(__d DATE, k, cnt)` per-day key-mix frame — the unit the
    * rolling JS gauge consumes and [[writeDayMixTranche]] persists. */
  private def dayMix(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    df.where(col(keyCol).isNotNull)
      .select(to_date(col(tsCol)).as("__d"),
        col(keyCol).cast(StringType).as("k"))
      .groupBy(col("__d"), col("k")).agg(count(lit(1)).as("cnt"))

  // ---- at-rest DAY-KEYED mix artifact --------------------------------

  /** AT-REST day-keyed categorical-mix artifact — the third member of
    * the per-day artifact family (day-keyed histogram for the numeric
    * axis, per-day sum-vectors for the embedding axis): each ingest
    * collapses to `(__d, k, cnt)` and lands as its own tagged
    * sum-tranche; a day may split across ingests. The rolling JS
    * monitor then reads counts, never events. */
  def writeDayMixTranche(df: DataFrame, keyCol: String, tsCol: String,
                         dir: String, tag: String): Unit =
    graft.util.Tranches.write(dayMix(df, keyCol, tsCol), dir, tag)

  /** Merge-on-read of the day-keyed mix artifact. */
  def readDayMix(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.util.Tranches.read(spark, dir, Seq("__d", "k"), "cnt")

  /** Rolling JS straight from the artifact — byte-identical to
    * [[jsRollingDivergence]] over the union of the ingested frames
    * (per-(day, key) sum merge is exact), zero event access; fold via
    * `Tranches.maybeFold(spark, dir, n)(Tranches.consolidate(spark, dir,
    * Seq("__d","k"), "cnt"))`. */
  def jsRollingFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                         windowDays: Int): DataFrame = {
    require(windowDays >= 1, "jsRollingFromIndex: windowDays must be >= 1")
    jsRollingFromPerDay(readDayMix(spark, dir), windowDays)
  }

  /** GROUPED rolling JS — the mix member of the per-group rolling
    * family (`HistSketch.histRollingPsiBy` is the numeric member):
    * for every (group, day) with data and a non-empty group-local
    * trailing reference, the JS divergence of that group's day mix of
    * `keyCol` against the SAME group's merged trailing-window counts
    * — "which segment's event mix broke on which day". Bounded at
    * |groups|·|days|·|categories| everywhere; group-local day axes.
    * Output `(groupCols..., day, n_keys, n_cur, n_ref, js_bits)`. */
  def jsRollingDivergenceBy(df: DataFrame, groupCols: Seq[String],
                            keyCol: String, tsCol: String,
                            windowDays: Int): DataFrame = {
    require(groupCols.nonEmpty, "jsRollingDivergenceBy: need at least one group column")
    require(windowDays >= 1, "jsRollingDivergenceBy: windowDays must be >= 1")
    val d38 = DecimalType(38, 0)
    def l8(e: Column): Column =
      floor(log2(e.cast(DoubleType)) * lit(1e8) + lit(0.5)).cast(LongType)
    val gc = groupCols.map(col)
    val perDay = graft.util.Materialize.bounded(
      df.where(col(keyCol).isNotNull &&
          groupCols.map(c => col(c).isNotNull).reduce(_ && _))
        .select(gc :+ to_date(col(tsCol)).as("__d")
          :+ col(keyCol).cast(StringType).as("k"): _*)
        .groupBy(gc :+ col("__d") :+ col("k"): _*)
        .agg(count(lit(1)).as("cnt")))
    val days = perDay.select(gc :+ col("__d").as("day"): _*).distinct()
    val ref = perDay
      .select(gc ++ Seq(col("k"), col("cnt").as("cb"),
        explode(sequence(date_add(col("__d"), 1),
          date_add(col("__d"), windowDays))).as("day")): _*)
      .join(days, groupCols :+ "day")
      .groupBy(gc ++ Seq(col("day"), col("k")): _*)
      .agg(sum(col("cb")).as("cb"))
    val cur = perDay.select(gc ++ Seq(col("__d").as("day"), col("k"),
      col("cnt").as("ca")): _*)
    val j = cur.join(ref, groupCols ++ Seq("day", "k"), "full_outer")
      .select(gc ++ Seq(col("day"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb")): _*)
    val totals = j.groupBy(gc :+ col("day"): _*).agg(count(lit(1)).as("__k"),
      (sum(col("ca")) + count(lit(1))).as("__na"),
      (sum(col("cb")) + count(lit(1))).as("__nb"),
      sum(col("ca")).as("__ra"), sum(col("cb")).as("__rb"))
    val mix = ((col("ca") + 1).cast(d38) * col("__nb")
      + (col("cb") + 1).cast(d38) * col("__na"))
    j.join(totals, groupCols :+ "day")
      .where(col("__ra") > 0 && col("__rb") > 0)
      .select(gc ++ Seq(col("day"), col("__k"), col("__na"), col("__nb"),
        ((col("ca") + 1).cast(d38) *
          (lit(100000000L) + l8(col("ca") + 1) + l8(col("__nb")) - l8(mix))).as("__ta"),
        ((col("cb") + 1).cast(d38) *
          (lit(100000000L) + l8(col("cb") + 1) + l8(col("__na")) - l8(mix))).as("__tb")): _*)
      .groupBy(gc :+ col("day"): _*)
      .agg(max(col("__k")).as("n_keys"),
        (max(col("__na")) - max(col("__k"))).as("n_cur"),
        (max(col("__nb")) - max(col("__k"))).as("n_ref"),
        ((sum(col("__ta")).cast(DoubleType) / max(col("__na")).cast(DoubleType)
          + sum(col("__tb")).cast(DoubleType) / max(col("__nb")).cast(DoubleType))
          / lit(2e8)).as("js_bits"))
      .select(gc ++ Seq(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_keys"), col("n_cur"), col("n_ref"), col("js_bits")): _*)
  }

  private def jsRollingFromPerDay(perDay0: DataFrame,
                                  windowDays: Int): DataFrame = {
    val d38 = DecimalType(38, 0)
    def l8(e: Column): Column =
      floor(log2(e.cast(DoubleType)) * lit(1e8) + lit(0.5)).cast(LongType)
    // perDay feeds days, the reference fan-out AND the current side —
    // materialize the bounded frame so the corpus (or tranche scan)
    // collapses exactly once (graft.util.Materialize rationale)
    val perDay = graft.util.Materialize.bounded(perDay0)
    val days = perDay.select(col("__d").as("day")).distinct()
    val ref = perDay.select(col("k"), col("cnt").as("cb"),
        explode(sequence(date_add(col("__d"), 1),
          date_add(col("__d"), windowDays))).as("day"))
      .join(broadcast(days), "day")
      .groupBy(col("day"), col("k")).agg(sum(col("cb")).as("cb"))
    val cur = perDay.select(col("__d").as("day"), col("k"), col("cnt").as("ca"))
    val j = cur.join(ref, Seq("day", "k"), "full_outer")
      .select(col("day"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val totals = j.groupBy("day").agg(count(lit(1)).as("__k"),
      (sum(col("ca")) + count(lit(1))).as("__na"),
      (sum(col("cb")) + count(lit(1))).as("__nb"),
      sum(col("ca")).as("__ra"), sum(col("cb")).as("__rb"))
    val mix = ((col("ca") + 1).cast(d38) * col("__nb")
      + (col("cb") + 1).cast(d38) * col("__na"))
    j.join(totals, "day")                   // |days| rows, AQE-broadcastable
      .where(col("__ra") > 0 && col("__rb") > 0)
      .select(col("day"), col("__k"), col("__na"), col("__nb"),
        ((col("ca") + 1).cast(d38) *
          (lit(100000000L) + l8(col("ca") + 1) + l8(col("__nb")) - l8(mix))).as("__ta"),
        ((col("cb") + 1).cast(d38) *
          (lit(100000000L) + l8(col("cb") + 1) + l8(col("__na")) - l8(mix))).as("__tb"))
      .groupBy(col("day"))
      .agg(max(col("__k")).as("n_keys"),
        (max(col("__na")) - max(col("__k"))).as("n_cur"),
        (max(col("__nb")) - max(col("__k"))).as("n_ref"),
        ((sum(col("__ta")).cast(DoubleType) / max(col("__na")).cast(DoubleType)
          + sum(col("__tb")).cast(DoubleType) / max(col("__nb")).cast(DoubleType))
          / lit(2e8)).as("js_bits"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_keys"), col("n_cur"), col("n_ref"), col("js_bits"))
  }

  /** Per-source divergence dashboard — "which source is the odd one
    * out": for every value of `groupCol`, the [[jsDivergence]] of that
    * source's unigram mix against THE REST OF THE CORPUS. The
    * complement counts are derived by subtraction from the global term
    * counts (`cb = ctot − ca`), so the corpus is tokenized ONCE however
    * many sources there are. Output: `(groupCol, n_terms, n_src,
    * n_rest, js_bits)`; sources that constitute the whole corpus
    * (empty complement) are omitted rather than scored against pure
    * smoothing.
    *
    * The KL sum needs a DENSE source×term grid (absent terms still
    * contribute their smoothed mass), which at raw vocabulary scale is
    * |sources|·|vocab| — the quadratic hot spot. It is bounded BY
    * CONSTRUCTION the way the co-occurrence projection bounds pair
    * fan-out: the vocabulary is coarsened to the `vocabLimit` globally
    * most frequent terms (ties broken by term) plus one OTHER bucket
    * that absorbs the whole tail's mass, so the grid is
    * |sources|·(vocabLimit+1) whatever the corpus. Probabilities still
    * sum exactly (the tail's counts move, they don't vanish), and the
    * reported figure is the exact JS of the COARSENED distributions —
    * a deterministic lower bound of the raw-vocabulary JS (data-
    * processing inequality), which is the stable choice for a drift
    * dashboard. The OTHER bucket is keyed as NULL and joined
    * null-safely, so it can never collide with a real token.
    *
    * Same snapped-exact arithmetic as [[jsDivergence]], per source.
    * The corpus is tokenized exactly TWICE — once to elect the top-K
    * vocabulary (irreducible: coarsening needs the global counts
    * first), once to build the coarsened per-source counts — and the
    * coarsened frame is checkpoint-materialized at plan-build time
    * (it is bounded at |sources|·(vocabLimit+1) rows by construction),
    * so the five downstream references read the small frame instead of
    * re-expanding the corpus subtree (verified against
    * `.explain("formatted")`: without the materialization the token
    * scan appears five times and exchange reuse does not collapse the
    * near-identical-but-not-canonical aggregates).
    */
  def sourceDivergence(df: DataFrame, groupCol: String, textCol: String,
                       vocabLimit: Int = 10000): DataFrame = {
    require(vocabLimit >= 1, s"sourceDivergence: vocabLimit must be >= 1")
    val d38 = DecimalType(38, 0)
    def l8(e: Column): Column =
      floor(log2(e.cast(DoubleType)) * lit(1e8) + lit(0.5)).cast(LongType)
    val spark = df.sparkSession
    val tc = df
      .select(col(groupCol).cast(StringType).as("src"),
        explode(words(col(textCol))).as("term"))
      .where(col("src").isNotNull)
      .groupBy(col("src"), col("term")).agg(count(lit(1)).as("c"))
    // pass 1: elect the kept vocabulary — ≤vocabLimit strings on the
    // driver (the fitted-quantizer precedent for plan-build collects)
    val topTerms = tc.groupBy("term").agg(sum(col("c")).as("c"))
      .orderBy(col("c").desc, col("term").asc).limit(vocabLimit)
      .collect().map(_.getString(0)).toSeq
    import spark.implicits._
    val top = broadcast(topTerms.toDF("__kept"))
    // pass 2: coarsen — tail terms collapse onto the NULL-keyed OTHER
    // bucket; materialize the bounded result so downstream branches
    // never re-expand the corpus subtree
    val tc2 = graft.util.Materialize.bounded(
      tc.join(top, col("term") === col("__kept"), "left")
        .groupBy(col("src"), col("__kept").as("t")).agg(sum(col("c")).as("c")))
    val gt2 = tc2.groupBy("t").agg(sum(col("c")).as("ctot"))
    val grid = tc2.select("src").distinct().crossJoin(broadcast(gt2))
    val tc3 = tc2.select(col("src").as("__s2"), col("t").as("__t2"),
      col("c").as("__ca"))
    val g2 = grid.join(tc3,
        col("src") === col("__s2") && col("t") <=> col("__t2"), "left")
      .select(col("src"), coalesce(col("__ca"), lit(0L)).as("ca"),
        (col("ctot") - coalesce(col("__ca"), lit(0L))).as("cb"))
    val totals = g2.groupBy("src").agg(count(lit(1)).as("__k"),
      (sum(col("ca")) + count(lit(1))).as("__na"),
      (sum(col("cb")) + count(lit(1))).as("__nb"),
      sum(col("cb")).as("__rb"))
    val mix = ((col("ca") + 1).cast(d38) * col("__nb")
      + (col("cb") + 1).cast(d38) * col("__na"))
    g2.join(totals, "src")                  // |sources| rows, AQE-broadcastable
      .where(col("__rb") > 0)
      .select(col("src"), col("__k"), col("__na"), col("__nb"),
        ((col("ca") + 1).cast(d38) *
          (lit(100000000L) + l8(col("ca") + 1) + l8(col("__nb")) - l8(mix))).as("__ta"),
        ((col("cb") + 1).cast(d38) *
          (lit(100000000L) + l8(col("cb") + 1) + l8(col("__na")) - l8(mix))).as("__tb"))
      .groupBy(col("src"))
      .agg(max(col("__k")).as("n_terms"),
        (max(col("__na")) - max(col("__k"))).as("n_src"),
        (max(col("__nb")) - max(col("__k"))).as("n_rest"),
        ((sum(col("__ta")).cast(DoubleType) / max(col("__na")).cast(DoubleType)
          + sum(col("__tb")).cast(DoubleType) / max(col("__nb")).cast(DoubleType))
          / lit(2e8)).as("js_bits"))
      .withColumnRenamed("src", groupCol)
  }

  /** Corpus-level top-k n-grams by total occurrence count (vocabulary /
    * boilerplate profiling; at k ≪ vocabulary this is a partial-agg
    * shuffle plus a TakeOrdered — no full sort materializes). */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(explode(wordNgrams(col(textCol), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ngram").asc)
      .limit(k)

  /** Cut documents into overlapping word-window chunks — the RAG /
    * embedding-pipeline primitive (a retrieval index embeds bounded
    * chunks, not whole documents). Chunk i covers words
    * `[i·stride+1, i·stride+chunkWords]` with `stride = chunkWords −
    * overlapWords`; generation stops once a chunk start would fall
    * inside the previous chunk's overlap tail (`start ≥ nWords −
    * overlap`), so every word is covered and no chunk is a strict
    * suffix of its predecessor. Case is preserved (chunking feeds an
    * embedder, not an identity check).
    *
    * Output: `(id, chunk_id, chunk_text, n_words)` — one row per chunk,
    * ≥1 chunk per document. A pure per-row explode projection: no
    * shuffle, no state, trivially parallel at any corpus size.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkWords: Int, overlapWords: Int = 0): DataFrame = {
    require(chunkWords > 0 && overlapWords >= 0 && overlapWords < chunkWords,
      s"chunkDocuments: need 0 <= overlapWords < chunkWords, got ($chunkWords, $overlapWords)")
    val stride = chunkWords - overlapWords
    df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col(idCol), posexplode(graft.functions.Let.bind(col("__w")) { ws =>
        val nChunks = ceil(greatest(size(ws) - overlapWords, lit(1)).cast(DoubleType) / stride)
          .cast(IntegerType)
        transform(sequence(lit(0), nChunks - 1), i => struct(
          array_join(slice(ws, i * stride + 1, lit(chunkWords)), " ").as("chunk_text"),
          least(lit(chunkWords), size(ws) - i * stride).cast(LongType).as("n_words")))
      }).as(Seq("chunk_id", "__c")))
      .select(col(idCol), col("chunk_id").cast(LongType).as("chunk_id"),
        col("__c.chunk_text").as("chunk_text"), col("__c.n_words").as("n_words"))
  }

  /** Canonical text normalization for content identity: lowercase,
    * collapse whitespace runs, trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS algorithm): hash every char `k`-gram of the normalized text,
    * slide a window of `w` consecutive hashes, keep each window's
    * minimum — the selected set is a LOCAL fingerprint with the
    * guarantee that any two documents sharing a substring of length ≥
    * `w + k − 1` share at least one fingerprint, which makes the
    * fingerprints equi-join keys for partial-overlap detection (quote
    * reuse, license blocks) that whole-document hashing can't see.
    *
    * Single-node engines compute the gram hashes with a rolling
    * (Rabin-Karp) recurrence; here each gram hashes independently
    * inside one codegen'd projection — O(len·w) window minima instead
    * of O(len), but embarrassingly parallel with no cross-row state,
    * which is the trade that matters on a cluster. Returns the sorted
    * distinct selected hashes; shorter-than-one-window texts yield
    * their single minimum.
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4,
                         portable: Boolean = false): Column = {
    require(k > 0 && w > 0, s"winnowFingerprints: need k > 0 and w > 0, got ($k, $w)")
    val h: Column => Column =
      if (portable) graft.functions.Hashes.portable else (c: Column) => xxhash64(c)
    // null text → null fingerprints (not a bogus hash of nothing that
    // every null-text doc would then "share")
    when(text.isNotNull, graft.functions.Let.bind(normalize(text)) { t =>
      val grams = when(length(t) >= k,
        transform(sequence(lit(1), length(t) - (k - 1)), i => substr(t, i, lit(k))))
        .otherwise(array(t))
      // window minima run in the fused monotonic-deque kernel
      // ([[graft.functions.WinnowMinsExpr]]): the composable
      // slice+array_min form allocates a w-slice per position — O(n·w)
      // per document on the gram-hash hot path
      graft.functions.WinnowMinsExpr.winnowMins(transform(grams, g => h(g)), w)
    })
  }

  /** The composable HOF form of [[winnowFingerprints]] (kept for
    * cross-checking the fused kernel in tests). */
  def winnowFingerprintsComposable(text: Column, k: Int = 8, w: Int = 4,
                                   portable: Boolean = false): Column = {
    require(k > 0 && w > 0, s"winnowFingerprints: need k > 0 and w > 0, got ($k, $w)")
    val h: Column => Column =
      if (portable) graft.functions.Hashes.portable else (c: Column) => xxhash64(c)
    when(text.isNotNull, graft.functions.Let.bind(normalize(text)) { t =>
      val grams = when(length(t) >= k,
        transform(sequence(lit(1), length(t) - (k - 1)), i => substr(t, i, lit(k))))
        .otherwise(array(t))
      graft.functions.Let.bind(transform(grams, g => h(g))) { hs =>
        when(size(hs) >= w,
          array_sort(array_distinct(transform(sequence(lit(1), size(hs) - (w - 1)),
            p => array_min(slice(hs, p, lit(w)))))))
          .otherwise(array(array_min(hs)))
      }
    })
  }

  /** Partial-overlap candidate pairs from winnowing fingerprints:
    * documents sharing ≥ `minShared` selected hashes, with the shared
    * count as the overlap signal. The same one-shuffle bucketed
    * equi-join shape as every pair finder in the engine — fingerprints
    * explode, candidates meet on the hash, `maxBucket` drops
    * boilerplate hashes shared by half the corpus (a fingerprint that
    * common ranks pairs by cliché, not by reuse). Returns
    * `(id_a, id_b, n_shared)`, id_a < id_b. The pruned fingerprint
    * frame is persisted (the self-join forks it) under the dedup pair
    * finders' caching contract (`graft.util.Materialize`).
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4, minShared: Int = 2,
                         portable: Boolean = false,
                         maxBucket: Int = 1000): DataFrame = {
    val fps = df.select(col(idCol).as("__id"),
      explode(winnowFingerprints(col(textCol), k, w, portable)).as("__fp"))
    // persisted because the self-join forks the (expensive) winnow
    // pipeline — the same caching contract as the jaccard pair finder
    val pruned = graft.util.Materialize.persist(fps.withColumn("__bn",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("__fp")))
      .where(col("__bn") <= maxBucket).drop("__bn"))
    val a = pruned.select(col("__fp"), col("__id").as("id_a"))
    val b = pruned.select(col("__fp"), col("__id").as("id_b"))
    a.join(b, Seq("__fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  // ------------------------------------------------- at-rest winnow index

  import graft.util.Fs.pathExists

  private def winnowRows(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int, portable: Boolean): DataFrame =
    df.select(col(idCol).as("doc_id"),
      explode(winnowFingerprints(col(textCol), k, w, portable)).as("wfp"))

  /** The winnow index's frozen parameter family, the `winnow` view of
    * its [[graft.util.IndexMeta]] header — same structural-invariant
    * role as the dedup index's: fingerprints selected under different
    * (k, w, hash) never meet their at-rest counterparts, so probes read
    * the params from the header instead of trusting callers. `dir` is
    * the resolved index directory. */
  private final case class WinnowIndexMeta(dir: String, k: Int, w: Int, portable: Boolean)

  private def openWinnowIndex(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String): WinnowIndexMeta = {
    val h = graft.util.IndexMeta.open(spark, indexDir, "winnow", "writeWinnowIndex")
    WinnowIndexMeta(h.dir, h.int("k"), h.int("w"), h.bool("portable"))
  }

  /** Materialize winnowing fingerprints at rest: `dir/wfp` holds the
    * corpus's exploded selected hashes `(doc_id, wfp)` — 8 bytes per
    * selected gram, ~1/w of the gram count per document — so the daily
    * [[winnowOverlapAgainstIndex]] never re-winnows or re-reads corpus
    * text. Same lifecycle discipline as the dedup index
    * ([[graft.dedup.DedupOps.writeDedupIndex]]): `batch=<tag>` tranche
    * layout with overwrite-idempotent appends, params frozen in the
    * index header, every build published whole through
    * [[graft.merge.Merge.swapWith]].
    */
  def writeWinnowIndex(corpus: DataFrame, dir: String, idCol: String, textCol: String,
                       k: Int = 8, w: Int = 4, portable: Boolean = false,
                       commit: graft.merge.Merge.Commit =
                         graft.merge.Merge.RenameCommit): Unit = {
    val spark = corpus.sparkSession
    graft.merge.Merge.swapWith(spark, dir, commit) { root =>
      graft.util.IndexMeta.write(spark, root, Seq("k" -> k, "w" -> w, "portable" -> portable))
      winnowRows(corpus, idCol, textCol, k, w, portable)
        .write.mode("overwrite").parquet(s"$root/wfp/batch=build")
      winnowCounts(Readers.parquet(spark, s"$root/wfp/batch=build"))
        .write.mode("overwrite").parquet(s"$root/wdf/batch=build")
    }
  }

  /** Append a tranche of documents to the winnow index (params from
    * the index header — never caller-supplied). Unlike the dedup index,
    * the natural loop appends the WHOLE probed batch, not survivors:
    * overlap detection reports reuse, it does not drop documents.
    * Overwrite-idempotent per tag; a tag absorbed by
    * [[consolidateWinnowIndex]] is a no-op. */
  def appendToWinnowIndex(newRows: DataFrame, indexDir: String, idCol: String, textCol: String,
                          tag: String): Unit = {
    val spark = newRows.sparkSession
    val meta = openWinnowIndex(spark, indexDir)
    val dir = meta.dir
    // novelty probe for the absorbed-tag path: (doc_id, wfp) pairs
    // absent from the consolidated artifact — pair granularity so a
    // NEW document aliased onto an absorbed tag fails fast even when
    // its selected fingerprints all happen to exist in the index.
    if (!graft.util.Tranches.appendTagAllowed(spark, dir, tag, "appendToWinnowIndex",
      () => winnowRows(newRows, idCol, textCol, meta.k, meta.w, meta.portable)
        .join(Readers.parquet(spark, s"$dir/wfp").select("doc_id", "wfp"),
          Seq("doc_id", "wfp"), "left_anti")
        .count()))
      return
    winnowRows(newRows, idCol, textCol, meta.k, meta.w, meta.portable)
      .write.mode("overwrite").parquet(s"$dir/wfp/batch=$tag")
    // wdf tranche from the written wfp tranche; written AFTER it (a
    // crash in between leaves the prune conservative — undercounted
    // combined counts — until the documented same-tag retry or the
    // next consolidation's regeneration); pre-wdf legacy indexes skip
    // (consolidateWinnowIndex retrofits the artifact)
    if (pathExists(spark, s"$dir/wdf"))
      winnowCounts(Readers.parquet(spark, s"$dir/wfp/batch=$tag"))
        .write.mode("overwrite").parquet(s"$dir/wdf/batch=$tag")
  }

  /** `wdf`: per-fingerprint occurrence counts of `wfp` rows at rest
    * (read back, never re-evaluated) — the overlap probe's hot-hash
    * prune input, additive across tranches like the dedup `df`/`bf`. */
  private def winnowCounts(wfp: DataFrame): DataFrame =
    wfp.groupBy("wfp").agg(count(lit(1)).as("n"))

  /** Collapse accumulated winnow tranches into one — the shared
    * ledger fold ([[graft.util.Tranches.foldLedger]]: `distinct()`
    * self-healing, absorbed-tag ledger, both commit modes); the single
    * `wfp` artifact is its own commit witness, and `wdf` is regenerated
    * from the folded rows (doubling as the pre-wdf migration). */
  def consolidateWinnowIndex(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String,
                             commit: graft.merge.Merge.Commit =
                               graft.merge.Merge.RenameCommit): Unit = {
    val dir = graft.merge.Merge.resolveDir(spark, indexDir)
    require(pathExists(spark, s"$dir/wfp"),
      s"consolidateWinnowIndex: $dir has no wfp artifact — not a winnow index " +
        "(build it with writeWinnowIndex)")
    graft.util.Tranches.foldLedger(spark, indexDir, Seq("wfp" -> Nil), witness = "wfp",
      Seq(("wdf", "wfp", winnowCounts _)), commit)
  }

  /** At-rest winnow-index statistics — the [[graft.dedup.DedupOps
    * .dedupIndexStats]] twin for the winnow family: one `wfp` row
    * `(artifact, n_rows, n_docs, n_tranches)`. Same operational loop:
    * tranche count says when to [[consolidateWinnowIndex]], rows-per-
    * doc says whether (k, w) match the corpus's document lengths, and
    * a row-count jump after a replay incident is the double-append
    * symptom consolidation's distinct() repairs. One column-pruned
    * aggregation pass; fails fast off-family. */
  def winnowIndexStats(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String): DataFrame = {
    val dir = openWinnowIndex(spark, indexDir).dir
    require(pathExists(spark, s"$dir/wfp"),
      s"winnowIndexStats: $dir has no wfp artifact — not a winnow index")
    graft.dedup.DedupOps.artifactStats(spark, dir,
      Seq("wfp", "wdf").filter(a => pathExists(spark, s"$dir/$a")))
  }

  /** [[graft.dedup.DedupOps.dedupIndexHealth]]'s winnow twin: tranche/
    * marker/freshness triage per artifact from directory metadata
    * alone. */
  def winnowIndexHealth(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String): DataFrame = {
    val dir = openWinnowIndex(spark, indexDir).dir
    graft.util.Tranches.ledgerHealth(spark, dir,
      Seq("wfp", "wdf").filter(a => pathExists(spark, s"$dir/$a")),
      Map("wdf" -> "wfp"), witness = Some("wfp"))
  }

  /** Partial-overlap pairs of a NEW batch against the MATERIALIZED
    * winnow index: the batch winnows from text (params from the
    * index header), the history side reads the compact `wfp` artifact
    * — the daily partial-reuse scan without re-fingerprinting the
    * corpus. Combined hot-hash cap across both sides (a fingerprint
    * cliché on either side is cliché, mirroring
    * [[graft.dedup.DedupOps.dedupAgainstIndex]]'s combined prune);
    * the two sides never self-join. Returns `(id_l, id_r, n_shared)`
    * with `id_l` from the batch.
    *
    * Same-ID pairs are excluded: a batch doc that was already appended
    * (crashed probe→append loop retried) must not report maximal
    * overlap with its own at-rest fingerprints. The flip side is a
    * DOCUMENTED blind spot — a re-crawl carrying the SAME external id
    * with revised content also reports nothing against its indexed
    * predecessor, because id equality cannot distinguish the two
    * cases. Pipelines that need revision-overlap tracking should key
    * batches by (id, revision) or content hash.
    */
  def winnowOverlapAgainstIndex(batch: DataFrame, dir: String,
                                idCol: String, textCol: String,
                                minShared: Int = 2, maxBucket: Int = 1000): DataFrame = {
    val spark = batch.sparkSession
    val meta = openWinnowIndex(spark, dir)
    val idx = meta.dir
    val l = winnowRows(batch, idCol, textCol, meta.k, meta.w, meta.portable)
      .select(col("doc_id").as("__id"), col("wfp").as("__fp"))
    val r = Readers.parquet(spark, s"$idx/wfp")
      .select(col("doc_id").as("__id"), col("wfp").as("__fp"))
    // combined hot-hash count: from the materialized wdf artifact when
    // the index carries it FRESH (tag sets equal — a crashed append or
    // consolidation diverges them, and stale counts over-prune); via
    // the union window for a legacy/stale index
    // (consolidateWinnowIndex retrofits/refreshes it)
    val (a, b) =
      if (graft.util.Tranches.countFresh(spark, idx, "wfp", "wdf")) {
        // batch rows fork into their counts and the join — persisted
        // so the winnow kernel runs once per consumer set; history is
        // touched only by the hot anti-join into the candidate join
        val lp = graft.util.Materialize.persist(l)
        val batchCnt = lp.groupBy("__fp").agg(count(lit(1)).as("__bc"))
        val histCnt = Readers.parquet(spark, s"$idx/wdf").drop("batch")
          .groupBy("wfp").agg(sum(col("n")).as("__hc"))
          .select(col("wfp").as("__fp"), col("__hc"))
        val hot = graft.util.Materialize.persist(
          batchCnt.join(histCnt, Seq("__fp"), "full_outer")
            .where(coalesce(col("__bc"), lit(0L)) + coalesce(col("__hc"), lit(0L)) > maxBucket)
            .select("__fp"))
        (lp.join(hot, Seq("__fp"), "left_anti").select(col("__fp"), col("__id").as("id_l")),
          r.join(hot, Seq("__fp"), "left_anti").select(col("__fp"), col("__id").as("id_r")))
      } else {
        val pruned = graft.util.Materialize.persist(l.withColumn("__side", lit(0))
          .unionByName(r.withColumn("__side", lit(1)))
          .withColumn("__bn", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("__fp")))
          .where(col("__bn") <= maxBucket).drop("__bn"))
        (pruned.where(col("__side") === 0).select(col("__fp"), col("__id").as("id_l")),
          pruned.where(col("__side") === 1).select(col("__fp"), col("__id").as("id_r")))
      }
    // a batch doc that was already appended to the index (re-probe
    // after the probe→append loop crashed and retried) would otherwise
    // meet its own at-rest fingerprints and report a maximal-overlap
    // "pair" with itself — the cross-index analog of the in-corpus
    // path's id_a < id_b self-exclusion
    a.join(b, Seq("__fp"))
      .where(col("id_l") =!= col("id_r"))
      .groupBy("id_l", "id_r").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Content fingerprint: md5 of the normalized text — the exact-dedup
    * identity (reference precedent: sha256 hash identity,
    * `/root/reference/src/pyveb/dbt_client.py:45-58`). */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** 60-bit integer content fingerprint (for compact joins/buckets). */
  def fingerprint64(text: Column): Column =
    graft.functions.Hashes.portable(normalize(text))
}
