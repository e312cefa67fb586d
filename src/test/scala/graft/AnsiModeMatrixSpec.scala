package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ANSI mode matrix: every operator that snaps or
  * casts a USER value documents mode-INDEPENDENT semantics — `try_cast`
  * exclusion where a wild reading must not kill the job, a documented
  * loud THROW
  * where silent exclusion would corrupt identity or position. This
  * suite pins the matrix: each exclusion-family operator runs on
  * wild-magnitude inputs (±9.9e15, ±1e11, NaN) under
  * `spark.sql.ansi.enabled` true AND false and must produce
  * bit-identical outputs; the two documented mode-DEPENDENT surfaces
  * (`CleanOps.floatToInt`, `SchemaOps.enforceSchema` — strict by
  * contract) are pinned the other way: ANSI throws, legacy does not.
  *
  * The shared session is restored to its prior ANSI setting after
  * every block (the SparkSpec no-destructive-conf contract).
  */
class AnsiModeMatrixSpec extends SparkSpec {
  import spark.implicits._

  private def underMode[A](ansi: Boolean)(body: => A): A = {
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None    => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  /** Build AND collect under each mode (Cast resolves its eval mode at
    * analysis time, so the frame must be CONSTRUCTED under the flag,
    * not just executed); assert identical row sets, return one. */
  private def modeInvariant(label: String)(build: => DataFrame): Seq[String] = {
    val on = underMode(true)(build.collect().map(_.toString).sorted.toSeq)
    val off = underMode(false)(build.collect().map(_.toString).sorted.toSeq)
    assert(on == off, s"$label: ANSI-on vs ANSI-off outputs differ\non:  $on\noff: $off")
    on
  }

  private val wilds = Seq(9.9e15, -9.9e15, Double.NaN)

  test("sigma stats: wild readings excluded from n/S/Q, NULL verdict, both modes identical") {
    val rows = Seq[(String, Long, java.lang.Double)](
      ("a", 0L, 10.0), ("a", 1L, 12.0), ("a", 2L, 9.9e15), ("a", 3L, 11.0),
      ("b", 4L, 5.0), ("b", 5L, Double.NaN), ("b", 6L, -9.9e15), ("b", 7L, 5.5),
      ("c", 8L, 1e11), ("c", 9L, 1e11 + 1)) // 1e11 snaps fine at decimals=4? no — 1e11·1e4 = 1e15 < DECIMAL(18,4) max 1e14? see assert below
    def run() = graft.analytics.AnomalyOps.sigmaFlags(
      rows.toDF("grp", "id", "value"), "grp", "value", k = 3)
      .select("grp", "id", "n_group", "is_anomaly")
    val got = modeInvariant("sigmaFlags")(run())
    val byId = underMode(true)(run().collect()
      .map(r => r.getLong(1) -> (r.get(2), Option(r.getAs[java.lang.Boolean]("is_anomaly")))).toMap)
    // group a: the wild row is excluded from the distribution (n_group
    // 3 not 4) and gets no verdict
    assert(byId(0L)._1 == 3L && byId(2L)._2.isEmpty, s"group a: $byId")
    // group b: NaN and the wild negative both excluded
    assert(byId(4L)._1 == 2L && byId(5L)._2.isEmpty && byId(6L)._2.isEmpty)
    // group c: 1e11 is BEYOND DECIMAL(18,4) (max ~1e14 unscaled value
    // is 1e14; 1e11 fits) — both rows snappable, n_group 2
    assert(byId(8L)._1 == 2L && byId(8L)._2.nonEmpty)
    assert(got.nonEmpty)
  }

  test("rollingAgg: wild values excluded from sum AND count; both modes identical") {
    val rows = Seq[(String, Long, java.lang.Double)](
      ("k", 0L, 1.0), ("k", 1L, 2.0), ("k", 2L, 9.9e15), ("k", 3L, 4.0),
      ("k", 4L, Double.NaN), ("k", 5L, -9.9e15), ("k", 6L, 8.0))
    def run() = graft.analytics.TimeSeriesOps.rollingAgg(
      rows.toDF("k", "t", "value"), "k", "t", "value", nRows = 3)
      .select("t", "roll_sum", "roll_n", "roll_avg")
    modeInvariant("rollingAgg")(run())
    val byT = underMode(true)(run().collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), r.getLong(2))).toMap)
    // t=2's frame {1,2,wild}: n counts only the snappable two
    assert(byT(2L) == (Some(3.0), 2L), s"t=2: ${byT(2L)}")
    // t=4's frame {wild,4,NaN}: only 4.0 contributes
    assert(byT(4L) == (Some(4.0), 1L), s"t=4: ${byT(4L)}")
    // t=5's frame {4,NaN,wild}: only 4.0
    assert(byT(5L) == (Some(4.0), 1L), s"t=5: ${byT(5L)}")
  }

  test("rollingSigmaFlags: wild current row gets NULL verdict; prior-window stats exclude wilds") {
    val rows = Seq[(String, Long, java.lang.Double)](
      ("k", 0L, 10.0), ("k", 1L, 10.5), ("k", 2L, 9.9e15), ("k", 3L, 10.2),
      ("k", 4L, 500.0), ("k", 5L, Double.NaN))
    def run() = graft.analytics.AnomalyOps.rollingSigmaFlags(
      rows.toDF("k", "t", "value"), "k", "t", "value", nRows = 4, k = 3)
      .select("t", "n_window", "is_anomaly")
    modeInvariant("rollingSigmaFlags")(run())
    val byT = underMode(true)(run().collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.getAs[java.lang.Boolean](2)))).toMap)
    // the wild row itself: no verdict, but it is COUNTED out of every
    // later window (t=3's prior window holds 2 snappable of 3 rows)
    assert(byT(2L)._2.isEmpty, s"wild row verdict: ${byT(2L)}")
    assert(byT(3L)._1 == 2L, s"t=3 window: ${byT(3L)}")
    // the level shift still flags against the wild-free baseline
    assert(byT(4L) == (3L, Some(true)), s"t=4: ${byT(4L)}")
  }

  test("weightedSample: wild weights never keep, never shift others; both modes identical") {
    val rows = (0L until 30L).map { id =>
      val w: java.lang.Double =
        if (id < 3) wilds(id.toInt) else 1.0 + (id % 5).toDouble
      (id, w)
    }
    def run() = graft.training.TrainingOps.weightedSample(
      rows.toDF("doc_id", "w"), "doc_id", "w", rate = 0.5, portable = true)
    modeInvariant("weightedSample")(run())
    val kept = underMode(true)(run().collect().map(_.getLong(0)).toSet)
    assert(Seq(0L, 1L, 2L).forall(!kept.contains(_)), s"wilds kept: $kept")
    assert(kept.nonEmpty)
  }

  test("neighborhoodAgg/Paths: wild neighbor value behaves like NULL; both modes identical") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 1L)).toDF("src", "dst")
    val values = Seq[(Long, java.lang.Double)](
      (1L, 5.0), (2L, 9.9e15), (3L, 7.0), (4L, Double.NaN)).toDF("node", "v")
    def agg() = graft.graph.GraphOps.neighborhoodAgg(
      edges, "src", "dst", values, "node", "v")
    def paths() = graft.graph.GraphOps.neighborhoodAggPaths(
      edges, "src", "dst", values, "node", "v")
    modeInvariant("neighborhoodAgg")(agg())
    modeInvariant("neighborhoodAggPaths")(paths())
    val got = underMode(true)(agg().collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)))).toMap)
    // node 1's neighbors {2 (wild), 3}: both count, only 3 contributes
    assert(got(1L) == (2L, Some(7.0)), s"node 1: ${got(1L)}")
  }

  test("histogram family: builds exclude wilds, readers give NULL verdicts; both modes identical") {
    val vs = (Seq(1.5, -2.25, 100.0, 3.75, -0.5, 42.0, 7.0) ++ wilds)
      .map(java.lang.Double.valueOf)
    val df = vs.toDF("v")
    val s = 16
    // scaleBy 1e6: ±9.9e15 × 1e6 = 9.9e21 > Long.Max → unsnappable
    // (at small scaleBy the same wilds legitimately FIT the ladder)
    def sketch() = graft.profile.HistSketch.histSketchSigned(df, "v", s, scaleBy = 1000000L)
    modeInvariant("histSketchSigned")(sketch())
    val total = underMode(true)(
      sketch().agg(sum("cnt")).collect()(0).getLong(0))
    assert(total == 7L, s"wilds excluded from the build: $total") // 7 snappable
    modeInvariant("histQuantilesSigned")(
      graft.profile.HistSketch.histQuantilesSigned(sketch(), Seq(0.5, 0.95), s, 1000000L))
    // unsigned readers over a long-ladder sketch + wild score batch
    val longs = Seq(1L, 2L, 4L, 8L, 64L, 1024L).toDF("v")
    def lsk() = graft.profile.HistSketch.histSketch(longs, "v", s)
    // at scaleBy=1 the ladder holds ±9.2e18, so 9.9e15 is a VALID
    // reading there (and flags true, correctly) — the unsigned-reader
    // wilds must exceed the raw long range
    val batch = Seq(3.0, 500.0, 1e19, -1e19, Double.NaN)
      .map(java.lang.Double.valueOf).toDF("v")
    val rank = modeInvariant("histPercentileRank")(
      graft.profile.HistSketch.histPercentileRank(batch, "v", lsk(), s))
    assert(rank.size == 5)
    val flags = underMode(true)(
      graft.profile.HistSketch.histMadFlags(batch, "v", lsk(), k = 3, s)
        .select("v", "is_anomaly").collect()
        .map(r => r.getDouble(0) -> Option(r.getAs[java.lang.Boolean](1))).toMap)
    modeInvariant("histMadFlags")(
      graft.profile.HistSketch.histMadFlags(batch, "v", lsk(), k = 3, s)
        .select("v", "is_anomaly"))
    assert(flags(1e19).isEmpty && flags(-1e19).isEmpty, s"wild verdicts: $flags")
    modeInvariant("histWinsorize")(
      graft.profile.HistSketch.histWinsorize(batch, "v", lsk(), 0.05, 0.95, s))
    modeInvariant("histBucketize")(
      graft.profile.HistSketch.histBucketize(batch, "v", lsk(), Seq(0.5), s))
  }

  test("centroidDrift: wild embedding component contributes nothing; both modes identical") {
    val a = Seq(Tuple1(Array(1.0, 2.0)), Tuple1(Array(9.9e15, 3.0))).toDF("vec")
    val b = Seq(Tuple1(Array(1.5, 2.5)), Tuple1(Array(0.5, 2.0))).toDF("vec")
    val got = modeInvariant("centroidDrift")(
      graft.similarity.SimilarityOps.centroidDrift(a, b, "vec"))
    assert(got.size == 1)
    val cos = underMode(true)(
      graft.similarity.SimilarityOps.centroidDrift(a, b, "vec")
        .collect()(0).getAs[Double]("cosine"))
    assert(!cos.isNaN && cos > 0.0 && cos <= 1.0, s"cosine: $cos")
  }

  test("qualityScore: empty/whitespace docs get NULL metrics, never a job kill; both modes identical") {
    // the DIVISION sibling of the cast class: under ANSI every
    // numeric division by zero throws (double included — measured), so
    // one empty string used to kill the whole quality job
    val df = Seq((1L, "a solid little document with the usual words in it"),
      (2L, ""), (3L, "   \t  "), (4L, null.asInstanceOf[String])).toDF("id", "text")
    val got = modeInvariant("qualityScore")(
      graft.text.TextOps.qualityScore(df, "text")
        .select("id", "avg_word_len", "punct_ratio", "stopword_ratio", "quality_score"))
    val byId = underMode(true)(
      graft.text.TextOps.qualityScore(df, "text")
        .select("id", "quality_score").collect()
        .map(r => r.getLong(0) -> Option(r.getAs[java.lang.Double](1))).toMap)
    assert(byId(1L).nonEmpty, s"real doc scored: $byId")
    // empty text: n_chars = 0 → NULL score (the division the guard
    // exists for). Whitespace-only text tokenizes to one empty-string
    // "word" (the splitter's long-standing behavior, oracle-paired),
    // so its denominators are nonzero and it scores the 0.2 base —
    // defined, never a throw.
    assert(byId(2L).isEmpty, s"empty → NULL: $byId")
    assert(byId(3L).contains(0.2), s"whitespace-only scores the base: $byId")
    assert(got.size == 4)
  }

  test("zero-norm embeddings: NULL cosine (never DIVIDE_BY_ZERO, never a NaN that tops the rank); both modes identical") {
    val corpus = Seq((10L, Array(1.0f, 0.0f)), (11L, Array(0.9f, 0.1f)),
      (12L, Array(0.0f, 0.0f))).toDF("doc_id", "vec") // 12 = corrupt zero vector
    val queries = Seq((1L, Array(1.0f, 0.05f))).toDF("query_id", "vec")
    def run() = graft.similarity.SimilarityOps.bruteForceTopK(
      queries, corpus, "query_id", "doc_id", "vec", k = 3)
      .select("query_id", "corpus_id", "cos", "rank")
    modeInvariant("bruteForceTopK/zero-norm")(run())
    val ranked = underMode(true)(run().collect()
      .map(r => r.getLong(1) -> (Option(r.getAs[java.lang.Double](2)), r.getInt(3))))
    val byDoc = ranked.toMap
    // the zero vector must NOT outrank the real candidates (legacy NaN
    // would have): its cosine is NULL and it sorts last
    assert(byDoc(12L)._1.isEmpty && byDoc(12L)._2 == 3, s"zero vector: $ranked")
    assert(byDoc(10L)._2 < 3 && byDoc(11L)._2 < 3)
    // the zero-norm guard also covers the threshold-filter form
    val pairs = modeInvariant("cosineNearDup/zero-norm")(
      graft.similarity.SimilarityOps.cosineNearDupPairs(corpus, "doc_id", "vec", 0.9))
    assert(pairs.forall(!_.contains("12")), s"zero vector paired: $pairs")
  }

  test("lenient cleaners: junk and out-of-range → NULL, both modes identical") {
    val df = Seq("12", "1.5", "junk", "30000000000", "nan", "Infinity", "-2.9")
      .toDF("c")
    val got = modeInvariant("stringToInt")(
      graft.clean.CleanOps.stringToInt(df, Seq("c")))
    assert(got.count(_.contains("null")) == 4, s"got: $got") // junk, 3e10, nan, Infinity
    modeInvariant("stringToTimestamp")(graft.clean.CleanOps.stringToTimestamp(
      Seq("2024-01-01 10:00:00.123", "junk", "2024-13-45 00:00:00").toDF("c"), Seq("c")))
    val schema = StructType(Seq(StructField("c", IntegerType)))
    modeInvariant("applySchema")(graft.schema.SchemaOps.applySchema(df, schema))
  }

  // ── long sums: the third member of the ANSI sibling class.
  // A LONG-typed S wraps silently at Σ|u| > 9.2e18
  // (legacy: arbitrary wrong flags; ANSI: a killed job) — ~10^19
  // inside the envelope the scaladoc promised. The corridor case pins
  // S-exactness beyond the old wrap point with REAL flags; the breach
  // case pins NULL degradation at the true 38-digit envelope edge.

  test("sigma family: S beyond the old long-wrap point stays exact; flags real and model-equal, both modes") {
    // 12 near-equal values at the snap boundary: u_i ≈ 7.92e17, so
    // S ≈ 9.5e18 > Long.Max while S², n·Q and rhs all stay inside 38
    // digits — the chain must compute REAL booleans here, and they
    // must equal an independent BigInt replay.
    val us14 = (0 until 14).map(i => BigInt(79200000000000L + i) * 10000)
    val us = us14.take(12)
    val sB = us.sum
    assert(sB > BigInt(Long.MaxValue), s"corridor not beyond wrap: $sB")
    val qB = us.map(u => u * u).sum
    val nB = BigInt(12)
    val expFlags = us.map { u =>
      val dev = nB * u - sB
      dev * dev > BigInt(9) * (nB * qB - sB * sB)
    }
    val rows = (0 until 12).map(i => ("g", i.toLong, 7.92e13 + i))
    def run() = graft.analytics.AnomalyOps.sigmaFlags(
      rows.toDF("grp", "id", "value"), "grp", "value", k = 3)
      .select("id", "n_group", "is_anomaly")
    modeInvariant("sigmaFlags corridor")(run())
    val byId = underMode(true)(run().collect()
      .map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Boolean]("is_anomaly"))).toMap)
    (0 until 12).foreach { i =>
      assert(byId(i.toLong).contains(expFlags(i)),
        s"id=$i: engine ${byId(i.toLong)} vs model ${expFlags(i)}")
    }
    // the melted sketch carries the exact S — impossible for the old
    // long sum, which wrapped this value to a negative
    val sVal = underMode(true)(graft.analytics.AnomalyOps.statsSketch(
      rows.toDF("grp", "id", "value"), "grp", "value").collect()
      .find(_.getString(1) == "s").get.getDecimal(2))
    assert(BigInt(sVal.toBigInteger) == sB, s"S: $sVal vs $sB")

    // WINDOW path: its S is a checked LONG sum (the window trade — see
    // rollingSigmaFlags' doc), so frames with Σ|u| ≤ 9.2e18 compute
    // REAL model-equal flags right up to the edge, and frames beyond
    // it yield NULL verdicts in both modes — where the old plain long
    // sum wrapped into arbitrary booleans under legacy and killed the
    // job under ANSI. nRows=12 puts full frames (S ≈ 9.5e18) past the
    // envelope and head frames (≤ 11 rows, S ≤ 8.7e18) inside it.
    val rrows = us14.indices.map(i => ("k", i.toLong, 7.92e13 + i))
    val rexp = us14.indices.map { t =>
      val w = us14.slice(math.max(0, t - 12), t)
      if (w.size < 2) Some(false)
      else if (w.sum > BigInt(Long.MaxValue)) None
      else {
        val n = BigInt(w.size); val s = w.sum; val q = w.map(u => u * u).sum
        val dev = n * us14(t) - s
        Some(dev * dev > BigInt(9) * (n * q - s * s))
      }
    }
    assert(rexp.exists(_.isEmpty) && rexp.count(_.nonEmpty) > 2,
      s"case must straddle the long envelope: $rexp")
    def rrun() = graft.analytics.AnomalyOps.rollingSigmaFlags(
      rrows.toDF("k", "t", "value"), "k", "t", "value", nRows = 12, k = 3)
      .select("t", "is_anomaly")
    modeInvariant("rollingSigmaFlags corridor")(rrun())
    val rByT = underMode(true)(rrun().collect()
      .map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Boolean]("is_anomaly"))).toMap)
    us14.indices.foreach { t =>
      assert(rByT(t.toLong).map(Boolean.unbox) == rexp(t).map(identity),
        s"t=$t: engine ${rByT(t.toLong)} vs model ${rexp(t)}")
    }
  }

  test("sigma family: a 38-digit envelope breach degrades to NULL flags, never a wrong one, both modes") {
    // 'big': Q = 110·(9.9e17)² ≈ 1.08e38 breaches IN the try_sum → q
    // NULL. 'mid': q is real (1.18e37) but S² ≈ 1.41e38 breaches in
    // the product → rhs NULL. Both must yield NULL verdicts — not a
    // crash (ANSI) and not an arbitrary boolean (legacy wrap).
    val rows = (0 until 110).map(i => ("big", i.toLong, 9.9e13)) ++
      (0 until 12).map(i => ("mid", (200 + i).toLong, 9.9e13))
    def run() = graft.analytics.AnomalyOps.sigmaFlags(
      rows.toDF("grp", "id", "value"), "grp", "value", k = 3)
      .select("grp", "id", "n_group", "is_anomaly")
    modeInvariant("sigmaFlags breach")(run())
    val got = underMode(true)(run().collect())
    assert(got.length == 122)
    got.foreach { r =>
      val n = r.getLong(2)
      assert(n == (if (r.getString(0) == "big") 110L else 12L), s"$r")
      assert(r.isNullAt(3), s"breached group produced a verdict: $r")
    }
    val melted = underMode(true)(graft.analytics.AnomalyOps.statsSketch(
      rows.toDF("grp", "id", "value"), "grp", "value").collect())
    val qBig = melted.find(r => r.getString(0) == "big" && r.getString(1) == "q").get
    val qMid = melted.find(r => r.getString(0) == "mid" && r.getString(1) == "q").get
    assert(qBig.isNullAt(2), "breached Q not NULL")
    assert(!qMid.isNullAt(2), "in-envelope Q went NULL")
  }

  test("stats artifact merge: a breached tranche poisons the merged component to NULL, never a silently smaller sum") {
    import graft.analytics.AnomalyOps
    val dir = tempDir("ansi-stats-poison")
    val d1 = (Seq(("g", 10.0), ("g", 11.0), ("g", 12.0),
      ("h", 5.0), ("h", 6.0), ("h", 7.0))).toDF("grp", "value")
    val d2 = (0 until 110).map(_ => ("g", 9.9e13)).toDF("grp", "value")
    AnomalyOps.writeStatsTranche(AnomalyOps.statsSketch(d1, "grp", "value"), dir, "d1")
    AnomalyOps.writeStatsTranche(AnomalyOps.statsSketch(d2, "grp", "value"), dir, "d2")
    val merged = AnomalyOps.readStats(spark, dir, "grp").collect()
    val qG = merged.find(r => r.getString(0) == "g" && r.getString(1) == "q").get
    assert(qG.isNullAt(2),
      "SUM skipped the breached tranche's NULL Q — merged to a silently smaller total")
    val sG = merged.find(r => r.getString(0) == "g" && r.getString(1) == "s").get
    val expS = BigInt(330000) + BigInt(110) * (BigInt(99000000000000L) * 10000)
    assert(BigInt(sG.getDecimal(2).toBigInteger) == expS, s"merged S: $sG")
    // flagging against the merged artifact: poisoned key → NULL
    // verdicts, intact key → real ones; identical in both modes
    val today = Seq(("g", 10.5), ("h", 100.0)).toDF("grp", "value")
    def flags() = AnomalyOps.sigmaFlagsAgainstStats(
      today, AnomalyOps.readStats(spark, dir, "grp"), "grp", "value")
      .select("grp", "is_anomaly")
    modeInvariant("flags against poisoned stats")(flags())
    val byGrp = underMode(true)(flags().collect()
      .map(r => r.getString(0) ->
        Option(r.getAs[java.lang.Boolean](1))).toMap)
    assert(byGrp("g").isEmpty, s"poisoned key got a verdict: $byGrp")
    assert(byGrp("h").contains(true), s"intact key lost its verdict: $byGrp")

    // the OTHER breach path: every tranche in-envelope, the MERGE
    // overflows 38 digits — the merge's own try_sum must degrade to
    // NULL instead of throwing under ANSI (each 60-row tranche has
    // q ≈ 5.9e37; two merge to ≈ 1.18e38)
    val dir2 = tempDir("ansi-stats-xmerge")
    val t60 = (0 until 60).map(_ => ("x", 9.9e13)).toDF("grp", "value")
    AnomalyOps.writeStatsTranche(AnomalyOps.statsSketch(t60, "grp", "value"), dir2, "a")
    val qOne = AnomalyOps.readStats(spark, dir2, "grp").collect()
      .find(r => r.getString(1) == "q").get
    assert(!qOne.isNullAt(2), "single in-envelope tranche read NULL")
    AnomalyOps.writeStatsTranche(AnomalyOps.statsSketch(t60, "grp", "value"), dir2, "b")
    def xmerge() = AnomalyOps.readStats(spark, dir2, "grp")
    modeInvariant("cross-tranche merge breach")(xmerge())
    val merged2 = underMode(true)(xmerge().collect())
    assert(merged2.find(_.getString(1) == "q").get.isNullAt(2),
      "cross-tranche Q breach did not degrade to NULL")
    assert(BigInt(merged2.find(_.getString(1) == "s").get.getDecimal(2).toBigInteger)
      == BigInt(120) * (BigInt(99000000000000L) * 10000), "merged S not exact")
  }

  test("weightedSample: Σw beyond the old long-wrap point — scale invariance holds, both modes") {
    // 30 equal weights at the snap boundary: Σu ≈ 3e19 wrapped the old
    // long sum (legacy: an EMPTY keep set from a negative threshold;
    // ANSI: a killed job). Uniform weights must sample exactly like
    // uniform 1.0 weights at any magnitude.
    val big = (0L until 30L).map(id => (id, 9.9e11)).toDF("doc_id", "w")
    val unit = (0L until 30L).map(id => (id, 1.0)).toDF("doc_id", "w")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.training.TrainingOps.weightedSample(
        df, "doc_id", "w", rate = 0.4, portable = true)
    modeInvariant("weightedSample wrap")(run(big))
    val keptBig = underMode(true)(run(big).collect().map(_.getLong(0)).toSet)
    val keptUnit = underMode(true)(run(unit).collect().map(_.getLong(0)).toSet)
    assert(keptBig.nonEmpty, "boundary-magnitude uniform weights kept nothing")
    assert(keptBig == keptUnit,
      s"scale invariance broken: big=$keptBig unit=$keptUnit")
  }

  test("centroid artifact: an all-excluded (day,dim) tranche group merges as ZERO, not a poisoned NULL") {
    // every day-2 vector is wild at dim 0 (beyond the ±9.2e12 snap
    // range), so that (day, dim) group's sum is NULL-from-empty —
    // zero contribution by the family's documented semantics. The
    // writer must coalesce it to 0 so the merge's breach-poisoning
    // (Tranches.readMulti) never fires on it, and the
    // from-index gauge must equal the inline gauge.
    import graft.similarity.SimilarityOps
    val dir = tempDir("ansi-centroid-empty") + "/idx"
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$d%d 10:00:00")
    val day1 = Seq((ts(1), Array(1.0f, 0.5f)), (ts(1), Array(0.5f, 1.0f)))
    val day2 = Seq((ts(2), Array(1e13f, 0.5f)), (ts(2), Array(1e13f, 1.0f)))
    val df = (day1 ++ day2).toDF("ts", "embedding")
    SimilarityOps.writeCentroidTranche(day1.toDF("ts", "embedding"),
      "embedding", "ts", dir, "t1")
    SimilarityOps.writeCentroidTranche(day2.toDF("ts", "embedding"),
      "embedding", "ts", dir, "t2")
    val merged = graft.util.Tranches.readMulti(
      spark, dir, Seq("__d", "pos"), Seq("s", "c")).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) ->
        (Option(r.getDecimal(2)).map(_.toBigInteger.longValueExact()),
          r.getLong(3))).toMap
    assert(merged(("2024-03-02", 0)) == (Some(0L), 2L),
      s"all-excluded group: ${merged(("2024-03-02", 0))}")
    assert(merged(("2024-03-02", 1)) == (Some(1500000L), 2L))
    assertSameRows(
      SimilarityOps.centroidRollingFromIndex(spark, dir, windowDays = 1),
      SimilarityOps.centroidRollingDrift(df, "embedding", "ts", windowDays = 1))
  }

  test("documented THROW surfaces: ANSI fails loudly where legacy does not (the strict contract)") {
    // floatToInt repair op: a wild float means the column was never INT
    val wild = Seq[java.lang.Double](1.0, 9.9e15).toDF("c")
    underMode(true) {
      val e = intercept[Throwable] {
        graft.clean.CleanOps.floatToInt(wild, Seq("c")).collect()
      }
      assert(e.toString.toLowerCase.contains("cast") ||
        Option(e.getCause).exists(_.toString.toLowerCase.contains("cast")),
        s"unexpected failure shape: $e")
    }
    underMode(false) {
      // legacy wraps silently — out of the documented contract, but it
      // must not throw (the mode matrix's other half)
      graft.clean.CleanOps.floatToInt(wild, Seq("c")).collect()
    }
    // enforceSchema: strict by contract ("invalid values error under
    // ANSI / become NULL under legacy" — the scaladoc's exact words)
    val junk = Seq("junk").toDF("c")
    val schema = StructType(Seq(StructField("c", IntegerType)))
    underMode(true) {
      intercept[Throwable] {
        graft.schema.SchemaOps.enforceSchema(junk, schema).collect()
      }
    }
    underMode(false) {
      val r = graft.schema.SchemaOps.enforceSchema(junk, schema).collect()
      assert(r(0).isNullAt(0))
    }
  }
}
