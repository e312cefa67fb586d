package graft

import org.apache.spark.sql.functions._
import graft.analytics.AnomalyOps

class AnomalyOpsSpec extends SparkSpec {
  import spark.implicits._

  test("sigmaFlags: integer k-sigma test flags the planted outlier, spares the cluster") {
    // group A: tight cluster {10,10,10,12} + outlier 100
    // mean=28.4, sd(pop)=~35.5 at k=1: |100-28.4|=71.6 > 35.5 -> flagged
    val df = Seq(("a", 10.0), ("a", 10.0), ("a", 10.0), ("a", 12.0), ("a", 100.0),
      ("b", 5.0), ("b", 5.0)).toDF("grp", "value")
    val out = AnomalyOps.sigmaFlags(df, "grp", "value", k = 1)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Double]("value"),
        r.getAs[Boolean]("is_anomaly")))
    assert(out.count { case (_, v, f) => f && v == 100.0 } == 1)
    assert(out.forall { case (_, v, f) => v == 100.0 || !f })
    // zero-variance group flags nothing (strict inequality on 0 > 0)
    assert(out.filter(_._1 == "b").forall(!_._3))
  }

  test("sigmaFlags: hand-checked boundary — k chooses the cut, n_group carried") {
    // {0, 0, 0, 8}: S=8, Q=64, n=4 -> n*Q - S^2 = 192
    // x=8: (4*8-8)^2 = 576; k=2 -> 4*192=768 no; k=1 -> 192 yes
    val df = Seq(("g", 0.0), ("g", 0.0), ("g", 0.0), ("g", 8.0)).toDF("grp", "value")
    val k1 = AnomalyOps.sigmaFlags(df, "grp", "value", k = 1).collect()
    val k2 = AnomalyOps.sigmaFlags(df, "grp", "value", k = 2).collect()
    assert(k1.count(_.getAs[Boolean]("is_anomaly")) == 1)
    assert(k2.forall(!_.getAs[Boolean]("is_anomaly")))
    assert(k1.forall(_.getAs[Long]("n_group") == 4L))
  }

  test("sigmaFlags: fractional values snap at the decimals knob, both tails flagged") {
    val df = (Seq.fill(20)(50.0) ++ Seq(0.25, 99.75)).map(("g", _)).toDF("grp", "value")
    val out = AnomalyOps.sigmaFlags(df, "grp", "value", k = 3)
      .collect().map(r => r.getAs[Double]("value") -> r.getAs[Boolean]("is_anomaly"))
    assert(out.count(_._2) == 2)
    assert(out.filter(_._2).map(_._1).sorted.toSeq == Seq(0.25, 99.75))
  }

  test("null values are excluded from n, S AND Q alike; the null row gets no verdict (r16)") {
    // pre-fix statsSketch counted the null row into n while S/Q skipped
    // it, shifting the group mean and corrupting every flag silently
    val withNull = Seq(("a", Some(10.0)), ("a", Some(10.0)), ("a", Some(10.0)),
      ("a", Some(12.0)), ("a", Some(100.0)), ("a", None))
      .toDF("grp", "value")
    val clean = withNull.where(col("value").isNotNull)
    def flags(df: org.apache.spark.sql.DataFrame) =
      AnomalyOps.sigmaFlags(df, "grp", "value", k = 1)
        .collect().map(r => (Option(r.getAs[java.lang.Double]("value")).map(_.toDouble),
          r.getAs[Long]("n_group"), Option(r.getAs[java.lang.Boolean]("is_anomaly"))))
    val got = flags(withNull)
    // the null row reports NULL is_anomaly (no verdict), n_group = 5
    assert(got.forall(_._2 == 5L))
    assert(got.collect { case (None, _, f) => f } sameElements Array(None))
    // non-null rows flag exactly as the null-free frame does
    assert(got.collect { case (Some(v), _, f) => v -> f }.toMap ==
      flags(clean).collect { case (Some(v), _, f) => v -> f }.toMap)
  }

  test("at-rest stats: tranche sums ≡ one-shot stats; flags vs artifact ≡ whole-run flags") {
    val dir = tempDir("graft_sigma")
    try {
      val d1 = Seq(("g", 10.0), ("g", 11.0), ("h", 5.0)).toDF("grp", "value")
      val d2 = Seq(("g", 9.0), ("g", 55.0), ("h", 5.5)).toDF("grp", "value")
      val whole = d1.unionByName(d2)
      AnomalyOps.writeStatsTranche(AnomalyOps.statsSketch(d1, "grp", "value"), dir, "d1")
      AnomalyOps.writeStatsTranche(AnomalyOps.statsSketch(d2, "grp", "value"), dir, "d2")
      val merged = AnomalyOps.readStats(spark, dir, "grp")
      assertSameRows(merged, AnomalyOps.statsSketch(whole, "grp", "value"))
      // flagging day-2 rows against the cumulative artifact is
      // bit-identical to their rows inside a whole-history run
      val viaIndex = AnomalyOps.sigmaFlagsAgainstStats(d2, merged, "grp", "value", k = 1)
      val wholeRun = AnomalyOps.sigmaFlags(whole, "grp", "value", k = 1)
        .where(col("value").isin(9.0, 55.0, 5.5)) // the d2 rows, unique values
      assertSameRows(
        viaIndex.select("grp", "value", "n_group", "is_anomaly"),
        wholeRun.select("grp", "value", "n_group", "is_anomaly"))
      // replayed ingest overwrites its own tranche; consolidation folds
      AnomalyOps.writeStatsTranche(AnomalyOps.statsSketch(d2, "grp", "value"), dir, "d2")
      assertSameRows(AnomalyOps.readStats(spark, dir, "grp"),
        AnomalyOps.statsSketch(whole, "grp", "value"))
      AnomalyOps.consolidateStats(spark, dir, "grp")
      assertSameRows(AnomalyOps.readStats(spark, dir, "grp"),
        AnomalyOps.statsSketch(whole, "grp", "value"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("stats artifact semantics marker: writes stamp, legacy marker-less dirs fail fast (r17)") {
    val dir = tempDir("graft_sigma_meta")
    val d1 = Seq(("g", 10.0), ("g", 11.0)).toDF("grp", "value")
    // a PRE-FIX artifact: tranches written without the marker (the
    // count-every-row layout) must refuse to merge-read
    graft.util.Tranches.write(AnomalyOps.statsSketch(d1, "grp", "value"), dir, "legacy")
    val e = intercept[IllegalArgumentException] {
      AnomalyOps.readStats(spark, dir, "grp").collect()
    }
    assert(e.getMessage.contains("n-semantics") && e.getMessage.contains("Regenerate"),
      s"message must explain the blend hazard: ${e.getMessage}")
    // hand-migration path from the error message: create the marker
    graft.util.Fs.writeSmallFile(spark, s"$dir/${AnomalyOps.StatsMetaName}",
      AnomalyOps.StatsSemanticsV2 + "\n")
    assert(AnomalyOps.readStats(spark, dir, "grp").count() > 0)
    // a fresh write stamps automatically; empty dirs read empty, no marker needed
    val dir2 = tempDir("graft_sigma_meta2")
    AnomalyOps.writeStatsTranche(AnomalyOps.statsSketch(d1, "grp", "value"), dir2, "d1")
    assert(graft.util.Fs.pathExists(spark, s"$dir2/${AnomalyOps.StatsMetaName}"))
    assert(AnomalyOps.readStats(spark, dir2, "grp").count() > 0)
    // an EMPTY dir passes the semantics gate and fails downstream with
    // the pre-existing "no live tranches" contract, not the blend error
    val e2 = intercept[IllegalArgumentException] {
      AnomalyOps.readStats(spark, tempDir("graft_sigma_meta3"), "grp")
    }
    assert(e2.getMessage.contains("no live tranches"), e2.getMessage)
    // crash ordering: the marker lands BEFORE the
    // tranche, so a write that dies mid-tranche leaves "marker, zero
    // tranches" — a valid state — never "tranche, no marker" (which
    // would fail-fast a provably post-fix artifact into the manual
    // migration path). Inject the crash via an unevaluable sketch.
    val dir4 = tempDir("graft_sigma_meta4")
    val poison = AnomalyOps.statsSketch(
      Seq(("g", 1.0)).toDF("grp", "value")
        .where(org.apache.spark.sql.functions
          .assert_true(org.apache.spark.sql.functions.col("value") < 0).isNull),
      "grp", "value")
    intercept[Throwable] { AnomalyOps.writeStatsTranche(poison, dir4, "t0") }
    assert(graft.util.Fs.pathExists(spark, s"$dir4/${AnomalyOps.StatsMetaName}"),
      "marker must precede the tranche write")
    assert(graft.util.Tranches.live(spark, dir4).isEmpty)
  }

  test("rollingSigmaFlags: level shift flags on arrival; current row outside its baseline") {
    // steady 10s then a jump to 100 at t=6: the jump must flag against
    // the PRIOR window; later rows see the shift in their baseline
    val df = (1 to 5).map(t => ("g", t.toLong, 10.0)) ++ Seq(("g", 6L, 100.0))
    val out = AnomalyOps.rollingSigmaFlags(df.toDF("grp", "t", "value"),
      "grp", "t", "value", nRows = 5, k = 3)
      .orderBy("t").collect()
    assert(out.map(_.getAs[Boolean]("is_anomaly")).toSeq ==
      Seq(false, false, false, false, false, true))
    // n_window counts PRIOR rows only
    assert(out.map(_.getAs[Long]("n_window")).toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("rollingSigmaFlags: under-2 windows never flag; slow drift within k sigma stays quiet") {
    val drift = (1 to 10).map(t => ("g", t.toLong, 10.0 + t * 0.1))
    val out = AnomalyOps.rollingSigmaFlags(drift.toDF("grp", "t", "value"),
      "grp", "t", "value", nRows = 4, k = 3).collect()
    assert(out.forall(!_.getAs[Boolean]("is_anomaly")))
    intercept[IllegalArgumentException] {
      AnomalyOps.rollingSigmaFlags(drift.toDF("grp", "t", "value"),
        "grp", "t", "value", nRows = 1)
    }
  }

  test("sigmaFlags rejects bad knobs") {
    val df = Seq(("g", 1.0)).toDF("grp", "value")
    intercept[IllegalArgumentException] { AnomalyOps.sigmaFlags(df, "grp", "value", k = 0) }
    intercept[IllegalArgumentException] {
      AnomalyOps.sigmaFlags(df, "grp", "value", decimals = 9)
    }
  }
}
