package graft

import org.apache.spark.sql.functions._

import graft.profile.HistSketch

class HistSketchSpec extends SparkSpec {
  import spark.implicits._

  /** Reference bucketization in plain Scala — the spec's independent
    * model of the generated CASE chain. */
  private def refBucket(v: Long, s: Int): Int =
    if (v <= 0) 0
    else {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      val sub = java.math.BigInteger.valueOf(v - (1L << e))
        .multiply(java.math.BigInteger.valueOf(s))
        .shiftRight(e).intValueExact()
      1 + e * s + sub
    }

  private def refLowerBound(b: Int, s: Int): Long =
    if (b <= 0) 0L
    else {
      val e = (b - 1) / s
      val j = (b - 1) % s
      (1L << e) + java.math.BigInteger.valueOf(j.toLong)
        .multiply(java.math.BigInteger.valueOf(1L << e))
        .add(java.math.BigInteger.valueOf(s - 1L))
        .divide(java.math.BigInteger.valueOf(s.toLong)).longValueExact()
    }

  test("bucket CASE chain matches the reference model across the domain") {
    val vs = Seq(-5L, 0L, 1L, 2L, 3L, 7L, 15L, 16L, 17L, 100L, 1023L, 1024L,
      999999L, (1L << 40) + 12345L, (1L << 62) + 7L, Long.MaxValue)
    val got = vs.toDF("v")
      .select(col("v"), expr(HistSketch.bucketCaseSql("v", 16, "div")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vs.foreach(v => assert(got(v) == refBucket(v, 16), s"v=$v"))
  }

  test("lower bound is the smallest value mapping into the bucket") {
    // for a spread of values: lb(bucket(v)) <= v and bucket(lb) == bucket(v)
    val vs = (Seq(1L, 2L, 3L, 5L, 9L, 14L, 15L, 16L, 31L, 33L, 100L, 8191L,
      1000000L, (1L << 50) + 999L) ++ (1 to 200).map(_ * 37L)).distinct
    val rows = vs.toDF("v")
      .select(col("v"), expr(HistSketch.bucketCaseSql("v", 16, "div")).as("b"))
      .select(col("v"), col("b"),
        expr(HistSketch.lowerBoundCaseSql("b", 16, "div")).as("lb"))
      .collect()
    rows.foreach { r =>
      val (v, b, lb) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(lb <= v, s"v=$v b=$b lb=$lb")
      assert(refBucket(lb, 16) == b, s"lb=$lb not in bucket $b of v=$v")
      assert(lb == refLowerBound(b.toInt, 16))
      // relative bucket width bound: v < lb·(1 + 2/s) + 1 loosely
      assert(v - lb <= math.max(1L, lb / 8), s"bucket too wide: v=$v lb=$lb")
    }
  }

  test("quantiles land within one bucket width of exact, rank selection exact") {
    val n = 10000
    // skewed data: lengths ~ i² spread over 5 decades
    val data = (1 to n).map(i => (i.toLong * i.toLong) % 1000000L + 1L)
    val df = data.toDF("v")
    val ps = Seq(0.5, 0.9, 0.99)
    val got = HistSketch.histQuantiles(HistSketch.histSketch(df, "v"), ps)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val sorted = data.sorted
    ps.foreach { p =>
      val exact = sorted(math.ceil(p * n).toInt - 1)
      val v = got(p)
      assert(v <= exact, s"p=$p got $v > exact $exact")
      // value error bounded by one sub-bucket: 1/16 relative
      assert(exact - v <= math.max(1L, exact / 8), s"p=$p got $v exact $exact")
    }
  }

  test("merge of disjoint halves == sketch of the union, count-exact") {
    val a = (1 to 4000).map(i => (i % 977).toLong + 1).toDF("v")
    val b = (1 to 3000).map(i => (i % 1553).toLong * 3 + 2).toDF("v")
    val whole = HistSketch.histSketch(a.unionByName(b), "v")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val merged = HistSketch.histMerge(
      HistSketch.histSketch(a, "v"), HistSketch.histSketch(b, "v"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(merged == whole)
  }

  test("NULL values are excluded like every aggregate") {
    val df = ((1 to 500).map(i => Option(i.toLong)) ++ Seq.fill(40)(Option.empty[Long]))
      .toDF("v")
    val clean = (1 to 500).map(_.toLong).toDF("v")
    assert(HistSketch.histSketch(df, "v").collect().map(r => (r.getInt(0), r.getLong(1))).toMap ==
      HistSketch.histSketch(clean, "v").collect().map(r => (r.getInt(0), r.getLong(1))).toMap)
  }

  test("rolling quantiles merge trailing-window histograms per day") {
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-03-$d%02d 09:00:00")
    // d1: values 1..100; d2: 1000..1100; d5: 10..20
    val rows = (1 to 100).map(v => (ts(1), v.toLong)) ++
      (1000 to 1100).map(v => (ts(2), v.toLong)) ++
      (10 to 20).map(v => (ts(5), v.toLong))
    val df = rows.toDF("ts", "v")
    val got = HistSketch.histRollingQuantiles(df, "v", "ts", windowDays = 2, ps = Seq(0.5))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(got.keySet.map(_._1) == Set("2024-03-01", "2024-03-02", "2024-03-05"))
    // d2's window = d1+d2: 100 values ≤100 plus 101 values ≥1000 → the
    // rank-101 median is 1000, reported as its bucket boundary 992
    val d2 = got(("2024-03-02", 0.5))
    assert(d2 <= 1000 && d2 >= 930, s"d2 median $d2")
    val d5 = got(("2024-03-05", 0.5))
    assert(d5 <= 15 && d5 >= 14, s"d5 median $d5")
    // d1 alone: median of 1..100 = 50 → bucket lb ≤ 50, within 1/8
    val d1 = got(("2024-03-01", 0.5))
    assert(d1 <= 50 && d1 >= 44, s"d1 median $d1")
  }

  test("at-rest tranches: append == rebuild, consolidation crash-safe under sum") {
    val dir = tempDir("graft_hist")
    try {
      val a = (1 to 900).map(i => (i % 317).toLong + 1).toDF("v")
      val b = (1 to 700).map(i => (i % 523).toLong * 2 + 1).toDF("v")
      val c = (1 to 400).map(i => (i % 89).toLong + 5).toDF("v")
      val expected = HistSketch.histSketch(a.unionByName(b).unionByName(c), "v")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      HistSketch.writeHistTranche(HistSketch.histSketch(a, "v"), dir, "d0")
      HistSketch.writeHistTranche(HistSketch.histSketch(b, "v"), dir, "d1")
      HistSketch.writeHistTranche(HistSketch.histSketch(c, "v"), dir, "d2")
      def readMap() = HistSketch.readHist(spark, dir)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(readMap() == expected)
      // replayed ingest overwrites its own tranche → no double count
      HistSketch.writeHistTranche(HistSketch.histSketch(b, "v"), dir, "d1")
      assert(readMap() == expected)
      HistSketch.consolidateHist(spark, dir)
      val names = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("batch="))
      assert(names.length == 1 && names.head.startsWith("batch=consolidated-"))
      assert(readMap() == expected)
      // simulate the crash window: a folded tranche resurfaces AFTER the
      // consolidated tranche exists (deletes never ran) — the manifest
      // must exclude it from the read, or counts double
      HistSketch.writeHistTranche(HistSketch.histSketch(c, "v"), dir, "d2")
      assert(readMap() == expected)
      // the next consolidation completes the crash recovery (GCs d2)
      HistSketch.consolidateHist(spark, dir)
      assert(readMap() == expected)
      val after = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("batch="))
      assert(after.length == 1)
      // fresh tranche after consolidation merges on read
      HistSketch.writeHistTranche(HistSketch.histSketch(a, "v"), dir, "d9")
      val doubledA = HistSketch.histMerge(
        HistSketch.histSketch(a.unionByName(b).unionByName(c), "v"),
        HistSketch.histSketch(a, "v"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(readMap() == doubledA)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("histDriftPsi: zero on identical sketches, grows with shift, symmetric sign flip") {
    val a = (1 to 2000).map(i => (i % 997).toLong + 1).toDF("v")
    val sa = HistSketch.histSketch(a, "v")
    def psi(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) = {
      val r = HistSketch.histDriftPsi(x, y).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    }
    // identical sketches: every p_i == q_i exactly → PSI is exactly 0
    val (k0, na0, nb0, p0) = psi(sa, sa)
    assert(p0 == 0.0, s"identical sketches must give PSI 0, got $p0")
    assert(na0 == 2000 && nb0 == 2000 && k0 > 0)
    // a mild shift (values ×2 moves everything one octave up)
    val b = (1 to 2000).map(i => ((i % 997).toLong + 1) * 2).toDF("v")
    val (_, _, _, pShift) = psi(sa, HistSketch.histSketch(b, "v"))
    assert(pShift > 0.5, s"octave shift should register strongly, got $pShift")
    // a disjoint distribution drifts further than the mild shift
    val c = (1 to 2000).map(i => (i % 997).toLong + 1000000L).toDF("v")
    val (_, _, _, pFar) = psi(sa, HistSketch.histSketch(c, "v"))
    assert(pFar > pShift, s"disjoint $pFar should exceed shifted $pShift")
    // PSI is symmetric in (p−q)·log(p/q): swapping arguments preserves it
    val fwd = psi(sa, HistSketch.histSketch(b, "v"))._4
    val rev = psi(HistSketch.histSketch(b, "v"), sa)._4
    assert(math.abs(fwd - rev) < 1e-9, s"fwd $fwd vs rev $rev")
  }

  test("grouped histograms: per-group quantiles match per-group builds, merge is per-key sum") {
    val rows = (1 to 400).map(i => ("a", (i % 100).toLong + 1)) ++
      (1 to 300).map(i => ("b", (i % 1000).toLong * 5 + 2))
    val df = rows.toDF("g", "v")
    val gk = Seq("g")
    // merge of disjoint halves == grouped sketch of the whole
    val whole = HistSketch.histSketchBy(df, gk, "v")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val merged = HistSketch.histMergeBy(gk,
      HistSketch.histSketchBy(df.where(col("v") % 2 === 0), gk, "v"),
      HistSketch.histSketchBy(df.where(col("v") % 2 === 1), gk, "v"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
    // per-group quantiles == running histQuantiles on each group alone
    val got = HistSketch.histQuantilesBy(
      HistSketch.histSketchBy(df, gk, "v"), gk, Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    for (g <- Seq("a", "b")) {
      val solo = HistSketch.histQuantiles(
        HistSketch.histSketch(df.where(col("g") === g), "v"), Seq(0.5, 0.9))
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      assert(got((g, 0.5)) == solo(0.5) && got((g, 0.9)) == solo(0.9), s"group $g")
    }
  }

  test("histSourcePsi: odd source fires, identical-profile sources stay low, solo omitted") {
    val rows = (1 to 300).map(i => ("a", (i % 80).toLong + 20)) ++
      (1 to 300).map(i => ("b", (i % 80).toLong + 20)) ++      // same profile as a
      (1 to 300).map(i => ("c", (i % 80).toLong * 1000 + 50000)) // wildly different
    val got = HistSketch.histSourcePsi(rows.toDF("g", "v"), "g", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set("a", "b", "c"))
    got.foreach { case (g, (nSrc, nRest, _)) =>
      assert(nSrc == 300 && nRest == 600, s"$g totals") }
    // the alien source drifts far beyond its identical-profile peers
    // (the peers aren't near 0: c pollutes THEIR complement too)
    assert(got("c")._3 > 3 * got("a")._3, s"c=${got("c")._3} a=${got("a")._3}")
    assert(got("c")._3 > 3 * got("b")._3)
    // a and b share a profile exactly -> identical gauge by symmetry
    assert(got("a")._3 == got("b")._3, s"a=${got("a")._3} b=${got("b")._3}")
    // single-source corpus: complement empty -> omitted
    assert(HistSketch.histSourcePsi(
      rows.filter(_._1 == "a").toDF("g", "v"), "g", "v").count() == 0)
  }

  test("histRollingPsi: 0 on a repeat day, fires on a shifted day, omits empty references") {
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-03-$d%02d 09:00:00")
    val rows = (1 to 100).map(v => (ts(1), v.toLong)) ++      // d1: baseline
      (1 to 100).map(v => (ts(2), v.toLong)) ++               // d2: identical repeat
      (500 to 600).map(v => (ts(3), v.toLong)) ++             // d3: shifted
      (1 to 100).map(v => (ts(10), v.toLong))                 // d10: ref window empty
    val got = HistSketch.histRollingPsi(rows.toDF("ts", "v"), "v", "ts", windowDays = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // d1 (no trailing data) and d10 (trailing window d8-d9 empty) are omitted
    assert(got.keySet == Set("2024-03-02", "2024-03-03"))
    val (cur2, ref2, psi2) = got("2024-03-02")
    assert(cur2 == 100 && ref2 == 100)
    // identical per-bucket counts → qa == qb on every bucket → exact 0
    assert(psi2 == 0.0, s"repeat day gave $psi2")
    val (cur3, ref3, psi3) = got("2024-03-03")
    assert(cur3 == 101 && ref3 == 200)
    assert(psi3 > 1.0, s"shifted day gave $psi3")
  }

  test("histWinsorize: clamps into the sketch band, null-safe, bounds exposed") {
    val hist = HistSketch.histSketch((1L to 1000L).toDF("v"), "v")
    val bounds = HistSketch.histQuantiles(hist, Seq(0.05, 0.95))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val (lo, hi) = (bounds(0.05), bounds(0.95))
    assert(lo > 0 && hi > lo)
    val batch = Seq(Some(-50L), Some(lo), Some(lo + 1), Some(500L), Some(hi),
      Some(999999L), Option.empty[Long]).toDF("v")
    val got = HistSketch.histWinsorize(batch, "v", hist, 0.05, 0.95)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    got.values.foreach { case (l, h, _) => assert(l == lo && h == hi) }
    assert(got(Some(-50L))._3.contains(lo))        // below band → lo
    assert(got(Some(lo))._3.contains(lo))
    assert(got(Some(lo + 1))._3.contains(lo + 1))  // inside band untouched
    assert(got(Some(500L))._3.contains(500L))
    assert(got(Some(999999L))._3.contains(hi))     // above band → hi
    assert(got(None)._3.isEmpty)                   // NULL stays NULL
    intercept[IllegalArgumentException] {
      HistSketch.histWinsorize(batch, "v", hist, 0.95, 0.05)
    }
  }

  test("histPercentileRank: monotone, exact at bucket boundaries, gap/extreme/null safe") {
    val hist = HistSketch.histSketch((1L to 1000L).toDF("v"), "v")
    val batch = Seq(Some(-5L), Some(1L), Some(500L), Some(1000L), Some(999999L),
      Option.empty[Long]).toDF("v")
    val got = HistSketch.histPercentileRank(batch, "v", hist)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(Some(-5L)).contains(0.0))          // below everything
    assert(got(Some(1L)).contains(0.0))           // smallest value's bucket
    val mid = got(Some(500L)).get
    assert(mid > 0.3 && mid < 0.5, s"mid rank $mid (strictly-below semantics)")
    val top = got(Some(1000L)).get
    assert(top > 0.9 && top < 1.0, s"top-bucket rank $top")
    assert(got(Some(999999L)).contains(1.0))      // above every occupied bucket
    assert(got(None).isEmpty)                     // NULL -> NULL
    // monotonicity across a sweep (gap buckets included)
    val sweep = (0L to 2000L by 50L).toDF("v")
    val ranks = HistSketch.histPercentileRank(sweep, "v", hist)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a <= b }, "must be monotone")
  }

  test("histWinsorizeBy: per-group bands, missing-group passthrough, null-safe") {
    // group a lives near 100, group b near 100000 — a value normal for
    // b must be clamped for a, and vice versa
    val hist = HistSketch.histSketchBy(
      ((1 to 1000).map(i => ("a", 50L + (i % 101))) ++
        (1 to 1000).map(i => ("b", 50000L + i * 50L))).toDF("g", "v"), // 50050..100000
      Seq("g"), "v")
    val batch = Seq(("a", Option(100L)), ("a", Option(99999L)), ("a", Option(1L)),
      ("b", Option(75000L)), ("b", Option(100L)), ("b", Option.empty[Long]),
      ("zzz", Option(123L))).toDF("g", "v")
    val got = HistSketch.histWinsorizeBy(batch, Seq("g"), "v", hist, 0.05, 0.95)
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1))) ->
        (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(got(("a", Some(100L))).contains(100L))       // inside a's band
    val aHi = got(("a", Some(99999L))).get
    assert(aHi < 200L, s"b-normal value must clamp hard for a: $aHi")
    assert(got(("a", Some(1L))).get >= 50L)             // below a's p05 -> lo
    assert(got(("b", Some(75000L))).contains(75000L))   // inside b's band
    val bLo = got(("b", Some(100L))).get
    assert(bLo > 50000L, s"a-normal value must clamp UP for b: $bLo")
    assert(got(("b", None)).isEmpty)                    // NULL passes through
    assert(got(("zzz", Some(123L))).contains(123L))     // no history -> unclamped
  }

  test("histWinsorizeSignedBy: per-group SIGNED fractional bands; mergeBy ≡ one-shot") {
    // group a is centered BELOW zero (deltas around -10.5), group b
    // above (around +500.25): a value normal for b must clamp hard for
    // a, and a's band must have a NEGATIVE lower bound — the one-sided
    // collapse the unsigned grouped tier would commit
    val rows = (1 to 1000).map(i => ("a", Option(-20.5 + (i % 21)))) ++
      (1 to 1000).map(i => ("b", Option(450.25 + (i % 101))))
    val all = rows.toDF("g", "v")
    val sk = HistSketch.histSketchSignedBy(all, Seq("g"), "v", scaleBy = 100L)
    // grouped signed sketches merge per-(group, bucket) by sum
    val (h1, h2) = rows.splitAt(rows.length / 2)
    assertSameRows(sk, HistSketch.histMergeBy(Seq("g"),
      HistSketch.histSketchSignedBy(h1.toDF("g", "v"), Seq("g"), "v", scaleBy = 100L),
      HistSketch.histSketchSignedBy(h2.toDF("g", "v"), Seq("g"), "v", scaleBy = 100L)))
    val batch = Seq(("a", Option(-10.5)), ("a", Option(500.0)), ("a", Option(-9999.0)),
      ("b", Option(500.25)), ("b", Option(-10.5)), ("b", Option.empty[Double]),
      ("zzz", Option(42.0))).toDF("g", "v")
    val got = HistSketch.histWinsorizeSignedBy(batch, Seq("g"), "v", sk,
      0.05, 0.95, scaleBy = 100L)
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))) ->
        ((if (r.isNullAt(2)) None else Some(r.getDouble(2))),
          (if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    val (aLoBound, aIn) = got(("a", Some(-10.5)))
    assert(aLoBound.exists(_ < 0), s"a's lower bound must be negative: $aLoBound")
    assert(aIn.contains(-10.5))                        // inside a's band
    assert(got(("a", Some(500.0)))._2.get < 10.0)      // b-normal clamps DOWN for a
    assert(got(("a", Some(-9999.0)))._2.get >= -21.0)  // floor at a's p05
    assert(got(("b", Some(500.25)))._2.contains(500.25))
    assert(got(("b", Some(-10.5)))._2.get > 400.0)     // a-normal clamps UP for b
    assert(got(("b", None))._2.isEmpty)                // NULL passes through
    assert(got(("zzz", Some(42.0)))._2.contains(42.0)) // no history -> unclamped
  }

  test("histMadFlagsSignedBy: per-group signed robust bands; planted outliers flagged per domain") {
    // group a: negative fractional inliers spread across buckets
    // (-20.5 .. -0.5 — bucket-granular MAD needs multi-bucket spread,
    // exactly like the global MAD spec); group b: positive inliers
    // 3000..7000 — a value normal for b is a monster outlier for a,
    // and each group carries planted outliers that must not move ITS
    // median
    val rows = (1 to 997).map(i => ("a", Option(-20.5 + (i % 21)))) ++
      Seq(("a", Option(900000.0)), ("a", Option(-900000.0)), ("a", Option(777777.0))) ++
      (1 to 997).map(i => ("b", Option(3000.0 + (i % 101) * 40.0))) ++
      Seq(("b", Option(-900000.0)), ("b", Option(900000.0)), ("b", Option(888888.0)))
    val sk = HistSketch.histSketchSignedBy(rows.toDF("g", "v"), Seq("g"), "v",
      scaleBy = 100L)
    val batch = Seq(("a", Option(-10.5)), ("a", Option(5000.0)), ("a", Option(-900000.0)),
      ("b", Option(5000.0)), ("b", Option(-10.5)), ("b", Option.empty[Double]),
      ("zzz", Option(1.0))).toDF("g", "v")
    val got = HistSketch.histMadFlagsSignedBy(batch, Seq("g"), "v", sk,
      k = 3, scaleBy = 100L)
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))) ->
        (if (r.isNullAt(4)) None else Some(r.getBoolean(4)))).toMap
    assert(got(("a", Some(-10.5))).contains(false))      // a's own center
    assert(got(("a", Some(5000.0))).contains(true))      // b-normal = anomaly for a
    assert(got(("a", Some(-900000.0))).contains(true))   // planted outlier caught
    assert(got(("b", Some(5000.0))).contains(false))     // b's own center
    assert(got(("b", Some(-10.5))).contains(true))       // a-normal = anomaly for b
    assert(got(("b", None)).isEmpty)                     // NULL value → NULL flag
    assert(got(("zzz", Some(1.0))).isEmpty)              // no history → NULL flag
    // per-group band sanity: the a-band stays negative-centered and
    // outlier-immune (its hi must sit far below b's inlier range)
    val band = HistSketch.histMadBandSignedBy(sk, Seq("g"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(band("a")._1 < 0, s"a median ${band("a")._1} must be negative")
    assert(band("a")._1 + 3 * band("a")._2 < 300000L,
      "a's band must not stretch toward its planted outliers")
  }

  test("histMadBand/histMadFlags: robust to outliers that wreck a mean/sigma band") {
    // 997 inliers near 100, 3 monster outliers — a mean/σ band would be
    // dragged to cover the outliers; the MAD band must not move
    val vals = (1 to 997).map(i => 90L + (i % 21)) ++ Seq(5000000L, 9000000L, 9999999L)
    val df = vals.toDF("v")
    val sk = HistSketch.histSketch(df, "v")
    val band = HistSketch.histMadBand(sk, k = 3).head()
    val (med, mad, lo, hi) = (band.getLong(0), band.getLong(1), band.getLong(2), band.getLong(3))
    assert(med >= 90 && med <= 110, s"median $med")
    assert(mad >= 0 && mad <= 16, s"mad $mad (bucket-granular)")
    assert(lo == med - 3 * mad && hi == med + 3 * mad)
    assert(hi < 1000, s"band [$lo,$hi] must not stretch toward the outliers")
    val flags = HistSketch.histMadFlags(
      (vals.map(Option(_)) :+ Option.empty[Long]).toDF("v"), "v", sk, k = 3)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toMap
    assert(flags(Some(5000000L)).contains(true))
    assert(flags(Some(9999999L)).contains(true))
    assert(flags(Some(100L)).contains(false))
    assert(flags(None).isEmpty)              // NULL value -> NULL flag
  }

  test("histBucketize: bands count reached thresholds, exact at sketch boundaries, null-safe") {
    import spark.implicits._
    // history: 1..100 → p50 threshold ≈ 50, p90 ≈ 90 (bucket lower bounds)
    val hist = HistSketch.histSketch((1L to 100L).toDF("v"), "v")
    val thr = HistSketch.histQuantiles(hist, Seq(0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val batch = Seq(Some(1L), Some(thr(0.5)), Some(thr(0.5) - 1),
      Some(thr(0.9)), Some(200L), None).toDF("v")
    val bands = HistSketch.histBucketize(batch, "v", hist, Seq(0.5, 0.9))
      .collect().map(r => Option(r.get(0)).map(_.toString) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(bands(Some("1")) == 0)
    assert(bands(Some(thr(0.5).toString)) == 1)       // at the p50 threshold
    assert(bands(Some((thr(0.5) - 1).toString)) == 0) // just below it
    assert(bands(Some("200")) == 2)                   // above both
    assert(bands(None) == -1)                         // null value -> null band
  }

  /** Signed reference model: sign(v) · bucket(|v|) — the mirrored
    * negative octave ladder. */
  private def refSignedBucket(v: Long, s: Int): Int =
    if (v == 0) 0
    else if (v > 0) refBucket(v, s)
    else -refBucket(-v, s)

  private def refSignedLowerBound(b: Int, s: Int): Long =
    if (b >= 0) refLowerBound(b, s) else -refLowerBound(-b, s)

  test("signed bucket CASE: mirrored ladder matches the reference model; value-ordered ids") {
    val vs = Seq(Long.MinValue + 1, -(1L << 50) - 999L, -1000000L, -1023L,
      -17L, -16L, -3L, -1L, 0L, 1L, 3L, 16L, 17L, 1023L, 1000000L,
      (1L << 50) + 999L, Long.MaxValue)
    val got = vs.toDF("v")
      .select(col("v"), expr(HistSketch.signedBucketCaseSql("v", 16, "div")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vs.foreach(v => assert(got(v) == refSignedBucket(v, 16), s"v=$v"))
    // non-negative values keep the EXACT unsigned ids (sketch compat)
    vs.filter(_ >= 0).foreach(v => assert(got(v) == refBucket(v, 16), s"v=$v"))
    // bucket ids sort in value order — rank machinery works unchanged
    val sortedByV = vs.sorted.map(got)
    assert(sortedByV == sortedByV.sorted, "bucket ids not monotone in value")
    // representative boundary: attainable, magnitude error ≤ 1/s
    val lb = vs.filter(_ != 0).toDF("v")
      .select(col("v"), expr(HistSketch.signedBucketCaseSql("v", 16, "div")).as("b"))
      .select(col("v"), col("b"),
        expr(HistSketch.signedLowerBoundCaseSql("b", 16, "div")).as("lb"))
      .collect()
    lb.foreach { r =>
      val (v, b, l) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(l == refSignedLowerBound(b.toInt, 16), s"v=$v")
      assert(math.abs(l) <= math.abs(v), s"boundary overshoots: v=$v lb=$l")
      assert(math.signum(l) == math.signum(v) || l == 0, s"sign flip: v=$v lb=$l")
      assert(math.abs(v) - math.abs(l) <= math.max(1L, math.abs(l) / 8),
        s"bucket too wide: v=$v lb=$l")
    }
  }

  test("signed quantiles: exact rank selection over negative/fractional values (scaleBy)") {
    // fractional, signed distribution: -500.25 .. 999.75 step 0.25
    val vals = (-2001 to 3999).map(_ * 0.25)
    val sk = HistSketch.histSketchSigned(vals.toDF("v"), "v", scaleBy = 100L)
    val ps = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
    val got = HistSketch.histQuantilesSigned(sk, ps, scaleBy = 100L)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // independent model: scale exactly as the engine does (IEEE multiply,
    // truncate toward zero), bucketize, rank-select, descale
    val scaled = vals.map(v => (v * 100.0).toLong)
    val buckets = scaled.map(refSignedBucket(_, 16)).sorted
    ps.foreach { p =>
      val rank = math.max(1L, math.ceil(p * buckets.length).toLong)
      val want = refSignedLowerBound(buckets((rank - 1).toInt), 16).toDouble / 100.0
      assert(got(p) == want, s"p=$p got=${got(p)} want=$want")
      // and the returned value is near the true quantile in magnitude
      val exact = vals.sorted.apply((rank - 1).toInt)
      assert(math.abs(got(p) - exact) <= math.max(math.abs(exact) / 8, 0.02),
        s"p=$p got=${got(p)} exact=$exact")
    }
    // a non-negative integer column sketched signed (scaleBy=1) equals
    // the unsigned sketch bucket for bucket
    val nn = (1L to 500L).toDF("v")
    val sSigned = HistSketch.histSketchSigned(nn, "v")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sUnsigned = HistSketch.histSketch(nn, "v")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sSigned == sUnsigned)
  }

  test("histWinsorizeSigned: clamps into the signed band in original units, null-safe") {
    val hist = (-1000 to 1000).map(_ * 0.5)
    val sk = HistSketch.histSketchSigned(hist.toDF("v"), "v", scaleBy = 100L)
    val batch = Seq(Some(-10000.0), Some(-1.5), Some(0.0), Some(2.25),
      Some(10000.0), None).toDF("v")
    val rows = HistSketch.histWinsorizeSigned(batch, "v", sk, 0.05, 0.95, scaleBy = 100L)
      .collect()
    val lo = rows.head.getDouble(1); val hi = rows.head.getDouble(2)
    assert(lo < 0 && hi > 0, s"band [$lo, $hi] should straddle zero")
    rows.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(3))
      else {
        val (v, w) = (r.getDouble(0), r.getDouble(3))
        assert(w == math.min(math.max(v, lo), hi), s"v=$v w=$w band=[$lo,$hi]")
      }
    }
    // signed tranche algebra: two halves merged ≡ whole (sum is sign-blind)
    val (h1, h2) = hist.splitAt(hist.length / 2)
    val merged = HistSketch.histMerge(
      HistSketch.histSketchSigned(h1.toDF("v"), "v", scaleBy = 100L),
      HistSketch.histSketchSigned(h2.toDF("v"), "v", scaleBy = 100L))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(merged == sk.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
  }

  test("signed MAD band/flags: robust two-sided gate; PSI works unchanged on signed sketches") {
    // symmetric-ish signed fractional history plus planted outliers
    // that would wreck a mean/sigma band
    val hist = (-400 to 400).map(_ * 0.25) ++ Seq(-99999.0, 99999.0)
    val sk = HistSketch.histSketchSigned(hist.toDF("v"), "v", scaleBy = 100L)
    val band = HistSketch.histMadBandSigned(sk, k = 3).head()
    val (med, mad, lo, hi) = (band.getLong(0), band.getLong(1),
      band.getLong(2), band.getLong(3))
    // median ≈ 0 (cents), MAD ≈ 50·100 within ladder resolution; the
    // two planted 1e5 outliers cannot move either
    assert(math.abs(med) <= 100, s"med=$med")
    assert(mad >= 4000 && mad <= 5100, s"mad=$mad")
    assert(lo < 0 && hi > 0)
    val batch = Seq(Some(-160.0), Some(-120.0), Some(0.0), Some(120.0),
      Some(160.0), None).toDF("v")
    val flags = HistSketch.histMadFlagsSigned(batch, "v", sk, k = 3, scaleBy = 100L)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0))) ->
        (if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toMap
    assert(flags(Some(-160.0)).contains(true))   // below lo — both tails gate
    assert(flags(Some(160.0)).contains(true))
    assert(flags(Some(-120.0)).contains(false))
    assert(flags(Some(120.0)).contains(false))
    assert(flags(Some(0.0)).contains(false))
    assert(flags(None).isEmpty)
    // empty-sketch guard is named here too
    assert(intercept[IllegalArgumentException] {
      HistSketch.histMadBandSigned(
        HistSketch.histSketchSigned(Seq.empty[Double].toDF("v"), "v"))
    }.getMessage.contains("empty sketch"))
    // PSI composes with signed sketches with ZERO changes — the gauge
    // joins on bucket ids, and signed ids are just integers: identical
    // signed distributions give 0, a sign-flipped one fires
    val a = HistSketch.histSketchSigned((-300 to 300).map(_ * 0.5).toDF("v"), "v",
      scaleBy = 100L)
    assert(HistSketch.histDriftPsi(a, a).head().getDouble(3) == 0.0)
    val flipped = HistSketch.histSketchSigned(
      ((-300 to -1) ++ (1 to 50)).map(_ * 0.5).toDF("v"), "v", scaleBy = 100L)
    assert(HistSketch.histDriftPsi(a, flipped).head().getDouble(3) > 0.05)
  }

  test("maybeConsolidate: fan-in stays ≤ maxLive under a 3N-tranche ingest, answers unchanged") {
    import graft.util.Tranches
    val dir = tempDir("graft_autofold")
    try {
      val N = 3
      val chunks = (1 to 3 * N).map(i => ((i * 100 + 1) to (i * 100 + 80)).map(_.toLong))
      chunks.zipWithIndex.foreach { case (vals, i) =>
        HistSketch.writeHistTranche(
          HistSketch.histSketch(vals.toDF("v"), "v"), dir, s"t$i")
        Tranches.maybeFold(spark, dir, maxLive = N)(HistSketch.consolidateHist(spark, dir))
        // the invariant at every tick boundary — this is what keeps a
        // year of unattended daily ingest readable
        assert(Tranches.live(spark, dir).length <= N, s"after tranche $i")
      }
      val want = HistSketch.histSketch(chunks.flatten.toDF("v"), "v")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val got = HistSketch.readHist(spark, dir)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == want)
      // below-threshold ticks are free: no fold happens at ≤ maxLive
      assert(!Tranches.maybeFold(spark, dir, maxLive = N)(
        HistSketch.consolidateHist(spark, dir)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("Tranches: superseding manifests are transitive across fold chains — a replayed absorbed tag never double-counts") {
    import graft.util.Tranches
    import graft.merge.Merge
    for (commit <- Seq(Merge.RenameCommit, Merge.PointerCommit)) {
      val dir = java.nio.file.Paths.get(tempDir("graft_sumreplay"))
        .toString + "/art"
      try {
        def w(tag: String, c: Long): Unit =
          Tranches.write(Seq(("a", c)).toDF("k", "cnt"), dir, tag, commit)
        def total: Long = Tranches.read(spark, dir, Seq("k"), "cnt")
          .collect().map(_.getLong(1)).sum
        w("t0", 1); w("t1", 2)
        Tranches.consolidate(spark, dir, Seq("k"), "cnt", commit)
        w("t2", 4)
        // SECOND fold: t0/t1 were absorbed a fold ago — their names must
        // carry forward through the chain, not just one manifest deep
        Tranches.consolidate(spark, dir, Seq("k"), "cnt", commit)
        assert(total == 7, s"$commit: folded total")
        w("t0", 1) // replayed ingest of a first-fold tag
        assert(total == 7, s"$commit: replay of an absorbed tag must stay superseded")
        assert(Tranches.live(spark, dir).length == 1, s"$commit: replay not live")
        w("t3", 8) // a genuinely new tag still lands live
        assert(total == 15, s"$commit: fresh ingest visible")
        // third fold in the chain: answer stable, replays of BOTH early
        // generations still superseded
        Tranches.consolidate(spark, dir, Seq("k"), "cnt", commit)
        w("t1", 2)
        assert(total == 15, s"$commit: three-fold chain still converges")
        // mode guard: a rename fold of a pointer artifact refuses (it
        // would run the rename protocol inside the current generation)
        if (commit == Merge.PointerCommit)
          intercept[IllegalArgumentException] {
            Tranches.consolidate(spark, dir, Seq("k"), "cnt")
          }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir).getParentFile)
    }
  }

  test("Tranches property: random write/replay/fold sequences converge to the fold-time model (both commit modes)") {
    // model of the replay-converge contract: a live tag's value is its
    // LAST write; a fold freezes every live tag's value-at-fold into
    // the consolidated sum; any later write of a folded tag is a
    // replay and must be INVISIBLE (the transitive manifest) —
    // whatever order writes, replays, and folds interleave in
    import graft.util.Tranches
    import graft.merge.Merge
    for (commit <- Seq(Merge.RenameCommit, Merge.PointerCommit); seed <- Seq(11, 42)) {
      val rnd = new scala.util.Random(seed)
      val dir = java.nio.file.Paths.get(tempDir("graft_sumprop"))
        .toString + "/art"
      try {
        var liveVals = Map.empty[String, Long]
        var foldedSum = 0L
        var foldedTags = Set.empty[String]
        var hasConsolidated = false // engine keeps ONE consolidated tranche after a real fold
        def expected = foldedSum + liveVals.values.sum
        def engineTotal: Long = Tranches.read(spark, dir, Seq("k"), "cnt")
          .collect().map(_.getLong(1)).sum
        // first op must be a write (read/consolidate need a born artifact)
        var nWrites = 0
        for (step <- 0 until 14) {
          val op = if (step == 0) 0 else rnd.nextInt(3)
          op match {
            case 0 | 1 => // write (fresh tag or replay of any prior tag)
              val tag = if (op == 1 && (liveVals.nonEmpty || foldedTags.nonEmpty) && rnd.nextBoolean()) {
                val all = (liveVals.keySet ++ foldedTags).toSeq.sorted
                all(rnd.nextInt(all.size))
              } else { nWrites += 1; s"t$nWrites" }
              val c = rnd.nextInt(100).toLong + 1
              Tranches.write(Seq(("a", c)).toDF("k", "cnt"), dir, tag, commit)
              if (!foldedTags.contains(tag)) liveVals += tag -> c // replay of folded: invisible
            case 2 =>
              Tranches.consolidate(spark, dir, Seq("k"), "cnt", commit)
              // the engine no-ops a fold of <= 1 live tranches — a
              // lone live tag stays REPLAY-OVERWRITABLE, so the model
              // must not mark it folded
              if ((if (hasConsolidated) 1 else 0) + liveVals.size >= 2) {
                foldedSum += liveVals.values.sum
                foldedTags ++= liveVals.keySet
                liveVals = Map.empty
                hasConsolidated = true
              }
          }
          assert(engineTotal == expected,
            s"$commit seed=$seed step=$step op=$op: engine $engineTotal != model $expected")
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir).getParentFile)
    }
  }

  test("histRollingQuantilesBy: per-group day axes ≡ per-group single runs; null groups drop") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day%d 10:00:00")
    val rows = ((1 to 60).map(v => (ts(1), "a", v.toLong)) ++
      (1 to 40).map(v => (ts(3), "a", v * 10L)) ++
      (1 to 50).map(v => (ts(2), "b", v + 500L))).zipWithIndex
      .map { case ((t, g, v), _) => (t, g, v) }
    val df = rows.toDF("ts", "g", "v")
    val got = HistSketch.histRollingQuantilesBy(df, Seq("g"), "v", "ts",
        windowDays = 2, ps = Seq(0.5))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)) -> r.getLong(3))
      .toMap
    // group b has ONE day — its axis must not inherit a's days
    assert(got.keySet.map(k => (k._1, k._2)) ==
      Set(("a", "2024-03-01"), ("a", "2024-03-03"), ("b", "2024-03-02")))
    // per-group series ≡ running the single-group gauge on that slice
    for (g <- Seq("a", "b")) {
      val single = HistSketch.histRollingQuantiles(
          df.where(col("g") === g), "v", "ts", windowDays = 2, ps = Seq(0.5))
        .collect().map(r => (g, r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
      assert(got.filter(_._1._1 == g) == single, s"group $g")
    }
    // NULL group rows are excluded like every grouped aggregate
    val withNull = df.unionByName(Seq((ts(1), null: String, 7L)).toDF("ts", "g", "v"))
    assert(HistSketch.histRollingQuantilesBy(withNull, Seq("g"), "v", "ts", 2, Seq(0.5))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)) -> r.getLong(3))
      .toMap == got)
  }

  test("histRollingPsiBy: per-group series ≡ single-group runs; group-local day axes") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day%d 10:00:00")
    val rows = ((1 to 60).map(v => (ts(1), "a", v.toLong)) ++
      (1 to 60).map(v => (ts(2), "a", v.toLong)) ++        // a repeats: PSI 0
      (1 to 40).map(v => (ts(3), "a", v * 1000L)) ++        // a shifts: PSI fires
      (1 to 50).map(v => (ts(2), "b", v + 500L)) ++
      (1 to 50).map(v => (ts(3), "b", v + 500L)))
    val df = rows.toDF("ts", "g", "v")
    val got = HistSketch.histRollingPsiBy(df, Seq("g"), "v", "ts", windowDays = 7)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    // first day per GROUP omitted (empty group-local reference)
    assert(got.keySet == Set(("a", "2024-03-02"), ("a", "2024-03-03"),
      ("b", "2024-03-03")))
    assert(got(("a", "2024-03-02")) == 0.0)   // identical repeat
    assert(got(("a", "2024-03-03")) > 1.0)    // shifted day fires
    assert(got(("b", "2024-03-03")) == 0.0)   // b's repeat: judged vs b only
    // per-group matrix ≡ running the single-group gauge on each slice
    for (g <- Seq("a", "b")) {
      val single = HistSketch.histRollingPsi(
          df.where(col("g") === g), "v", "ts", windowDays = 7)
        .collect().map(r => (g, r.getString(0)) -> r.getDouble(4)).toMap
      assert(got.filter(_._1._1 == g) == single, s"group $g")
    }
  }

  test("day-keyed hist artifact: both rolling gauges from tranches ≡ inline, day-split safe") {
    import graft.util.Tranches
    val dir = tempDir("graft_dayhist")
    try {
      def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day%d 10:00:00")
      val rows = ((1 to 100).map(v => (ts(1), v.toLong)) ++
        (1000 to 1100).map(v => (ts(2), v.toLong)) ++
        (10 to 20).map(v => (ts(4), v.toLong))).zipWithIndex
        .map { case ((t, v), i) => (t, v, i.toLong) }
      val df = rows.toDF("ts", "v", "i")
      // arbitrary row split — days 1 and 2 both straddle the tranches
      HistSketch.writeDayHistTranche(df.where(col("i") % 2 === 0), "v", "ts", dir, "t0")
      HistSketch.writeDayHistTranche(df.where(col("i") % 2 === 1), "v", "ts", dir, "t1")
      def sameRows(a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame) = assertSameRows(a, b)
      sameRows(
        HistSketch.histRollingQuantilesFromIndex(spark, dir, 2, Seq(0.5)),
        HistSketch.histRollingQuantiles(df, "v", "ts", 2, Seq(0.5)))
      sameRows(
        HistSketch.histRollingPsiFromIndex(spark, dir, 2),
        HistSketch.histRollingPsi(df, "v", "ts", 2))
      // replayed ingest overwrites its own tranche; fold preserves both
      HistSketch.writeDayHistTranche(df.where(col("i") % 2 === 1), "v", "ts", dir, "t1")
      HistSketch.consolidateDayHist(spark, dir)
      assert(Tranches.live(spark, dir).length == 1)
      sameRows(
        HistSketch.histRollingPsiFromIndex(spark, dir, 2),
        HistSketch.histRollingPsi(df, "v", "ts", 2))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("empty sketch: readers fail with a named cause, not an index error") {
    val empty = HistSketch.histSketch(Seq.empty[Long].toDF("v"), "v")
    val batch = Seq(1L).toDF("v")
    assert(intercept[IllegalArgumentException] {
      HistSketch.histMadBand(empty)
    }.getMessage.contains("empty sketch"))
    assert(intercept[IllegalArgumentException] {
      HistSketch.histWinsorize(batch, "v", empty, 0.05, 0.95)
    }.getMessage.contains("empty sketch"))
    assert(intercept[IllegalArgumentException] {
      HistSketch.histBucketize(batch, "v", empty, Seq(0.5))
    }.getMessage.contains("empty sketch"))
    assert(intercept[IllegalArgumentException] {
      HistSketch.histWinsorizeSigned(batch, "v", empty, 0.05, 0.95)
    }.getMessage.contains("empty sketch"))
  }
}
