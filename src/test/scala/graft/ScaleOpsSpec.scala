package graft

import org.apache.spark.sql.functions._

import graft.relational.RelationalOps
import graft.similarity.SimilarityOps

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin is row-identical to the plain join (inner + left)") {
    val l = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val r = Tables(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = l.join(r, Seq("l_orderkey")).collect().map(_.toString).sorted.toSeq
    val salted = RelationalOps.saltedJoin(l, r, Seq("l_orderkey"), salt = 8)
      .select("l_orderkey", "l_extendedprice", "o_orderpriority")
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
    val plainLeft = l.join(r.where(col("l_orderkey") < 100), Seq("l_orderkey"), "left").count()
    val saltedLeft = RelationalOps.saltedJoin(
      l, r.where(col("l_orderkey") < 100), Seq("l_orderkey"), 8, "left").count()
    assert(saltedLeft == plainLeft)
  }

  test("saltedJoinTargeted: row-identical to plain join, salts only hot keys") {
    // multiplicity 1..10 per key: threshold 4 makes keys 5..10 hot and
    // 1..4 cold, so BOTH paths and their union are exercised
    val l = (1 to 10).flatMap(k => (1 to k).map(i => (k.toLong, s"v$k-$i")))
      .toDF("k", "lv")
    val r = Seq((1L, "a"), (3L, "b"), (7L, "c"), (9L, "d"), (99L, "zz")).toDF("k", "rv")
    val plain = l.join(r, Seq("k")).collect().map(_.toString).sorted.toSeq
    val targeted = RelationalOps.saltedJoinTargeted(l, r, Seq("k"),
      salt = 4, hotThreshold = 4)
      .select("k", "lv", "rv").collect().map(_.toString).sorted.toSeq
    assert(targeted == plain)
    // left join: unmatched left rows appear exactly once (no salt dup)
    val plainLeft = l.join(r, Seq("k"), "left").collect().map(_.toString).sorted.toSeq
    val targetedLeft = RelationalOps.saltedJoinTargeted(l, r, Seq("k"),
      salt = 4, hotThreshold = 4, joinType = "left")
      .select("k", "lv", "rv").collect().map(_.toString).sorted.toSeq
    assert(targetedLeft == plainLeft)
    // no hot keys at all (threshold above every count) degrades to plain
    val none = RelationalOps.saltedJoinTargeted(l, r, Seq("k"),
      salt = 4, hotThreshold = 1000)
      .select("k", "lv", "rv").collect().map(_.toString).sorted.toSeq
    assert(none == plain)
    intercept[IllegalArgumentException](
      RelationalOps.saltedJoinTargeted(l, r, Seq("k"), joinType = "full_outer"))
  }

  test("asofJoin: latest at-or-before match per key, ties inclusive, tolerance nulls") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val l = Seq((1L, "u1", ts(10)), (2L, "u1", ts(20)), (3L, "u1", ts(5)),
      (4L, "u2", ts(30)), (5L, "u3", ts(10))).toDF("id", "k", "ts")
    val r = Seq(("u1", ts(8), 80.0), ("u1", ts(10), 100.0), ("u1", ts(15), 150.0),
      ("u2", ts(1), 10.0)).toDF("k", "ts", "v")
    val out = RelationalOps.asofJoin(l, r, Seq("k"), "ts", Seq("v"))
      .collect().map(row => row.getLong(0) ->
        (if (row.isNullAt(3)) None else Some(row.getDouble(3)))).toMap
    assert(out == Map(
      1L -> Some(100.0), // exact-ts tie matches inclusively
      2L -> Some(150.0), // latest at-or-before
      3L -> None,        // left row before any right row
      4L -> Some(10.0),
      5L -> None))       // key with no right rows at all
    // tolerance: u2's only match is 29 minutes old -> nulled at 60s
    val tol = RelationalOps.asofJoin(l, r, Seq("k"), "ts", Seq("v"),
      toleranceSecs = Some(60))
      .collect().map(row => row.getLong(0) ->
        (if (row.isNullAt(3)) None else Some(row.getDouble(3)))).toMap
    assert(tol(4L).isEmpty && tol(1L).contains(100.0))
  }

  test("rangeJoin is row-identical to the nested-loop join incl. boundaries") {
    val points = Seq((1L, 0L), (2L, 100L), (3L, 255L), (4L, 256L), (5L, 999L), (6L, 5000L))
      .toDF("pid", "p")
    // boundary-inclusive, multi-bin span, sub-bin, empty, point-sized
    val intervals = Seq((10L, 0L, 100L), (11L, 100L, 800L), (12L, 250L, 260L),
      (13L, 3000L, 3001L), (14L, 999L, 999L)).toDF("iid", "lo", "hi")
    val naive = points.crossJoin(intervals)
      .where(col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid").collect().map(_.toString).sorted.toSeq
    for (bw <- Seq(1L, 7L, 256L, 10000L)) {
      val binned = RelationalOps.rangeJoin(points, intervals, "p", "lo", "hi", bw)
        .select("pid", "iid").collect().map(_.toString).sorted.toSeq
      assert(binned == naive, s"binWidth=$bw")
    }
    intercept[IllegalArgumentException](
      RelationalOps.rangeJoin(points, intervals, "p", "lo", "hi", 0))
  }

  test("centroidDrift: 1.0 on identical corpora, sign flips on opposed, orthogonal near 0") {
    def vecs(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
    val a = vecs((1L to 50L).map(i => i -> Seq(1.0f, 0.5f, 0.25f, 0.125f)))
    def drift(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) = {
      val r = SimilarityOps.centroidDrift(x, y, "embedding").head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    }
    val (na, nb, dim, same) = drift(a, a)
    assert(na == 50 && nb == 50 && dim == 4)
    // sqrt(x)·sqrt(x) can land one ulp off x, so 1.0 up to 1 ulp
    assert(math.abs(same - 1.0) < 1e-12, s"identical corpora gave $same")
    val opposed = vecs((1L to 30L).map(i => i -> Seq(-1.0f, -0.5f, -0.25f, -0.125f)))
    assert(math.abs(drift(a, opposed)._4 + 1.0) < 1e-12)
    val ortho = vecs((1L to 30L).map(i => i -> Seq(0.0f, 0.0f, 0.0f, 2.0f)))
    val c = drift(a, ortho)._4
    assert(math.abs(c) < 0.15, s"near-orthogonal gave $c")
    // real fixture: gaussian-ish halves give SOME finite cosine in range
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val h = drift(e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1))._4
    assert(h >= -1.0 - 1e-12 && h <= 1.0 + 1e-12 && !h.isNaN, s"fixture halves gave $h")
  }

  test("centroidRollingDrift: trailing-window reference, artifact tranches ≡ inline, auto-fold") {
    import graft.util.Tranches
    // four ingest days with distinct directions; window = 2 days
    def day(d: Int, vs: Seq[Seq[Float]]): Seq[(String, Seq[Float])] =
      vs.map(v => (f"2024-03-0$d%d 12:00:00", v))
    val rows = day(1, Seq(Seq(1.0f, 0.0f), Seq(1.0f, 0.2f))) ++
      day(2, Seq(Seq(0.5f, 1.0f))) ++
      day(3, Seq(Seq(-1.0f, 0.1f))) ++
      day(4, Seq(Seq(0.0f, 1.0f), Seq(0.1f, 0.9f)))
    val df = rows.toDF("ts", "embedding")
      .select(to_timestamp(col("ts")).as("ts"), col("embedding"))
    val got = SimilarityOps.centroidRollingDrift(df, "embedding", "ts", windowDays = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // day 1 has no trailing reference → omitted; days 2-4 present
    assert(got.keySet == Set("2024-03-02", "2024-03-03", "2024-03-04"))
    // independent model: snap exactly as the engine (float→double·1e6
    // truncated), exact integer sums, the same closing IEEE chain
    def snap(f: Float) = (f.toDouble * 1e6).toLong
    def sums(vs: Seq[Seq[Float]]) = vs.transpose.map(_.map(f => BigInt(snap(f))).sum)
    def cos(cur: Seq[Seq[Float]], ref: Seq[Seq[Float]]): Double = {
      val (sa, sb) = (sums(cur), sums(ref))
      sa.zip(sb).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(sa.map(x => x * x).sum.toDouble) *
          math.sqrt(sb.map(x => x * x).sum.toDouble))
    }
    val d1 = Seq(Seq(1.0f, 0.0f), Seq(1.0f, 0.2f))
    val d2 = Seq(Seq(0.5f, 1.0f)); val d3 = Seq(Seq(-1.0f, 0.1f))
    val d4 = Seq(Seq(0.0f, 1.0f), Seq(0.1f, 0.9f))
    assert(got("2024-03-02") == ((1L, 2L, 2L, cos(d2, d1))))
    assert(got("2024-03-03") == ((1L, 3L, 2L, cos(d3, d1 ++ d2))))
    assert(got("2024-03-04") == ((2L, 2L, 2L, cos(d4, d2 ++ d3))))
    // at-rest artifact: ingests may split a day across tranches (sum
    // algebra is key-associative) — gauge from the index ≡ inline
    val dir = tempDir("graft_centroid") + "/idx"
    try {
      // the split puts day 3 AND half of day 1's rows in tranche 2 —
      // a day genuinely split across ingests must still sum exactly
      val inT2 = dayofmonth(col("ts")) === 3 ||
        (dayofmonth(col("ts")) === 1 && element_at(col("embedding"), 2) > lit(0.1f))
      val (h1, h2) = (df.where(!inT2), df.where(inT2))
      SimilarityOps.writeCentroidTranche(h1, "embedding", "ts", dir, "t1")
      SimilarityOps.writeCentroidTranche(h2, "embedding", "ts", dir, "t2")
      assertSameRows(
        SimilarityOps.centroidRollingFromIndex(spark, dir, windowDays = 2),
        SimilarityOps.centroidRollingDrift(df, "embedding", "ts", windowDays = 2))
      // replayed ingest overwrites its own tranche → unchanged
      SimilarityOps.writeCentroidTranche(h2, "embedding", "ts", dir, "t2")
      // auto-fold: grow to 5 tranches with replays, tick with maxLive=2
      // after each write — fan-in stays ≤ 2, answers unchanged
      for (i <- 3 to 5) {
        SimilarityOps.writeCentroidTranche(h2.where(lit(false)), "embedding", "ts",
          dir, s"t$i")
        Tranches.maybeFold(spark, dir, maxLive = 2)(
          Tranches.consolidateMulti(spark, dir, Seq("__d", "pos"), Seq("s", "c")))
        assert(Tranches.live(spark, dir).length <= 2, s"tick $i")
      }
      assertSameRows(
        SimilarityOps.centroidRollingFromIndex(spark, dir, windowDays = 2),
        SimilarityOps.centroidRollingDrift(df, "embedding", "ts", windowDays = 2))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("centroidRollingDriftBy: per-group series ≡ single-group runs, group-local day axes") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day%d 12:00:00")
    val rows = Seq(
      (ts(1), "a", Seq(1.0f, 0.0f)), (ts(2), "a", Seq(0.8f, 0.3f)),
      (ts(3), "a", Seq(-0.2f, 1.0f)),
      (ts(2), "b", Seq(0.0f, 1.0f)), (ts(3), "b", Seq(0.1f, 0.9f)))
    val df = rows.toDF("ts", "g", "embedding")
    val got = SimilarityOps.centroidRollingDriftBy(df, Seq("g"), "embedding", "ts",
        windowDays = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    // first day per GROUP omitted; b's axis independent of a's
    assert(got.keySet == Set(("a", "2024-03-02"), ("a", "2024-03-03"),
      ("b", "2024-03-03")))
    for (g <- Seq("a", "b")) {
      val single = SimilarityOps.centroidRollingDrift(
          df.where(col("g") === g), "embedding", "ts", windowDays = 2)
        .collect().map(r => (g, r.getString(0)) -> r.getDouble(4)).toMap
      assert(got.filter(_._1._1 == g) == single, s"group $g")
    }
  }

  test("sourceCentroidDrift: source-vs-rest ≡ pairwise gauge on the complement; solo source omitted") {
    val rows =
      (1L to 40L).map(i => (i, "srcA", Seq(1.0f, 0.25f, 0.0f))) ++
      (41L to 80L).map(i => (i, "srcB", Seq(0.9f, 0.3f, 0.1f))) ++
      (81L to 120L).map(i => (i, "srcC", Seq(-0.2f, 0.1f, 1.0f)))
    val df = rows.toDF("id", "source", "embedding")
    val got = SimilarityOps.sourceCentroidDrift(df, "source", "embedding")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set("srcA", "srcB", "srcC"))
    // subtraction-derived complement must be BIT-identical to
    // materializing the rest-corpus and running the pairwise gauge
    for (src <- Seq("srcA", "srcB", "srcC")) {
      val pair = SimilarityOps.centroidDrift(
        df.where(col("source") === src), df.where(col("source") =!= src),
        "embedding").head()
      val (nSrc, nRest, dim, cos) = got(src)
      assert((nSrc, nRest, dim) == ((pair.getLong(0), pair.getLong(1), pair.getLong(2))))
      assert(cos == pair.getDouble(3), s"$src: $cos vs ${pair.getDouble(3)}")
    }
    // the alien-direction source diverges hardest (its complement is the
    // two parallel sources); A and B each face a MIXED complement, so
    // they sit mid-range — ordering, not absolute closeness, is the gate
    assert(got("srcC")._4 < 0.0, s"srcC ${got("srcC")._4}")
    assert(got("srcA")._4 > 0.3 && got("srcB")._4 > 0.3)
    assert(got("srcC")._4 < got("srcA")._4 && got("srcC")._4 < got("srcB")._4)
    // a whole-corpus source has no complement — omitted, not NaN
    val solo = SimilarityOps.sourceCentroidDrift(
      df.where(col("source") === "srcA"), "source", "embedding")
    assert(solo.count() == 0)
    // the dashboard carries it as the third gauge family
    val dash = graft.meta.IndexDashboard.sourceDriftDashboard(
      rows.map { case (i, s2, v) => (i, s2, v.mkString(" "), v.length.toLong) }
        .toDF("id", "source", "text", "n"),
      "source", "n", "text", vocabLimit = 100,
      vectors = Some((df, "embedding")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(dash == (for (s2 <- Set("srcA", "srcB", "srcC");
      g <- Set("psi_bits", "js_bits", "centroid_cosine")) yield (s2, g)))
  }

  test("Tranches under PointerCommit: mode-transparent reads, one-generation fold, mode guards") {
    import graft.util.Tranches
    import graft.merge.Merge
    val base = tempDir("graft_sumptr")
    val ptr = s"$base/counts"
    def tranche(rows: (String, Long)*) = rows.toDF("k", "n")
    Tranches.write(tranche("a" -> 1L, "b" -> 2L), ptr, "d1", Merge.PointerCommit)
    assert(new java.io.File(ptr, "_current").exists(), "manifest-born artifact")
    // later writes need no commit param — resolution is automatic
    Tranches.write(tranche("a" -> 10L), ptr, "d2")
    def m() = Tranches.read(spark, ptr, Seq("k"), "n")
      .as[(String, Long)].collect().toMap
    assert(m() == Map("a" -> 11L, "b" -> 2L))
    val gen1 = Merge.resolveDir(spark, ptr)
    Tranches.consolidateMulti(spark, ptr, Seq("k"), Seq("n"), Merge.PointerCommit)
    val gen2 = Merge.resolveDir(spark, ptr)
    assert(gen2 != gen1, "fold published a fresh generation")
    // the generation holds exactly ONE folded tranche — the S3
    // double-count window (folded data visible before its superseding
    // manifest) cannot exist because nothing else is in the generation
    assert(new java.io.File(gen2).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSeq == Seq("batch=consolidated"))
    assert(m() == Map("a" -> 11L, "b" -> 2L))
    assert(Tranches.live(spark, ptr).length == 1)
    assert(Tranches.health(spark, ptr, "counts").head().getInt(1) == 1)
    // replayed fold over <=1 live tranche: no-op, generation unchanged
    Tranches.consolidateMulti(spark, ptr, Seq("k"), Seq("n"), Merge.PointerCommit)
    assert(Merge.resolveDir(spark, ptr) == gen2)
    // mode guards, both directions
    val ren = s"$base/ren"
    Tranches.write(tranche("x" -> 1L), ren, "d1")
    intercept[IllegalArgumentException] {
      Tranches.consolidateMulti(spark, ren, Seq("k"), Seq("n"), Merge.PointerCommit)
    }
    intercept[IllegalArgumentException] {
      Tranches.write(tranche("y" -> 1L), ren, "d2", Merge.PointerCommit)
    }
  }

  test("bloom index: seen keys always drop, most new keys survive, OR-merge protocol-free") {
    import graft.relational.BloomIndex
    import graft.util.Scratch
    val dir = tempDir("graft_bloomidx") + "/idx"
    try {
      val hist1 = (1L to 400L).map(k => (k, "h")).toDF("key", "tag")
      val hist2 = (401L to 800L).map(k => (k, "h")).toDF("key", "tag")
      BloomIndex.writeBloomTranche(hist1, "key", dir, "d0", mBits = 1L << 16, k = 3)
      BloomIndex.writeBloomTranche(hist2, "key", dir, "d1", mBits = 1L << 16, k = 3)
      val batch = ((600L to 1000L).map(Some(_)) :+ None).toDF("key")
      def surviving() = BloomIndex.pruneAgainstBloomIndex(batch, dir, "key")
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
      val s1 = surviving()
      // NO FALSE NEGATIVES: every key history wrote is dropped
      assert((600L to 800L).forall(k => !s1.contains(Some(k))))
      // NULL keys pass (the index asserts nothing about them)
      assert(s1.contains(None))
      // genuinely-new keys mostly survive (fill ~1200/65536 → FPR ~1e-5)
      val newKept = (801L to 1000L).count(k => s1.contains(Some(k)))
      assert(newKept >= 195, s"only $newKept/200 new keys survived")
      // replay + plain-rewrite consolidation: same set, one tranche
      BloomIndex.writeBloomTranche(hist2, "key", dir, "d1", mBits = 1L << 16, k = 3)
      BloomIndex.consolidateBloom(spark, dir)
      assert(surviving() == s1)
      val tranches = new java.io.File(dir).listFiles()
        .map(_.getName).count(_.startsWith("batch="))
      assert(tranches == 1)
      // frozen-parameter contract: a mismatched append fails fast
      assert(intercept[IllegalArgumentException] {
        BloomIndex.writeBloomTranche(hist1, "key", dir, "d2", mBits = 1L << 18, k = 3)
      }.getMessage.contains("frozen"))
      // gauge: bounded artifact, sane fill
      val st = BloomIndex.bloomIndexStats(spark, dir).head()
      assert(st.getLong(0) == (1L << 16) && st.getInt(1) == 3)
      assert(st.getLong(2) <= 3 * 800 && st.getDouble(3) < 0.05)
      // portable tier: positions replayed by the md5 reference
      val pDir = Scratch.path("bloom_port", "spec") + "_t"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pDir))
      BloomIndex.writeBloomTranche(hist1, "key", pDir, "t", mBits = 4096L,
        k = 2, portable = true)
      val got = BloomIndex.readBloomPositions(spark, pDir)
        .collect().map(_.getLong(0)).toSet
      def md5Ref(x: String): Long = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15), 16)
      val want = (1L to 400L).flatMap(k => Seq(0, 1).map(i =>
        md5Ref(s"bf$i|$k") % 4096L)).toSet
      assert(got == want)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pDir))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("multi-probe LSH recall >= single-probe, still a subset of brute force") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 30)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val brute = hits(SimilarityOps.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", 5))
    val single = hits(SimilarityOps.lshTopK(q, e, "vec_id", "vec_id", "embedding", 5, nbits = 8))
    val multi = hits(SimilarityOps.lshTopK(q, e, "vec_id", "vec_id", "embedding", 5,
      nbits = 8, multiProbe = true))
    val singleRecall = (single & brute).size.toDouble / brute.size
    val multiRecall = (multi & brute).size.toDouble / brute.size
    assert(multiRecall >= singleRecall)
    assert(multiRecall > 0.1) // probing recovers a real fraction at 8 bits
  }

  test("IVF top-k: probing all lists equals brute force; recall grows with nProbe") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 20)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val brute = hits(SimilarityOps.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", 5))
    val allLists = hits(SimilarityOps.ivfTopK(q, e, "vec_id", "vec_id", "embedding", 5,
      nLists = 8, nProbe = 8))
    assert(allLists == brute) // probe everything == exact
    val probe1 = hits(SimilarityOps.ivfTopK(q, e, "vec_id", "vec_id", "embedding", 5,
      nLists = 8, nProbe = 1))
    val probe4 = hits(SimilarityOps.ivfTopK(q, e, "vec_id", "vec_id", "embedding", 5,
      nLists = 8, nProbe = 4))
    val r1 = (probe1 & brute).size.toDouble / brute.size
    val r4 = (probe4 & brute).size.toDouble / brute.size
    assert(r4 >= r1)
    assert(r1 > 0.2) // the home list already holds a real fraction
  }

  test("written IVF index: probe == in-memory ivfTopK, scan is partition-pruned") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
    val dir = tempDir("graft_ivf")
    SimilarityOps.ivfWriteIndex(e, dir, "vec_id", "embedding", nLists = 8)
    val probed = SimilarityOps.ivfProbeTopK(spark, dir, q, "vec_id", "embedding",
      k = 3, nProbe = 2)
    // identical (query, corpus, cos) sets as the in-memory join path at
    // the same centroids — same quantizer, same probes, same scoring
    val inMem = SimilarityOps.ivfTopK(q, e, "vec_id", "vec_id", "embedding",
      k = 3, nLists = 8, nProbe = 2)
    assert(probed.select("query_id", "corpus_id", "cos").collect().map(_.toString).sorted.toSeq ==
      inMem.select("query_id", "corpus_id", "cos").collect().map(_.toString).sorted.toSeq)
    // the probe plan must prune partitions: the ivf_list join key is a
    // partition column, so the scan carries partition filters
    val plan = probed.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") || plan.contains("dynamicpruning"),
      s"expected partition pruning in:\n${plan.take(2000)}")
  }

  test("IVF append: build-half + append-half probes == one-shot full build; untouched lists gain no files") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
    val even = e.where(col("vec_id") % 2 === 0)
    val cents = SimilarityOps.ivfCentroids(e, "embedding", 8)
    // append only the odd rows homed to ONE list, so the other seven
    // partitions must stay byte-identical
    val homeList = org.apache.spark.sql.functions.element_at(
      graft.similarity.SimilarityOps.nearestListsExpr(cents, col("embedding"), 1), 1)
    val targetList = e.where(col("vec_id") % 2 === 1).select(homeList).head().getInt(0)
    val appendRows = e.where(col("vec_id") % 2 === 1 && homeList === targetList)

    val full = tempDir("graft_ivf_full")
    SimilarityOps.ivfWriteIndex(even.unionByName(appendRows), full, "vec_id", "embedding",
      nLists = 8, precomputed = Some(cents))
    val inc = tempDir("graft_ivf_inc")
    SimilarityOps.ivfWriteIndex(even, inc, "vec_id", "embedding",
      nLists = 8, precomputed = Some(cents))
    // the append lands as its OWN batch= tranche: the build tranche's
    // files stay byte-identical (zero I/O on existing data), and the
    // new tranche holds only the one home list's partition
    def treeOf(dir: String): Map[String, Set[String]] =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val before = treeOf(s"$inc/vec/batch=build")
    SimilarityOps.ivfAppendToIndex(appendRows, inc, "vec_id", "embedding", tag = "odd")
    assert(treeOf(s"$inc/vec/batch=build") == before,
      "append touched the build tranche")
    assert(treeOf(s"$inc/vec/batch=odd").keySet == Set(s"ivf_list=$targetList"))
    // appended index answers exactly like the one-shot build
    def probe(dir: String) =
      SimilarityOps.ivfProbeTopK(spark, dir, q, "vec_id", "embedding",
        k = 3, nProbe = 3)
        .select("query_id", "corpus_id", "cos").collect().map(_.toString).sorted.toSeq
    assert(probe(inc) == probe(full))
  }

  test("written LSH layout: probe == in-memory lshTopK; append == one-shot build; pruned scan") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id", "cos").collect().map(_.toString).sorted.toSeq
    // one-shot build over the full corpus ≡ the in-memory bucket join
    val full = tempDir("graft_lsh_full")
    SimilarityOps.lshWriteIndex(e, full, "vec_id", "embedding", nbits = 8)
    val probedFull = SimilarityOps.lshProbeTopK(spark, full, q, "vec_id", "embedding",
      k = 3, multiProbe = true)
    assert(rows(probedFull) ==
      rows(SimilarityOps.lshTopK(q, e, "vec_id", "vec_id", "embedding",
        k = 3, nbits = 8, multiProbe = true)))
    // build evens + append odds ≡ the one-shot build (no fitted
    // quantizer — the frozen invariant is nbits, read from _graft_meta
    // so append and probe can never re-bucket under a different width)
    val inc = tempDir("graft_lsh_inc")
    SimilarityOps.lshWriteIndex(e.where(col("vec_id") % 2 === 0), inc,
      "vec_id", "embedding", nbits = 8)
    SimilarityOps.lshAppendToIndex(e.where(col("vec_id") % 2 === 1), inc,
      "vec_id", "embedding", tag = "odd")
    assert(rows(SimilarityOps.lshProbeTopK(spark, inc, q, "vec_id", "embedding",
      k = 3, multiProbe = true)) == rows(probedFull))
    // the bucket join key is a partition column → the scan must prune
    val plan = probedFull.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") || plan.contains("dynamicpruning"),
      s"expected partition pruning in:\n${plan.take(2000)}")
  }

  test("IVF-PQ append: appended index probes == one-shot full build") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
    val cents = SimilarityOps.ivfCentroids(e, "embedding", 8)
    val books = SimilarityOps.pqCodebooks(e, "embedding", dim = 64, m = 8, k = 16)
    val full = tempDir("graft_ivfpq_full")
    SimilarityOps.ivfPqWriteIndex(e, full, "vec_id", "embedding", nLists = 8,
      m = 8, codebookK = 16, centroids = Some(cents), codebooks = Some(books))
    val inc = tempDir("graft_ivfpq_inc")
    SimilarityOps.ivfPqWriteIndex(e.where(col("vec_id") % 2 === 0), inc,
      "vec_id", "embedding", nLists = 8, m = 8, codebookK = 16,
      centroids = Some(cents), codebooks = Some(books))
    SimilarityOps.ivfPqAppendToIndex(e.where(col("vec_id") % 2 === 1), inc,
      "vec_id", "embedding", tag = "odd")
    def probe(dir: String) =
      SimilarityOps.ivfPqProbeTopK(spark, dir, e, q, "vec_id", "vec_id", "embedding",
        k = 3, nProbe = 3, shortlist = 20)
        .select("query_id", "corpus_id", "cos").collect().map(_.toString).sorted.toSeq
    assert(probe(inc) == probe(full))
    // the frozen centroid+codebook pair round-trips bit-exactly
    val meta = SimilarityOps.openIvfPqIndex(spark, inc)
    assert(meta.centroids.map { case (i, v) => (i, v.toSeq) }.toSeq ==
      cents.map { case (i, v) => (i, v.toSeq) }.toSeq)
    assert(meta.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      books.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("Z-order layout: box filter decodes a fraction of what a random layout decodes") {
    import graft.layout.LayoutOps
    val l = Tables(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val zdir = tempDir("graft_zorder")
    LayoutOps.zOrderWrite(l, zdir, Seq("l_partkey", "l_suppkey"), nFiles = 16)
    val rdir = tempDir("graft_random")
    l.repartition(16).write.mode("overwrite").parquet(rdir)
    // rows DECODED by the scan (after parquet footer-stats skipping),
    // not rows matching: the scan node's numOutputRows
    def decoded(dir: String): (Long, Long) = {
      val q = spark.read.parquet(dir)
        .where(col("l_partkey") <= 100 && col("l_suppkey") <= 10)
      val matched = q.count()
      val scans = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty)
      (scans.map(_.metrics("numOutputRows").value).sum, matched)
    }
    val (zDecoded, zMatched) = decoded(zdir)
    val (rDecoded, rMatched) = decoded(rdir)
    assert(zMatched == rMatched) // layout must not change the answer
    // the random layout decodes every row group (full value ranges in
    // every file); the z-ordered one skips most of them on stats alone
    assert(zDecoded * 4 <= rDecoded,
      s"z-order should decode ≤¼ of random layout: z=$zDecoded rand=$rDecoded")
  }

  test("compact: many small files become target-sized files, rows preserved") {
    import graft.layout.LayoutOps
    val l = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val dir = tempDir("graft_compact")
    l.repartition(20).write.mode("overwrite").parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = parquetFiles
    assert(before == 20)
    // order-independent checksum: FP addition is not associative, so a
    // repartition legitimately changes a double sum's last ulp. Long
    // arithmetic (count + integer-cents sum) is exact and order-free.
    def checksum = spark.read.parquet(dir)
      .agg(count(lit(1)), sum((col("l_extendedprice") * 100).cast("long"))).head()
    val before2 = checksum
    val n = LayoutOps.compact(spark, dir, targetFileBytes = 512L * 1024)
    assert(parquetFiles == n && n < before)
    assert(checksum == before2)
  }

  test("compact under PointerCommit: generation-published rewrite, checksum preserved") {
    import graft.layout.LayoutOps
    import graft.merge.Merge
    val l = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val dir = tempDir("graft_compact_ptr") + "/t"
    Merge.overwrite(l.repartition(12), dir, Merge.PointerCommit)
    def checksum = Merge.readTarget(spark, dir)
      .agg(count(lit(1)), sum((col("l_extendedprice") * 100).cast("long"))).head()
    val before = checksum
    val gen1 = Merge.resolveDir(spark, dir)
    val n = LayoutOps.compact(spark, dir,
      targetFileBytes = 64L * 1024 * 1024, commit = Merge.PointerCommit)
    val gen2 = Merge.resolveDir(spark, dir)
    assert(gen2 != gen1, "compaction published a fresh generation")
    assert(n == 1 && new java.io.File(gen2).listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    assert(checksum == before)
    assert(new java.io.File(gen1).exists(), "superseded generation graced one commit")
  }

  test("compact failure mid-rewrite leaves the original directory untouched") {
    import graft.layout.LayoutOps
    val l = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val dir = tempDir("graft_compact_fail")
    l.repartition(8).write.mode("overwrite").parquet(dir)
    val filesBefore = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    // a frame whose computation throws at execution time: atomicReplace
    // must fail BEFORE any rename, so the target directory survives
    val poisoned = spark.read.parquet(dir)
      .withColumn("__boom", when(col("l_orderkey").isNotNull,
        raise_error(lit("injected failure"))).otherwise(lit(1)))
    intercept[Exception] {
      graft.merge.Merge.atomicReplace(poisoned, dir)
    }
    val filesAfter = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(filesAfter == filesBefore, "original directory must survive a failed rewrite")
    assert(spark.read.parquet(dir).count() == l.count())
    // and the real compact protocol still works end-to-end afterwards
    val nf = LayoutOps.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(nf == 1 && spark.read.parquet(dir).count() == l.count())
  }

  test("bucketed tables equi-join with NO shuffle on either side") {
    val l = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_orderpriority")
    graft.io.Writers.bucketed(l, "bk_lineitem", Seq("l_orderkey"), 4,
      sortCols = Seq("l_orderkey"))
    graft.io.Writers.bucketed(o, "bk_orders", Seq("o_orderkey"), 4,
      sortCols = Seq("o_orderkey"))
    try {
      // disable broadcast so the join would OTHERWISE be a shuffle join
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("bk_lineitem").join(spark.table("bk_orders"),
          col("l_orderkey") === col("o_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString()
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle:\n${plan.take(1500)}")
        // and it is still the correct join
        assert(joined.count() ==
          l.join(o, col("l_orderkey") === col("o_orderkey")).count())
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_lineitem")
      spark.sql("DROP TABLE IF EXISTS bk_orders")
    }
  }

  test("bloomPrefilteredJoin: exact vs plain join, actually prunes, stays in codegen") {
    val orders = Tables(spark, "/root/testdata/sf0.001", "orders")
    val cust = Tables(spark, "/root/testdata/sf0.001", "customer")
      .where(col("c_nationkey") === 7).select("c_custkey")
    val bloomed = graft.relational.RelationalOps.bloomPrefilteredJoin(
      orders, cust, "o_custkey", "c_custkey", joinType = "left_semi")
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    val plain = orders.join(cust, orders("o_custkey") === cust("c_custkey"), "left_semi")
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    assert(bloomed == plain && bloomed.nonEmpty)
    // the probe must drop (almost all) non-matching rows BEFORE the join
    val sketch = cust.stat.bloomFilter("c_custkey", 1000, 0.03)
    val kept = orders.where(graft.functions.BloomMightContainExpr
      .mightContain(col("o_custkey"), sketch)).count()
    assert(kept < orders.count() / 2, s"prefilter kept $kept of ${orders.count()}")
    assert(kept >= plain.size) // never drops a true match
    // the probe is an ordinary boolean expression inside codegen — the
    // Filter node must carry the whole-stage marker (`*(n)` prefix),
    // not fall back to interpreted evaluation
    val plan = orders.where(graft.functions.BloomMightContainExpr
      .mightContain(col("o_custkey"), sketch)).queryExecution.executedPlan.toString()
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Filter bloom_might_contain.*") &&
      !plan.contains("Fallback"),
      s"bloom probe fell out of codegen:\n${plan.take(1200)}")
    // string keys probe through the same expression
    val nat = Tables(spark, "/root/testdata/sf0.001", "nation")
    val natSketch = nat.where(col("n_regionkey") === 1).stat.bloomFilter("n_name", 100, 0.01)
    val natKept = nat.where(graft.functions.BloomMightContainExpr
      .mightContain(col("n_name"), natSketch))
      .select("n_name").as[String].collect().toSet
    val natTrue = nat.where(col("n_regionkey") === 1)
      .select("n_name").as[String].collect().toSet
    assert(natTrue.subsetOf(natKept))
  }

  test("bloomPrefilteredJoin auto-sizes the sketch: no saturation when the small side exceeds the old 2^20 default") {
    // 1.6M distinct keys — a fixed 2^20-item sketch saturates here (its
    // observed fpp climbs toward 1 and the prune evaporates); the
    // auto-size path counts the small side and holds the design fpp
    val small = spark.range(0, 1600000).select(col("id").as("k"))
    // big side: half true matches, half certain misses (disjoint range)
    val big = spark.range(0, 1600000)
      .select((col("id") * 2 + lit(10000000L) * (col("id") % 2)).as("bk"))
    val joined = RelationalOps.bloomPrefilteredJoin(
      big, small, "bk", "k", joinType = "left_semi")
    val expected = big.join(small, big("bk") === small("k"), "left_semi")
    assert(joined.count() == expected.count())
    // the probe alone must still drop (almost all) certain misses: the
    // auto-sized sketch keeps ~matches + fpp·misses, nowhere near "all"
    val sketch = small.stat.bloomFilter("k", math.max(1L, small.count()), 0.03)
    val kept = big.where(graft.functions.BloomMightContainExpr
      .mightContain(col("bk"), sketch)).count()
    val misses = big.count() - expected.count()
    assert(kept - expected.count() < misses / 5,
      s"auto-sized sketch kept $kept of ${big.count()} (true matches ${expected.count()})")
  }

  test("plan shapes: chunking is shuffle-free, key profile is a bounded TakeOrdered") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    // chunking must stay a narrow per-row explode — ANY Exchange means
    // the operator stopped being embarrassingly parallel
    val chunkPlan = graft.text.TextOps.chunkDocuments(docs, "doc_id", "text", 40, 10)
      .queryExecution.executedPlan.toString()
    assert(!chunkPlan.contains("Exchange"),
      s"chunkDocuments must not shuffle:\n${chunkPlan.take(1500)}")
    // keyProfile's top-N must be a TakeOrdered (bounded heap), never a
    // full global Sort of the grouped frame
    val profPlan = graft.profile.ProfileOps.keyProfile(
      Tables(spark, "/root/testdata/sf0.001", "orders"), "o_custkey", 50)
      .queryExecution.executedPlan.toString()
    assert(profPlan.contains("TakeOrdered"),
      s"keyProfile top-N must be TakeOrdered:\n${profPlan.take(1500)}")
    spark.catalog.clearCache()
  }

  test("fused quantizer kernels == composable argmin forms, bit-identical") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = SimilarityOps.ivfCentroids(e, "embedding", 8)
    for (n <- Seq(1, 3, 8)) {
      val both = e.select(
        SimilarityOps.nearestListsExpr(cents, col("embedding"), n).as("fused"),
        SimilarityOps.nearestListsComposable(cents, col("embedding"), n).as("hof"))
      assert(both.where(col("fused") =!= col("hof")).count() == 0, s"n=$n")
    }
    val books = SimilarityOps.pqCodebooks(e, "embedding", dim = 64, m = 8, k = 16)
    val both = e.select(
      SimilarityOps.pqEncode(col("embedding"), books).as("fused"),
      SimilarityOps.pqEncodeComposable(col("embedding"), books).as("hof"))
    assert(both.where(col("fused") =!= col("hof")).count() == 0)
  }

  test("PQ: codes bounded, reconstruction error shrinks with k, recall reasonable") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val dim = 64; val m = 8
    def mse(k: Int): Double = {
      val books = SimilarityOps.pqCodebooks(e, "embedding", dim, m, k)
      val codes = e.select(col("vec_id"),
        SimilarityOps.pqEncode(col("embedding"), books).as("codes"))
      // codes in range, one per subspace
      val bad = codes.where(size(col("codes")) =!= m ||
        exists(col("codes"), c => c < 0 || c >= k)).count()
      assert(bad == 0)
      val rec = e.join(codes, "vec_id").select(
        SimilarityOps.dot(col("embedding"), col("embedding")).as("nn"),
        graft.functions.Let.bind(
          SimilarityOps.pqDecode(col("codes"), books)) { r =>
          SimilarityOps.dot(col("embedding"), r) * -2 + SimilarityOps.dot(r, r)
        }.as("rest"))
      rec.select(avg(col("nn") + col("rest"))).head().getDouble(0) // E||v - r||²
    }
    val coarse = mse(2)
    val fine = mse(16)
    assert(fine < coarse, s"higher k must reconstruct better: k16=$fine k2=$coarse")

    // serving pattern: PQ shortlist + exact re-rank. Raw quantized
    // top-10 has modest recall on these near-random vectors (~0.3);
    // the reranked shortlist recovers most of it — and recall must
    // GROW with the shortlist (the PQ scale contract)
    // finer subspaces for the serving test: m=16 (4-dim subquantizers)
    val books = SimilarityOps.pqCodebooks(e, "embedding", dim, m = 16, k = 16)
    val codes = e.select(col("vec_id"),
      SimilarityOps.pqEncode(col("embedding"), books).as("codes"))
    val q = e.where(col("vec_id") < 10)
    val brute = SimilarityOps.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", k = 10)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(shortlist: Int): Double = {
      val rr = SimilarityOps.pqTopKReranked(q, e, codes, "vec_id", "vec_id",
        "embedding", "codes", books, k = 10, shortlist = shortlist)
        .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (rr & brute).size.toDouble / brute.size
    }
    val r25 = recallAt(25)
    val r100 = recallAt(100)
    assert(r100 >= r25, s"recall must grow with shortlist: r25=$r25 r100=$r100")
    assert(r100 > 0.6, s"reranked recall@10 (shortlist=20% of corpus) too low: $r100")
  }

  test("IVF-PQ: recall grows on both knobs (probes, shortlist); full budget ≈ exact") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
    val brute = SimilarityOps.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nProbe: Int, shortlist: Int): Double = {
      val got = SimilarityOps.ivfPqTopK(q, e, "vec_id", "vec_id", "embedding",
        k = 5, nLists = 8, nProbe = nProbe, shortlist = shortlist)
        .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & brute).size.toDouble / brute.size
    }
    val narrow = recall(1, 25)
    val wide = recall(8, 200)
    assert(wide >= narrow, s"budget must help: narrow=$narrow wide=$wide")
    // probing every list with a generous shortlist ≈ exact search
    assert(wide > 0.8, s"full-budget IVF-PQ recall too low: $wide")
  }

  test("written IVF-PQ index: probe == in-memory ivfPqTopK, pruned, full budget exact") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
    val dir = tempDir("graft_ivfpq")
    val (cents, books) = SimilarityOps.ivfPqWriteIndex(e, dir, "vec_id", "embedding",
      nLists = 8, m = 8, codebookK = 16)
    // at-rest rows carry ONLY id + codes + code-norm (+ partition cols)
    val index = spark.read.parquet(s"$dir/pq")
    assert(index.columns.sorted.toSeq ==
      Seq("batch", "corpus_id", "ivf_list", "pq_codes", "pq_rn"))
    // approximate config: byte-identical to the in-memory composition at
    // the same fits (same quantizer, same probes, same ADC, same rerank)
    val probed = SimilarityOps.ivfPqProbeTopK(spark, dir, e, q,
      "vec_id", "vec_id", "embedding", k = 3, nProbe = 2, shortlist = 25)
    val inMem = SimilarityOps.ivfPqTopK(q, e, "vec_id", "vec_id", "embedding",
      k = 3, nLists = 8, nProbe = 2, m = 8, codebookK = 16, shortlist = 25,
      centroids = Some(cents), codebooks = Some(books))
    assert(probed.select("query_id", "corpus_id", "cos").collect().map(_.toString).sorted.toSeq ==
      inMem.select("query_id", "corpus_id", "cos").collect().map(_.toString).sorted.toSeq)
    // probe scan must prune partitions on the list id
    val plan = probed.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") || plan.contains("dynamicpruning"),
      s"expected partition pruning in:\n${plan.take(2000)}")
    // full budget == exact brute force
    val full = SimilarityOps.ivfPqProbeTopK(spark, dir, e, q,
      "vec_id", "vec_id", "embedding", k = 3, nProbe = 8,
      shortlist = Int.MaxValue)
    val brute = SimilarityOps.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", k = 3)
    assert(full.select("query_id", "corpus_id", "cos", "rank").collect().map(_.toString).sorted.toSeq ==
      brute.select("query_id", "corpus_id", "cos", "rank").collect().map(_.toString).sorted.toSeq)
  }

  test("stable-id sampling: identical centroids across partition layouts") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    def flat(c: Array[(Int, Array[Double])]) = c.flatMap(_._2).toSeq
    // same content, three different physical layouts
    val layouts = Seq(e, e.repartition(17), e.repartition(3, col("vec_id")))
    val stable = layouts.map(df =>
      flat(SimilarityOps.ivfCentroids(df, "embedding", 8, stableIdCol = Some("vec_id"))))
    assert(stable.distinct.size == 1,
      "id-hash sampling must make the fit a pure function of corpus content")
    val books = layouts.map(df =>
      SimilarityOps.pqCodebooks(df, "embedding", dim = 64, m = 8, k = 4,
        stableIdCol = Some("vec_id")).flatMap(_.flatMap(_.toSeq)).toSeq)
    assert(books.distinct.size == 1)
  }

  test("IVF quantizer training sample is unbiased: sorted input still splits clusters") {
    // 8192 rows, MORE than the 4096-row training sample, laid out so a
    // head-of-table sample (the old limit(4096) bias) would see ONLY
    // cluster A and put both centroids inside it. The seeded random
    // draw must see both clusters and place one centroid near each.
    val a = (0 until 4096).map(i => (i.toLong, Array(10f + (i % 7) * 0.01f, 10f, 0.1f)))
    val b = (0 until 4096).map(i => ((i + 4096).toLong, Array(-10f - (i % 7) * 0.01f, -10f, 0.1f)))
    val corpus = (a ++ b).toDF("vec_id", "embedding").coalesce(1) // sorted, single partition
    val cents = SimilarityOps.ivfCentroids(corpus, "embedding", nLists = 2, seed = 7L)
      .map(_._2)
    assert(cents.count(_(0) > 5.0) == 1, s"one centroid in cluster A: ${cents.map(_.toSeq).toSeq}")
    assert(cents.count(_(0) < -5.0) == 1, s"one centroid in cluster B: ${cents.map(_.toSeq).toSeq}")
  }

  test("groupEntropy: 0 bits for one group, log2(k) for uniform, skew in between") {
    import spark.implicits._
    import graft.profile.ProfileOps
    val mono = Seq.fill(64)("a").toDF("src")
    val m = ProfileOps.groupEntropy(mono, "src").head
    assert(m.getLong(0) == 1L && m.getLong(1) == 64L && m.getDouble(2) == 0.0)
    // 4 groups × 16 rows: exactly 2 bits (all logs are exact powers of two)
    val uniform = (0 until 64).map(i => s"g${i % 4}").toDF("src")
    val u = ProfileOps.groupEntropy(uniform, "src").head
    assert(u.getLong(0) == 4L && math.abs(u.getDouble(2) - 2.0) < 1e-7)
    // skewed 56/4/2/2 must land strictly between
    val skew = (Seq.fill(56)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++
      Seq.fill(2)("d")).toDF("src")
    val sH = ProfileOps.groupEntropy(skew, "src").head.getDouble(2)
    assert(sH > 0.0 && sH < 2.0)
    // nulls excluded from the universe
    val withNull = Seq(Some("a"), Some("a"), None).toDF("src")
    assert(ProfileOps.groupEntropy(withNull, "src").head.getLong(1) == 2L)
  }
}
