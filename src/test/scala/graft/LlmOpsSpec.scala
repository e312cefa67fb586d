package graft

import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.similarity.SimilarityOps
import graft.text.TextOps

class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "completely different content about spark engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("wordShingles: n-grams, distinct, short-text → empty") {
    val sh = docs.select(col("doc_id"), DedupOps.wordShingles(col("text"), 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).size == 7)
    assert(sh(1L).contains("the quick brown"))
    assert(sh(5L).isEmpty)
  }

  test("charShingles slide over normalized text") {
    val sh = Seq((1L, "AB  cd")).toDF("id", "t")
      .select(DedupOps.charShingles(col("t"), 3)).as[Seq[String]].head()
    assert(sh == Seq("ab ", "b c", " cd"))
  }

  test("contentGroups groups exact duplicates") {
    val g = DedupOps.contentGroups(docs, "doc_id", "text")
    assert(g.count() == 4)
    assert(g.where(col("n_copies") === 2).select("rep_id").as[Long].head() == 1L)
  }

  test("exactDedup first-wins keeps lowest-ordered copy") {
    val out = DedupOps.exactDedup(docs, "text", Seq(col("doc_id").asc))
    assert(out.count() == 4)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 5L))
  }

  test("ngramJaccardPairs finds near-dups, exact jaccard value") {
    val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 3, threshold = 0.4)
      .as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 4L)) == 1.0)                   // exact dup
    assert(m.contains((1L, 2L)) && m((1L, 2L)) > 0.5 && m((1L, 2L)) < 1.0)
    assert(m.contains((2L, 4L)))
    assert(!m.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("ngramJaccardPairs maxBucket: numerator and denominator share the pruned universe") {
    // docs 1, 2, 4 share their first six 3-grams, so those shingles sit
    // in buckets of size 3; "the lazy dog" is in docs {1,4} (size 2) and
    // "the lazy cat" only in doc 2. With maxBucket = 2 the six hot
    // shingles vanish from the universe ENTIRELY: docs 1/2/4 each keep
    // exactly one shingle, and (1,4) — sharing theirs — must score
    // jaccard 1/(1+1-1) = 1.0. A pre-prune denominator would give the
    // inconsistent 1/(7+7-1) ≈ 0.08 and drop the pair.
    val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 3,
      threshold = 0.4, maxBucket = 2)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 4L, 1.0)))
  }

  test("ngramContainmentPairs: asymmetric excerpt detection Jaccard misses") {
    import spark.implicits._
    // long doc (20 words) + a 6-word excerpt of it: Jaccard tiny,
    // containment(excerpt -> long) = 1.0
    val long = (1 to 20).map(i => s"w$i").mkString(" ")
    val excerpt = (3 to 8).map(i => s"w$i").mkString(" ")
    val other = "completely different words here entirely"
    val df = Seq((1L, long), (2L, excerpt), (3L, other)).toDF("doc_id", "text")
    val out = DedupOps.ngramContainmentPairs(df, "doc_id", "text",
      shingleN = 3, threshold = 0.8)
      .as[(Long, Long, Double, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 4.0 / 18.0, 1.0)))
    // the same pair at the same threshold is invisible to Jaccard
    val jac = DedupOps.ngramJaccardPairs(df, "doc_id", "text",
      shingleN = 3, threshold = 0.8).count()
    assert(jac == 0L)
  }

  test("ngramContainmentPairs: exact duplicates score 1.0 both ways, threshold gates") {
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon"
    val df = Seq((1L, t), (2L, t), (3L, "alpha beta gamma zeta eta theta"))
      .toDF("doc_id", "text")
    val out = DedupOps.ngramContainmentPairs(df, "doc_id", "text",
      shingleN = 3, threshold = 0.9)
      .as[(Long, Long, Double, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1.0, 1.0)))
  }

  test("minhash est-jaccard ≈ true jaccard; LSH finds planted pairs") {
    val pairs = DedupOps.minhashNearDupPairs(docs, "doc_id", "text",
      shingleN = 3, k = 32, bands = 16, threshold = 0.4)
      .as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 4L)) == 1.0)         // identical signatures
    assert(m.contains((1L, 2L)))       // near-dup found
    assert(!m.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhash: identical texts equal, near-dups close, different far") {
    val h = docs.select(col("doc_id"), DedupOps.simhash(col("text"), 32).as("h"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L) == h(4L))
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(3L)))
  }

  test("winnowFingerprints: fused kernel ≡ composable form on the real corpus, both tiers") {
    val corpus = Tables(spark, "/root/testdata/sf0.001", "documents")
    for (portable <- Seq(false, true); (k, w) <- Seq((8, 4), (12, 8), (5, 1))) {
      val mismatches = corpus.select(
        TextOps.winnowFingerprints(col("text"), k, w, portable).as("fused"),
        TextOps.winnowFingerprintsComposable(col("text"), k, w, portable).as("comp"))
        .where(not(col("fused") === col("comp"))).count()
      assert(mismatches == 0, s"kernel diverges at k=$k w=$w portable=$portable")
    }
    // edge shapes: empty text and shorter-than-one-gram text
    val edge = Seq((1L, ""), (2L, "ab")).toDF("doc_id", "text")
    val e = edge.select(
      TextOps.winnowFingerprints(col("text"), 8, 4).as("fused"),
      TextOps.winnowFingerprintsComposable(col("text"), 8, 4).as("comp"))
      .where(not(col("fused") === col("comp"))).count()
    assert(e == 0)
  }

  test("winnowFingerprints: reference parity, substring-sharing guarantee, short-text floor") {
    // driver-side reference implementation of the paper's definition
    def ref(text: String, k: Int, w: Int): Seq[Long] = {
      val t = text.toLowerCase.replaceAll("\\s+", " ").trim
      val grams = if (t.length >= k) (0 to t.length - k).map(i => t.substring(i, i + k))
                  else Seq(t)
      val hs = grams.map(g => Seq((10L, g)).toDF("id", "g")
        .select(xxhash64(col("g"))).as[Long].head())
      val sel = if (hs.size >= w) (0 to hs.size - w).map(p => hs.slice(p, p + w).min)
                else Seq(hs.min)
      sel.distinct.sorted
    }
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "unrelated words entirely QUICK BROWN FOX JUMPS padding tail"), // shares ≥11-char run (case-folded)
      (3L, "zz")                                                          // shorter than one gram
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
      TextOps.winnowFingerprints(col("text"), k = 8, w = 4).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == ref("the quick brown fox jumps over the lazy dog", 8, 4))
    assert(got(3L).size == 1) // short text floor: one fingerprint
    // guarantee: docs 1 and 2 share a case-folded substring of length
    // ≥ w + k − 1 = 11 ("quick brown fox jumps") → at least one shared fp
    assert(got(1L).toSet.intersect(got(2L).toSet).nonEmpty)
    // and doc 3 shares nothing with doc 1
    assert(got(1L).toSet.intersect(got(3L).toSet).isEmpty)
  }

  test("simhashNearDupPairs: banded candidates ≡ brute-force hamming filter (pigeonhole)") {
    val sigs = docs.select(col("doc_id"),
      DedupOps.simhash(col("text"), bits = 16).as("s"))
      .as[(Long, Long)].collect().toSeq
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    val got = DedupOps.simhashNearDupPairs(docs, "doc_id", "text",
      bits = 16, maxHamming = 3, bands = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(want.exists { case (a, b, h) => a == 1L && b == 4L && h == 0L },
      "exact dup pair must appear at hamming 0")
    intercept[IllegalArgumentException] {
      DedupOps.simhashNearDupPairs(docs, "doc_id", "text", bands = 3, maxHamming = 3)
    }
  }

  test("hammingDistance column matches bitCount") {
    val d = Seq((0xFFL, 0x0FL)).toDF("a", "b")
      .select(DedupOps.hammingDistance(col("a"), col("b"))).as[Int].head()
    assert(d == 4)
  }

  test("jsRollingDivergence: ~0 on a repeat day, fires on a shifted mix, omits empty refs") {
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-05-$d%02d 12:00:00")
    val rows = (1 to 100).map(i => (ts(1), if (i % 2 == 0) "click" else "view")) ++
      (1 to 100).map(i => (ts(2), if (i % 2 == 0) "click" else "view")) ++  // repeat mix
      (1 to 100).map(_ => (ts(3), "purchase")) ++                           // shifted mix
      (1 to 50).map(_ => (ts(20), "view"))                                  // ref window empty
    val got = TextOps.jsRollingDivergence(rows.toDF("ts", "k"), "k", "ts", windowDays = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set("2024-05-02", "2024-05-03"))
    val (cur2, ref2, js2) = got("2024-05-02")
    assert(cur2 == 100 && ref2 == 100)
    assert(math.abs(js2) < 1e-6, s"repeat mix gave $js2")
    val (_, ref3, js3) = got("2024-05-03")
    assert(ref3 == 200)
    assert(js3 > 0.5, s"shifted mix gave $js3")
  }

  test("sourceDriftDashboard: both gauges per source, odd source tops both axes") {
    val rows = (1L to 120L).map { i =>
      val src = if (i % 3 == 0) "weird" else if (i % 3 == 1) "a" else "b"
      val text = if (src == "weird") "zygote xylem qanat" else "the quick brown fox"
      val len = if (src == "weird") 90000L + i else 100L + (i % 9)
      (i, src, text, len)
    }.toDF("doc_id", "source", "text", "n_chars")
    val got = graft.meta.IndexDashboard.sourceDriftDashboard(
      rows, "source", "n_chars", "text", vocabLimit = 100)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.keySet.map(_._2) == Set("psi_bits", "js_bits"))
    assert(got.keySet.map(_._1) == Set("a", "b", "weird"))
    assert(got(("weird", "psi_bits")) > got(("a", "psi_bits")))
    assert(got(("weird", "js_bits")) > got(("a", "js_bits")))
  }

  test("driftDashboard: all three gauges, identical halves read as no-drift") {
    val docsF = (1L to 60L).map(i => (i, "alpha beta gamma", 100L + (i % 7)))
      .toDF("doc_id", "text", "n_chars")
    val vecsF = (1L to 60L).map(i => (i, Seq(1.0f, 0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    // even/odd halves carry the SAME distributions -> every gauge at
    // its no-drift reading
    val got = graft.meta.IndexDashboard.driftDashboard(
      docsF.where(col("doc_id") % 2 === 0), docsF.where(col("doc_id") % 2 === 1),
      "n_chars", "text",
      vecsF.where(col("vec_id") % 2 === 0), vecsF.where(col("vec_id") % 2 === 1),
      "embedding")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set("psi_bits", "js_bits", "centroid_cosine"))
    val (psi, nr, nn) = got("psi_bits")
    assert(nr == 30 && nn == 30)
    assert(math.abs(psi) < 0.01, s"psi $psi")          // near-identical length mix
    assert(math.abs(got("js_bits")._1) < 1e-6)          // identical vocab
    assert(math.abs(got("centroid_cosine")._1 - 1.0) < 1e-12)
  }

  test("jsDivergence: ~0 on identical corpora, near 1 on disjoint vocab, exactly symmetric") {
    // corpora big enough that +1 smoothing is marginal (on a
    // handful-of-tokens fixture the smoothing mass dominates and JS of
    // even disjoint vocabularies deflates to ~0.2 — verified against a
    // driver replay of the smoothed formula)
    val a = (1L to 200L).map(i => (i, "alpha beta gamma alpha beta")).toDF("doc_id", "text")
    val b = (1L to 200L).map(i => (i, "zeta eta theta iota")).toDF("doc_id", "text")
    def js(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) = {
      val r = TextOps.jsDivergence(x, y, "text").head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    }
    val (kAA, naAA, nbAA, same) = js(a, a)
    assert(kAA == 3 && naAA == 1000 && nbAA == 1000)
    // KL terms don't cancel algebraically, so the log snap leaves a
    // bounded residue instead of an exact 0
    assert(math.abs(same) < 1e-6, s"identical corpora gave $same")
    val dj = js(a, b)._4
    assert(dj > 0.8 && dj <= 1.0 + 1e-6, s"disjoint vocab gave $dj")
    assert(js(b, a)._4 == dj, "swap must be digit-identical")   // exact symmetry
    // partial overlap sits strictly between identical and disjoint
    val part = js(a, a.unionByName(b))._4
    assert(part > 0.01 && part < dj, s"partial overlap gave $part")
    // coarsened tier: with vocabLimit ≥ the union vocabulary nothing is
    // truncated and no OTHER bucket exists — digit-identical to exact
    val exact = TextOps.jsDivergence(a, b, "text").head()
    val bounded = TextOps.jsDivergence(a, b, "text", vocabLimit = 100).head()
    assert(bounded == exact, "unclipped coarsening must be digit-identical")
    // a tight limit folds the tail into OTHER: grid bounded at K+1,
    // figure can only shrink (data-processing inequality), never grow
    val tight = TextOps.jsDivergence(a, b, "text", vocabLimit = 2).head()
    assert(tight.getLong(0) <= 3, s"grid not bounded: ${tight.getLong(0)}")
    assert(tight.getDouble(3) <= dj + 1e-12 && tight.getDouble(3) > 0)
  }

  test("jsRollingDivergenceBy: per-group series ≡ single-group runs; repeats zero, shifts fire") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day%d 10:00:00")
    val rows = ((1 to 60).map(i => (ts(1), "a", if (i % 3 == 0) "x" else "y")) ++
      (1 to 60).map(i => (ts(2), "a", if (i % 3 == 0) "x" else "y")) ++ // repeat
      (1 to 60).map(_ => (ts(3), "a", "z")) ++                        // shift
      (1 to 40).map(_ => (ts(2), "b", "x")) ++
      (1 to 40).map(_ => (ts(3), "b", "x")))                           // b stable
    val df = rows.toDF("ts", "g", "k")
    val got = TextOps.jsRollingDivergenceBy(df, Seq("g"), "k", "ts", windowDays = 7)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    assert(got.keySet == Set(("a", "2024-03-02"), ("a", "2024-03-03"),
      ("b", "2024-03-03")))
    assert(math.abs(got(("a", "2024-03-02"))) < 1e-6)  // identical mix
    assert(got(("a", "2024-03-03")) > 0.5)             // alien key fires
    assert(math.abs(got(("b", "2024-03-03"))) < 1e-6)  // b judged vs b only
    for (g <- Seq("a", "b")) {
      val single = TextOps.jsRollingDivergence(
          df.where(col("g") === g), "k", "ts", windowDays = 7)
        .collect().map(r => (g, r.getString(0)) -> r.getDouble(4)).toMap
      assert(got.filter(_._1._1 == g) == single, s"group $g")
    }
  }

  test("day-keyed mix artifact: rolling JS from tranches ≡ inline, day-split safe") {
    import graft.util.Tranches
    val dir = tempDir("graft_daymix")
    try {
      def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day%d 10:00:00")
      val rows = ((1 to 60).map(i => (ts(1), if (i % 3 == 0) "a" else "b")) ++
        (1 to 80).map(i => (ts(2), if (i % 4 == 0) "c" else "a")) ++
        (1 to 30).map(_ => (ts(4), "b"))).zipWithIndex
        .map { case ((t, k), i) => (t, k, i.toLong) }
      val df = rows.toDF("ts", "k", "i")
      TextOps.writeDayMixTranche(df.where(col("i") % 2 === 0), "k", "ts", dir, "t0")
      TextOps.writeDayMixTranche(df.where(col("i") % 2 === 1), "k", "ts", dir, "t1")
      assertSameRows(
        TextOps.jsRollingFromIndex(spark, dir, 2),
        TextOps.jsRollingDivergence(df, "k", "ts", 2))
      // replay + fold preserve the gauge
      TextOps.writeDayMixTranche(df.where(col("i") % 2 === 1), "k", "ts", dir, "t1")
      Tranches.consolidate(spark, dir, Seq("__d", "k"), "cnt")
      assert(Tranches.live(spark, dir).length == 1)
      assertSameRows(
        TextOps.jsRollingFromIndex(spark, dir, 2),
        TextOps.jsRollingDivergence(df, "k", "ts", 2))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("sourceDivergence: odd source scores highest, totals reconcile, OTHER bucket bounds grid") {
    val rows =
      (1L to 50L).map(i => (i, "srcA", "the quick brown fox jumps")) ++
      (51L to 100L).map(i => (i, "srcB", "the quick brown fox runs")) ++
      (101L to 150L).map(i => (i, "srcC", "zygote xylem qanat vortex"))
    val df = rows.toDF("doc_id", "source", "text")
    val got = TextOps.sourceDivergence(df, "source", "text", vocabLimit = 1000)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set("srcA", "srcB", "srcC"))
    val total = 50 * 5 + 50 * 5 + 50 * 4
    got.foreach { case (src, (k, nSrc, nRest, js)) =>
      assert(nSrc + nRest == total, s"$src totals")
      assert(k == 10, s"$src vocab")        // 6 shared-ish + 4 alien terms
      assert(js > 0 && js <= 1.0 + 1e-6, s"$src js=$js")
    }
    // the alien-vocabulary source diverges far more than the two
    // near-identical ones
    assert(got("srcC")._4 > 2 * got("srcA")._4 && got("srcC")._4 > 2 * got("srcB")._4)
    // coarsening to top-3 + OTHER: the grid shrinks to 4 terms per
    // source and the coarsened JS can only shrink (data-processing
    // inequality), never grow
    val coarse = TextOps.sourceDivergence(df, "source", "text", vocabLimit = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(4)))).toMap
    coarse.foreach { case (src, (k, js)) =>
      assert(k == 4, s"$src coarse vocab")
      assert(js <= got(src)._4 + 1e-9, s"$src coarse $js vs full ${got(src)._4}")
    }
    // a single-source corpus has an empty complement -> omitted
    val solo = TextOps.sourceDivergence(
      df.where(col("source") === "srcA"), "source", "text")
    assert(solo.count() == 0)
  }

  test("text quality/langid/tokens behave on markers") {
    val df = Seq(
      (1L, "the cat and the dog in the house"),
      (2L, "der hund und die katze ist hier"),
      (3L, "xyzzy plugh")).toDF("doc_id", "text")
    val lang = TextOps.langId(df, "text").select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(lang(1L) == "en" && lang(2L) == "de" && lang(3L) == "und")
    val q = TextOps.qualityScore(df, "text")
    val scores = q.select("quality_score").as[Double].collect()
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(df.select(TextOps.tokenCount(col("text"))).as[Int].head() == 8)
  }

  // small positive epsilons instead of exact zeros: real embeddings have
  // no exact-zero components, and the sign bucket needs consistent signs
  private val vecs = Seq(
    (0L, Array(1.0f, 0.01f, 0.01f)),
    (1L, Array(0.9f, 0.1f, 0.01f)),    // close to 0
    (2L, Array(0.01f, 1.0f, 0.01f)),   // near-orthogonal to 0
    (3L, Array(-1.0f, -0.01f, -0.01f)) // opposite of 0
  ).toDF("vec_id", "embedding")

  test("chunkDocuments: coverage, overlap, tail sizing, single-chunk short docs") {
    // 10 words, chunk 4, overlap 2 (stride 2): starts 0,2,4,6 — stop at
    // start >= n - overlap = 8
    val d = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), (2L, "a b"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.chunkDocuments(d, "doc_id", "text", chunkWords = 4, overlapWords = 2)
      .as[(Long, Long, String, Long)].collect().groupBy(_._1)
    val c1 = got(1L).sortBy(_._2).map(r => (r._3, r._4))
    assert(c1.toSeq == Seq(("w1 w2 w3 w4", 4L), ("w3 w4 w5 w6", 4L),
      ("w5 w6 w7 w8", 4L), ("w7 w8 w9 w10", 4L)))
    // every consecutive pair shares exactly the overlap
    assert(c1.sliding(2).forall { case Array((a, _), (b, _)) =>
      a.split(" ").takeRight(2).sameElements(b.split(" ").take(2)) })
    assert(got(2L).toSeq.map(r => (r._3, r._4)) == Seq(("a b", 2L)))
    assert(got(3L).toSeq.map(r => (r._3, r._4)) == Seq(("solo", 1L)))
    // case preserved (chunking feeds an embedder, not an identity check)
    val cased = TextOps.chunkDocuments(Seq((1L, "Foo BAR")).toDF("doc_id", "text"),
      "doc_id", "text", chunkWords = 5).select("chunk_text").as[String].head()
    assert(cased == "Foo BAR")
  }

  test("dedupAgainstHistory: exact and near dups vs history drop, batch-internal dups survive") {
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spark engines shuffle data across the cluster boundary")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),   // exact dup of history 1
      (11L, "the quick brown fox jumps over the lazy cat"),   // near dup of history 1
      (12L, "an entirely new document about training corpora"),
      (13L, "an entirely new document about training corpora"), // batch-internal dup: kept
      (14L, "short")
    ).toDF("doc_id", "text")
    val kept = DedupOps.dedupAgainstHistory(batch, history, "doc_id", "text",
      shingleN = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L, 14L))
    // empty history keeps everything
    assert(DedupOps.dedupAgainstHistory(batch, history.limit(0), "doc_id", "text")
      .count() == 5)
  }

  test("keyProfile: counts, share, skew, deterministic tie-break; columnProfile stats") {
    val d = Seq("a", "a", "a", "a", "b", "b", "c", "d").toDF("k")
    val prof = graft.profile.ProfileOps.keyProfile(d, "k", topN = 3)
      .as[(String, Long, Double, Double)].collect()
    // 4 keys, 8 rows, mean 2/key: a → share .5, skew 2.0; b → .25, 1.0
    assert(prof.toSeq == Seq(("a", 4L, 0.5, 2.0), ("b", 2L, 0.25, 1.0),
      ("c", 1L, 0.125, 0.5)))
    val cp = graft.profile.ProfileOps.columnProfile(
      Seq((1.0, Some(10.0)), (2.0, None), (2.0, Some(30.0))).toDF("x", "y"),
      Seq("x", "y"))
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(cp("x") == ((3L, 0L, 2L, 1.0, 2.0)))
    assert(cp("y") == ((3L, 1L, 2L, 10.0, 30.0)))
  }

  test("appendToDedupIndex refuses a legacy flat index layout with a migration hint") {
    val idx = tempDir("graft_flat_idx")
    // legacy flat artifact: loose part files (plus the committer's
    // _SUCCESS, which must NOT be what trips the check) directly under sh
    Seq((1L, 42L)).toDF("doc_id", "sh").write.parquet(s"$idx/sh")
    Seq("aa").toDF("fp").write.parquet(s"$idx/fp")
    val batch = Seq((2L, "some new text")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      DedupOps.appendToDedupIndex(batch, idx, "doc_id", "text", tag = "t")
    }
    assert(e.getMessage.contains("consolidateDedupIndex"))
    // ...and consolidation IS the migration: afterwards appends work
    DedupOps.consolidateDedupIndex(spark, idx)
    DedupOps.appendToDedupIndex(batch, idx, "doc_id", "text", tag = "t")
    assert(spark.read.parquet(s"$idx/sh").where(col("doc_id") === 2L).count() > 0)
  }

  test("dedupAgainstHistory is a fixpoint: survivors re-deduped against the same history survive") {
    val all = Tables(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    val hist = all.where(col("doc_id") < 25)
    val batch = all.where(col("doc_id") >= 25)
    val once = DedupOps.dedupAgainstHistory(batch, hist, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(once.nonEmpty && once.size < batch.count())
    val twice = DedupOps.dedupAgainstHistory(
      all.where(col("doc_id") >= 25).join(
        once.toDF("doc_id"), Seq("doc_id"), "left_semi"),
      hist, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(twice == once)
  }

  test("dedupAgainstIndex ≡ dedupAgainstHistory; appended index ≡ cumulative history") {
    val all = Tables(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    val hist = all.where(col("doc_id") < 30)
    val day1 = all.where(col("doc_id") >= 30 && col("doc_id") < 40)
    val day2 = all.where(col("doc_id") >= 40)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val idx = tempDir("graft_dedup_idx")
    DedupOps.writeDedupIndex(hist, idx, "doc_id", "text")
    // same-day parity: materialized index ≡ direct text path
    val s1Idx = DedupOps.dedupAgainstIndex(day1, idx, "doc_id", "text")
    val s1Direct = DedupOps.dedupAgainstHistory(day1, hist, "doc_id", "text")
    assert(ids(s1Idx) == ids(s1Direct))
    // append day-1 survivors (whose lineage READS this index — the
    // regression was the second append write re-evaluating them against
    // the half-mutated index and appending zero shingles), then day-2
    // must equal a direct dedup against the cumulative history
    DedupOps.appendToDedupIndex(s1Idx, idx, "doc_id", "text", tag = "day1")
    val s2Idx = DedupOps.dedupAgainstIndex(day2, idx, "doc_id", "text")
    val s2Direct = DedupOps.dedupAgainstHistory(day2, hist.unionByName(s1Direct),
      "doc_id", "text")
    assert(ids(s2Idx) == ids(s2Direct))
    // the index grew: appended shingle rows exist for day-1 survivors.
    // Compare against the PRE-COLLECTED survivor ids (s1Direct ≡ s1Idx,
    // proven above) — re-evaluating s1Idx's plan after the append would
    // see its own fingerprints in the index and decide the empty set,
    // making a subset assertion on it vacuously true
    val s1Ids = ids(s1Direct).toSet
    assert(s1Ids.nonEmpty)
    val shDocs = spark.read.parquet(s"$idx/sh").select("doc_id").distinct()
      .as[Long].collect().toSet
    assert(s1Ids.subsetOf(shDocs))
    // index maintenance: consolidation rewrites the accumulated batch=
    // tranches into one through the atomic swap — answers unchanged,
    // tranche count collapses to 1
    val before = ids(DedupOps.dedupAgainstIndex(day2, idx, "doc_id", "text"))
    def tranches(art: String) =
      new java.io.File(s"$idx/$art").listFiles().map(_.getName)
        .filter(_.startsWith("batch=")).toSeq
    assert(tranches("sh").size == 2) // build + one append
    DedupOps.consolidateDedupIndex(spark, idx)
    assert(tranches("sh") == Seq("batch=consolidated"))
    assert(tranches("fp") == Seq("batch=consolidated"))
    assert(ids(DedupOps.dedupAgainstIndex(day2, idx, "doc_id", "text")) == before)
    // and appends continue to work on the consolidated index
    DedupOps.appendToDedupIndex(
      DedupOps.dedupAgainstIndex(day2, idx, "doc_id", "text"), idx, "doc_id", "text",
      tag = "day2")
    assert(tranches("sh").size == 2)
  }

  test("dedupAgainstIndexApprox: sig-artifact lifecycle — append ≡ rebuild, consolidation answer-preserving") {
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "red orange yellow green blue indigo violet purple pink white")
    ).toDF("doc_id", "text")
    val day1 = Seq(
      (30L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact dup of 1
      (31L, "one two three four five six seven eight nine eleven"),      // near-dup of 2 (J=7/9)
      (32L, "totally fresh content about distributed query engines today")
    ).toDF("doc_id", "text")
    val day2 = Seq(
      (40L, "totally fresh content about distributed query engines today"), // exact dup of day-1 SURVIVOR 32
      (41L, "red orange yellow green blue indigo violet purple pink gray"), // near-dup of hist 3
      (42L, "another unrelated story with entirely distinct vocabulary whatsoever")
    ).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val idx = tempDir("graft_sig_idx")
    DedupOps.writeDedupIndex(hist, idx, "doc_id", "text")
    val s1 = DedupOps.dedupAgainstIndexApprox(day1, idx, "doc_id", "text", threshold = 0.4)
    // 30 drops at the exact tier, 31 at the banded-signature tier
    assert(ids(s1) == Seq(32L))
    DedupOps.appendToDedupIndex(s1, idx, "doc_id", "text", tag = "day1")
    // append wrote the sig tranche, not just sh/fp
    assert(new java.io.File(s"$idx/sig/batch=day1").exists())
    val viaAppend = ids(DedupOps.dedupAgainstIndexApprox(day2, idx, "doc_id", "text",
      threshold = 0.4))
    // 40 exact-dups the APPENDED survivor, 41 near-dups original history
    assert(viaAppend == Seq(42L))
    // append ≡ rebuild: a fresh index over the cumulative corpus gives
    // day-2 the same decisions (signatures are pure functions of text)
    val idx2 = tempDir("graft_sig_idx2")
    DedupOps.writeDedupIndex(
      hist.unionByName(day1.where(col("doc_id") === 32L)), idx2, "doc_id", "text")
    assert(ids(DedupOps.dedupAgainstIndexApprox(day2, idx2, "doc_id", "text",
      threshold = 0.4)) == viaAppend)
    // consolidation rewrites sig tranches too, answers unchanged
    DedupOps.consolidateDedupIndex(spark, idx)
    assert(new java.io.File(s"$idx/sig").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSeq == Seq("batch=consolidated"))
    assert(ids(DedupOps.dedupAgainstIndexApprox(day2, idx, "doc_id", "text",
      threshold = 0.4)) == viaAppend)
    // a legacy pre-sig index fails fast instead of silently finding nothing
    val flat = tempDir("graft_nosig_idx")
    Seq((1L, 42L)).toDF("doc_id", "sh").write.parquet(s"$flat/sh/batch=build")
    Seq("aa").toDF("fp").write.parquet(s"$flat/fp/batch=build")
    val e = intercept[IllegalArgumentException] {
      DedupOps.dedupAgainstIndexApprox(day2, flat, "doc_id", "text")
    }
    assert(e.getMessage.contains("_graft_meta"))
  }

  test("dedup index under PointerCommit: lifecycle ≡ rename-mode, manifest-resolved, crash-safe (r13 verdict #2)") {
    import graft.merge.Merge
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "red orange yellow green blue indigo violet purple pink white")
    ).toDF("doc_id", "text")
    val day1 = Seq(
      (30L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (31L, "one two three four five six seven eight nine eleven"),
      (32L, "totally fresh content about distributed query engines today")
    ).toDF("doc_id", "text")
    val day2 = Seq(
      (40L, "totally fresh content about distributed query engines today"),
      (41L, "red orange yellow green blue indigo violet purple pink gray"),
      (42L, "another unrelated story with entirely distinct vocabulary whatsoever")
    ).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val ptr = tempDir("graft_ptr_idx") + "/idx"
    val ren = tempDir("graft_ren_idx") + "/idx"
    DedupOps.writeDedupIndex(hist, ptr, "doc_id", "text", commit = Merge.PointerCommit)
    DedupOps.writeDedupIndex(hist, ren, "doc_id", "text")
    assert(new java.io.File(ptr, "_current").exists(), "manifest published")
    // every reader resolves through the manifest: decisions ≡ rename twin
    val p1 = ids(DedupOps.dedupAgainstIndex(day1, ptr, "doc_id", "text", threshold = 0.4))
    assert(p1 == ids(DedupOps.dedupAgainstIndex(day1, ren, "doc_id", "text", threshold = 0.4)))
    // appends land inside the CURRENT generation (in-place tranche adds)
    val s1 = DedupOps.dedupAgainstIndex(day1, ptr, "doc_id", "text", threshold = 0.4)
    DedupOps.appendToDedupIndex(s1, ptr, "doc_id", "text", tag = "day1")
    DedupOps.appendToDedupIndex(s1, ren, "doc_id", "text", tag = "day1")
    val gen1 = Merge.resolveDir(spark, ptr)
    assert(gen1 != ptr && new java.io.File(s"$gen1/sh/batch=day1").exists(),
      s"tranche inside the resolved generation: $gen1")
    val p2 = ids(DedupOps.dedupAgainstIndex(day2, ptr, "doc_id", "text", threshold = 0.4))
    assert(p2 == ids(DedupOps.dedupAgainstIndex(day2, ren, "doc_id", "text", threshold = 0.4)))
    // crash-injection (the RelationalMergeSpec replay): a rebuild dying
    // mid-write never moves the manifest — probes keep the live index
    val manifestBefore = java.nio.file.Files.readString(
      java.nio.file.Paths.get(ptr, "_current"))
    val poisoned = hist.select(col("doc_id"),
      org.apache.spark.sql.functions.raise_error(lit("writer killed"))
        .cast("string").as("text"))
    intercept[Exception] {
      DedupOps.writeDedupIndex(poisoned, ptr, "doc_id", "text",
        commit = Merge.PointerCommit)
    }
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(ptr, "_current")) == manifestBefore)
    assert(ids(DedupOps.dedupAgainstIndex(day2, ptr, "doc_id", "text",
      threshold = 0.4)) == p2)
    // consolidation publishes ONE new fully-folded generation
    DedupOps.consolidateDedupIndex(spark, ptr, Merge.PointerCommit)
    val gen2 = Merge.resolveDir(spark, ptr)
    assert(gen2 != gen1, "consolidation published a fresh generation")
    assert(new java.io.File(s"$gen2/sh").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSeq == Seq("batch=consolidated"))
    assert(new java.io.File(s"$gen2/_graft_meta").exists(), "meta carried")
    assert(new java.io.File(s"$gen2/_graft_absorbed").exists(), "ledger written")
    // df/bf regenerated INSIDE the same generation (no stale-count window)
    assert(new java.io.File(s"$gen2/df/batch=consolidated").exists())
    assert(new java.io.File(s"$gen2/bf/batch=consolidated").exists())
    // superseded generation graced one commit (readers mid-scan survive)
    assert(new java.io.File(gen1).exists(), "gen1 graced through this commit")
    // answers unchanged; gauges resolve; replayed absorbed append no-ops
    assert(ids(DedupOps.dedupAgainstIndex(day2, ptr, "doc_id", "text",
      threshold = 0.4)) == p2)
    assert(DedupOps.dedupIndexStats(spark, ptr).count() > 0)
    assert(DedupOps.dedupIndexHealth(spark, ptr).count() > 0)
    DedupOps.appendToDedupIndex(s1, ptr, "doc_id", "text", tag = "day1") // absorbed → no-op
    assert(ids(DedupOps.dedupAgainstIndex(day2, ptr, "doc_id", "text",
      threshold = 0.4)) == p2)
    // mode guard: pointer consolidation refuses a rename-mode index
    val e = intercept[IllegalArgumentException] {
      DedupOps.consolidateDedupIndex(spark, ren, Merge.PointerCommit)
    }
    assert(e.getMessage.contains("not pointer-committed"))
  }

  test("winnow + IVF indexes under PointerCommit: probe ≡ rename-mode, generation fold") {
    import graft.merge.Merge
    // winnow
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "pack my box with five dozen liquor jugs for the long trip"),
      (3L, "the quick brown fox jumps over the lazy dog again and again plus extra")
    ).toDF("doc_id", "text")
    val wptr = tempDir("graft_ptr_w") + "/w"
    val wren = tempDir("graft_ren_w") + "/w"
    TextOps.writeWinnowIndex(docs, wptr, "doc_id", "text", commit = Merge.PointerCommit)
    TextOps.writeWinnowIndex(docs, wren, "doc_id", "text")
    assert(new java.io.File(wptr, "_current").exists())
    val probe = Seq((9L, "the quick brown fox jumps over the lazy dog again and again yes"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_l", "id_r", "n_shared").as[(Long, Long, Long)].collect().toSet
    val wp = pairs(TextOps.winnowOverlapAgainstIndex(probe, wptr, "doc_id", "text"))
    assert(wp == pairs(TextOps.winnowOverlapAgainstIndex(probe, wren, "doc_id", "text")))
    TextOps.appendToWinnowIndex(probe, wptr, "doc_id", "text", tag = "t1")
    TextOps.consolidateWinnowIndex(spark, wptr, Merge.PointerCommit)
    val wgen = Merge.resolveDir(spark, wptr)
    assert(new java.io.File(s"$wgen/wfp").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSeq == Seq("batch=consolidated"))
    assert(new java.io.File(s"$wgen/wdf/batch=consolidated").exists(),
      "wdf regenerated inside the generation")
    assert(TextOps.winnowIndexStats(spark, wptr).count() > 0)
    // ivf
    val vecs = (1L to 40L).map(i =>
      (i, Array.tabulate(4)(d => math.sin(i * 0.7 + d).toFloat))).toDF("id", "vec")
    val qs = (101L to 104L).map(i =>
      (i, Array.tabulate(4)(d => math.cos(i * 0.3 + d).toFloat))).toDF("id", "vec")
    val iptr = tempDir("graft_ptr_ivf") + "/ivf"
    val iren = tempDir("graft_ren_ivf") + "/ivf"
    val cents = SimilarityOps.ivfWriteIndex(vecs, iptr, "id", "vec", nLists = 4,
      commit = Merge.PointerCommit)
    SimilarityOps.ivfWriteIndex(vecs, iren, "id", "vec", nLists = 4,
      precomputed = Some(cents))
    assert(new java.io.File(iptr, "_current").exists())
    def top(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ip = top(SimilarityOps.ivfProbeTopK(spark, iptr, qs, "id", "vec", k = 3, nProbe = 2))
    assert(ip == top(SimilarityOps.ivfProbeTopK(spark, iren, qs, "id", "vec", k = 3, nProbe = 2)))
    SimilarityOps.ivfAppendToIndex(
      Seq((200L, Array(0.1f, 0.2f, 0.3f, 0.4f))).toDF("id", "vec"),
      iptr, "id", "vec", tag = "t1")
    SimilarityOps.consolidateIvfIndex(spark, iptr, Merge.PointerCommit)
    val igen = Merge.resolveDir(spark, iptr)
    // ivf_list survives the generation fold as a PARTITION column
    assert(new java.io.File(s"$igen/vec/batch=consolidated").listFiles()
      .exists(_.getName.startsWith("ivf_list=")), "partition layout preserved")
    assert(SimilarityOps.ivfIndexStats(spark, iptr).count() > 0)
  }

  test("consolidation never absorbs a half-appended tranche: the documented same-tag retry still lands") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val batch = Seq((2L, "some wholly new text about data pipelines at scale")).toDF("doc_id", "text")
    val idx = tempDir("graft_half_idx")
    DedupOps.writeDedupIndex(docs, idx, "doc_id", "text")
    DedupOps.appendToDedupIndex(batch, idx, "doc_id", "text", tag = "day1")
    // simulate the append crash window: sh landed, sig and fp did not
    // (fp is written LAST — it is the commit witness)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/fp/batch=day1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/sig/batch=day1"), true)
    DedupOps.consolidateDedupIndex(spark, idx)
    // the half-committed tranche is NOT in the ledger and NOT in the
    // consolidated rewrite, but its dir is PRESERVED — consolidation
    // cannot distinguish a crash remnant from a complete tranche whose
    // _SUCCESS marker was stripped, and deleting the latter would be
    // silent data loss; the same-tag retry overwrites the remnant
    assert(graft.util.Tranches.readAbsorbedTags(spark, idx).isEmpty)
    assert(spark.read.parquet(s"$idx/sh/batch=consolidated")
      .where(col("doc_id") === 2L).count() == 0)
    assert(new java.io.File(s"$idx/sh/batch=day1").exists())
    // the documented recovery — re-run the append with the same tag —
    // still lands every artifact
    DedupOps.appendToDedupIndex(batch, idx, "doc_id", "text", tag = "day1")
    assert(spark.read.parquet(s"$idx/sh").where(col("doc_id") === 2L).count() > 0)
    assert(new java.io.File(s"$idx/fp/batch=day1").exists())
    assert(new java.io.File(s"$idx/sig/batch=day1").exists())
    // the fold counted only committed rows into df/bf, so the retry's
    // own count tranches leave every count equal to the rows at rest
    assert(spark.read.parquet(s"$idx/df").agg(sum("df")).as[Long].head() ==
      spark.read.parquet(s"$idx/sh").count())
    assert(spark.read.parquet(s"$idx/bf").agg(sum("n")).as[Long].head() ==
      8 * spark.read.parquet(s"$idx/sig").count())
    // and the doc is now actually deduppable
    assert(DedupOps.dedupAgainstIndex(batch, idx, "doc_id", "text").count() == 0)
  }

  test("dedupIndexStats: the gauge surfaces double-append inflation and its consolidation repair") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different document about spark engines")).toDF("doc_id", "text")
    val batch = Seq((3L, "some wholly new text about data pipelines at scale")).toDF("doc_id", "text")
    val idx = tempDir("graft_stats_idx")
    DedupOps.writeDedupIndex(docs, idx, "doc_id", "text")
    DedupOps.appendToDedupIndex(batch, idx, "doc_id", "text", tag = "day1")
    def stats = DedupOps.dedupIndexStats(spark, idx)
      .as[(String, Long, Option[Long], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val healthy = stats
    assert(healthy("sh")._3 == 2 && healthy("fp")._2.isEmpty && healthy("sig")._2.isDefined)
    // simulate the replay incident: ledger lost, absorbed epoch re-appended
    DedupOps.consolidateDedupIndex(spark, idx)
    val consolidated = stats
    assert(consolidated("sh")._1 == healthy("sh")._1) // same rows, one tranche
    assert(consolidated("sh")._3 == 1)
    new java.io.File(s"$idx/_graft_absorbed").delete()
    DedupOps.appendToDedupIndex(batch, idx, "doc_id", "text", tag = "day1")
    assert(stats("sh")._1 > healthy("sh")._1) // the double-append symptom, visible
    DedupOps.consolidateDedupIndex(spark, idx)
    assert(stats("sh")._1 == healthy("sh")._1) // distinct() repaired it, gauge confirms
    // a typo'd path fails fast instead of reading as an empty-healthy gauge
    val e = intercept[IllegalArgumentException] {
      DedupOps.dedupIndexStats(spark, idx + "_nope")
    }
    assert(e.getMessage.contains("not a dedup index"))
  }

  test("dedupAgainstIndexApprox: fixpoint at default cap; combined hot-bucket cap silences cliché bands") {
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (30L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 1
      (31L, "totally fresh content about distributed query engines today")
    ).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val idx = tempDir("graft_apx_fix")
    DedupOps.writeDedupIndex(hist, idx, "doc_id", "text")
    val s1 = ids(DedupOps.dedupAgainstIndexApprox(batch, idx, "doc_id", "text",
      threshold = 0.4))
    assert(s1 == Seq(31L)) // 30 flagged via banded signatures
    // fixpoint: re-probing the survivors against the unchanged index
    // keeps them (default cap — no pruning in play, so decisions are a
    // pure function of (doc, index))
    val s2 = ids(DedupOps.dedupAgainstIndexApprox(
      batch.where(col("doc_id") === 31L), idx, "doc_id", "text", threshold = 0.4))
    assert(s2 == s1)
    // maxBucket = 1: EVERY (band, key) bucket with a candidate pair has
    // ≥ 2 members and is pruned — the near-dup tier finds nothing and
    // 30 survives (the cap's job is cliché bands; at 1 everything is
    // cliché, the degenerate bound)
    assert(ids(DedupOps.dedupAgainstIndexApprox(batch, idx, "doc_id", "text",
      threshold = 0.4, maxBucket = 1)) == Seq(30L, 31L))
  }

  test("index meta: mismatched params fail fast; absorbed tags make replayed appends a no-op; distinct() self-heals") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different document about spark engines")
    ).toDF("doc_id", "text")
    val idx = tempDir("graft_meta_idx")
    DedupOps.writeDedupIndex(docs, idx, "doc_id", "text", shingleN = 3)
    val batch = Seq((3L, "some wholly new text about data pipelines at scale")).toDF("doc_id", "text")
    // param mismatch = structural corruption; both mutation and probe refuse
    val e1 = intercept[IllegalArgumentException] {
      DedupOps.appendToDedupIndex(batch, idx, "doc_id", "text", tag = "t", shingleN = 4)
    }
    assert(e1.getMessage.contains("shingleN"))
    val e2 = intercept[IllegalArgumentException] {
      DedupOps.dedupAgainstIndex(batch, idx, "doc_id", "text", portable = true).count()
    }
    assert(e2.getMessage.contains("portable"))
    // append day1, consolidate (absorbs it), then REPLAY the append:
    // must be a no-op — no batch=day1 tranche reappears, no row growth
    DedupOps.appendToDedupIndex(batch, idx, "doc_id", "text", tag = "day1")
    DedupOps.consolidateDedupIndex(spark, idx)
    assert(graft.util.Tranches.readAbsorbedTags(spark, idx) == Set("day1"))
    val rowsAfterConsolidate = spark.read.parquet(s"$idx/sh").count()
    DedupOps.appendToDedupIndex(batch, idx, "doc_id", "text", tag = "day1")
    assert(!new java.io.File(s"$idx/sh/batch=day1").exists())
    assert(spark.read.parquet(s"$idx/sh").count() == rowsAfterConsolidate)
    // NEW data aliased onto the absorbed tag (stream restarted with a
    // fresh checkpoint re-numbering epochs): a silent no-op would drop
    // it from the index forever — the append fails fast instead
    val aliased = Seq((9L, "entirely novel content that the index has never seen"))
      .toDF("doc_id", "text")
    val e3 = intercept[IllegalStateException] {
      DedupOps.appendToDedupIndex(aliased, idx, "doc_id", "text", tag = "day1")
    }
    assert(e3.getMessage.contains("absorbed") && e3.getMessage.contains("NOT present"))
    assert(spark.read.parquet(s"$idx/sh").count() == rowsAfterConsolidate)
    // ledger lost (crash before it was written): the replayed append
    // double-counts — and the NEXT consolidation's distinct() heals it
    new java.io.File(s"$idx/_graft_absorbed").delete()
    DedupOps.appendToDedupIndex(batch, idx, "doc_id", "text", tag = "day1")
    assert(spark.read.parquet(s"$idx/sh").count() > rowsAfterConsolidate)
    DedupOps.consolidateDedupIndex(spark, idx)
    assert(spark.read.parquet(s"$idx/sh").count() == rowsAfterConsolidate)
  }

  test("writeDedupIndex rebuild over a live index is one whole-dir swap: all artifacts + meta, no stage orphans") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val base = tempDir("graft_swap_idx")
    val idx = s"$base/idx"
    DedupOps.writeDedupIndex(docs, idx, "doc_id", "text")
    DedupOps.appendToDedupIndex(
      Seq((2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text"),
      idx, "doc_id", "text", tag = "day1")
    // rebuild replaces everything — appended tranches, meta, ledger
    DedupOps.writeDedupIndex(docs, idx, "doc_id", "text", shingleN = 4)
    // dot-files are checksum/committer sidecars, not index structure
    val entries = new java.io.File(idx).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(entries == Set("sh", "fp", "sig", "df", "bf", "_graft_meta"))
    assert(DedupOps.readDedupIndexMeta(spark, idx).map(_.shingleN).contains(4))
    assert(new java.io.File(s"$idx/sh").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSeq == Seq("batch=build"))
    // no __stage_/__old_ swap debris next to the index
    assert(new java.io.File(base).listFiles().map(_.getName).toSeq == Seq("idx"))
  }

  test("dedupDecisions: exact/near/unique triage with near-miss scores, NULL where no candidate") {
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),   // exact dup
      (11L, "the quick brown fox jumps over the lazy dog tonight"), // near (J=7/9)
      (12L, "the quick brown fox sleeps all day long instead"),     // shares shingles, J < 0.5
      (13L, "completely unrelated words with no common phrases")    // no candidate
    ).toDF("doc_id", "text")
    val idx = tempDir("graft_report_idx")
    DedupOps.writeDedupIndex(hist, idx, "doc_id", "text")
    val got = DedupOps.dedupDecisions(batch, idx, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(got(10L)._1 == "exact" && got(10L)._2.isEmpty)
    assert(got(11L)._1 == "near" && got(11L)._2.exists(_ >= 0.5))
    assert(got(12L)._1 == "unique" && got(12L)._2.exists(j => j > 0 && j < 0.5))
    assert(got(13L)._1 == "unique" && got(13L)._2.isEmpty)
    // the report's non-unique rows are exactly what dedupAgainstIndex drops
    val dropped = batch.select("doc_id").as[Long].collect().toSet --
      DedupOps.dedupAgainstIndex(batch, idx, "doc_id", "text", threshold = 0.5)
        .select("doc_id").as[Long].collect().toSet
    assert(dropped == got.filter(_._2._1 != "unique").keySet)
  }

  test("dedupDecisionsApprox: sig-tier triage; non-unique rows ≡ dedupAgainstIndexApprox drop set") {
    // real corpus slice so banded signatures produce exact dups, near
    // dups, AND unique docs (hand fixtures rarely collide in 8 bands)
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val hist = docs.where(col("doc_id") < 300)
    // inject a verbatim re-delivery (exact tier) and a one-word edit of
    // a history doc (near tier) so every decision branch is exercised
    val h0 = hist.orderBy("doc_id").select("text").as[String].head()
    val batch = docs.where(col("doc_id") >= 300 && col("doc_id") < 450)
      .unionByName(Seq((9001L, h0), (9002L, h0 + " appended")).toDF("doc_id", "text"))
    val idx = tempDir("graft_report_mh_idx")
    DedupOps.writeDedupIndex(hist, idx, "doc_id", "text", portable = true,
      sigK = 16, sigBands = 8)
    val report = DedupOps.dedupDecisionsApprox(batch, idx, "doc_id", "text",
      threshold = 0.4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(report.size == batch.count())
    // every tier is actually exercised by the fixture
    assert(report.values.exists(_._1 == "exact"))
    assert(report.values.exists(_._1 == "near"))
    assert(report.values.exists(_._1 == "unique"))
    // exact dups never enter the near tier → no estimate; near rows
    // carry an estimate over threshold
    assert(report.values.filter(_._1 == "exact").forall(_._2.isEmpty))
    assert(report.values.filter(_._1 == "near").forall(_._2.exists(_ >= 0.4)))
    // the report explains the operator: non-unique rows are exactly
    // the sig-tier drop set
    val dropped = batch.select("doc_id").as[Long].collect().toSet --
      DedupOps.dedupAgainstIndexApprox(batch, idx, "doc_id", "text", threshold = 0.4)
        .select("doc_id").as[Long].collect().toSet
    assert(dropped == report.filter(_._2._1 != "unique").keySet)
  }

  test("sampleToMixture: binding source keeps everything, others downsample, absent sources drop") {
    import graft.training.TrainingOps
    val df = (1L to 40L).map(i => (i, if (i <= 20) "a" else if (i <= 30) "b" else "c"))
      .toDF("doc_id", "source")
    // counts a=20 b=10 c=10; weights a:0.5 b:0.5 → T = min(40, 20) = 20;
    // rate_a = 0.5·20/20 = 0.5, rate_b = 0.5·20/10 = 1.0 (binding), c dropped
    val got = TrainingOps.sampleToMixture(df, "doc_id", "source",
      Map("a" -> 0.5, "b" -> 0.5), portable = true)
    val bySource = got.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(!bySource.contains("c"))
    assert(bySource("b") == 10L) // binding source: keeps all rows
    assert(bySource.getOrElse("a", 0L) > 0 && bySource("a") < 20L) // really downsampled
    // deterministic: the same call returns the identical survivor set
    val again = TrainingOps.sampleToMixture(df, "doc_id", "source",
      Map("a" -> 0.5, "b" -> 0.5), portable = true)
    assert(got.select("doc_id").as[Long].collect().sorted.toSeq ==
      again.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("histogram: fixed-range equi-width bins, edge clamping, nulls dropped") {
    val df = Seq(Some(-5.0), Some(0.0), Some(3.9), Some(4.0), Some(7.5),
      Some(12.0), Some(99.0), Some(1.0e18), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), Some(Double.NaN), None).toDF("x")
    val got = graft.profile.ProfileOps.histogram(df, "x", bins = 3, lo = 0.0, hi = 12.0)
      .as[(Int, Double, Double, Long)].collect().toSet
    // width 4: bin0 [0,4) gets {-5 clamped, 0, 3.9, -Inf clamped}; bin1
    // [4,8) gets {4, 7.5}; bin2 [8,12) gets {12 clamped, 99 clamped,
    // 1e18 clamped, +Inf clamped}; null AND NaN dropped (a NaN's
    // non-ANSI int cast is 0 — it must not inflate bin 0). The 1e18 and
    // +Inf rows land in the TOP bin: bin index is clamped on floor()'s
    // Long before the narrowing int cast, so a past-2^31 index cannot
    // wrap negative and fall into bin 0.
    assert(got == Set((0, 0.0, 4.0, 4L), (1, 4.0, 8.0, 2L), (2, 8.0, 12.0, 4L)))
  }

  test("semanticDedupAgainstIndex: full-probe ≡ brute-force filter; re-delivered id drops; survivors append") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val hist = emb.where(col("vec_id") < 200)
    val batch = emb.where(col("vec_id") >= 200 && col("vec_id") < 260)
    val idx = tempDir("graft_sem_idx") + "/ivf"
    val cents = SimilarityOps.ivfCentroids(hist, "embedding", nLists = 8)
    SimilarityOps.ivfWriteIndex(hist, idx, "vec_id", "embedding",
      nLists = 8, precomputed = Some(cents))
    // the quantizer is frozen into the artifact bit-exactly: what every
    // probe/append reads back IS the family the build used
    val meta = SimilarityOps.openIvfIndex(spark, idx)
    assert(meta.nLists == 8 &&
      meta.centroids.map { case (i, v) => (i, v.toSeq) }.toSeq ==
        cents.map { case (i, v) => (i, v.toSeq) }.toSeq)
    val got = SimilarityOps.semanticDedupAgainstIndex(spark, idx, batch,
      "vec_id", "embedding", threshold = 0.3, nProbe = 8)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // brute-force reference: batch ids with NO history cosine ≥ 0.3
    val dup = batch.as("b").join(hist.as("h"),
      round(SimilarityOps.dotF(col("b.embedding"), col("h.embedding")) /
        (SimilarityOps.l2NormF(col("b.embedding")) *
          SimilarityOps.l2NormF(col("h.embedding"))), 6) >= 0.3)
      .select(col("b.vec_id")).distinct()
    val want = batch.join(dup, Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(got == want && got.nonEmpty && got.size < batch.count())
    // partition pruning must hold WITHOUT a broadcast hint (the batch
    // side must never be force-broadcast — it is a day's ingest): the
    // probed-list set is collected and pushed as a STATIC partition
    // filter, so the index scan prunes under any join strategy
    val narrowPlan = SimilarityOps.semanticDedupAgainstIndex(spark, idx, batch,
      "vec_id", "embedding", threshold = 0.3, nProbe = 2)
      .queryExecution.executedPlan.toString()
    assert(narrowPlan.matches("(?s).*PartitionFilters: \\[[^\\]]*ivf_list[^\\]]*\\].*"),
      s"expected a static ivf_list partition filter in:\n${narrowPlan.take(2000)}")
    // a re-delivered id (already indexed) matches itself at cosine 1 → drops
    SimilarityOps.ivfAppendToIndex(
      batch.join(got.toDF("vec_id"), Seq("vec_id"), "left_semi").localCheckpoint(true),
      idx, "vec_id", "embedding", tag = "day1")
    val redelivered = SimilarityOps.semanticDedupAgainstIndex(spark, idx,
      batch.join(got.toDF("vec_id"), Seq("vec_id"), "left_semi"),
      "vec_id", "embedding", threshold = 0.3, nProbe = 8)
    assert(redelivered.count() == 0)
    // probing a dir with no frozen quantizer fails fast — a caller-
    // supplied centroid family could silently probe the wrong
    // partitions, so meta-less (pre-contract) indexes must rebuild
    val bare = tempDir("graft_ivf_bare")
    emb.limit(5).select(col("vec_id").as("corpus_id"),
      col("embedding").as("__cv"), lit(0).as("ivf_list"))
      .write.partitionBy("ivf_list").parquet(s"$bare/vec/batch=build")
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.semanticDedupAgainstIndex(spark, bare, batch,
        "vec_id", "embedding", threshold = 0.3, nProbe = 8)
    }
    assert(e.getMessage.contains("_graft_meta"))
  }

  test("IVF index lifecycle: tagged append idempotent, double delivery converges, consolidation answer-preserving") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val hist = emb.where(col("vec_id") < 150)
    val day1 = emb.where(col("vec_id") >= 150 && col("vec_id") < 200)
    val idx = tempDir("graft_ivf_life") + "/ivf"
    SimilarityOps.ivfWriteIndex(hist, idx, "vec_id", "embedding", nLists = 8)
    def probe() = SimilarityOps.ivfProbeTopK(spark, idx,
      emb.where(col("vec_id") >= 900), "vec_id", "embedding", k = 3, nProbe = 8)
      .select("query_id", "corpus_id", "cos").collect().map(_.toString).sorted.toSeq
    SimilarityOps.ivfAppendToIndex(day1, idx, "vec_id", "embedding", tag = "day1")
    val afterAppend = probe()
    val rows = spark.read.parquet(s"$idx/vec").count()
    // double delivery (crash retry with the SAME tag) overwrites its
    // own tranche — no vector is ever double-counted
    SimilarityOps.ivfAppendToIndex(day1, idx, "vec_id", "embedding", tag = "day1")
    assert(spark.read.parquet(s"$idx/vec").count() == rows)
    assert(probe() == afterAppend)
    // reserved lifecycle tags are rejected outright
    intercept[IllegalArgumentException] {
      SimilarityOps.ivfAppendToIndex(day1, idx, "vec_id", "embedding", tag = "build")
    }
    // consolidation collapses tranches into one, preserves answers AND
    // the ivf_list partition layout (pruning must survive the rewrite)
    SimilarityOps.consolidateIvfIndex(spark, idx)
    assert(new java.io.File(s"$idx/vec").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSeq == Seq("batch=consolidated"))
    assert(new java.io.File(s"$idx/vec/batch=consolidated").listFiles()
      .exists(_.getName.startsWith("ivf_list=")))
    assert(spark.read.parquet(s"$idx/vec").count() == rows)
    assert(probe() == afterAppend)
    // a replayed absorbed append is a provable replay → no-op
    SimilarityOps.ivfAppendToIndex(day1, idx, "vec_id", "embedding", tag = "day1")
    assert(!new java.io.File(s"$idx/vec/batch=day1").exists())
    assert(probe() == afterAppend)
    // NEW vectors aliased onto the absorbed tag would be silently
    // dropped forever — fail fast instead
    val eAlias = intercept[IllegalStateException] {
      SimilarityOps.ivfAppendToIndex(
        emb.where(col("vec_id") >= 200 && col("vec_id") < 210),
        idx, "vec_id", "embedding", tag = "day1")
    }
    assert(eAlias.getMessage.contains("absorbed"))
  }

  test("dedup index df artifact: tracks sh through build/append/consolidate; df path ≡ legacy path") {
    val corpus = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val idx = tempDir("graft_df_idx") + "/idx"
    DedupOps.writeDedupIndex(corpus.where(col("doc_id") < 300), idx,
      "doc_id", "text", portable = true)
    // invariant the prune trusts: sum of df tranches per shingle ==
    // occurrence count over the sh artifact, at every lifecycle step
    def dfAgg() = spark.read.parquet(s"$idx/df").drop("batch")
      .groupBy("sh").agg(sum("df").as("n"))
    def shAgg() = spark.read.parquet(s"$idx/sh").drop("batch")
      .groupBy("sh").agg(count(lit(1)).as("n"))
    def assertTracks(): Unit =
      assert(dfAgg().unionByName(shAgg()).groupBy("sh", "n").agg(count(lit(1)).as("c"))
        .where(col("c") =!= 2).isEmpty)
    assertTracks()
    val day1 = DedupOps.dedupAgainstIndex(
      corpus.where(col("doc_id") >= 300 && col("doc_id") < 400), idx,
      "doc_id", "text", threshold = 0.5, portable = true)
    DedupOps.appendToDedupIndex(day1, idx, "doc_id", "text", tag = "d1",
      portable = true)
    assertTracks()
    // tiny maxBucket so the hot-shingle prune actually bites: the
    // df-driven result must equal the legacy union-window result
    val batch = corpus.where(col("doc_id") >= 400 && col("doc_id") < 500)
    def run() = DedupOps.dedupAgainstIndex(batch, idx, "doc_id", "text",
      threshold = 0.3, maxBucket = 10, portable = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    def runReport() = DedupOps.dedupDecisions(batch, idx, "doc_id", "text",
      threshold = 0.3, maxBucket = 10, portable = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    val viaDf = run(); val reportViaDf = runReport()
    val hadoopFs = new org.apache.hadoop.fs.Path(s"$idx/df")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hadoopFs.delete(new org.apache.hadoop.fs.Path(s"$idx/df"), true)
    assert(run() == viaDf)
    assert(runReport() == reportViaDf)
    // a pre-df (legacy) index gets the artifact retrofitted by
    // consolidation — and the regenerated df still tracks sh
    DedupOps.consolidateDedupIndex(spark, idx)
    assertTracks()
    assert(spark.read.parquet(s"$idx/df").columns.contains("batch"))
    assert(run() == viaDf)
  }

  test("bf/wdf count artifacts: approx tier + winnow probe ≡ their legacy window paths; counts track") {
    val corpus = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    // --- dedup index bf: the sig tier's hot-bucket prune input ---
    val idx = tempDir("graft_bf_idx") + "/idx"
    DedupOps.writeDedupIndex(corpus.where(col("doc_id") < 300), idx,
      "doc_id", "text", portable = true)
    // bf tranche sums == banded counts over the sig artifact
    val bfAgg = spark.read.parquet(s"$idx/bf").drop("batch")
      .groupBy("band", "key").agg(sum("n").as("n"))
    val bandedSig = spark.read.parquet(s"$idx/sig").drop("batch")
      .select(posexplode(DedupOps.bandKeys(col("sig"), 8, 2)).as(Seq("band", "key")))
      .groupBy("band", "key").agg(count(lit(1)).as("n"))
    assert(bfAgg.unionByName(bandedSig).groupBy("band", "key", "n")
      .agg(count(lit(1)).as("c")).where(col("c") =!= 2).isEmpty)
    // tiny maxBucket so the prune bites; results must match the
    // window path bit-for-bit, for the operator AND its report
    val batch = corpus.where(col("doc_id") >= 300 && col("doc_id") < 450)
    def runApprox() = DedupOps.dedupAgainstIndexApprox(batch, idx, "doc_id", "text",
      threshold = 0.3, maxBucket = 5).select("doc_id").as[Long].collect().sorted.toSeq
    def runReport() = DedupOps.dedupDecisionsApprox(batch, idx, "doc_id", "text",
      threshold = 0.3, maxBucket = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    val viaBf = runApprox(); val reportViaBf = runReport()
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/bf"), true)
    assert(runApprox() == viaBf)
    assert(runReport() == reportViaBf)
    // consolidation retrofits bf onto the pre-bf index
    DedupOps.consolidateDedupIndex(spark, idx)
    assert(graft.util.Fs.pathExists(spark, s"$idx/bf"))
    assert(runApprox() == viaBf)
    // --- winnow index wdf: the overlap probe's hot-hash prune input ---
    val widx = tempDir("graft_wdf_idx") + "/w"
    TextOps.writeWinnowIndex(corpus.where(col("doc_id") < 300), widx,
      "doc_id", "text", k = 8, w = 4, portable = true)
    def runOverlap() = TextOps.winnowOverlapAgainstIndex(batch, widx,
      "doc_id", "text", minShared = 2, maxBucket = 20)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val viaWdf = runOverlap()
    assert(viaWdf.nonEmpty) // the comparison must compare something
    fs.delete(new org.apache.hadoop.fs.Path(s"$widx/wdf"), true)
    assert(runOverlap() == viaWdf)
    TextOps.consolidateWinnowIndex(spark, widx)
    assert(graft.util.Fs.pathExists(spark, s"$widx/wdf"))
    assert(runOverlap() == viaWdf)
  }

  test("stale count artifacts are ignored: tag-set freshness routes probes to the window path") {
    val corpus = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val idx = tempDir("graft_stale_idx") + "/idx"
    val hist = corpus.where(col("doc_id") < 300)
    DedupOps.writeDedupIndex(hist, idx, "doc_id", "text", portable = true)
    // plant a near-dup so the healthy runs demonstrably DROP something —
    // a poisoned-but-consulted count artifact (every count 10^9 ⇒ every
    // shingle/bucket hot ⇒ no candidates) would visibly un-drop it
    val h0 = hist.orderBy("doc_id").select("text").as[String].head()
    val batch = corpus.where(col("doc_id") >= 300 && col("doc_id") < 450)
      .unionByName(Seq((9002L, h0 + " appended")).toDF("doc_id", "text"))
    def run() = DedupOps.dedupAgainstIndex(batch, idx, "doc_id", "text",
      threshold = 0.3, maxBucket = 10, portable = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    def runA() = DedupOps.dedupAgainstIndexApprox(batch, idx, "doc_id", "text",
      threshold = 0.3, maxBucket = 5).select("doc_id").as[Long].collect().sorted.toSeq
    val healthy = run(); val healthyA = runA()
    assert(healthy.size < batch.count() && healthyA.size < batch.count())
    // a count tranche under a tag the ROW artifact lacks = the stale
    // state a crash between row swap and count regeneration leaves
    spark.read.parquet(s"$idx/df").drop("batch").withColumn("df", lit(1000000000L))
      .write.parquet(s"$idx/df/batch=stale")
    spark.read.parquet(s"$idx/bf").drop("batch").withColumn("n", lit(1000000000L))
      .write.parquet(s"$idx/bf/batch=stale")
    assert(run() == healthy)
    assert(runA() == healthyA)
    // consolidation regenerates the artifacts; freshness is restored
    // and the count-driven paths re-engage with the same answers
    DedupOps.consolidateDedupIndex(spark, idx)
    assert(spark.read.parquet(s"$idx/df").where(col("df") >= 1000000000L).isEmpty)
    assert(run() == healthy && runA() == healthyA)
    // winnow twin
    val widx = tempDir("graft_stale_w") + "/w"
    TextOps.writeWinnowIndex(hist, widx, "doc_id", "text", k = 8, w = 4, portable = true)
    def runW() = TextOps.winnowOverlapAgainstIndex(batch, widx, "doc_id", "text",
      minShared = 2, maxBucket = 20).as[(Long, Long, Long)].collect().sorted.toSeq
    val healthyW = runW()
    assert(healthyW.nonEmpty)
    spark.read.parquet(s"$widx/wdf").drop("batch").withColumn("n", lit(1000000000L))
      .write.parquet(s"$widx/wdf/batch=stale")
    assert(runW() == healthyW)
    TextOps.consolidateWinnowIndex(spark, widx)
    assert(runW() == healthyW)
  }

  test("unmarked tranche (mid-commit crash): consolidation excludes it and the same-tag retry converges") {
    import graft.merge.Merge
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val day = emb.where(col("vec_id") >= 200 && col("vec_id") < 250)
    for (commit <- Seq(Merge.RenameCommit, Merge.PointerCommit)) {
      val vidx = tempDir("graft_partial_ivf") + "/ivf"
      SimilarityOps.ivfWriteIndex(emb.where(col("vec_id") < 200), vidx,
        "vec_id", "embedding", nLists = 8, commit = commit)
      SimilarityOps.ivfAppendToIndex(day, vidx, "vec_id", "embedding", tag = "d7")
      // simulate the job-commit crash: tranche dir visible, marker absent
      // (a pointer-committed index holds its tranches in the current
      // generation)
      val fs = new org.apache.hadoop.fs.Path(vidx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"${Merge.resolveDir(spark, vidx)}/vec/batch=d7/_SUCCESS"), false), commit)
      SimilarityOps.consolidateIvfIndex(spark, vidx, commit)
      def total() = SimilarityOps.ivfIndexStats(spark, vidx)
        .agg(sum("n_rows")).as[Long].head()
      def tranches() = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"${Merge.resolveDir(spark, vidx)}/vec"))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted.toSeq
      // the unproven tranche is OUT of the consolidated rewrite and OUT
      // of the ledger, but its dir (and rows) are PRESERVED — an
      // unmarked-but-complete tranche (marker stripped) must not lose
      // data, and a genuinely partial one is about to be overwritten
      assert(tranches() == Seq("batch=consolidated", "batch=d7"), commit)
      assert(total() == 250L, commit)
      // ...so the documented same-tag crash retry CONVERGES in place
      // instead of failing fast on "new data aliased onto an absorbed
      // tag", and the NEXT consolidation (marker restored) absorbs it
      SimilarityOps.ivfAppendToIndex(day, vidx, "vec_id", "embedding", tag = "d7")
      assert(total() == 250L, commit)
      SimilarityOps.consolidateIvfIndex(spark, vidx, commit)
      assert(tranches() == Seq("batch=consolidated"), commit)
      assert(total() == 250L, commit)
    }
  }

  test("cross-family probes fail fast naming the family mismatch, not a bare key error") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val q = emb.where(col("vec_id") < 5)
    val lshDir = tempDir("graft_fam_lsh") + "/l"
    SimilarityOps.lshWriteIndex(emb.where(col("vec_id") < 100), lshDir,
      "vec_id", "embedding", nbits = 4)
    val eIvf = intercept[IllegalArgumentException] {
      SimilarityOps.ivfProbeTopK(spark, lshDir, q, "vec_id", "embedding", k = 3, nProbe = 2)
    }
    assert(eIvf.getMessage.contains("DIFFERENT index family"))
    val ivfDir = tempDir("graft_fam_ivf") + "/v"
    SimilarityOps.ivfWriteIndex(emb.where(col("vec_id") < 100), ivfDir,
      "vec_id", "embedding", nLists = 4)
    val eLsh = intercept[IllegalArgumentException] {
      SimilarityOps.lshProbeTopK(spark, ivfDir, q, "vec_id", "embedding", k = 3)
    }
    assert(eLsh.getMessage.contains("DIFFERENT index family"))
    val ePq = intercept[IllegalArgumentException] {
      SimilarityOps.ivfPqProbeTopK(spark, ivfDir, emb, q, "vec_id", "vec_id",
        "embedding", k = 3, nProbe = 2, shortlist = 10)
    }
    assert(ePq.getMessage.contains("DIFFERENT index family"))
    // the text families read the same header the same way: a dedup
    // probe on a winnow dir, a winnow probe on a dedup dir and a BM25
    // probe on an LSH dir name the mismatch too
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely new document about training corpora for language models"))
      .toDF("doc_id", "text")
    val winnowDir = tempDir("graft_fam_winnow") + "/w"
    TextOps.writeWinnowIndex(docs, winnowDir, "doc_id", "text")
    val dedupDir = tempDir("graft_fam_dedup") + "/d"
    DedupOps.writeDedupIndex(docs, dedupDir, "doc_id", "text")
    val textProbes: Seq[(String, () => Any)] = Seq(
      "dedupAgainstIndexApprox on winnow" -> (() =>
        DedupOps.dedupAgainstIndexApprox(docs, winnowDir, "doc_id", "text")),
      "winnowOverlapAgainstIndex on dedup" -> (() =>
        TextOps.winnowOverlapAgainstIndex(docs, dedupDir, "doc_id", "text")),
      "bm25ProbeIndex on LSH" -> (() =>
        graft.text.RetrievalOps.bm25ProbeIndex(spark, lshDir,
          Seq(("q1", "fox")).toDF("query_id", "term"), k = 3)))
    textProbes.foreach { case (name, probe) =>
      val e = intercept[IllegalArgumentException](probe())
      assert(e.getMessage.contains("DIFFERENT index family"), s"$name: ${e.getMessage}")
    }
  }

  test("recallAtK: exact-vs-itself is 1.0; misses and extras counted against the exact set only") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (2L, 21L)).toDF("query_id", "corpus_id")
    // q1: approx found 2 of 4 (plus an extra the exact set lacks —
    // extras must not inflate recall); q2: found both
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L),
      (2L, 20L), (2L, 21L)).toDF("query_id", "corpus_id")
    val got = SimilarityOps.recallAtK(approx, exact)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 0.5, 2L -> 1.0))
    assert(SimilarityOps.recallAtK(exact, exact)
      .as[(Long, Double)].collect().forall(_._2 == 1.0))
    // duplicated pairs (a multi-probe candidate frame instead of a
    // deduped top-k) must not fan out the join: same recall either way
    assert(SimilarityOps.recallAtK(approx.union(approx), exact.union(exact))
      .as[(Long, Double)].collect().toMap == Map(1L -> 0.5, 2L -> 1.0))
    // the real gauge: a full-probe IVF config is exact by construction
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val q = emb.where(col("vec_id") < 10)
    val brute = SimilarityOps.bruteForceTopK(q, emb, "vec_id", "vec_id", "embedding", k = 5)
    val full = SimilarityOps.ivfTopK(q, emb, "vec_id", "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 8)
    assert(SimilarityOps.recallAtK(full, brute)
      .as[(Long, Double)].collect().forall(_._2 == 1.0))
  }

  test("index health gauges: unproven tranches and count staleness become visible rows") {
    val corpus = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val idx = tempDir("graft_health_idx") + "/idx"
    DedupOps.writeDedupIndex(corpus.where(col("doc_id") < 200), idx,
      "doc_id", "text", portable = true)
    val day1 = corpus.where(col("doc_id") >= 200 && col("doc_id") < 250)
    DedupOps.appendToDedupIndex(day1, idx, "doc_id", "text", tag = "d1", portable = true)
    def health() = DedupOps.dedupIndexHealth(spark, idx)
      .as[(String, Int, Int, Int, Option[Boolean])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val ok = health()
    assert(ok.keySet == Set("sh", "fp", "sig", "df", "bf"))
    assert(ok.values.forall { case (t, m, u, _) => t == 2 && m == 2 && u == 0 })
    assert(ok("df")._4.contains(true) && ok("bf")._4.contains(true) && ok("sh")._4.isEmpty)
    // a rogue count tranche (tag the witness never committed) flips
    // fresh off AND reads unproven under the witness definition
    spark.read.parquet(s"$idx/df").drop("batch").limit(1)
      .write.parquet(s"$idx/df/batch=stale")
    val rogue = health()
    assert(rogue("df")._4.contains(false) && rogue("bf")._4.contains(true))
    assert(rogue("df")._3 == 1)
    // a stripped marker on a WITNESS-PROVEN tranche is not unproven
    // (consolidation will absorb it, same definition) — it shows as
    // n_marked < n_tranches only
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$idx/sh/batch=d1/_SUCCESS"), false))
    assert(health()("sh") == ((2, 1, 0, None)))
    // the PRINCIPAL crash state — append died before the fp witness —
    // flags every half-written artifact even though their own markers
    // are (mostly) intact
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$idx/fp/batch=d1"), true))
    val crashed = health()
    assert(crashed("fp")._3 == 0 && crashed("sh")._3 == 1 && crashed("sig")._3 == 1)
    assert(crashed("df")._3 == 2 && crashed("bf")._3 == 1)
    assert(crashed("df")._4.contains(false))
    // the documented recovery — same-tag re-append — proves d1 again
    DedupOps.appendToDedupIndex(day1, idx, "doc_id", "text", tag = "d1", portable = true)
    val retried = health()
    assert(retried("df")._3 == 1) // only the rogue stale tranche remains unproven
    assert(retried.forall { case (k, v) => k == "df" || v._3 == 0 })
    // consolidation heals everything the gauge flagged (df regenerated
    // from consolidated rows retires the rogue tranche too)
    DedupOps.consolidateDedupIndex(spark, idx)
    val healed = health()
    assert(healed("df")._4.contains(true) && healed("bf")._4.contains(true))
    assert(healed.values.forall(_._3 == 0))
    // winnow + vector twins
    val widx = tempDir("graft_health_w") + "/w"
    TextOps.writeWinnowIndex(corpus.where(col("doc_id") < 100), widx,
      "doc_id", "text", k = 8, w = 4, portable = true)
    val wh = graft.text.TextOps.winnowIndexHealth(spark, widx)
      .as[(String, Int, Int, Int, Option[Boolean])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(wh.keySet == Set("wfp", "wdf") && wh("wdf")._4.contains(true))
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val vidx = tempDir("graft_health_v") + "/v"
    SimilarityOps.ivfWriteIndex(emb.where(col("vec_id") < 100), vidx,
      "vec_id", "embedding", nLists = 4)
    SimilarityOps.ivfAppendToIndex(emb.where(col("vec_id") >= 100 && col("vec_id") < 120),
      vidx, "vec_id", "embedding", tag = "d1")
    val vh0 = SimilarityOps.ivfIndexHealth(spark, vidx)
      .as[(String, Int, Int, Int, Option[Boolean])].collect().toSeq
    assert(vh0 == Seq(("vec", 2, 2, 0, None)))
    // vec is its own witness: a stripped marker IS unproven here
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$vidx/vec/batch=d1/_SUCCESS"), false))
    assert(SimilarityOps.ivfIndexHealth(spark, vidx)
      .as[(String, Int, Int, Int, Option[Boolean])].collect().toSeq ==
      Seq(("vec", 2, 1, 1, None)))
  }

  test("index stats gauges: winnow + IVF counts match direct recomputation; consolidation visible") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val widx = tempDir("graft_wstats") + "/w"
    graft.text.TextOps.writeWinnowIndex(docs.where(col("doc_id") < 100), widx,
      "doc_id", "text", k = 8, w = 4, portable = true)
    graft.text.TextOps.appendToWinnowIndex(
      docs.where(col("doc_id") >= 100 && col("doc_id") < 150), widx,
      "doc_id", "text", tag = "d1")
    val ws = graft.text.TextOps.winnowIndexStats(spark, widx)
      .as[(String, Long, Option[Long], Int)].collect().toSeq
    val wfp = spark.read.parquet(s"$widx/wfp")
    val wdf = spark.read.parquet(s"$widx/wdf")
    assert(ws == Seq(
      ("wfp", wfp.count(), Some(wfp.select("doc_id").distinct().count()), 2),
      ("wdf", wdf.count(), None, 2)))
    // the count artifact's sums track the fingerprint rows exactly
    assert(wdf.agg(sum("n")).as[Long].head() == wfp.count())
    // gauge on a non-winnow dir fails fast instead of going dark
    intercept[IllegalArgumentException] {
      graft.text.TextOps.winnowIndexStats(spark,
        tempDir("graft_wstats_no"))
    }
    // IVF: per-list counts must sum to every indexed vector, and
    // consolidation collapses tranches without moving any count
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val vidx = tempDir("graft_ivfstats") + "/ivf"
    SimilarityOps.ivfWriteIndex(emb.where(col("vec_id") < 200), vidx,
      "vec_id", "embedding", nLists = 8)
    SimilarityOps.ivfAppendToIndex(
      emb.where(col("vec_id") >= 200 && col("vec_id") < 250), vidx,
      "vec_id", "embedding", tag = "d1")
    def stats() = SimilarityOps.ivfIndexStats(spark, vidx)
      .as[(Int, Long, Long, Int)].collect().toSeq.sortBy(_._1)
    val before = stats()
    assert(before.map(_._2).sum == 250L && before.map(_._3).sum == 250L)
    assert(before.forall { case (l, _, _, t) => l >= 0 && l < 8 && t == 2 })
    SimilarityOps.consolidateIvfIndex(spark, vidx)
    assert(stats() == before.map { case (l, r, i, _) => (l, r, i, 1) })
  }

  test("keepBestPerGroup keeps the highest-score member per cluster, min-id on ties") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),       // 6 words
      (2L, "alpha beta gamma delta epsilon zeta eta"),   // near-dup of 1 (J=0.8), 7 words → wins
      (3L, "something else entirely different here now"),// singleton
      (4L, "one two three four five six"),               // exact dup pair:
      (5L, "one two three four five six")                //   tie → min id 4 wins
    ).toDF("doc_id", "text")
    val got = DedupOps.keepBestPerGroup(corpus, "doc_id", "text",
      graft.text.TextOps.tokenCount(col("text")), threshold = 0.5)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 2L), (3L, 3L, 1L), (4L, 4L, 2L)))
    // FRACTIONAL scores in [0,1] must not be truncated to a constant
    // (an integral cast would silently collapse selection to min-id):
    // score doc 1 higher than its longer near-dup 2 → 1 wins
    val fractional = DedupOps.keepBestPerGroup(corpus, "doc_id", "text",
      when(col("doc_id") === 1L, 0.9).otherwise(0.2), threshold = 0.5)
      .as[(Long, Long, Long)].collect().toSet
    assert(fractional == Set((1L, 1L, 2L), (3L, 3L, 1L), (4L, 4L, 2L)))
  }

  test("winnow index: append ≡ rebuild, consolidation answer-preserving, meta-less probe fails fast") {
    import graft.text.TextOps
    val all = Tables(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    val hist = all.where(col("doc_id") < 25)
    val day1 = all.where(col("doc_id") >= 25 && col("doc_id") < 35)
    val batch = all.where(col("doc_id") >= 35)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().sorted.toSeq
    val idx = tempDir("graft_winnow_idx")
    TextOps.writeWinnowIndex(hist, idx, "doc_id", "text", k = 8, w = 4, portable = true)
    TextOps.appendToWinnowIndex(day1, idx, "doc_id", "text", tag = "day1")
    val viaAppend = pairs(TextOps.winnowOverlapAgainstIndex(batch, idx,
      "doc_id", "text", minShared = 2, maxBucket = 50))
    assert(viaAppend.nonEmpty) // the probe finds real batch×history overlaps
    // append ≡ rebuild: fingerprints are pure functions of (text, meta)
    val idx2 = tempDir("graft_winnow_idx2")
    TextOps.writeWinnowIndex(hist.unionByName(day1), idx2, "doc_id", "text",
      k = 8, w = 4, portable = true)
    assert(pairs(TextOps.winnowOverlapAgainstIndex(batch, idx2,
      "doc_id", "text", minShared = 2, maxBucket = 50)) == viaAppend)
    // consolidation collapses tranches without changing answers, and a
    // replayed absorbed append is a no-op
    TextOps.consolidateWinnowIndex(spark, idx)
    assert(new java.io.File(s"$idx/wfp").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSeq == Seq("batch=consolidated"))
    assert(pairs(TextOps.winnowOverlapAgainstIndex(batch, idx,
      "doc_id", "text", minShared = 2, maxBucket = 50)) == viaAppend)
    TextOps.appendToWinnowIndex(day1, idx, "doc_id", "text", tag = "day1")
    assert(!new java.io.File(s"$idx/wfp/batch=day1").exists())
    // NEW data aliased onto the absorbed tag fails fast (pair-granular
    // novelty probe: a new doc_id is novel even over seen fingerprints)
    val aliased = Seq((99L, "wholly new winnow content that was never fingerprinted before"))
      .toDF("doc_id", "text")
    val eAlias = intercept[IllegalStateException] {
      TextOps.appendToWinnowIndex(aliased, idx, "doc_id", "text", tag = "day1")
    }
    assert(eAlias.getMessage.contains("absorbed"))
    // probing a meta-less dir fails fast (params are structural)
    val bare = tempDir("graft_winnow_bare")
    Seq((1L, 42L)).toDF("doc_id", "wfp").write.parquet(s"$bare/wfp/batch=build")
    val e = intercept[IllegalArgumentException] {
      TextOps.winnowOverlapAgainstIndex(batch, bare, "doc_id", "text")
    }
    assert(e.getMessage.contains("_graft_meta"))
  }

  test("maxBucket universe drifts as history grows (documented stop-phrase semantics)") {
    // B shares shingles {w1w2w3, w2w3w4} with H: jaccard 2/4 = 0.5 → dup.
    // Doubling history (H' = copy of H) pushes those shingles' combined
    // occurrence over maxBucket=2; post-prune they leave the universe
    // and the SAME pair flips to survivor — the cap is an absolute
    // count, so decisions are a function of corpus size by design
    val batch = Seq((10L, "w1 w2 w3 w4 x")).toDF("doc_id", "text")
    val hist1 = Seq((1L, "w1 w2 w3 w4 y")).toDF("doc_id", "text")
    val hist2 = hist1.unionByName(Seq((2L, "w1 w2 w3 w4 y")).toDF("doc_id", "text"))
    val i1 = tempDir("graft_drift1")
    val i2 = tempDir("graft_drift2")
    DedupOps.writeDedupIndex(hist1, i1, "doc_id", "text")
    DedupOps.writeDedupIndex(hist2, i2, "doc_id", "text")
    def surv(idx: String) = DedupOps.dedupAgainstIndex(
      batch, idx, "doc_id", "text", threshold = 0.5, maxBucket = 2)
      .select("doc_id").as[Long].collect().toSeq
    assert(surv(i1) == Seq.empty)  // 1× history: near-dup detected
    assert(surv(i2) == Seq(10L))   // 2× history: shared shingles pruned → survivor
  }

  test("minhashDupGroups: identical docs group via banded signatures, disjoint docs stay singleton") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),   // exact dup of 1
      (3L, "one two three four five six seven eight"),
      (4L, "red green blue yellow purple orange pink white")
    ).toDF("doc_id", "text")
    val got = DedupOps.minhashDupGroups(corpus, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L), (4L, 4L, 1L)))
  }

  test("semanticDedupGroups: bucketed cosine pairs close into groups, singletons kept") {
    // 1 and 2 share sign bucket (both components positive) and cosine 1;
    // 3's bucket differs (negative y), 4 is the opposite orthant — both
    // must come back as singleton groups of size 1
    val vecs = Seq(
      (1L, Array(1.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.9f, 0.0f)),
      (3L, Array(1.0f, -1.0f, 0.0f)),
      (4L, Array(-1.0f, -1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.semanticDedupGroups(vecs, "vec_id", "embedding",
      threshold = 0.8, nbits = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L), (4L, 4L, 1L)))
    // keep-one-representative contract
    assert(got.count { case (id, gid, _) => id == gid } == 3)
  }

  test("cosine/dot/norm behave on near-axes") {
    val c = vecs.where(col("vec_id") === 0)
      .crossJoin(vecs.where(col("vec_id") === 2).select(col("embedding").as("e2")))
      .select(SimilarityOps.cosine(col("embedding"), col("e2"))).as[Double].head()
    assert(math.abs(c) < 0.05) // near-orthogonal
    val n = vecs.where(col("vec_id") === 0)
      .select(SimilarityOps.l2Norm(col("embedding"))).as[Double].head()
    assert(math.abs(n - 1.0) < 0.001)
  }

  test("bruteForceTopK ranks by cosine with id tiebreak") {
    val out = SimilarityOps.bruteForceTopK(
      vecs.where(col("vec_id") === 0), vecs, "vec_id", "vec_id", "embedding", k = 3)
      .select("corpus_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L)) // by descending cosine
  }

  test("lshTopK returns a subset of brute-force candidates in same bucket") {
    val brute = SimilarityOps.bruteForceTopK(
      vecs.where(col("vec_id") === 0), vecs, "vec_id", "vec_id", "embedding", k = 3)
      .select("corpus_id").as[Long].collect().toSet
    val lsh = SimilarityOps.lshTopK(
      vecs.where(col("vec_id") === 0), vecs, "vec_id", "vec_id", "embedding", k = 3, nbits = 3)
      .select("corpus_id").as[Long].collect().toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.contains(1L)) // the near neighbor shares the sign bucket
  }

  test("normalize yields unit vectors") {
    val n = vecs.select(SimilarityOps.l2Norm(SimilarityOps.normalize(col("embedding"))))
      .as[Double].collect()
    assert(n.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("multimodal: batched decode is deterministic, frame sampling counts") {
    val media = graft.multimodal.MultimodalOps.attachBinary(docs, "doc_id", "text", "image")
    val f = graft.multimodal.MultimodalOps.decodeBatched(spark, media).collect()
    assert(f.length == 5)
    val f1 = f.find(_.media_id == 1L).get
    assert(f1.n_bytes == 43 && f1.first_byte == 't'.toInt)
    val frames = graft.multimodal.MultimodalOps.sampleFrames(media, bytesPerFrame = 10, step = 2)
    assert(frames.where(col("media_id") === 1L).count() == 3) // 43/10=4 → 0,2,4
  }

  private def pngBytes(w: Int, h: Int, imgType: Int, rgb: Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(w, h, imgType)
    for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  test("multimodal: decodeMeta parses real PNG headers, stubs the rest") {
    import java.awt.image.BufferedImage._
    val rows = Seq(
      (1L, pngBytes(7, 5, TYPE_INT_RGB, 0xffffff)),      // color type 2 → 3ch
      (2L, pngBytes(3, 9, TYPE_BYTE_GRAY, 0x000000)),    // color type 0 → 1ch
      (3L, "definitely not a png".getBytes("UTF-8")))
    val df = rows.toDF("media_id", "content")
    val got = graft.multimodal.MultimodalOps.decodeMeta(df)
      .select("media_id", "width", "height", "channels")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L) == ((7, 5, 3)))
    assert(got(2L) == ((3, 9, 1)))
    // the non-PNG row falls back to the SAME deterministic stub dims
    val stub = graft.multimodal.MultimodalOps.fakeDecodeMeta(
      df.where(col("media_id") === 3L))
      .select("width", "height", "channels").head()
    assert(got(3L) == ((stub.getInt(0), stub.getInt(1), stub.getInt(2))))
  }

  test("multimodal: decodeMeta routes out-of-range PNG dimensions to the stub") {
    // hand-built header claiming width 0xFFFFFFFF (> Int.MaxValue): a
    // naive big-endian read would wrap negative under the non-ANSI cast
    val bogus: Array[Byte] =
      (Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,     // signature
           0x00, 0x00, 0x00, 0x0D, 0x49, 0x48, 0x44, 0x52,     // len + "IHDR"
           0xFF, 0xFF, 0xFF, 0xFF,                             // width (bogus)
           0x00, 0x00, 0x00, 0x05,                             // height 5
           0x08, 0x02, 0x00, 0x00, 0x00,                       // depth/color/...
           0x00, 0x00, 0x00, 0x00, 0x00                        // CRC + pad
      ).map(_.toByte)).toArray
    val df = Seq((9L, bogus)).toDF("media_id", "content")
    val got = graft.multimodal.MultimodalOps.decodeMeta(df)
      .select("width", "height", "channels").head()
    val stub = graft.multimodal.MultimodalOps.fakeDecodeMeta(df)
      .select("width", "height", "channels").head()
    assert(got.getInt(0) == stub.getInt(0) && got.getInt(1) == stub.getInt(1) &&
      got.getInt(2) == stub.getInt(2))
    assert(got.getInt(0) > 0 && got.getInt(1) > 0)
  }

  private def wavBytes(rate: Float, channels: Int, bits: Int, nFrames: Int): Array[Byte] = {
    // genuine header via the JDK's own WAV writer (PCM: 16-bit signed /
    // 8-bit unsigned little-endian, the canonical 44-byte layout)
    val fmt = new javax.sound.sampled.AudioFormat(rate, bits, channels, bits > 8, false)
    val data = new Array[Byte](nFrames * fmt.getFrameSize)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("multimodal: decodeAudioMeta parses real PCM WAV headers, stubs the rest") {
    val stereo = wavBytes(44100f, 2, 16, 44100)       // 1 s stereo 16-bit
    val mono = wavBytes(8000f, 1, 8, 2000)            // 250 ms mono 8-bit
    // corrupt variants of a REAL header: zeroed block-align / sample
    // rate must route to the stub, not divide by zero
    val zeroBa = stereo.clone(); zeroBa(32) = 0; zeroBa(33) = 0
    val zeroSr = stereo.clone(); (24 to 27).foreach(zeroSr(_) = 0)
    val rows = Seq(
      (1L, stereo), (2L, mono),
      (3L, "definitely not audio".getBytes("UTF-8")),
      (4L, zeroBa), (5L, zeroSr),
      (6L, "RIFF".getBytes("UTF-8")))                 // truncated magic
    val got = graft.multimodal.MultimodalOps.decodeAudioMeta(rows.toDF("media_id", "content"))
      .select("media_id", "sample_rate", "channels", "bits_per_sample",
        "n_frames", "duration_ms", "decoded_wav")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(got(1L) == ((44100, 2, 16, 44100L, 1000L, true)))
    assert(got(2L) == ((8000, 1, 8, 2000L, 250L, true)))
    Seq(3L, 4L, 5L, 6L).foreach { id =>
      val (sr, ch, bits, nf, dur, dec) = got(id)
      assert(!dec, s"id=$id must stub")
      assert(sr == 16000 && bits == 16 && (ch == 1 || ch == 2))
      assert(dur >= 500L && dur < 60500L && nf == dur * 16)
    }
  }

  test("multimodal: decodeImageBatched really decodes via ImageIO") {
    import java.awt.image.BufferedImage._
    val rows = Seq(
      (1L, pngBytes(4, 4, TYPE_INT_RGB, 0xffffff)),      // white → luma 255
      (2L, pngBytes(2, 3, TYPE_INT_RGB, 0x000000)),      // black → luma 0
      (3L, "corrupt payload".getBytes("UTF-8")))
    val f = graft.multimodal.MultimodalOps
      .decodeImageBatched(spark, rows.toDF("media_id", "content"))
      .collect().map(x => x.media_id -> x).toMap
    assert(f(1L).decoded && f(1L).width == 4 && f(1L).height == 4 &&
      math.abs(f(1L).mean_luma - 255.0) < 1.0)
    assert(f(2L).decoded && f(2L).width == 2 && f(2L).height == 3 &&
      f(2L).mean_luma < 1.0)
    assert(!f(3L).decoded && f(3L).width == -1 && f(3L).mean_luma > 0.0)
  }

  /** Grayscale pattern PNG: luma(x, y) = (x·a + y·b) mod 256 shifted
    * by `delta` (clamped) — distinct (a, b) give distinct gradient
    * structure; a small `delta` is the "re-exposed copy". */
  private def patternPng(w: Int, h: Int, a: Int, b: Int, delta: Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = math.min(255, math.max(0, (x * a + y * b) % 256 + delta))
      im.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  test("multimodal: imageDHash — real decode tier, re-exposure invariance, stub determinism") {
    import graft.multimodal.MultimodalOps
    val rows = Seq(
      (1L, patternPng(64, 64, 4, 0, 0)),   // left-to-right ramp
      (2L, patternPng(64, 64, 4, 0, 3)),   // same ramp, +3 exposure
      (3L, patternPng(64, 64, -4, 0, 255)),// inverted ramp
      (4L, "stub payload xyz".getBytes("UTF-8")),
      (5L, Array.empty[Byte]))
    val h = MultimodalOps.imageDHash(spark, rows.toDF("media_id", "content"))
      .collect().map(x => x.media_id -> x).toMap
    assert(Seq(1L, 2L, 3L).forall(h(_).decoded) && !h(4L).decoded && !h(5L).decoded)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // a uniform exposure shift preserves every gradient sign
    assert(ham(h(1L).dhash, h(2L).dhash) <= 4,
      s"re-exposed copy drifted ${ham(h(1L).dhash, h(2L).dhash)} bits")
    // an inverted ramp flips (nearly) every comparison
    assert(ham(h(1L).dhash, h(3L).dhash) > 20)
    // stub tier: exact byte-grid replay (the oracle's contract)
    val bytes = "stub payload xyz".getBytes("UTF-8")
    def g(i: Int) = (bytes(i % bytes.length) & 0xff).toDouble
    var want = 0L
    for (r <- 0 until 8; c <- 0 until 8)
      if (g(r * 9 + c + 1) > g(r * 9 + c)) want |= (1L << (r * 8 + c))
    assert(h(4L).dhash == want)
    assert(h(5L).dhash == 0L)                  // empty payload → 0
  }

  test("multimodal: imageDedupAgainstIndex — perceptual survivors vs at-rest hash history") {
    import graft.multimodal.MultimodalOps
    val dir = tempDir("graft_imghash") + "/idx"
    val hist = Seq(1L -> patternPng(48, 48, 4, 0, 0),
      2L -> patternPng(48, 48, 0, 4, 0)).toDF("media_id", "content")
    MultimodalOps.writeImageHashTranche(spark, hist, dir, "day0")
    // batch: a re-exposed near copy of history image 1 (must drop) and
    // a structurally new pattern (must survive, hash attached)
    val batch = Seq(10L -> patternPng(48, 48, 4, 0, 2),
      11L -> patternPng(48, 48, 13, 1, 0)).toDF("media_id", "content")
    val surv = MultimodalOps.imageDedupAgainstIndex(spark, batch, dir)
    assert(surv.columns.contains("dhash"))
    assert(surv.select("media_id").as[Long].collect().toSet == Set(11L))
    // absorb the batch, then fold: set semantics — content identical
    MultimodalOps.writeImageHashTranche(spark, batch, dir, "day1")
    val before = MultimodalOps.readImageHashes(spark, dir)
      .as[(Long, Long)].collect().toSet
    def fold = MultimodalOps.consolidateImageHashIndex(spark, dir)
    assert(!graft.util.Tranches.maybeFold(spark, dir, 2)(fold)) // 2 ≤ 2
    assert(graft.util.Tranches.maybeFold(spark, dir, 1)(fold))  // 2 > 1
    assert(MultimodalOps.readImageHashes(spark, dir)
      .as[(Long, Long)].collect().toSet == before)
    // post-fold probe stays exact: near copies of BOTH generations drop
    val batch2 = Seq(20L -> patternPng(48, 48, 0, 4, 2),     // ≈ history 2
      21L -> patternPng(48, 48, 13, 1, 2)).toDF("media_id", "content") // ≈ absorbed 11
    assert(MultimodalOps.imageDedupAgainstIndex(spark, batch2, dir)
      .select("media_id").as[Long].collect().isEmpty)
  }

  test("multimodal: imageNearDupPairs banded ≡ brute over real decoded PNGs") {
    import graft.multimodal.MultimodalOps
    // a pool with structure: three gradient families, each with a
    // re-exposed near-copy, plus noise patterns — near-dups must meet
    // in a band (pigeonhole), far pairs must be filtered by hamming
    val pool = Seq(
      1L -> patternPng(48, 48, 4, 0, 0), 2L -> patternPng(48, 48, 4, 0, 2),
      3L -> patternPng(48, 48, 0, 4, 0), 4L -> patternPng(48, 48, 0, 4, 2),
      5L -> patternPng(48, 48, 3, 3, 0), 6L -> patternPng(48, 48, 3, 3, 2),
      7L -> patternPng(48, 48, 7, 11, 0), 8L -> patternPng(48, 48, 11, 7, 0),
      9L -> patternPng(48, 48, 13, 1, 0), 10L -> patternPng(48, 48, 1, 13, 0))
    val media = pool.toDF("media_id", "content")
    val hashes = MultimodalOps.imageDHash(spark, media)
      .collect().map(x => x.media_id -> x.dhash).toMap
    val brute = (for {
      (a, ha) <- hashes.toSeq; (b, hb) <- hashes.toSeq if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, d)).toSet
    val banded = MultimodalOps.imageNearDupPairs(spark, media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute, s"banded $banded != brute $brute")
    // the designed near-copies are found
    assert(brute.exists(p => p._1 == 1L && p._2 == 2L))
    assert(brute.exists(p => p._1 == 3L && p._2 == 4L))
  }

  // ---- stupid-backoff bigram LM --------------------------------------

  test("bigramLogProbBackoff: all four branches against hand-computed snapped logs") {
    def l8(x: Double): Long = math.floor(math.log10(x) * 1e8 + 0.5).toLong
    val train = Seq((0L, "x y x y"), (2L, "y x")).toDF("doc_id", "text")
    // train counts: N=6, c1(x)=3, c1(y)=3, c2(x,y)=2, c2(y,x)=2
    val score = Seq((1L, "x z y")).toDF("doc_id", "text")
    // x: doc start         -> l8(3) - l8(6)
    // z: OOV, (x,z) unseen -> l8(0.4) + l8(1) - l8(6)
    // y: (z,y) unseen      -> l8(0.4) + l8(3) - l8(6)
    val s8 = (l8(3) - l8(6)) + (l8(0.4) + l8(1) - l8(6)) + (l8(0.4) + l8(3) - l8(6))
    val expected = BigDecimal(s8.toDouble / 1e8 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = TextOps.bigramLogProbBackoff(train, score, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 3L, expected)))
  }

  test("bigramLogProbBackoff: seen-bigram branch uses the context count; fluent beats shuffled") {
    val train = Seq((0L, "the quick fox jumps"), (2L, "the quick fox runs")).toDF("doc_id", "text")
    val fluent = Seq((1L, "the quick fox")).toDF("doc_id", "text")
    val shuffled = Seq((1L, "fox the quick")).toDF("doc_id", "text")
    def score(df: org.apache.spark.sql.DataFrame): Double =
      TextOps.bigramLogProbBackoff(train, df, "doc_id", "text")
        .select("mean_logp").as[Double].head()
    def l8(x: Double): Long = math.floor(math.log10(x) * 1e8 + 0.5).toLong
    // fluent: the(start) l8(2)-l8(8); quick|the c2=2,c(the)=2 -> 0; fox|quick -> 0
    val exp = BigDecimal((l8(2) - l8(8)).toDouble / 1e8 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(score(fluent) == exp)
    assert(score(fluent) > score(shuffled))
  }

  test("asciiGuarded: passes ASCII docs through unchanged, raises on non-ASCII (oracle-replay guard)") {
    val ok = Seq((1L, "plain ascii"), (2L, "")).toDF("doc_id", "text")
    assert(graft.queries.LlmQueries.asciiGuarded(ok)
      .select("text").as[String].collect().toSeq == Seq("plain ascii", ""))
    val bad = Seq((1L, "plain"), (7L, "héllo")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      graft.queries.LlmQueries.asciiGuarded(bad).collect()
    }
    assert(e.getMessage.contains("doc_id=7") ||
      Option(e.getCause).exists(_.getMessage.contains("doc_id=7")))
  }
}
