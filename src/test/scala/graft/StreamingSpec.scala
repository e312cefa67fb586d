package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.StreamingOps

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("fileMicroBatch drains available files into the sink (AvailableNow)") {
    val base = tempDir("graft_stream")
    val src = s"$base/src"; val out = s"$base/out"; val ck = s"$base/ck"
    val df1 = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "k", "v")
    df1.coalesce(1).write.parquet(src)
    val q = StreamingOps.fileMicroBatch(spark, src, df1.schema,
      b => b.withColumn("v2", col("v") * 2), out, ck)
    q.awaitTermination(60000)
    val got = spark.read.parquet(out)
    assert(got.count() == 2)
    assert(got.where(col("id") === 1).select("v2").as[Double].head() == 3.0)

    // second batch of files → restart picks up ONLY the new files (checkpoint)
    Seq((3L, "c", 10.0)).toDF("id", "k", "v").coalesce(1).write.mode("append").parquet(src)
    val q2 = StreamingOps.fileMicroBatch(spark, src, df1.schema,
      b => b.withColumn("v2", col("v") * 2), out, ck)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 3)
  }

  test("indexedDedupStream: batches dedup against the at-rest index, survivors append") {
    val base = tempDir("graft_idx_stream")
    val idx = s"$base/idx"; val out = s"$base/out"; val ck = s"$base/ck"
    graft.dedup.DedupOps.writeDedupIndex(
      Seq((1L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"),
      idx, "doc_id", "text")
    val mem = MemoryStream[(Long, String)](spark, 1)
    val q = StreamingOps.indexedDedupStream(
      mem.toDF.toDF("doc_id", "text"), idx, out, "doc_id", "text",
      checkpointDir = ck, threshold = 0.5)
    // quietStorageLogs: the per-epoch handle release races in-flight
    // block fetches (benign, recovered) — keep real errors visible
    try quietStorageLogs {
      // batch 1: 10 exact-dups history, 11 is new
      mem.addData((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "an entirely new document about training corpora"))
      q.processAllAvailable()
      assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet == Set(11L))
      // batch 2: 20 near-dups batch-1 SURVIVOR 11 (index grew), 21 new
      mem.addData((20L, "an entirely new document about training models"),
        (21L, "completely unrelated content with different words"))
      q.processAllAvailable()
      assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet ==
        Set(11L, 21L))
    } finally q.stop()
  }

  test("indexedDedupStream approx tier: near-dup decisions read the sig artifact, survivors still append everywhere") {
    val base = tempDir("graft_idx_stream_apx")
    val idx = s"$base/idx"; val out = s"$base/out"; val ck = s"$base/ck"
    graft.dedup.DedupOps.writeDedupIndex(
      Seq((1L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"),
      idx, "doc_id", "text")
    val mem = MemoryStream[(Long, String)](spark, 1)
    val q = StreamingOps.indexedDedupStream(
      mem.toDF.toDF("doc_id", "text"), idx, out, "doc_id", "text",
      checkpointDir = ck, threshold = 0.4, approx = true)
    try quietStorageLogs {
      mem.addData((10L, "the quick brown fox jumps over the lazy dog"), // exact dup of history
        (11L, "an entirely new document about training corpora for large language models today"))
      q.processAllAvailable()
      assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet == Set(11L))
      // 20 near-dups batch-1 SURVIVOR 11 (jaccard 9/11 — one word
      // changed) — found via the sig tranche the append wrote, not via
      // any shingle scan
      mem.addData((20L, "an entirely new document about training corpora for large language models tomorrow"),
        (21L, "completely unrelated content with different words"))
      q.processAllAvailable()
      assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet ==
        Set(11L, 21L))
      assert(new java.io.File(s"$idx/sig/batch=0").exists())
    } finally q.stop()
  }

  test("approx epoch honors the index's frozen params end-to-end (portable index, defaulted caller params)") {
    // the probe reads _graft_meta; the APPEND must too — with caller
    // defaults (portable = false) against a portable-built index the
    // old code committed the decision then died on append validation,
    // wedging the stream on every replay
    val base = tempDir("graft_apx_meta")
    val idx = s"$base/idx"; val out = s"$base/out"
    graft.dedup.DedupOps.writeDedupIndex(
      Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"),
      idx, "doc_id", "text", portable = true)
    val batch = Seq((10L, "an entirely new document about training corpora")).toDF("doc_id", "text")
    StreamingOps.processIndexedDedupEpoch(batch, 0L, idx, out, "doc_id", "text",
      approx = true) // portable left at its default
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSeq == Seq(10L))
    assert(new java.io.File(s"$idx/sh/batch=0").exists())
  }

  test("approx epoch on a pointer-committed index reads the frozen params from its current generation") {
    // the header of a PointerCommit index lives inside its __data_
    // generation; the append must find it there too, or the non-default
    // shingleN fails the append's validation on every replay
    val base = tempDir("graft_apx_ptr")
    val idx = s"$base/idx"; val out = s"$base/out"
    graft.dedup.DedupOps.writeDedupIndex(
      Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"),
      idx, "doc_id", "text", shingleN = 4, commit = graft.merge.Merge.PointerCommit)
    val batch = Seq((10L, "an entirely new document about training corpora")).toDF("doc_id", "text")
    StreamingOps.processIndexedDedupEpoch(batch, 0L, idx, out, "doc_id", "text",
      approx = true) // shingleN left at its default
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSeq == Seq(10L))
    val gen = graft.merge.Merge.resolveDir(spark, idx)
    assert(gen != idx, "index is pointer-committed")
    Seq("sh", "sig", "fp").foreach(a =>
      assert(new java.io.File(s"$gen/$a/batch=0").exists(), s"$a tranche appended"))
  }

  test("indexedDedupStream replay: re-delivered epochs converge (decision reuse + tranche overwrite)") {
    val base = tempDir("graft_idx_replay")
    val idx = s"$base/idx"; val out = s"$base/out"
    graft.dedup.DedupOps.writeDedupIndex(
      Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"),
      idx, "doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of history
      (11L, "an entirely new document about training corpora")
    ).toDF("doc_id", "text")
    def outIds = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted.toSeq
    def shTranches = new java.io.File(s"$idx/sh").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    StreamingOps.processIndexedDedupEpoch(batch, 0L, idx, out, "doc_id", "text")
    assert(outIds == Seq(11L) && shTranches == Seq("batch=0", "batch=build"))
    val shFiles = new java.io.File(s"$idx/sh/batch=0").listFiles().map(_.getName).toSet
    // full re-delivery of the SAME epoch: the committed decision is
    // reused (recomputing would decide the empty set — doc 11's own
    // fingerprint is in the index now — and wipe the output), and the
    // index tranche is overwritten in place, not duplicated
    StreamingOps.processIndexedDedupEpoch(batch, 0L, idx, out, "doc_id", "text")
    assert(outIds == Seq(11L) && shTranches == Seq("batch=0", "batch=build"))
    assert(spark.read.parquet(s"$idx/sh").where(col("doc_id") === 11L).count() ==
      spark.read.parquet(s"$idx/sh/batch=0").count())
    // partial replay: crash simulated AFTER the decision committed but
    // BEFORE the index append (tranche deleted) — re-delivery restores it
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/sh/batch=0"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/fp/batch=0"), true)
    StreamingOps.processIndexedDedupEpoch(batch, 0L, idx, out, "doc_id", "text")
    assert(outIds == Seq(11L) && shTranches == Seq("batch=0", "batch=build"))
    // a later epoch still dedups against everything epoch 0 kept
    StreamingOps.processIndexedDedupEpoch(
      Seq((20L, "an entirely new document about training corpora")).toDF("doc_id", "text"),
      1L, idx, out, "doc_id", "text")
    assert(outIds == Seq(11L))
  }

  test("indexedOverlapStream: per-epoch overlap reports, whole batch appends, replay converges") {
    val base = tempDir("graft_ovl_stream")
    val idx = s"$base/idx"; val out = s"$base/out"
    graft.text.TextOps.writeWinnowIndex(
      Seq((1L, "the licensed header block follows here with standard terms"))
        .toDF("doc_id", "text"),
      idx, "doc_id", "text", k = 8, w = 4)
    def pairsOf(epoch: Long) =
      spark.read.parquet(s"$out/batch=$epoch").select("id_l", "id_r")
        .as[(Long, Long)].collect().toSet
    // epoch 0: doc 10 reuses history 1's license phrase, 11 is unrelated
    val e0 = Seq(
      (10L, "different document reusing the licensed header block follows here verbatim"),
      (11L, "nothing in common with anything else whatsoever")).toDF("doc_id", "text")
    StreamingOps.processIndexedOverlapEpoch(e0, 0L, idx, out, "doc_id", "text")
    assert(pairsOf(0L) == Set((10L, 1L)))
    // epoch 1: doc 20 reuses the same phrase — overlaps BOTH original
    // history and epoch 0's appended doc
    val e1 = Seq(
      (20L, "another text reusing the licensed header block follows here again")).toDF("doc_id", "text")
    StreamingOps.processIndexedOverlapEpoch(e1, 1L, idx, out, "doc_id", "text")
    assert(pairsOf(1L) == Set((20L, 1L), (20L, 10L)))
    // full replay of epoch 0: decision reused (recomputing would pair
    // 10 with its own indexed tranche-mates), tranche overwritten once
    StreamingOps.processIndexedOverlapEpoch(e0, 0L, idx, out, "doc_id", "text")
    assert(pairsOf(0L) == Set((10L, 1L)))
    assert(spark.read.parquet(s"$idx/wfp").where(col("doc_id") === 10L).count() ==
      spark.read.parquet(s"$idx/wfp/batch=0").where(col("doc_id") === 10L).count())
  }

  test("semanticDedupStream epochs: batch-operator parity, crash-window replay, convergence") {
    val base = tempDir("graft_sem_stream")
    val idx = s"$base/idx"; val out = s"$base/out"
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    graft.similarity.SimilarityOps.ivfWriteIndex(emb.where(col("vec_id") < 200), idx,
      "vec_id", "embedding", nLists = 4)
    def decided(epoch: Long) =
      spark.read.parquet(s"$out/batch=$epoch").select("vec_id")
        .as[Long].collect().toSet
    // epoch 0: 150-199 are re-deliveries of indexed vectors (self-match
    // at cosine 1), 200-249 are new; the streaming decision must equal
    // the batch operator's against the same index state
    val e0 = emb.where(col("vec_id") >= 150 && col("vec_id") < 250)
    val exp0 = graft.similarity.SimilarityOps.semanticDedupAgainstIndex(spark, idx,
      e0, "vec_id", "embedding", threshold = 0.3, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    StreamingOps.processSemanticDedupEpoch(e0, 0L, idx, out, "vec_id", "embedding",
      threshold = 0.3, nProbe = 4)
    assert(decided(0L) == exp0)
    assert(decided(0L).forall(_ >= 200L))
    // epoch 1 dedups against the GROWN index: epoch-0 survivors are
    // indexed now, so a re-delivery of any of them is dropped
    val e1 = emb.where(col("vec_id") >= 220 && col("vec_id") < 300)
    val exp1 = graft.similarity.SimilarityOps.semanticDedupAgainstIndex(spark, idx,
      e1, "vec_id", "embedding", threshold = 0.3, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    StreamingOps.processSemanticDedupEpoch(e1, 1L, idx, out, "vec_id", "embedding",
      threshold = 0.3, nProbe = 4)
    assert(decided(1L) == exp1)
    assert(decided(1L).intersect(decided(0L)).isEmpty)
    // crash window: decision committed but the index tranche was lost —
    // the replay must REUSE the decision (recomputing against the
    // half-mutated index would differ) and regenerate the tranche
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nBefore = spark.read.parquet(s"$idx/vec").count()
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$idx/vec/batch=1"), true))
    StreamingOps.processSemanticDedupEpoch(e1, 1L, idx, out, "vec_id", "embedding",
      threshold = 0.3, nProbe = 4)
    assert(decided(1L) == exp1)
    assert(spark.read.parquet(s"$idx/vec").count() == nBefore)
    // full replay of epoch 0 converges: same decision, index unchanged
    StreamingOps.processSemanticDedupEpoch(e0, 0L, idx, out, "vec_id", "embedding",
      threshold = 0.3, nProbe = 4)
    assert(decided(0L) == exp0)
    assert(spark.read.parquet(s"$idx/vec").count() == nBefore)
  }

  test("semanticDedupStream live: foreachBatch wiring drops indexed re-deliveries, keeps novel vectors") {
    val base = tempDir("graft_sem_live")
    val idx = s"$base/idx"; val out = s"$base/out"; val ck = s"$base/ck"
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    graft.similarity.SimilarityOps.ivfWriteIndex(emb.where(col("vec_id") < 100), idx,
      "vec_id", "embedding", nLists = 4)
    val rows = emb.where(col("vec_id") >= 80 && col("vec_id") < 120)
      .as[(Long, Seq[Float])].collect().toSeq
    val expected = graft.similarity.SimilarityOps.semanticDedupAgainstIndex(spark, idx,
      emb.where(col("vec_id") >= 80 && col("vec_id") < 120),
      "vec_id", "embedding", threshold = 0.3, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    val mem = MemoryStream[(Long, Seq[Float])](spark, 1)
    val q = StreamingOps.semanticDedupStream(
      mem.toDF.toDF("vec_id", "embedding"), idx, out, "vec_id", "embedding",
      checkpointDir = ck, threshold = 0.3, nProbe = 4)
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      assert(spark.read.parquet(out).select("vec_id").as[Long].collect().toSet == expected)
    } finally q.stop()
  }

  test("sketchStream: tranche-per-epoch artifact merges to the whole-corpus sketch") {
    import graft.profile.Sketches
    val base = tempDir("graft_sketch_stream")
    val dir = s"$base/sk"; val ck = s"$base/ck"
    val keys = (1 to 800).map(i => s"user_$i")
    val expected = Sketches.hllSketch(keys.toDF("k"), "k")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val mem = MemoryStream[String](spark, 1)
    val q = StreamingOps.sketchStream(mem.toDF.toDF("k"), dir, "k", checkpointDir = ck)
    try {
      mem.addData(keys.take(500): _*)   // epoch 0
      q.processAllAvailable()
      mem.addData(keys.drop(400): _*)   // epoch 1, overlapping re-delivery
      q.processAllAvailable()
      val merged = Sketches.readSketch(spark, dir)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(merged == expected)
    } finally q.stop()
    // replaying an epoch's tranche (at-least-once) converges: overwrite
    // the same tag with the same batch, answer unchanged
    Sketches.writeSketchTranche(
      Sketches.hllSketch(keys.take(500).toDF("k"), "k"), dir, "0")
    val replayed = Sketches.readSketch(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(replayed == expected)
  }

  test("driftStream: per-epoch PSI vs at-rest history, monitor-then-absorb") {
    import graft.profile.HistSketch
    val base = tempDir("graft_drift_stream")
    val hist = s"$base/h"; val log = s"$base/log"; val ck = s"$base/ck"
    // seed history: a baseline 1..500 distribution
    HistSketch.writeHistTranche(
      HistSketch.histSketch((1L to 500L).toDF("v"), "v"), hist, "seed")
    val mem = MemoryStream[Long](spark, 1)
    val q = StreamingOps.driftStream(mem.toDF.toDF("v"), hist, log, "v",
      checkpointDir = ck)
    try {
      mem.addData(1L to 500L: _*); q.processAllAvailable()   // epoch 0: same mix
      mem.addData((1L to 400L).map(_ * 10000L): _*); q.processAllAvailable() // epoch 1: shifted
      val rows = StreamingOps.readDriftLog(spark, log)
        .collect().map(r => r.getAs[Int]("batch") ->
          ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_new"), r.getAs[Double]("psi_bits")))).toMap
      val (ref0, new0, psi0) = rows(0)
      assert(ref0 == 500 && new0 == 500)
      assert(psi0 == 0.0, s"identical epoch gave $psi0")     // same buckets exactly
      val (ref1, new1, psi1) = rows(1)
      // monitor-then-absorb: epoch 1 scored against seed + epoch 0
      assert(ref1 == 1000 && new1 == 400)
      assert(psi1 > 1.0, s"shifted epoch gave $psi1")
      // history absorbed both epochs
      val merged = HistSketch.readHist(spark, hist)
        .agg(org.apache.spark.sql.functions.sum("cnt")).head.getLong(0)
      assert(merged == 1400)
    } finally q.stop()
  }

  test("driftStream cold start: first epoch seeds the artifact, scoring starts with real history") {
    import graft.profile.HistSketch
    val base = tempDir("graft_drift_cold")
    val hist = s"$base/h"; val log = s"$base/log"; val ck = s"$base/ck"
    // NO pre-seeded history: epoch 0 must absorb-as-seed, not throw
    // (Tranches.read on an empty dir would fail the checkpointed
    // stream permanently)
    val mem = MemoryStream[Long](spark, 1)
    val q = StreamingOps.driftStream(mem.toDF.toDF("v"), hist, log, "v",
      checkpointDir = ck)
    try {
      mem.addData(1L to 500L: _*); q.processAllAvailable()   // epoch 0: seed
      // seeded, no gauge row yet (nothing real to score against)
      assert(HistSketch.readHist(spark, hist)
        .agg(org.apache.spark.sql.functions.sum("cnt")).head.getLong(0) == 500)
      assert(!new java.io.File(log).exists())
      mem.addData(1L to 500L: _*); q.processAllAvailable()   // epoch 1: scored
      val rows = StreamingOps.readDriftLog(spark, log)
        .collect().map(r => r.getAs[Int]("batch") ->
          ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_new"), r.getAs[Double]("psi_bits")))).toMap
      assert(rows.keySet == Set(1))
      val (ref1, new1, psi1) = rows(1)
      assert(ref1 == 500 && new1 == 500 && psi1 == 0.0)
      // both epochs absorbed
      assert(HistSketch.readHist(spark, hist)
        .agg(org.apache.spark.sql.functions.sum("cnt")).head.getLong(0) == 1000)
    } finally q.stop()
  }

  test("histStream maxLiveTranches: in-loop auto-fold bounds the read fan-in") {
    import graft.profile.HistSketch
    import graft.util.Tranches
    val base = tempDir("graft_hist_autofold")
    val dir = s"$base/h"; val ck = s"$base/ck"
    val mem = MemoryStream[Long](spark, 1)
    val q = StreamingOps.histStream(mem.toDF.toDF("v"), dir, "v",
      checkpointDir = ck, maxLiveTranches = 2)
    try {
      for (e <- 0 until 6) {
        mem.addData((e * 1000 + 1).toLong to (e * 1000 + 300).toLong: _*)
        q.processAllAvailable()
        assert(Tranches.live(spark, dir).length <= 2, s"epoch $e")
      }
      val want = HistSketch.histSketch(
        (0 until 6).flatMap(e => (e * 1000 + 1).toLong to (e * 1000 + 300).toLong)
          .toDF("v"), "v")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(HistSketch.readHist(spark, dir)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == want)
    } finally q.stop()
  }

  test("bloomStream: provably-new per epoch, monitor-then-absorb, no false negatives") {
    import graft.relational.BloomIndex
    val base = tempDir("graft_bloom_stream")
    val idx = s"$base/idx"; val out = s"$base/out"; val ck = s"$base/ck"
    val mem = MemoryStream[Long](spark, 1)
    val q = StreamingOps.bloomStream(mem.toDF.toDF("key"), idx, out, "key",
      checkpointDir = ck, mBits = 1L << 16, k = 3)
    try {
      mem.addData(1L to 100L: _*); q.processAllAvailable()   // births the index
      mem.addData(50L to 150L: _*); q.processAllAvailable()  // 101..150 new
      mem.addData(1L to 100L: _*); q.processAllAvailable()   // all seen
      def epoch(e: Int) = spark.read.parquet(s"$out/batch=$e")
        .as[Long].collect().toSet
      assert(epoch(0) == (1L to 100L).toSet)   // empty index: all new
      val e1 = epoch(1)
      // NO FALSE NEGATIVES: nothing already absorbed can resurface
      assert(e1.forall(_ > 100L))
      // genuinely-new keys mostly survive (fill ~300/65536)
      assert(e1.size >= 45, s"only ${e1.size}/50 new keys kept")
      assert(epoch(2).isEmpty)                 // full re-delivery of e0's keys
      // the index absorbed every epoch (bounded position set)
      val st = BloomIndex.bloomIndexStats(spark, idx).head()
      assert(st.getLong(2) <= 3 * 150 && st.getDouble(3) < 0.01)
    } finally q.stop()
  }

  test("dayHllStream: streamed register tranches serve the rolling estimate, auto-fold bounds fan-in") {
    import graft.profile.Sketches
    import graft.util.Tranches
    val base = tempDir("graft_dayhll_stream")
    val dir = s"$base/h"; val ck = s"$base/ck"
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day%d 09:00:00")
    val rows = ((1 to 200).map(u => (ts(1), u.toLong)) ++
      (100 to 300).map(u => (ts(2), u.toLong)) ++
      (1 to 40).map(u => (ts(4), (u + 900).toLong)))
    val df = rows.toDF("ts", "u")
    val mem = MemoryStream[(java.sql.Timestamp, Long)](spark, 1)
    val q = StreamingOps.dayHllStream(mem.toDF.toDF("ts", "u"), dir, "u", "ts",
      checkpointDir = ck, maxLiveTranches = 1)
    try {
      val (b0, b1) = rows.splitAt(rows.length / 2)
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      assert(Tranches.live(spark, dir).length == 1)   // in-loop fold
      assertSameRows(Sketches.hllRollingFromIndex(spark, dir, 2),
        Sketches.hllRollingEstimate(df, "u", "ts", 2))
    } finally q.stop()
  }

  test("decontamStream: micro-batch epochs gate identically to the batch check") {
    import graft.dedup.DedupOps
    val base = tempDir("graft_decontam_stream")
    val bloom = s"$base/bloom"; val out = s"$base/out"; val ck = s"$base/ck"
    val corpus = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val bench = corpus.where(col("doc_id") < 25)
    DedupOps.benchmarkShingleBloom(bench, "text", bloom, "s0", shingleN = 8)
    val rows = corpus.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)](spark, 1)
    val q = StreamingOps.decontamStream(mem.toDF.toDF("doc_id", "text"),
      bloom, bench, out, "doc_id", "text", checkpointDir = ck, shingleN = 8)
    try {
      val (b0, b1) = rows.splitAt(rows.length / 2)
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      val streamed = spark.read.parquet(out).select("doc_id")
        .as[Long].collect().toSet
      // union of epochs ≡ the one-shot batch gate over the whole corpus
      val want = DedupOps.contaminationCheck(corpus, bench, "doc_id", "text", 8)
        .where(col("n_contaminated") === 0)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == want)
      // contaminated docs (the suite itself) provably dropped
      assert((0L until 25L).forall(!streamed.contains(_)))
    } finally q.stop()
  }

  test("day-keyed artifact streams: rolling gauges from streamed tranches ≡ batch forms") {
    import graft.profile.HistSketch
    import graft.text.TextOps
    import graft.similarity.SimilarityOps
    import graft.util.Tranches
    val base = tempDir("graft_day_streams")
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day%d 09:00:00")
    // numeric + mix rows (day 1, 2, 4) and vectors (day 1-3)
    val evRows = ((1 to 80).map(v => (ts(1), v.toLong, if (v % 3 == 0) "a" else "b")) ++
      (500 to 600).map(v => (ts(2), v.toLong, "a")) ++
      (5 to 15).map(v => (ts(4), v.toLong, "c")))
    val vecRows = Seq((ts(1), Seq(1.0f, 0.1f)), (ts(1), Seq(0.9f, 0.2f)),
      (ts(2), Seq(0.2f, 1.0f)), (ts(3), Seq(-0.5f, 0.8f)))
    val evDf = evRows.toDF("ts", "v", "k")
    val vecDf = vecRows.toDF("ts", "embedding")
    val memEv = MemoryStream[(java.sql.Timestamp, Long, String)](spark, 1)
    val memVec = MemoryStream[(java.sql.Timestamp, Seq[Float])](spark, 1)
    val qh = StreamingOps.dayHistStream(memEv.toDF.toDF("ts", "v", "k"),
      s"$base/h", "v", "ts", s"$base/ckh", maxLiveTranches = 1)
    val qm = StreamingOps.dayMixStream(memEv.toDF.toDF("ts", "v", "k"),
      s"$base/m", "k", "ts", s"$base/ckm", maxLiveTranches = 1)
    val qc = StreamingOps.centroidStream(memVec.toDF.toDF("ts", "embedding"),
      s"$base/c", "embedding", "ts", s"$base/ckc", maxLiveTranches = 1)
    try {
      // two epochs each, days straddling the epoch boundary
      val (e1, e2) = evRows.splitAt(evRows.length / 2)
      memEv.addData(e1: _*)
      memVec.addData(vecRows.take(2): _*)
      Seq(qh, qm, qc).foreach(_.processAllAvailable())
      memEv.addData(e2: _*)
      memVec.addData(vecRows.drop(2): _*)
      Seq(qh, qm, qc).foreach(_.processAllAvailable())
      // in-loop auto-fold kept every family at one live tranche
      assert(Tranches.live(spark, s"$base/h").length == 1)
      assert(Tranches.live(spark, s"$base/m").length == 1)
      assert(Tranches.live(spark, s"$base/c").length == 1)
      // artifact-served gauges ≡ whole-corpus batch forms
      assertSameRows(HistSketch.histRollingPsiFromIndex(spark, s"$base/h", 2),
        HistSketch.histRollingPsi(evDf, "v", "ts", 2))
      assertSameRows(TextOps.jsRollingFromIndex(spark, s"$base/m", 2),
        TextOps.jsRollingDivergence(evDf, "k", "ts", 2))
      assertSameRows(SimilarityOps.centroidRollingFromIndex(spark, s"$base/c", 2),
        SimilarityOps.centroidRollingDrift(vecDf, "embedding", "ts", 2))
    } finally Seq(qh, qm, qc).foreach(_.stop())
  }

  test("groupIndexStream: streamed edges keep the group index equal to the full-graph CC") {
    import graft.graph.GraphOps
    val base = tempDir("graft_grp_stream")
    val dir = s"$base/idx"; val ck = s"$base/ck"
    // chain 1-2-3-4 arrives in two batches; bridge 4-5 merges late
    val b0 = Seq((1L, 2L), (3L, 4L))
    val b1 = Seq((2L, 3L), (4L, 5L))
    val mem = MemoryStream[(Long, Long)](spark, 1)
    val q = StreamingOps.groupIndexStream(
      mem.toDF.toDF("src", "dst"), dir, "src", "dst", checkpointDir = ck)
    try {
      mem.addData(b0: _*); q.processAllAvailable()   // epoch 0 births the index
      val mid = GraphOps.readGroupIndex(spark, dir)
        .as[(Long, Long)].collect().toMap
      assert(mid == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
      mem.addData(b1: _*); q.processAllAvailable()   // epoch 1 merges everything
      val fin = GraphOps.readGroupIndex(spark, dir)
        .as[(Long, Long)].collect().toMap
      assert(fin == (1L to 5L).map(_ -> 1L).toMap)
    } finally q.stop()
    // at-least-once re-delivery: re-applying an absorbed batch is a
    // no-op by algebra (fixpoint of its own star ∪ absorbed edges)
    GraphOps.updateGroupIndex(spark, dir, b0.toDF("src", "dst"), "src", "dst")
    assert(GraphOps.readGroupIndex(spark, dir)
      .as[(Long, Long)].collect().toMap == (1L to 5L).map(_ -> 1L).toMap)
    // the content gauge reads the same artifact
    val st = GraphOps.groupIndexStats(spark, dir).head()
    assert(st.getLong(0) == 5 && st.getLong(1) == 1 && st.getLong(2) == 5)
  }

  test("sketchStream consolidates tranches periodically without changing registers") {
    import graft.profile.Sketches
    val base = tempDir("graft_sketch_cons")
    val dir = s"$base/sk"; val ck = s"$base/ck"
    val keys = (1 to 900).map(i => s"cuser_$i")
    val expected = Sketches.hllSketch(keys.toDF("k"), "k")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val mem = MemoryStream[String](spark, 1)
    val q = StreamingOps.sketchStream(mem.toDF.toDF("k"), dir, "k",
      checkpointDir = ck, maxLiveTranches = 2)
    try {
      mem.addData(keys.take(400): _*); q.processAllAvailable()   // epoch 0
      mem.addData(keys.slice(300, 700): _*); q.processAllAvailable() // epoch 1
      mem.addData(keys.drop(600): _*); q.processAllAvailable()   // epoch 2 → fold
      val tranches = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("batch="))
      // epochs 0/1/2 folded into one consolidated tranche at epoch 2
      assert(tranches.length == 1 && tranches.head.startsWith("batch=consolidated-"),
        tranches.mkString(","))
      assert(Sketches.readSketch(spark, dir)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap == expected)
    } finally q.stop()
  }

  test("histStream maintains the at-rest histogram with in-loop consolidation") {
    import graft.profile.HistSketch
    val base = tempDir("graft_hist_stream")
    val dir = s"$base/h"; val ck = s"$base/ck"
    val vals = (1 to 900).map(i => (i % 613).toLong + 1)
    val expected = HistSketch.histQuantiles(
        HistSketch.histSketch(vals.toDF("v"), "v"), Seq(0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val mem = MemoryStream[Long](spark, 1)
    val q = StreamingOps.histStream(mem.toDF.toDF("v"), dir, "v",
      checkpointDir = ck, maxLiveTranches = 2)
    try {
      mem.addData(vals.take(300): _*); q.processAllAvailable()       // epoch 0
      mem.addData(vals.slice(300, 600): _*); q.processAllAvailable() // epoch 1
      mem.addData(vals.drop(600): _*); q.processAllAvailable()       // epoch 2 → fold
      val tranches = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("batch="))
      assert(tranches.length == 1 && tranches.head.startsWith("batch=consolidated-"),
        tranches.mkString(","))
      val got = HistSketch.histQuantiles(HistSketch.readHist(spark, dir), Seq(0.5, 0.9))
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      assert(got == expected)
    } finally q.stop()
  }

  test("coocStream maintains the at-rest pair index from group-complete batches") {
    import graft.graph.GraphOps
    val base = tempDir("graft_cooc_stream")
    val dir = s"$base/idx"; val ck = s"$base/ck"
    // groups 1..6, each wholly inside one epoch (the artifact contract)
    val all = (1L to 6L).flatMap(g => (1L to 4L).filter(i => (g + i) % 2 == 0)
      .map(i => (g, i)))
    val expected = GraphOps.coOccurrenceLift(all.toDF("g", "i"), "g", "i")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val mem = MemoryStream[(Long, Long)](spark, 1)
    val q = StreamingOps.coocStream(mem.toDF.toDF("g", "i"), dir, "g", "i",
      checkpointDir = ck, maxLiveTranches = 1)
    try {
      mem.addData(all.filter(_._1 <= 3): _*); q.processAllAvailable()  // epoch 0
      mem.addData(all.filter(_._1 > 3): _*); q.processAllAvailable()   // epoch 1 → fold
      val got = GraphOps.coocLiftFromIndex(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      assert(got == expected)
      // epoch-1 consolidation folded each family to one tranche
      val pairTranches = new java.io.File(s"$dir/pairs").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch="))
      assert(pairTranches.length == 1 &&
        pairTranches.head.startsWith("batch=consolidated-"))
    } finally q.stop()
  }

  test("sigmaStatsStream: live epochs + fold converge to whole-corpus stats; flags match") {
    import graft.analytics.AnomalyOps
    val base = tempDir("graft_sigma_stream")
    val dir = s"$base/idx"; val ck = s"$base/ck"
    val day1 = Seq(("g", 10.0), ("g", 11.0), ("h", 5.0))
    val day2 = Seq(("g", 9.0), ("g", 55.0), ("h", 5.5))
    val whole = (day1 ++ day2).toDF("grp", "value")
    val mem = MemoryStream[(String, Double)](spark, 1)
    val q = StreamingOps.sigmaStatsStream(mem.toDF.toDF("grp", "value"), dir,
      "grp", "value", checkpointDir = ck, maxLiveTranches = 1)
    try {
      mem.addData(day1: _*); q.processAllAvailable() // epoch 0
      mem.addData(day2: _*); q.processAllAvailable() // epoch 1 → fold
      assertSameRows(AnomalyOps.readStats(spark, dir, "grp"),
        AnomalyOps.statsSketch(whole, "grp", "value"))
      // reader-side flags off the streamed artifact ≡ whole-history run
      assertSameRows(
        AnomalyOps.sigmaFlagsAgainstStats(day2.toDF("grp", "value"),
            AnomalyOps.readStats(spark, dir, "grp"), "grp", "value", k = 1)
          .select("grp", "value", "n_group", "is_anomaly"),
        AnomalyOps.sigmaFlags(whole, "grp", "value", k = 1)
          .where(col("value").isin(9.0, 55.0, 5.5))
          .select("grp", "value", "n_group", "is_anomaly"))
      val tranches = new java.io.File(dir).listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch="))
      assert(tranches.length == 1 && tranches.head.startsWith("batch=consolidated-"))
    } finally q.stop()
  }

  test("bm25Stream: epoch appends + in-loop fold probe identically to a one-shot build") {
    import graft.text.RetrievalOps
    val base = tempDir("graft_bm25_stream")
    val dir = s"$base/idx"; val ck = s"$base/ck"
    val d1 = Seq((1L, "spark join join window"), (2L, "spark window filter"))
    val d2 = Seq((3L, "join scan spark table"), (4L, "table merge hash batch"))
    val queries = Seq(("q1", "spark"), ("q1", "join"), ("q2", "table"))
      .toDF("query_id", "term")
    // the stream APPENDS into a built layout: seed with an empty build
    RetrievalOps.bm25WriteIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), dir, "doc_id", "text",
      nBuckets = 8)
    val mem = MemoryStream[(Long, String)](spark, 1)
    val q = StreamingOps.bm25Stream(mem.toDF.toDF("doc_id", "text"), dir,
      "doc_id", "text", checkpointDir = ck, maxLiveTranches = 1)
    try {
      mem.addData(d1: _*); q.processAllAvailable() // epoch 0
      mem.addData(d2: _*); q.processAllAvailable() // epoch 1 → fold
      val oneShot = RetrievalOps.bm25TopK((d1 ++ d2).toDF("doc_id", "text"),
        "doc_id", "text", queries, k = 10)
      assertSameRows(RetrievalOps.bm25ProbeIndex(spark, dir, queries, k = 10), oneShot)
      val tranches = new java.io.File(s"$dir/postings").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch="))
      assert(tranches.toSeq == Seq("batch=consolidated"))
    } finally q.stop()
  }

  private def winTs(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("windowedAgg produces correct event-time tumbling windows") {
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)](spark, 1)
    mem.addData((winTs(5), "a", 1.0), (winTs(10), "a", 2.0), (winTs(45), "b", 3.0))
    val agg = StreamingOps.windowedAgg(
      mem.toDF.toDF("ts", "k", "v"), "ts", "k", "v", window = "30 minutes")
    val q = agg.writeStream.format("memory").queryName("win_complete")
      .outputMode(OutputMode.Complete).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("win_complete")
      .select("window_start", "k", "n", "sum_value")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00.0", "a", 2L, 3.0),
      ("2024-01-01 10:30:00.0", "b", 1L, 3.0)))
  }

  test("scd2Stream: epochs become dimension generations; intra-batch churn collapses to the latest") {
    val base = tempDir("graft_scd2s")
    val dim = s"$base/dim"; val ck = s"$base/ck"
    val mem = MemoryStream[(java.sql.Timestamp, Int, String)](spark, 1)
    val q = StreamingOps.scd2Stream(
      mem.toDF.toDF("ts", "k", "status"), dim, Seq("k"), "ts", ck)
    try {
      mem.addData((winTs(5), 1, "a"), (winTs(5), 2, "b"))
      q.processAllAvailable()
      assert(graft.merge.Merge.readTarget(spark, dim)
        .where(col("is_current")).count() == 2)
      // epoch 2: k=1 changes; k=2 churns twice in the SAME batch —
      // only the latest state becomes a version
      mem.addData((winTs(10), 1, "a2"), (winTs(10), 2, "b_mid"), (winTs(11), 2, "b2"))
      q.processAllAvailable()
      val hist = graft.merge.Merge.readTarget(spark, dim)
      assert(hist.count() == 4) // two generations per key
      val current = hist.where(col("is_current"))
        .select("k", "status").as[(Int, String)].collect().toMap
      assert(current == Map(1 -> "a2", 2 -> "b2"))
      assert(hist.where(col("status") === "b_mid").count() == 0)
      // the closed k=1 generation carries the epoch's event time
      assert(hist.where(col("k") === 1 && !col("is_current")).head()
        .getAs[java.time.LocalDateTime]("valid_to") != null)
    } finally q.stop()
  }

  test("dedupStream emits first arrival per key, drops within-watermark re-deliveries") {
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)](spark, 1)
    val out = StreamingOps.dedupStream(
      mem.toDF.toDF("ts", "id", "v"), "ts", Seq("id"), lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      mem.addData((winTs(5), 1L, 1.0), (winTs(6), 1L, 99.0), (winTs(7), 2L, 2.0))
      q.processAllAvailable()
      // same key again in a LATER micro-batch, still inside the watermark
      mem.addData((winTs(8), 1L, 77.0), (winTs(9), 3L, 3.0))
      q.processAllAvailable()
      val rows = spark.table("dedup_stream")
        .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0)) // first arrival wins
    } finally q.stop()
  }

  test("nearDupDedupStream collapses token-identical re-crawls, keeps distinct docs") {
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)](spark, 1)
    val out = StreamingOps.nearDupDedupStream(
      mem.toDF.toDF("ts", "doc_id", "text"), "ts", "text", lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_stream")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      mem.addData((winTs(5), 1L, "the quick brown fox"), (winTs(6), 2L, "a different doc"))
      q.processAllAvailable()
      // re-crawl of doc 1 with reordered tokens + whitespace drift →
      // same simhash → suppressed; genuinely new doc passes
      mem.addData((winTs(7), 3L, "brown  fox the QUICK"), (winTs(8), 4L, "novel content here"))
      q.processAllAvailable()
      val ids = spark.table("neardup_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("curationStream: quality-gates, dedups by content within watermark, keeps metrics") {
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)](spark, 1)
    val good = "the cat and the dog walked to the house in the morning and " +
      "the sun rose over it as the day began for all of them there"
    val out = StreamingOps.curationStream(
      mem.toDF.toDF("ts", "doc_id", "text"), "ts", "text",
      minQuality = 0.4, lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("curation_stream")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      mem.addData((winTs(5), 1L, good), (winTs(6), 2L, "!!! ??? !!!")) // junk gated out
      q.processAllAvailable()
      // content-identical re-crawl (whitespace/case drift) suppressed;
      // genuinely new good doc passes
      mem.addData((winTs(7), 3L, good.toUpperCase + "  "), (winTs(8), 4L, good + " extra tail"))
      q.processAllAvailable()
      val rows = spark.table("curation_stream")
      assert(rows.columns.contains("quality_score")) // metrics survive
      assert(rows.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    } finally q.stop()
  }

  test("windowedAgg append mode emits only watermark-closed windows") {
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)](spark, 1)
    val agg = StreamingOps.windowedAgg(
      mem.toDF.toDF("ts", "k", "v"), "ts", "k", "v",
      window = "30 minutes", lateness = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_append")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      mem.addData((winTs(5), "a", 1.0), (winTs(10), "a", 2.0))
      q.processAllAvailable()
      assert(spark.table("win_append").isEmpty) // window still open
      // event time 11:30 → watermark 11:20 → closes the 10:00 window
      mem.addData((java.sql.Timestamp.valueOf("2024-01-01 11:30:00"), "z", 0.0))
      q.processAllAvailable()
      q.processAllAvailable() // second batch lets the closed window flush
      val deadline = System.currentTimeMillis() + 20000
      var rows = Set.empty[(String, String, Long, Double)]
      while (!rows.exists(_._1.startsWith("2024-01-01 10:00")) &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        rows = spark.table("win_append").select("window_start", "k", "n", "sum_value")
          .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      }
      assert(rows.contains(("2024-01-01 10:00:00.0", "a", 2L, 3.0)), s"got $rows")
    } finally q.stop()
  }

  test("sessionizeBatch groups events by inactivity gap") {
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val df = Seq(
      (1L, ts(10, 0), 1.0), (1L, ts(10, 10), 2.0),  // session 1
      (1L, ts(12, 0), 3.0),                          // session 2 (gap > 30min)
      (2L, ts(10, 0), 5.0)                           // user 2, one session
    ).toDF("user_id", "ts", "value")
    val out = StreamingOps.sessionizeBatch(df, "user_id", "ts", "value", gapSecs = 1800)
    val per = out.select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(per == Set((1L, 2L, 3.0), (1L, 1L, 3.0), (2L, 1L, 5.0)))
  }

  test("sessionize (flatMapGroupsWithState) accumulates keyed state across batches") {
    val mem = MemoryStream[StreamingOps.SessionEvent](spark, 2)
    def ev(u: Long, m: Int, v: Double) =
      StreamingOps.SessionEvent(u, java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), v)
    mem.addData(ev(1, 0, 1.0), ev(1, 5, 2.0), ev(2, 0, 7.0))
    val out = StreamingOps.sessionize(mem.toDS(), gapMs = 50)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      // the timeout only fires on a subsequent batch; keep feeding
      // fresh keys until user 1's session is emitted (30s deadline)
      val deadline = System.currentTimeMillis() + 30000
      var next = 100L
      var u1: Option[StreamingOps.SessionOut] = None
      while (u1.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        mem.addData(ev(next, 30, 0.5)); next += 1
        u1 = spark.table("sessions").as[StreamingOps.SessionOut]
          .collect().find(_.user_id == 1L)
      }
      assert(u1.nonEmpty, "no session emitted for user 1 within deadline")
      assert(u1.get.n_events == 2 && u1.get.sum_value == 3.0 && u1.get.duration_secs == 300)
    } finally q.stop()
  }

  test("sessionizeEventTime is replay-invariant: any micro-batch split ≡ one batch ≡ sessionizeBatch") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    // roughly time-ordered so the per-event split never delivers an
    // event behind the watermark (that would be genuine lateness, a
    // different concern than split-invariance)
    val events = Seq(
      (1L, ts("10:00:00"), 1.0), (2L, ts("10:05:00"), 5.0), // user 2: one session
      (1L, ts("10:10:00"), 2.0),                            // user 1 session 1 (gap 10m)
      (1L, ts("11:30:00"), 3.0))                            // user 1 session 2 (gap 80m)
    def sess(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, java.sql.Timestamp, java.sql.Timestamp)]
        .collect().toSet
    // reference 1: the lag-based batch path
    val viaBatch = sess(StreamingOps.sessionizeBatch(
      events.toDF("user_id", "ts", "value"), "user_id", "ts", "value", gapSecs = 1800))
    // reference 2: the SAME session_window function in batch mode
    val viaSessionWindowBatch = sess(StreamingOps.sessionizeEventTime(
      events.toDF("user_id", "ts", "value"), "user_id", "ts", "value",
      gapSecs = 1800))
    assert(viaSessionWindowBatch == viaBatch)
    // streaming, parameterized by how the same events split into
    // micro-batches — the event-time timeout must make the split
    // unobservable (a processing-time timeout sessionizes a replay
    // differently from live; that is the defect this tier closes)
    def runStream(splits: Seq[Seq[(Long, java.sql.Timestamp, Double)]],
                  name: String) = {
      val mem = MemoryStream[(Long, java.sql.Timestamp, Double)](spark, 10)
      val q = StreamingOps.sessionizeEventTime(
        mem.toDF.toDF("user_id", "ts", "value"), "user_id", "ts", "value",
        gapSecs = 1800)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        splits.foreach { s => mem.addData(s: _*); q.processAllAvailable() }
        // sentinel far in the future advances the watermark past every
        // session end so Append mode flushes the final sessions
        mem.addData((99L, ts("23:59:00"), 0.0)); q.processAllAvailable()
        sess(spark.table(name)).filter(_._1 != 99L)
      } finally q.stop()
    }
    val oneBatch = runStream(Seq(events), "sess_one")
    val perEvent = runStream(events.map(Seq(_)), "sess_split")
    assert(oneBatch == viaBatch, s"one-batch stream drifted: $oneBatch vs $viaBatch")
    assert(perEvent == viaBatch, s"per-event stream drifted: $perEvent vs $viaBatch")
  }

  // ---- auto-consolidation ticks and the shared tranche fold ----

  /** A 48×48 grey gradient PNG — distinct (a, b) give distinct dHashes,
    * a small `delta` a perceptual near copy. */
  private def png(a: Int, b: Int, delta: Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(48, 48,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 48; x <- 0 until 48) {
      val v = math.min(255, math.max(0, (x * a + y * b) % 256 + delta))
      im.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  private def trancheNames(dir: String): Seq[String] = {
    val f = new java.io.File(dir)
    if (!f.exists()) Seq.empty
    else f.listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("batch=")).toSeq.sorted
  }

  test("bloomStream auto-fold: fan-in ≤ maxLive at every epoch boundary, gate answers unchanged") {
    import graft.relational.BloomIndex
    val base = tempDir("graft_bloom_fold")
    val idx = s"$base/idx"; val out = s"$base/out"; val ck = s"$base/ck"
    val mem = MemoryStream[Long](spark, 1)
    val q = StreamingOps.bloomStream(mem.toDF.toDF("key"), idx, out, "key",
      checkpointDir = ck, mBits = 1L << 16, k = 3, maxLiveTranches = 2)
    try {
      // 6 epochs (= 3N for N = 2): each re-delivers the previous
      // epoch's keys (must ALL be gated out — no false negatives
      // across folds) plus a fresh range
      for (e <- 0 until 6) {
        val fresh = (e * 1000 + 1).toLong to (e * 1000 + 100).toLong
        val replay = if (e == 0) Seq.empty
          else ((e - 1) * 1000 + 1).toLong to ((e - 1) * 1000 + 100).toLong
        mem.addData(fresh ++ replay: _*)
        q.processAllAvailable()
        assert(trancheNames(idx).length <= 2,
          s"epoch $e: ${trancheNames(idx)}")
        val kept = spark.read.parquet(s"$out/batch=$e").as[Long].collect().toSet
        assert(replay.forall(!kept.contains(_)),
          s"epoch $e resurfaced absorbed keys")  // no false negatives
        assert(kept.count(fresh.contains) >= 90, s"epoch $e kept ${kept.size}")
      }
      // the folded index still answers exactly: everything ever
      // absorbed is possibly-seen, a disjoint range is provably new
      val seen = BloomIndex.possiblySeenAgainstBloomIndex(
        (1L to 5100L).toDF("key"), idx, "key").as[Long].collect().toSet
      assert((1L to 100L).forall(seen.contains) &&
        (5001L to 5100L).forall(seen.contains))
    } finally q.stop()
  }

  test("sketchStream count-triggered fold: fan-in bounded, registers ≡ whole-corpus sketch") {
    import graft.profile.Sketches
    val base = tempDir("graft_sketch_fold")
    val dir = s"$base/s"; val ck = s"$base/ck"
    val mem = MemoryStream[Long](spark, 1)
    val q = StreamingOps.sketchStream(mem.toDF.toDF("k"), dir, "k",
      checkpointDir = ck, maxLiveTranches = 2)
    try {
      for (e <- 0 until 6) {
        mem.addData((e * 500 + 1).toLong to (e * 500 + 200).toLong: _*)
        q.processAllAvailable()
        assert(trancheNames(dir).length <= 2, s"epoch $e: ${trancheNames(dir)}")
      }
      assertSameRows(Sketches.readSketch(spark, dir),
        Sketches.hllSketch((0 until 6).flatMap(e =>
          (e * 500 + 1).toLong to (e * 500 + 200).toLong).toDF("k"), "k"))
    } finally q.stop()
  }

  test("indexedDedupStream auto-fold: witness fan-in bounded across 3N epochs, decisions unchanged") {
    val base = tempDir("graft_dedup_fold")
    val idx = s"$base/idx"; val out = s"$base/out"; val ck = s"$base/ck"
    val seed = "the quick brown fox jumps over the lazy dog"
    graft.dedup.DedupOps.writeDedupIndex(
      Seq((1L, seed)).toDF("doc_id", "text"), idx, "doc_id", "text")
    val uniques = Seq(
      "solar panels convert light into electric current",
      "the committee approved new funding for libraries",
      "glaciers retreat as mountain temperatures rise",
      "a recipe for sourdough needs patient fermentation",
      "satellites relay telemetry across polar orbits",
      "the orchestra rehearsed the symphony all evening")
    val mem = MemoryStream[(Long, String)](spark, 1)
    val q = StreamingOps.indexedDedupStream(
      mem.toDF.toDF("doc_id", "text"), idx, out, "doc_id", "text",
      checkpointDir = ck, threshold = 0.5, maxLiveTranches = 2)
    try quietStorageLogs {
      for (e <- 0 until 6) {
        // each epoch: one exact dup of the seed (must drop, even when
        // the seed's tranche was folded away) + one genuinely new doc
        mem.addData((100L + 2 * e, seed), (101L + 2 * e, uniques(e)))
        q.processAllAvailable()
        assert(trancheNames(s"$idx/fp").length <= 2,
          s"epoch $e: ${trancheNames(s"$idx/fp")}")
      }
      val survivors = spark.read.parquet(out).select("doc_id")
        .as[Long].collect().toSet
      assert(survivors == (0 until 6).map(e => 101L + 2 * e).toSet)
      // post-fold probe still exact: the seed (absorbed before any
      // fold) and a survivor (absorbed after the last) both dedup out
      val probe = graft.dedup.DedupOps.dedupAgainstIndex(
        Seq((900L, seed), (901L, uniques(5)), (902L, "entirely novel closing sentence here"))
          .toDF("doc_id", "text"), idx, "doc_id", "text")
      assert(probe.select("doc_id").as[Long].collect().toSet == Set(902L))
    } finally q.stop()
  }

  test("imageDedupStream: monitor-then-absorb on perceptual hashes, fold bounds fan-in") {
    import graft.multimodal.MultimodalOps
    val base = tempDir("graft_img_stream")
    val idx = s"$base/idx"; val out = s"$base/out"; val ck = s"$base/ck"
    val mem = MemoryStream[(Long, Array[Byte])](spark, 1)
    val q = StreamingOps.imageDedupStream(mem.toDF.toDF("media_id", "content"),
      idx, out, checkpointDir = ck, maxLiveTranches = 1)
    try {
      def epochIds(e: Int) = spark.read.parquet(s"$out/batch=$e")
        .select("media_id").as[Long].collect().toSet
      mem.addData((1L, png(4, 0, 0)), (2L, png(0, 4, 0)))
      q.processAllAvailable()
      assert(epochIds(0) == Set(1L, 2L))        // births the index
      mem.addData((10L, png(4, 0, 2)),          // re-exposed copy of 1 → drops
        (11L, png(13, 1, 0)))                   // new pattern → survives
      q.processAllAvailable()
      assert(epochIds(1) == Set(11L))
      assert(trancheNames(idx).length <= 1)     // auto-fold at maxLive = 1
      mem.addData((20L, png(13, 1, 2)))         // ≈ epoch-1 survivor → drops
      q.processAllAvailable()
      assert(epochIds(2).isEmpty)
      assert(trancheNames(idx).length <= 1)
    } finally q.stop()
  }

  /** A tranche family under test: write tranche `i` (two distinct
    * ingests per family), the merged read as comparable rows, the fold. */
  private case class Family(name: String, write: (String, Int) => Unit,
                            read: String => Set[String], fold: String => Unit)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** The four idempotent families (day-keyed HLL, flat HLL, Bloom,
    * image hash) — the sum family joins the tick test only. */
  private lazy val idempotentFamilies: Seq[Family] = {
    import graft.multimodal.MultimodalOps
    import graft.profile.Sketches
    import graft.relational.BloomIndex
    def users(i: Int) = (1 to 60).map(u => (s"u${u + 40 * i}",
      java.sql.Timestamp.valueOf(s"2024-01-0${1 + (u + i) % 3} 10:00:00")))
      .toDF("user_id", "ts")
    Seq(
      Family("dayhll",
        (dir, i) => Sketches.writeDayHllTranche(users(i), "user_id", "ts", dir, s"t$i"),
        dir => rows(Sketches.readDayHll(spark, dir)),
        dir => Sketches.consolidateDayHll(spark, dir)),
      Family("hll",
        (dir, i) => Sketches.writeSketchTranche(
          Sketches.hllSketch(users(i), "user_id"), dir, s"t$i"),
        dir => rows(Sketches.readSketch(spark, dir)),
        dir => Sketches.consolidateSketch(spark, dir)),
      Family("pos",
        (dir, i) => BloomIndex.writeBloomTranche(
          ((50L * i + 1) to (50L * i + 60)).toDF("id"), "id", dir, s"t$i"),
        dir => rows(BloomIndex.readBloomPositions(spark, dir)),
        dir => BloomIndex.consolidateBloom(spark, dir)),
      Family("dhash",
        (dir, i) => MultimodalOps.writeImageHashTranche(spark,
          Seq((10L * i + 1, png(4 + i, 1, 0)), (10L * i + 2, png(1, 7 + i, 0)))
            .toDF("media_id", "content"), dir, s"t$i"),
        dir => rows(MultimodalOps.readImageHashes(spark, dir)),
        dir => MultimodalOps.consolidateImageHashIndex(spark, dir)))
  }

  test("maybeConsolidate ticks: no-op at ≤ maxLive, fold above it, content identical") {
    import graft.profile.HistSketch
    import graft.util.Tranches
    val hist = Family("hist",
      (dir, i) => HistSketch.writeHistTranche(HistSketch.histSketch(
        ((100 * i + 1) to (100 * i + 80)).map(_.toLong).toDF("v"), "v"), dir, s"t$i"),
      dir => rows(HistSketch.readHist(spark, dir)),
      dir => HistSketch.consolidateHist(spark, dir))
    for (f <- idempotentFamilies :+ hist) {
      val dir = s"${tempDir("graft_maybe_fold")}/${f.name}"
      f.write(dir, 0); f.write(dir, 1)
      val before = f.read(dir)
      assert(!Tranches.maybeFold(spark, dir, 2)(f.fold(dir)), f.name)  // 2 ≤ 2
      assert(trancheNames(dir).length == 2, f.name)
      assert(Tranches.maybeFold(spark, dir, 1)(f.fold(dir)), f.name)   // 2 > 1
      assert(trancheNames(dir).length == 1, f.name)
      assert(f.read(dir) == before, f.name)
    }
  }

  test("idempotent folds: crash remnants never change the read; health ignores scratch, re-fold converges") {
    import graft.util.Tranches
    import org.apache.commons.io.FileUtils
    def gauge(dir: String, f: Family) = {
      val r = Tranches.health(spark, dir, f.name).head()
      (r.getString(0), r.getInt(1), r.getInt(3))
    }
    for (f <- idempotentFamilies) {
      val base = tempDir(s"graft_fold_crash_${f.name}")
      val dir = s"$base/idx"
      f.write(dir, 0); f.write(dir, 1)
      val want = f.read(dir)
      val input = new java.io.File(s"$base/t0-copy")
      FileUtils.copyDirectory(new java.io.File(s"$dir/batch=t0"), input)
      // the fold: exactly one consolidated tranche, same read
      f.fold(dir)
      val folded = trancheNames(dir)
      assert(folded.length == 1 && folded.head.startsWith("batch=consolidated-"),
        s"${f.name}: $folded")
      assert(f.read(dir) == want, f.name)
      // crash before the rename: a stale scratch dir is invisible
      FileUtils.copyDirectory(new java.io.File(s"$dir/${folded.head}"),
        new java.io.File(s"$dir/.consolidating-stale"))
      assert(f.read(dir) == want, f.name)
      assert(gauge(dir, f) == ((f.name, 1, 0)), f.name)
      // crash after the rename, before the input delete: an input
      // beside the folded tranche merges away
      FileUtils.copyDirectory(input, new java.io.File(s"$dir/batch=t0"))
      assert(f.read(dir) == want, f.name)
      assert(gauge(dir, f) == ((f.name, 2, 0)), f.name)
      // the next fold converges to one tranche, same read
      f.fold(dir)
      val refolded = trancheNames(dir)
      assert(refolded.length == 1 && refolded.head.startsWith("batch=consolidated-"),
        s"${f.name}: $refolded")
      assert(f.read(dir) == want, f.name)
    }
  }
}
