package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Hashes
import graft.io.Readers

/** Multimodal (image/audio/video) column handling: opaque `binary`
  * payloads + typed metadata, with decode / feature-extraction /
  * resize / frame-sampling plumbing.
  *
  * Extension surface beyond the reference (BASELINE.json north star).
  *
  * The actual media codecs are NOT in this environment, so the decode
  * kernels are deliberate deterministic STUBS (clearly marked) — what
  * is real and tested is the Spark-side plumbing: binary schema,
  * batched per-partition processing (the Scala analog of
  * `mapInPandas` — one iterator pass, no per-row overhead, no driver
  * collect), partition sizing, and the explode-based frame sampler.
  * At 100 TB the payload column dominates I/O: keep media in its own
  * parquet column so column pruning skips it unless decoded, and size
  * `maxRecordsPerFile` / `files.maxPartitionBytes` to the payload, not
  * the row count.
  */
object MultimodalOps {

  /** Canonical media row: payload + source metadata. */
  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType)))

  /** Wrap a string column as an opaque binary payload column (stand-in
    * for `spark.read.format("binaryFile")` content at test scale). */
  def attachBinary(df: DataFrame, idCol: String, payloadCol: String,
                   mediaType: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      col(payloadCol).cast(BinaryType).as("content"),
      lit(mediaType).as("media_type"),
      octet_length(col(payloadCol)).cast(LongType).as("n_bytes"))

  /** STUB image decode, native-expression tier: deterministic fake
    * dimensions derived from the payload hash (a real deployment swaps
    * in a codec inside [[decodeBatched]]). Shuffle-free projection.
    */
  def fakeDecodeMeta(df: DataFrame): DataFrame = {
    val h = Hashes.portable(md5(col("content")))
    df.withColumn("width", (lit(64) + pmod(h, lit(1217))).cast(IntegerType))
      .withColumn("height", (lit(64) + pmod(h, lit(977))).cast(IntegerType))
      .withColumn("channels", lit(3))
  }

  /** REAL image metadata, native-expression tier: payloads that carry a
    * well-formed PNG signature + IHDR chunk get their true dimensions
    * parsed straight from the header bytes — `substring` on binary +
    * `hex`/`conv` big-endian reads, all built-in codegen'd expressions,
    * so the 100 TB posture is identical to the stub's (shuffle-free
    * projection, no UDF, payload column prunable). Channels map from
    * the IHDR color-type byte (grayscale 1, rgb 3, palette 1, gray+α 2,
    * rgb+α 4). Non-PNG payloads fall back to [[fakeDecodeMeta]]'s
    * deterministic stub, keeping the operator total on mixed corpora.
    *
    * Header layout parsed (byte positions 1-based): 1-8 signature
    * `89 50 4E 47 0D 0A 1A 0A`, 13-16 ASCII "IHDR", 17-20 width,
    * 21-24 height, 26 color type.
    */
  def decodeMeta(df: DataFrame): DataFrame = {
    def beInt(pos: Int, len: Int) =
      conv(hex(substring(col("content"), pos, len)), 16, 10).cast(LongType)
    // malformed headers claiming a dimension > Int.MaxValue (e.g.
    // 0xFFFFFFFF) would wrap negative under the non-ANSI Int cast —
    // bounds-gate them into the deterministic stub fallback instead
    val isPng = octet_length(col("content")) >= 33 &&
      hex(substring(col("content"), 1, 8)) === lit("89504E470D0A1A0A") &&
      hex(substring(col("content"), 13, 4)) === lit("49484452") &&
      beInt(17, 4) <= lit(Int.MaxValue.toLong) &&
      beInt(21, 4) <= lit(Int.MaxValue.toLong)
    val channels = beInt(26, 1)
    val pngChannels = when(channels === 0, 1).when(channels === 2, 3)
      .when(channels === 3, 1).when(channels === 4, 2).when(channels === 6, 4)
      .otherwise(3)
    val h = Hashes.portable(md5(col("content")))
    df.withColumn("width",
        when(isPng, beInt(17, 4)).otherwise(lit(64) + pmod(h, lit(1217)))
          .cast(IntegerType))
      .withColumn("height",
        when(isPng, beInt(21, 4)).otherwise(lit(64) + pmod(h, lit(977)))
          .cast(IntegerType))
      .withColumn("channels", when(isPng, pngChannels).otherwise(lit(3))
        .cast(IntegerType))
  }

  /** REAL audio metadata, native-expression tier — the audio twin of
    * [[decodeMeta]]: payloads carrying a canonical PCM WAV header
    * (RIFF/WAVE with the `fmt ` chunk at offset 12 and `data` at 36,
    * the layout every standard PCM writer emits) get channels, sample
    * rate, bit depth, frame count and duration parsed straight from
    * the header bytes. Little-endian fields are assembled from per-byte
    * `substring`+`conv` reads (all built-in codegen'd expressions — no
    * UDF, shuffle-free, payload column prunable), and the duration is
    * exact integer arithmetic: `n_frames = data_size div block_align`,
    * `duration_ms = n_frames·1000 div sample_rate`.
    *
    * Non-WAV / malformed payloads (wrong magic, non-PCM format tag,
    * zero block-align or sample rate, rate above Int.MaxValue) fall
    * back to a deterministic hash-derived stub (`decoded_wav = false`)
    * keeping the operator total on mixed corpora — the
    * [[decodeMeta]]/PNG stance exactly.
    *
    * Header layout parsed (1-based): 1-4 "RIFF", 9-12 "WAVE", 13-16
    * "fmt ", 21-22 format tag (1 = PCM, 3 = IEEE float), 23-24
    * channels, 25-28 sample rate, 33-34 block align, 35-36 bits per
    * sample, 37-40 "data", 41-44 data size.
    */
  def decodeAudioMeta(df: DataFrame): DataFrame = {
    def u8(pos: Int) =
      conv(hex(substring(col("content"), pos, 1)), 16, 10).cast(LongType)
    def le(pos: Int, len: Int) =
      (0 until len).map(i => u8(pos + i) * lit(1L << (8 * i)))
        .reduce((a, b) => a + b)
    val isWav = octet_length(col("content")) >= 44 &&
      hex(substring(col("content"), 1, 4)) === lit("52494646") &&
      hex(substring(col("content"), 9, 8)) === lit("57415645666D7420") &&
      hex(substring(col("content"), 37, 4)) === lit("64617461") &&
      (le(21, 2) === 1L || le(21, 2) === 3L) &&
      le(23, 2) > 0L && le(25, 4) > 0L &&
      le(25, 4) <= lit(Int.MaxValue.toLong) && le(33, 2) > 0L
    val h = Hashes.portable(md5(col("content")))
    val stubDur = lit(500L) + pmod(h, lit(60000L))
    df.withColumn("__wav", isWav)
      .withColumn("__ds", le(41, 4))
      .withColumn("__ba", le(33, 2))
      .withColumn("__sr", when(col("__wav"), le(25, 4)).otherwise(lit(16000L)))
      .withColumn("sample_rate", col("__sr").cast(IntegerType))
      .withColumn("channels",
        when(col("__wav"), le(23, 2)).otherwise(lit(1L) + pmod(h, lit(2L)))
          .cast(IntegerType))
      .withColumn("bits_per_sample",
        when(col("__wav"), le(35, 2)).otherwise(lit(16L)).cast(IntegerType))
      .withColumn("n_frames",
        when(col("__wav"), expr("__ds div __ba"))
          .otherwise(stubDur * 16L).cast(LongType)) // stub: 16 frames/ms at 16 kHz
      .withColumn("duration_ms",
        when(col("__wav"), expr("((__ds div __ba) * 1000) div __sr"))
          .otherwise(stubDur).cast(LongType))
      .withColumn("decoded_wav", col("__wav"))
      .drop("__wav", "__ds", "__ba", "__sr")
  }

  final case class MediaFeatures(media_id: Long, n_bytes: Long,
                                 mean_byte: Double, first_byte: Int)

  /** Batched per-partition feature extraction — the Scala analog of the
    * `mapInPandas` pattern: one pass over each partition's iterator,
    * constant memory, executor-side only. The kernel here is a
    * deterministic STUB (byte statistics); a real deployment replaces
    * the loop body with a codec/model call, batching stays identical.
    */
  def decodeBatched(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.select("media_id", "content").as(Encoders.tuple(
      Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          // --- STUB kernel: replace with real decode at deploy time ---
          val n = bytes.length
          val mean = if (n == 0) 0.0 else bytes.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / n
          MediaFeatures(id, n.toLong, mean, if (n == 0) -1 else bytes(0) & 0xff)
        }
      }
  }

  final case class ImageFeatures(media_id: Long, n_bytes: Long,
                                 width: Int, height: Int,
                                 mean_luma: Double, decoded: Boolean)

  /** REAL batched image decode via the JDK's built-in `javax.imageio`
    * (PNG/JPEG/GIF/BMP — an actual codec, no external dependency):
    * same per-partition iterator shape as [[decodeBatched]], one image
    * in flight per task at a time (constant memory regardless of
    * payload size). Payloads ImageIO cannot decode degrade to the
    * deterministic byte-statistics stub with `decoded = false` — the
    * operator stays total on mixed/corrupt corpora, and the flag lets
    * a pipeline route failures to quarantine instead of silently
    * training on stub features.
    */
  def decodeImageBatched(spark: SparkSession, media: DataFrame): Dataset[ImageFeatures] = {
    implicit val enc = Encoders.product[ImageFeatures]
    media.select("media_id", "content").as(Encoders.tuple(
      Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img =
            try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
            catch { case scala.util.control.NonFatal(_) => None }
          img match {
            case Some(im) =>
              val (w, hgt) = (im.getWidth, im.getHeight)
              // mean luminance over the decoded raster — bounded work:
              // one pass, no intermediate image copy
              var sum = 0.0
              var y = 0
              while (y < hgt) {
                var x = 0
                while (x < w) {
                  val rgb = im.getRGB(x, y)
                  sum += 0.299 * ((rgb >> 16) & 0xff) +
                    0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                  x += 1
                }
                y += 1
              }
              ImageFeatures(id, bytes.length.toLong, w, hgt,
                sum / math.max(1, w * hgt), decoded = true)
            case None =>
              val n = bytes.length
              val mean = if (n == 0) 0.0
                else bytes.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / n
              ImageFeatures(id, n.toLong, -1, -1, mean, decoded = false)
          }
        }
      }
  }

  final case class ImageHash(media_id: Long, dhash: Long, decoded: Boolean)

  /** PERCEPTUAL 64-bit dHash of an image payload — the hash that
    * makes image near-dup detection a [[graft.dedup.DedupOps
    * .simhashNearDupPairs]]-shaped problem: re-encoded, resized, or
    * slightly-retouched copies of one image land within a few bits of
    * each other, because the hash reads the image's coarse luminance
    * GRADIENT structure, not its bytes. Classic dHash construction:
    * decode → block-average down to a 9×8 grayscale grid (BT.601 luma,
    * the [[decodeImageBatched]] constants) → bit `r·8+c` set iff
    * `gray(r, c+1) > gray(r, c)` (each of the 8 rows compares its 9
    * cells into 8 bits). Same per-partition iterator shape as
    * [[decodeImageBatched]]: one image in flight per task, constant
    * memory, executor-side only.
    *
    * Payloads ImageIO cannot decode degrade to a deterministic
    * byte-grid STUB (`decoded = false`): cell (r,c) reads byte
    * `(r·9+c) mod n` — same comparison ladder, so the operator stays
    * total on mixed corpora AND the stub tier is exactly replayable
    * byte-for-byte by an oracle over ASCII fixtures (`ascii(substr(
    * text, 1 + (k % n), 1))`). Empty payloads hash to 0.
    */
  def imageDHash(spark: SparkSession, media: DataFrame): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    media.select("media_id", "content").as(Encoders.tuple(
      Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img =
            try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
            catch { case scala.util.control.NonFatal(_) => None }
          val gray: Array[Double] = img match {
            case Some(im) =>
              val (w, h) = (im.getWidth, im.getHeight)
              val g = new Array[Double](72)
              var r = 0
              while (r < 8) {
                var c = 0
                while (c < 9) {
                  // block-average pooling with ≥1-pixel cells: integer
                  // boundaries k*dim/9 (resp /8), upper bound forced
                  // past the lower so 1×1 images still pool
                  val x0 = c * w / 9; val x1 = math.max(x0 + 1, (c + 1) * w / 9)
                  val y0 = r * h / 8; val y1 = math.max(y0 + 1, (r + 1) * h / 8)
                  var sum = 0.0; var y = y0
                  while (y < y1 && y < h) {
                    var x = x0
                    while (x < x1 && x < w) {
                      val rgb = im.getRGB(x, y)
                      sum += 0.299 * ((rgb >> 16) & 0xff) +
                        0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                      x += 1
                    }
                    y += 1
                  }
                  val nPix = math.max(1, (math.min(x1, w) - x0) * (math.min(y1, h) - y0))
                  g(r * 9 + c) = sum / nPix
                  c += 1
                }
                r += 1
              }
              g
            case None =>
              val n = bytes.length
              val g = new Array[Double](72)
              if (n > 0) {
                var i = 0
                while (i < 72) { g(i) = (bytes(i % n) & 0xff).toDouble; i += 1 }
              }
              g
          }
          var hash = 0L
          var r = 0
          while (r < 8) {
            var c = 0
            while (c < 8) {
              if (gray(r * 9 + c + 1) > gray(r * 9 + c))
                hash |= (1L << (r * 8 + c))
              c += 1
            }
            r += 1
          }
          ImageHash(id, hash, img.isDefined)
        }
      }
  }

  /** Perceptual image NEAR-DUP pairs — the dedup×multimodal closure:
    * [[imageDHash]] signatures through the [[graft.dedup.DedupOps
    * .bandedHammingPairs]] pigeonhole (64 bits in 8 byte-bands: any
    * two hashes within `maxHamming ≤ 7` differing bits agree exactly
    * on ≥1 band, so candidates meet in ONE (band, slice) equi-join —
    * never all-pairs — and the exact hamming filter keeps true
    * near-dups). Returns `(id_a, id_b, hamming)`, id_a < id_b. The
    * 100 TB shape is the SimHash tier's: 8 bytes of signature per
    * image crosses the shuffle, the decoded rasters never do, and hot
    * buckets (flat/black images all hashing alike) drop at
    * `maxBucket` — a band value shared by that many images carries no
    * near-dup signal. */
  def imageNearDupPairs(spark: SparkSession, media: DataFrame,
                        maxHamming: Int = 6, bands: Int = 8,
                        maxBucket: Int = 10000): DataFrame =
    graft.dedup.DedupOps.bandedHammingPairs(
      imageDHash(spark, media).toDF()
        .select(org.apache.spark.sql.functions.col("media_id").as("__id"),
          org.apache.spark.sql.functions.col("dhash").as("__sig")),
      bits = 64, maxHamming = maxHamming, bands = bands, maxBucket = maxBucket)

  /** TRANSITIVE image near-dup groups — [[imageNearDupPairs]] closed
    * under connectedness (A≈B≈C is one re-share chain even when A and
    * C drifted past `maxHamming` apart): pairs → distributed
    * connected components → every media id back-joined to its group
    * (absent ids = singleton groups). Output `(media_id, group_id,
    * group_size)`; keep-one-representative is then
    * `where($"group_id" === $"media_id")`. Scale shape: the CC runs
    * on the pair set (near-dup-sized, not corpus-sized), and the
    * group join is the [[graft.graph.GraphOps.assignGroups]]
    * broadcast form. */
  def imageNearDupGroups(spark: SparkSession, media: DataFrame,
                         maxHamming: Int = 6, bands: Int = 8,
                         maxBucket: Int = 10000): DataFrame = {
    val pairs = imageNearDupPairs(spark, media, maxHamming, bands, maxBucket)
    val cc = graft.graph.GraphOps.connectedComponents(pairs, "id_a", "id_b")
    graft.graph.GraphOps.assignGroups(
      media.select(col("media_id")), "media_id", cc)
  }

  // ---- at-rest IMAGE-HASH index ------------------------------------

  /** AT-REST image-hash artifact — the image twin of the dedup sig
    * tier, with the BLOOM family's crash story: tranches of
    * `(media_id, dhash)` rows are SETS (a replayed epoch's distinct
    * rewrite converges; union is idempotent), so consolidation is a
    * plain distinct rewrite with NO superseding manifest, and the
    * probe reads 9 bytes per historical image — never a raster, never
    * a payload. One ingest = one `batch=<tag>` tranche, overwriting
    * its own tag. */
  def writeImageHashTranche(spark: SparkSession, media: DataFrame,
                            dir: String, tag: String): Unit =
    imageDHash(spark, media).toDF()
      .select(col("media_id"), col("dhash")).distinct()
      .write.mode("overwrite").parquet(s"$dir/batch=$tag")

  /** The merged history hash set (distinct across tranches). */
  def readImageHashes(spark: SparkSession, dir: String): DataFrame =
    Readers.parquet(spark, dir).select("media_id", "dhash").distinct()

  /** Keep the batch images NOT perceptually matching any HISTORY
    * image — the incremental steady state of image dedup: today's
    * batch is hashed once, banded against the at-rest hash set (ONE
    * (band, slice) equi-join, maxBucket-capped on the history side),
    * and survivors pass through with their hash attached (`dhash`
    * column — so the append the caller does next never re-decodes).
    * Within-batch duplicates are NOT collapsed (the gate is vs
    * history; compose with [[imageNearDupGroups]] upstream), matching
    * [[graft.relational.BloomIndex]]'s stream contract. */
  def imageDedupAgainstIndex(spark: SparkSession, batch: DataFrame,
                             dir: String, maxHamming: Int = 6,
                             bands: Int = 8, maxBucket: Int = 10000): DataFrame = {
    // The `(media_id, dhash)` frame (16 bytes/row) is PERSISTED (the
    // dedup pair finders' caching contract, `graft.util.Materialize`)
    // so the decode — the dominant cost, one ImageIO pass per payload —
    // runs exactly once however many plan branches read the hashes
    // (unpersisted, the probe subtree re-expanded into THREE decode
    // passes over the batch); the history side is a 9-byte/image
    // artifact scan whose hot-bucket cap comes from a single-pass count
    // window, not a self-join that would scan the artifact twice.
    require(bands > maxHamming,
      s"imageDedupAgainstIndex: need bands ($bands) > maxHamming ($maxHamming)")
    require(64 % bands == 0, s"bands=$bands must divide 64")
    val width = 64 / bands
    val mask = if (width >= 64) -1L else (1L << width) - 1
    def banded(df: DataFrame, idCol: String, sigCol: String) =
      df.select(col(idCol), col(sigCol),
        posexplode(array((0 until bands).map(b =>
          call_function("shiftright", col(sigCol), lit(b * width)).bitwiseAND(lit(mask))): _*))
          .as(Seq("__band", "__key")))
    val batchHashed = graft.util.Materialize.persist(
      imageDHash(spark, batch.select("media_id", "content")).toDF()
        .select(col("media_id"), col("dhash")))
    val hist = readImageHashes(spark, dir)
      .select(col("media_id").as("__hid"), col("dhash").as("__hsig"))
    // hot-bucket cap on the HISTORY side (a band value shared by that
    // many historical images carries no near-dup signal, it only
    // explodes the join) — count window over the already-shuffled
    // banded frame, one artifact scan total
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy("__band", "__key")
    val histBanded = banded(hist, "__hid", "__hsig")
      .withColumn("__n", count(lit(1)).over(wBucket))
      .where(col("__n") <= maxBucket)
      .drop("__n")
    val hit = banded(batchHashed, "media_id", "dhash")
      .join(histBanded, Seq("__band", "__key"))
      .where(graft.dedup.DedupOps.hammingDistance(col("dhash"), col("__hsig"))
        <= maxHamming)
      .select(col("media_id")).distinct()
    batch.join(batchHashed, Seq("media_id"))
      .join(hit, Seq("media_id"), "left_anti")
  }

  /** Fold the hash tranches to one distinct set
    * ([[graft.util.Tranches.foldIdempotent]] — set semantics: a crash
    * that leaves folded + inputs visible changes nothing); auto-fold
    * with `Tranches.maybeFold`, gauge with `Tranches.health(spark,
    * dir, "dhash")`. */
  def consolidateImageHashIndex(spark: SparkSession, dir: String): Unit =
    graft.util.Tranches.foldIdempotent(spark, dir)(readImageHashes(spark, dir))

  /** Frame sampling for (fake) video payloads: every `step`-th frame
    * index of `n_frames` derived from payload size — the explode keeps
    * sampling distributed and prunes the payload column immediately.
    */
  def sampleFrames(df: DataFrame, bytesPerFrame: Int = 100, step: Int = 10): DataFrame =
    df.select(col("media_id"),
        explode(sequence(lit(0),
          (col("n_bytes") / bytesPerFrame).cast(IntegerType),
          lit(step))).as("frame_idx"))

  /** STUB resize: recompute fake dims to a bounded box, preserving the
    * plumbing (projection over decoded metadata). The scale is staged
    * into its own column BEFORE either dimension is replaced — chaining
    * `withColumn("width", f(scale)).withColumn("height", f(scale))`
    * with an unstaged `scale` expression would re-evaluate it against
    * the already-resized width and break the aspect ratio (caught by
    * the q_mm_resize oracle). */
  def fakeResize(df: DataFrame, maxSide: Int): DataFrame =
    df.withColumn("__scale", least(lit(1.0),
        lit(maxSide) / greatest(col("width"), col("height")).cast(DoubleType)))
      .withColumn("width", floor(col("width") * col("__scale")).cast(IntegerType))
      .withColumn("height", floor(col("height") * col("__scale")).cast(IntegerType))
      .drop("__scale")
}
