package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media row: opaque bytes + typed metadata (the multimodal column
  * pattern — image/audio/video as `binary` with a metadata struct). */
final case class MediaRow(
    media_id: Long, kind: String, bytes: Array[Byte],
    mime: String, width: Int, height: Int, duration_ms: Long)

/** Extracted per-media features (decode output shape). */
final case class MediaFeatures(
    media_id: Long, kind: String, n_bytes: Long, sha_prefix: String,
    frames_sampled: Int, embedding: Array[Float])

/** Per-image decoded metadata ([[Multimodal.decodeImages]]). */
final case class ImageMeta(
    media_id: Long, decoded: Boolean, width: Int, height: Int,
    mean_luma: Double)

/** Per-audio decoded metadata ([[Multimodal.decodeAudios]]). */
final case class AudioMeta(
    media_id: Long, decoded: Boolean, sample_rate: Int,
    n_frames: Long, duration_ms: Long)

/** Per-video container metadata ([[Multimodal.videoMeta]]). */
final case class VideoMeta(
    media_id: Long, ok: Boolean, brand: String, duration_ms: Long,
    width: Int, height: Int)

/** One demuxed-and-decoded video frame ([[Multimodal.videoFrames]]).
  */
final case class FrameRow(
    media_id: Long, frame_idx: Int, decoded: Boolean, width: Int,
    height: Int, mean_luma: Double)

/** Multimodal-column operators for the training-data pipeline.
  *
  * The Spark-side plumbing is real — schemas, partitioning, batch
  * shape (mapPartitions = the JVM analog of mapInPandas batches).
  * The IMAGE path decodes for real via `javax.imageio` and the AUDIO
  * path via `javax.sound.sampled` (both ship with the JDK):
  * [[decodeImages]]/[[decodeAudios]] and the corresponding branches
  * of [[extractFeatures]] read true pixel/sample data, with the
  * deterministic stub as the fallback for undecodable payloads.
  * VIDEO decodes for real for Motion-JPEG: [[videoFrames]] demuxes
  * the MP4 sample table (stsz/stco) and decodes each sampled frame
  * through the JDK's real JPEG codec. Inter-frame codecs (H.264 …)
  * have no JDK decoder — [[frameSampleStub]] keeps that path's batch
  * shape so a JNI/ffmpeg codec can slot in without touching the
  * pipeline: everything else is codec-agnostic.
  *
  * Scale notes: media bytes never shuffle — features are extracted in
  * the scan stage (mapPartitions over the storage partitioning) and
  * only the small feature rows flow on. Metadata predicates
  * (kind/mime/size) are plain columns, so partition pruning and
  * pushdown work before any bytes are touched.
  */
object Multimodal {

  // ImageIO's default stream cache spools every (de)coded stream
  // through a temp FILE (FileCacheImageInputStream) — pure overhead
  // for in-memory byte[] payloads, and an FS-metadata hotspot when a
  // partition batch decodes tens of thousands of images (profiled:
  // mm03 spent most of its time in temp-file churn). One JVM-wide
  // switch flips both read and write paths to memory-backed streams.
  javax.imageio.ImageIO.setUseCache(false)

  /** ---- STUB ---- deterministic fake "decode" of one media blob.
    * Real implementation: image decode + resize / audio resample /
    * video frame sampling. The fake derives stable pseudo-features
    * from the bytes so tests are exact. */
  private[multimodal] def decodeStub(bytes: Array[Byte], kind: String,
                                     frameEvery: Int): (Int, Array[Float]) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(bytes)
    val nFrames = kind match {
      case "video" => math.max(1, bytes.length / math.max(frameEvery, 1))
      case _ => 1
    }
    val emb = Array.tabulate(8) { i =>
      ((d(i * 2 & 15) & 0xff) * 256 + (d(i * 2 + 1 & 15) & 0xff)) / 65535f
    }
    (nFrames, emb)
  }

  /** REAL image decode: `javax.imageio` (JDK built-in, zero new
    * dependencies). Returns None for payloads no registered reader
    * accepts — the caller decides the fallback. */
  private[multimodal] def decodeImage(
      bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes)))
    catch { case _: Exception => None }

  /** All pixels as packed sRGB ints, row-major — ONE bulk getRGB call
    * per image. The per-pixel `getRGB(x, y)` overload routes every
    * pixel through `Raster.getDataElements` (a fresh transfer-array
    * allocation per call on the byte-interleaved rasters JPEG/PNG
    * decode to) plus a virtual color-model dispatch; a 20k-pixel
    * frame paid 20k allocations. The bulk overload runs the SAME
    * color-model conversion over a reused transfer object into one
    * int[] — bit-identical values (profiled on mm10: the per-pixel
    * loop's allocation churn was the query's GC signature). */
  private def pixelsRGB(
      img: java.awt.image.BufferedImage): Array[Int] =
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0,
      img.getWidth)

  /** 8-dim feature from real pixels: mean luminance of 8 vertical
    * strips, in [0,1] (Rec.601 luma). Deterministic, codec-honest. */
  private[multimodal] def stripLuma(
      img: java.awt.image.BufferedImage): Array[Float] = {
    val w = img.getWidth
    val h = img.getHeight
    val px = pixelsRGB(img)
    val sums = new Array[Double](8)
    val counts = new Array[Long](8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = px(y * w + x)
        val luma = 0.299 * ((rgb >> 16) & 0xff) +
          0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
        val s = x * 8 / w
        sums(s) += luma / 255.0
        counts(s) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(8)(i =>
      if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat)
  }

  /** Decode/feature-extract pass: one partition-local batch walk, no
    * shuffle (the mapInPandas-equivalent batch shape). Images decode
    * for real (ImageIO) with the stub as undecodable-payload
    * fallback; audio/video use the stub. */
  def extractFeatures(media: Dataset[MediaRow], frameEvery: Int = 4096)
      (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition setup cost amortized across the batch — where a
      // real codec would init its context once
      val sha = java.security.MessageDigest.getInstance("SHA-256")
      it.map { m =>
        val digest = sha.digest(m.bytes)
        val hex = digest.take(4).map(b => f"${b & 0xff}%02x").mkString
        val (frames, emb) =
          if (m.kind == "image")
            decodeImage(m.bytes).map(img => (1, stripLuma(img)))
              .getOrElse(decodeStub(m.bytes, m.kind, frameEvery))
          else if (m.kind == "audio")
            decodeAudioPcm(m.bytes)
              .map(pcm => (1, segmentAmplitude(pcm)))
              .getOrElse(decodeStub(m.bytes, m.kind, frameEvery))
          else decodeStub(m.bytes, m.kind, frameEvery)
        MediaFeatures(m.media_id, m.kind, m.bytes.length.toLong, hex,
          frames, emb)
      }
    }
  }

  /** REAL audio decode: `javax.sound.sampled` (JDK built-in).
    * Returns format + frame count; None for payloads no reader
    * accepts. */
  private[multimodal] def decodeAudio(
      bytes: Array[Byte]): Option[(javax.sound.sampled.AudioFormat, Long)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try Some((in.getFormat, in.getFrameLength))
      finally in.close()
    } catch { case _: Exception => None }

  /** Decoded PCM bytes of an audio payload, NORMALIZED to the 16-bit
    * signed little-endian mono frame layout [[segmentAmplitude]]
    * expects. AudioSystem also accepts AIFF (big-endian), AU (u-law)
    * and stereo streams — reading those raw would silently produce
    * byte-swapped/misaligned samples, so anything not already in the
    * target layout goes through the JDK's format-conversion stream;
    * None if unreadable or unconvertible (caller falls back). */
  private[multimodal] def decodeAudioPcm(
      bytes: Array[Byte]): Option[Array[Byte]] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val src = in.getFormat
        val isTarget =
          src.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            src.getSampleSizeInBits == 16 && src.getChannels == 1 &&
            !src.isBigEndian
        if (isTarget) Some(in.readAllBytes())
        else {
          val rate =
            if (src.getSampleRate > 0) src.getSampleRate else 8000f
          val target = new javax.sound.sampled.AudioFormat(
            rate, 16, 1, true, false)
          if (!javax.sound.sampled.AudioSystem
                .isConversionSupported(target, src)) None
          else {
            val conv = javax.sound.sampled.AudioSystem
              .getAudioInputStream(target, in)
            try Some(conv.readAllBytes()) finally conv.close()
          }
        }
      } finally in.close()
    } catch { case _: Exception => None }

  /** 8-dim feature from real samples: mean |amplitude| of 8 time
    * segments, 16-bit little-endian mono PCM, normalized to [0,1]. */
  private[multimodal] def segmentAmplitude(
      pcm: Array[Byte]): Array[Float] = {
    val n = pcm.length / 2
    val sums = new Array[Double](8)
    val counts = new Array[Long](8)
    var i = 0
    while (i < n) {
      val v = ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff)).toShort
      val s = if (n == 0) 0 else i * 8 / n
      sums(s) += math.abs(v / 32768.0)
      counts(s) += 1
      i += 1
    }
    Array.tabulate(8)(i =>
      if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat)
  }

  /** Audio metadata extraction over the binary column: real decode
    * (sample rate, frame count, duration), `decoded = false` for
    * payloads the reader rejects. Partition-local; bytes never
    * shuffle. */
  def decodeAudios(media: Dataset[MediaRow])
      (implicit spark: SparkSession): Dataset[AudioMeta] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        decodeAudio(m.bytes) match {
          // rate can be NOT_SPECIFIED (-1) and frame length -1 for
          // unknown-length streams: deriving a duration from those
          // gives negatives or divide-by-zero, so treat them as
          // undecodable metadata rather than crashing the task
          case Some((fmt, frames))
              if fmt.getSampleRate > 0 && frames >= 0 =>
            val rate = fmt.getSampleRate.toInt
            AudioMeta(m.media_id, decoded = true, rate, frames,
              frames * 1000L / rate)
          case _ =>
            AudioMeta(m.media_id, decoded = false, 0, 0L, 0L)
        }
      }
    }
  }

  /** Deterministic synthetic WAV: 16-bit mono PCM at 8 kHz, frame
    * count a formula of the id (duration_ms = 100 + id mod 400), a
    * sine fill — written through the real WAV encoder so decoding is
    * a true codec roundtrip. */
  private[multimodal] def syntheticWav(id: Long): Array[Byte] = {
    val rate = 8000
    val frames = 8 * (100 + (id % 400).toInt)   // = 8000 * ms / 1000
    val pcm = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      val v = (math.sin(2 * math.Pi * (220 + id % 220) * i / rate) *
        16000).toInt.toShort
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
      true, false)
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(stream,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Fixture/bench source: real WAV media rows generated executor-
    * side from an id column. */
  def syntheticWavMedia(ids: DataFrame, idCol: String = "doc_id")
      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val bytes = syntheticWav(id)
        MediaRow(id, "audio", bytes, "audio/wav", 0, 0,
          100L + (id % 400))
      }
    }
  }

  /** Image metadata extraction over the binary column: real decode,
    * real dimensions — `decoded = false` (dims 0) for payloads
    * ImageIO rejects. Partition-local; bytes never shuffle. */
  def decodeImages(media: Dataset[MediaRow])
      (implicit spark: SparkSession): Dataset[ImageMeta] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        decodeImage(m.bytes) match {
          case Some(img) =>
            val luma = stripLuma(img)
            ImageMeta(m.media_id, decoded = true, img.getWidth,
              img.getHeight, luma.sum / 8.0)
          case None =>
            ImageMeta(m.media_id, decoded = false, 0, 0, 0.0)
        }
      }
    }
  }

  /** Perceptual average-hash (aHash) over REAL decoded pixels — the
    * image analog of SimHash: near-identical images share bits, so
    * grouping/banding on the hash is image near-dup detection without
    * embeddings. 64 bits, one per cell of an 8×8 area-binned
    * downsample: bit(j,i) = 1 iff cell mean brightness > image mean.
    *
    * All-integer math so the hash is portable: brightness = r+g+b
    * (no luma rounding), cell membership i = x·8 div w, and the mean
    * compare is cross-multiplied (`cell_sum · n_px > total · n_cell`)
    * — no float division anywhere, which is what lets the mm05 oracle
    * recompute the exact bits in SQL from the fixture's pixel formula.
    * Emitted as a 64-char '0'/'1' string (row-major j, then i):
    * sortable, bandable by substring, and engine-portable (bit 63
    * would overflow a signed BIGINT in SQL).
    *
    * Scale shape: mapPartitions in the scan stage — bytes decoded
    * where they're read, only (id, 64-char hash) flows on. */
  def imageAHash(media: Dataset[MediaRow])
      (implicit spark: SparkSession): DataFrame =
    imageAHashN(media, 8, 8)

  /** Grid-parametric aHash: gridW×gridH cell means vs global mean,
    * one decode + one pixel pass per image, emitted as a bit string
    * of length gridW·gridH. `imageAHash` is the (8,8) special case —
    * byte-identical to the original (the mm05/mm06 oracles replicate
    * the 8×8 predicate in SQL). Wider grids exist because a 64-bit
    * hash saturates its band keyspace past ~1M images (the measured
    * 1000× birthday floor, BENCH_NOTES round 6) — 16×16 = 256 bits
    * keeps banded near-dup linear at corpus scale. Cells with no
    * pixels (image smaller than the grid in one axis) emit '0'
    * deterministically: 0·n > total·0 is false. */
  def imageAHashN(media: Dataset[MediaRow], gridW: Int, gridH: Int)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(gridW > 0 && gridH > 0, "grid must be positive")
    media.mapPartitions { it =>
      it.map { m =>
        decodeImage(m.bytes) match {
          case Some(img) =>
            val w = img.getWidth
            val h = img.getHeight
            val cellSum = Array.ofDim[Long](gridH, gridW)
            val cellCnt = Array.ofDim[Long](gridH, gridW)
            val px = pixelsRGB(img)
            var total = 0L
            var y = 0
            while (y < h) {
              val j = y * gridH / h
              var x = 0
              while (x < w) {
                val rgb = px(y * w + x)
                val s = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                  (rgb & 0xff)
                cellSum(j)(x * gridW / w) += s
                cellCnt(j)(x * gridW / w) += 1
                total += s
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            // cross-multiplied mean compare: exact integers, no
            // division. Products fit a Long only while 765·n² ≤
            // Long.Max (n ≲ 1.1e8 px); past ~100 MPix fall back to
            // BigInt so the hash bits stay correct (and stay parity
            // with the DuckDB oracle, whose hugeint never wraps).
            val big = n > 100000000L
            val bits = new java.lang.StringBuilder(gridW * gridH)
            var j = 0
            while (j < gridH) {
              var i = 0
              while (i < gridW) {
                val one =
                  if (!big) cellSum(j)(i) * n > total * cellCnt(j)(i)
                  else BigInt(cellSum(j)(i)) * n >
                    BigInt(total) * cellCnt(j)(i)
                bits.append(if (one) '1' else '0')
                i += 1
              }
              j += 1
            }
            (m.media_id, true, bits.toString)
          case None => (m.media_id, false, null: String)
        }
      }
    }.toDF("media_id", "decoded", "ahash_bits")
  }

  /** Banded perceptual-hash near-dup: ALL pairs within `maxHamming`
    * bits on the gridW×gridH aHash, recall = 1 BY PIGEONHOLE — the
    * hash splits into maxHamming+1 contiguous equal-width bands, so
    * a pair differing in ≤ maxHamming bits agrees on at least one
    * whole band and cannot miss the band equi-join.
    *
    * Scale shape: pixels never shuffle — the banding stage moves slim
    * (band-key, id) rows only, and band keys ride as xxhash64 of the
    * band substring (hashing MERGES buckets, never splits, so recall
    * is unharmed; a 2^-64 false merge just adds a candidate that the
    * exact verify rejects). Verification pulls the hash chunks back
    * by id for candidates only and counts bits over 32-bit-chunk
    * XORs. Candidate volume is governed by the band keyspace: with
    * B = maxHamming+1 bands of width W = bits/B, the random-collision
    * floor is ≈ B·n²/2^(W+1) pairs — the 8×8/Hamming-3 form (16-bit
    * bands) is linear to ~1M images and measured hitting that floor
    * at 5M (819M candidates, BENCH_NOTES round 6); 16×16 (64-bit
    * bands) pushes the floor past any real corpus. Choose the grid
    * so 2^W ≫ n.
    *
    * Output: (id_a, id_b, hamming), id_a < id_b, undecoded rows
    * excluded.
    *
    * Caching contract: the slim per-image hash table is persisted via
    * [[graft.CacheTracker]] (read 3× — banding plus both verify-join
    * sides — decoded 1×); the CALLER releases it after consuming the
    * result, via `CacheTracker.releaseAll()` (what the
    * harness/bench/verify mains do) — otherwise the persist pins
    * executor storage for the session. */
  def imageNeardupPairs(media: Dataset[MediaRow], maxHamming: Int,
                        gridW: Int = 8, gridH: Int = 8)
      (implicit spark: SparkSession): DataFrame = {
    val bits = gridW * gridH
    val bands = maxHamming + 1
    require(maxHamming >= 0, "maxHamming must be non-negative")
    require(bits % bands == 0,
      s"grid bits ($bits) must divide into maxHamming+1 ($bands) bands")
    require(bits % 32 == 0,
      s"grid bits ($bits) must chunk into 32-bit words for the verify")
    val bw = bits / bands
    val nChunks = bits / 32
    // band keys and verify chunks are derived BEFORE the persist and
    // the raw bit string dropped — the cache carries (bands + chunks)
    // longs per row instead of a gridW·gridH-char string (at 16×16
    // that string alone is ~512 bytes/row, >80% of the footprint)
    val hashed = graft.CacheTracker.persistTracked(
      imageAHashN(media, gridW, gridH)
        .where(col("decoded"))
        .select(col("media_id") +:
          ((0 until bands).map(b =>
            xxhash64(lit(b), substring(col("ahash_bits"), b * bw + 1, bw))
              .as(s"__b$b")) ++
          (0 until nChunks).map(c =>
            conv(substring(col("ahash_bits"), c * 32 + 1, 32), 2, 10)
              .cast("long").as(s"__h$c"))): _*))
    val banded = hashed.select(col("media_id"),
      posexplode(array((0 until bands).map(b => col(s"__b$b")): _*))
        .as(Seq("band", "key")))
    val cand = banded
      .select(col("band"), col("key"), col("media_id").as("id_a"))
      .join(banded.select(col("band"), col("key"),
        col("media_id").as("id_b")), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val hamming: Column = (0 until nChunks).map(c =>
      bit_count(col(s"__h${c}a").bitwiseXOR(col(s"__h${c}b"))))
      .reduce(_ + _).cast("long")
    cand
      .join(hashed.select(col("media_id").as("id_a") +:
        (0 until nChunks).map(c => col(s"__h$c").as(s"__h${c}a")): _*),
        "id_a")
      .join(hashed.select(col("media_id").as("id_b") +:
        (0 until nChunks).map(c => col(s"__h$c").as(s"__h${c}b")): _*),
        "id_b")
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Deterministic synthetic PNG: dimensions derived from the id
    * (width = 16 + id mod 32, height = 8 + id mod 16), gradient fill.
    * ENCODED through the real PNG writer, so decoding it back is a
    * true codec roundtrip, not a formula echo. */
  private[multimodal] def syntheticPng(id: Long): Array[Byte] = {
    val w = 16 + (id % 32).toInt
    val h = 8 + (id % 16).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id + x) % 256).toInt
        val g = ((id * 7 + y) % 256).toInt
        val b = ((x * y + id) % 256).toInt
        px(y * w + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w) // one bulk store (see pixelsRGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Fixture/bench source: real PNG media rows generated executor-
    * side from an id column (no driver bottleneck, no fixture files —
    * the generator runs inside the scan stage). */
  def syntheticPngMedia(ids: DataFrame, idCol: String = "doc_id")
      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val bytes = syntheticPng(id)
        MediaRow(id, "image", bytes, "image/png",
          16 + (id % 32).toInt, 8 + (id % 16).toInt, 0L)
      }
    }
  }

  /** ---- STUB ---- "resize": deterministic byte-level downsample
    * standing in for a real image resize / audio resample. Keeps
    * every k-th byte so output size and content are exact functions
    * of the input — the pipeline contract (metadata update + smaller
    * payload, partition-local, no shuffle) is the real part. */
  def resizeStub(media: Dataset[MediaRow], targetW: Int, targetH: Int,
                 keepEvery: Int = 4)
      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val out = m.bytes.grouped(keepEvery).map(_.head).toArray
        m.copy(bytes = out, width = targetW, height = targetH)
      }
    }
  }

  // ── video CONTAINER metadata: real ISO-BMFF (MP4) box parsing ────
  // The JDK ships no video CODEC, so frame DECODE stays a stub
  // (below) — but container metadata needs no codec: duration,
  // timescale and track dimensions live in plain big-endian boxes
  // (ftyp / moov>mvhd / moov>trak>tkhd, ISO/IEC 14496-12). Parsing
  // them is the real operation ingest pipelines run to filter/route
  // video BEFORE any expensive decode, and it follows the mm03/mm04
  // proof shape: genuine bytes generated from formulas, genuinely
  // parsed back, oracle predicts the formulas.

  private def be32(v: Int): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def readBe32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def mp4Box(tpe: String, payload: Array[Byte]): Array[Byte] =
    be32(payload.length + 8) ++ tpe.getBytes("US-ASCII") ++ payload

  /** Minimal valid MP4: ftyp + moov(mvhd + trak(tkhd)) + mdat.
    * Formula metadata: timescale 1000, duration_ms 1500 + id%600·25,
    * width 320 + id%8·16, height 180 + id%6·16. */
  private[multimodal] def syntheticMp4(id: Long): Array[Byte] = {
    val timescale = 1000
    val duration = (1500 + (id % 600) * 25).toInt
    val w = (320 + (id % 8) * 16).toInt
    val h = (180 + (id % 6) * 16).toInt
    val ftyp = mp4Box("ftyp",
      "isom".getBytes("US-ASCII") ++ be32(512) ++
        "isom".getBytes("US-ASCII") ++ "mp41".getBytes("US-ASCII"))
    val mvhd = mp4Box("mvhd",
      be32(0) ++ be32(0) ++ be32(0) ++            // ver/flags, ctime, mtime
        be32(timescale) ++ be32(duration) ++
        be32(0x00010000) ++                        // rate 1.0
        Array[Byte](0x01, 0x00, 0, 0) ++           // volume 1.0 + reserved
        new Array[Byte](8) ++                      // reserved
        (be32(0x00010000) ++ be32(0) ++ be32(0) ++ // unity matrix
          be32(0) ++ be32(0x00010000) ++ be32(0) ++
          be32(0) ++ be32(0) ++ be32(0x40000000)) ++
        new Array[Byte](24) ++                     // pre_defined
        be32(2))                                   // next_track_ID
    val tkhd = mp4Box("tkhd",
      be32(7) ++ be32(0) ++ be32(0) ++             // ver/flags(enabled), times
        be32(1) ++ be32(0) ++ be32(duration) ++    // track_ID, rsvd, duration
        new Array[Byte](8) ++                      // reserved
        new Array[Byte](8) ++                      // layer/alt/volume/rsvd
        (be32(0x00010000) ++ be32(0) ++ be32(0) ++
          be32(0) ++ be32(0x00010000) ++ be32(0) ++
          be32(0) ++ be32(0) ++ be32(0x40000000)) ++
        be32(w << 16) ++ be32(h << 16))            // 16.16 fixed
    val moov = mp4Box("moov", mvhd ++ mp4Box("trak", tkhd))
    val mdat = mp4Box("mdat", new Array[Byte](50 + (id % 100).toInt))
    ftyp ++ moov ++ mdat
  }

  /** Fixture/bench source: real MP4 media rows. */
  def syntheticMp4Media(ids: DataFrame, idCol: String = "doc_id")
      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        MediaRow(id, "video", syntheticMp4(id), "video/mp4", 0, 0, 0L)
      }
    }
  }

  /** Walk sibling boxes in [start, end); return the payload span of
    * the first box of `tpe`. Size-0 ("to end of file") and 64-bit
    * sizes are rejected as unsupported rather than misparsed. */
  private def findMp4Box(b: Array[Byte], start: Int, end: Int,
                         tpe: String): Option[(Int, Int)] = {
    var off = start
    while (off + 8 <= end) {
      val size = readBe32(b, off)
      if (size < 8 || off + size > end) return None
      val t = new String(b, off + 4, 4, "US-ASCII")
      if (t == tpe) return Some((off + 8, off + size.toInt))
      off += size.toInt
    }
    None
  }

  private def readBe64(b: Array[Byte], off: Int): Long =
    (readBe32(b, off) << 32) | readBe32(b, off + 4)

  /** Parse container metadata from MP4 bytes: brand, duration (from
    * mvhd timescale+duration), track dimensions (tkhd 16.16 fixed).
    * Handles BOTH box versions — version 1 widens the ctime/mtime/
    * duration fields to 64 bits, shifting every later field (common
    * in real encoder output), so the version byte MUST be read:
    * parsing v1 at v0 offsets would return garbage with ok=true.
    * Returns None for anything that isn't a well-formed MP4 of a
    * known box version. */
  private[multimodal] def parseMp4(b: Array[Byte])
      : Option[(String, Long, Int, Int)] =
    for {
      (fs, _) <- findMp4Box(b, 0, b.length, "ftyp")
      brand = new String(b, fs, 4, "US-ASCII")
      (ms, me) <- findMp4Box(b, 0, b.length, "moov")
      (hs, he) <- findMp4Box(b, ms, me, "mvhd")
      mvhdV = b(hs) & 0xFF
      if mvhdV <= 1
      // v0: ctime/mtime 4+4 → timescale at +12, duration 4 at +16
      // v1: ctime/mtime 8+8 → timescale at +20, duration 8 at +24
      if he - hs >= (if (mvhdV == 0) 20 else 32)
      timescale = readBe32(b, hs + (if (mvhdV == 0) 12 else 20))
      if timescale > 0
      duration = if (mvhdV == 0) readBe32(b, hs + 16)
                 else readBe64(b, hs + 24)
      (ts, te) <- findMp4Box(b, ms, me, "trak")
      (ks, ke) <- findMp4Box(b, ts, te, "tkhd")
      tkhdV = b(ks) & 0xFF
      if tkhdV <= 1
      // v1 tkhd: ctime/mtime 8+8 and duration 8 → +12 over v0
      wOff = if (tkhdV == 0) 76 else 88
      if ke - ks >= wOff + 8
    } yield (brand, duration * 1000L / timescale,
      (readBe32(b, ks + wOff) >> 16).toInt,
      (readBe32(b, ks + wOff + 4) >> 16).toInt)

  /** Container metadata extraction over the binary column — real box
    * parsing, partition-local, bytes never shuffle; `ok = false` for
    * non-MP4 payloads. */
  def videoMeta(media: Dataset[MediaRow])
      (implicit spark: SparkSession): Dataset[VideoMeta] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        parseMp4(m.bytes) match {
          case Some((brand, durMs, w, h)) =>
            VideoMeta(m.media_id, ok = true, brand, durMs, w, h)
          case None =>
            VideoMeta(m.media_id, ok = false, "", 0L, 0, 0)
        }
      }
    }
  }

  // ── Motion-JPEG-in-MP4: sample-table demux + REAL frame decode ──
  // The frame path follows the mm03/mm04 proof shape one level
  // deeper: the writer lays REAL JPEG frames (ImageIO-encoded) into
  // mdat and describes them with a proper sample table
  // (stsd/stts/stsc/stsz/stco — ISO/IEC 14496-12 §8.5-8.7), and the
  // reader does what an MP4 demuxer does — walk moov›trak›mdia›minf›
  // stbl, read per-sample sizes (stsz) and absolute offsets (stco,
  // one chunk per sample), slice mdat, and hand each sample to the
  // real JPEG codec. Dimensions/frame counts are id formulas (oracle-
  // predictable); pixel content survives only approximately (JPEG is
  // lossy), so luma is spec-checked with tolerance, never oracled.

  private def jpegFrame(id: Long, f: Int, w: Int, h: Int)
      : Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // frame-shifted gradient: frames of one video differ, and the
        // mean luma is a closed-form target for the roundtrip spec
        val v = ((x + y + f * 16 + (id % 7)) % 256).toInt
        px(y * w + x) = (v << 16) | (v << 8) | v
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w) // one bulk store (see pixelsRGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Deterministic MJPEG/MP4: `3 + id mod 5` real JPEG frames of
    * `160 + id mod 4 · 16` × `96 + id mod 3 · 16`, 40 ms apart,
    * addressed by a real sample table. */
  private[multimodal] def syntheticMjpegMp4(id: Long): Array[Byte] = {
    val w = 160 + (id % 4).toInt * 16
    val h = 96 + (id % 3).toInt * 16
    val n = 3 + (id % 5).toInt
    val frames = (0 until n).map(f => jpegFrame(id, f, w, h))
    val stsd = mp4Box("stsd", be32(0) ++ be32(1) ++
      mp4Box("jpeg", new Array[Byte](6) ++ Array[Byte](0, 1) ++
        new Array[Byte](16) ++
        Array(((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
          ((h >> 8) & 0xff).toByte, (h & 0xff).toByte) ++
        new Array[Byte](50)))
    val stts = mp4Box("stts", be32(0) ++ be32(1) ++
      be32(n) ++ be32(40))                      // n samples, 40 ticks
    val stsc = mp4Box("stsc", be32(0) ++ be32(1) ++
      be32(1) ++ be32(1) ++ be32(1))            // 1 sample per chunk
    val stsz = mp4Box("stsz", be32(0) ++ be32(0) ++ be32(n) ++
      frames.flatMap(f => be32(f.length)).toArray)
    // stco carries ABSOLUTE file offsets — moov's size depends only
    // on n, so lay moov out once with zeroed offsets to measure it,
    // then rebuild with the real ones
    def buildMoov(offsets: Seq[Int]): Array[Byte] = {
      val stco = mp4Box("stco", be32(0) ++ be32(n) ++
        offsets.flatMap(be32).toArray)
      val stbl = mp4Box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
      val mdhd = mp4Box("mdhd", be32(0) ++ be32(0) ++ be32(0) ++
        be32(1000) ++ be32(n * 40) ++ Array[Byte](0x55, (0xC4).toByte,
          0, 0))
      val tkhd = mp4Box("tkhd",
        be32(7) ++ be32(0) ++ be32(0) ++
          be32(1) ++ be32(0) ++ be32(n * 40) ++
          new Array[Byte](16) ++
          (be32(0x00010000) ++ be32(0) ++ be32(0) ++
            be32(0) ++ be32(0x00010000) ++ be32(0) ++
            be32(0) ++ be32(0) ++ be32(0x40000000)) ++
          be32(w << 16) ++ be32(h << 16))
      val mvhd = mp4Box("mvhd",
        be32(0) ++ be32(0) ++ be32(0) ++
          be32(1000) ++ be32(n * 40) ++
          be32(0x00010000) ++ Array[Byte](0x01, 0x00, 0, 0) ++
          new Array[Byte](8) ++
          (be32(0x00010000) ++ be32(0) ++ be32(0) ++
            be32(0) ++ be32(0x00010000) ++ be32(0) ++
            be32(0) ++ be32(0) ++ be32(0x40000000)) ++
          new Array[Byte](24) ++ be32(2))
      mp4Box("moov", mvhd ++ mp4Box("trak",
        tkhd ++ mp4Box("mdia", mdhd ++ mp4Box("minf", stbl))))
    }
    val ftyp = mp4Box("ftyp",
      "isom".getBytes("US-ASCII") ++ be32(512) ++
        "isom".getBytes("US-ASCII") ++ "mp41".getBytes("US-ASCII"))
    val moovLen = buildMoov(Seq.fill(n)(0)).length
    val mdatStart = ftyp.length + moovLen + 8
    val offsets = frames.scanLeft(mdatStart)(_ + _.length).init
    val moov = buildMoov(offsets)
    val mdat = mp4Box("mdat", frames.flatten.toArray)
    ftyp ++ moov ++ mdat
  }

  /** Fixture/bench source: MJPEG/MP4 media rows, generated executor-
    * side. */
  def syntheticMjpegMedia(ids: DataFrame, idCol: String = "doc_id")
      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        MediaRow(id, "video", syntheticMjpegMp4(id), "video/mp4",
          0, 0, 0L)
      }
    }
  }

  /** Demux the sample table: (sizes from stsz, absolute offsets from
    * stco — one chunk per sample, the layout [[syntheticMjpegMp4]]
    * writes and the common layout for small progressive files). */
  private[multimodal] def sampleTable(b: Array[Byte])
      : Option[Seq[(Int, Int)]] =
    for {
      (ms, me) <- findMp4Box(b, 0, b.length, "moov")
      (ts, te) <- findMp4Box(b, ms, me, "trak")
      (ds, de) <- findMp4Box(b, ts, te, "mdia")
      (ns, ne) <- findMp4Box(b, ds, de, "minf")
      (ss, se) <- findMp4Box(b, ns, ne, "stbl")
      (zs, ze) <- findMp4Box(b, ss, se, "stsz")
      if ze - zs >= 12 && readBe32(b, zs + 4) == 0 // per-sample sizes
      // Long arithmetic + a non-negative read: a hostile/corrupt
      // sample_count near 2^29 would wrap `12 + 4*nz` negative in Int
      // and sail past the bounds check into out-of-range reads —
      // corrupt media must yield zero rows, never a task crash
      nzL = readBe32(b, zs + 8)
      if nzL >= 0 && (ze - zs).toLong >= 12L + 4L * nzL
      nz = nzL.toInt
      (cs, ce) <- findMp4Box(b, ss, se, "stco")
      if ce - cs >= 8 && readBe32(b, cs + 4) == nzL
      if (ce - cs).toLong >= 8L + 4L * nzL
    } yield (0 until nz).map(i =>
      (readBe32(b, cs + 8 + 4 * i).toInt,
        readBe32(b, zs + 12 + 4 * i).toInt))

  /** Every `every`-th frame of each video, demuxed via the sample
    * table and decoded through the REAL JPEG codec — per-frame rows
    * with true decoded dimensions and mean luma. Partition-local;
    * bytes never shuffle; undecodable/non-MP4 payloads yield zero
    * rows (a filter, like decodeImages' decoded=false, but per
    * frame). */
  def videoFrames(media: Dataset[MediaRow], every: Int = 1)
      (implicit spark: SparkSession): Dataset[FrameRow] = {
    import spark.implicits._
    require(every >= 1, "every must be >= 1")
    media.mapPartitions { it =>
      it.flatMap { m =>
        sampleTable(m.bytes).toSeq.flatMap { samples =>
          samples.zipWithIndex.collect {
            case ((off, len), idx)
                if idx % every == 0 && off >= 0 && len > 0 &&
                  // Long sum: hostile stco/stsz values can wrap
                  // off + len negative in Int and pass the bound
                  off.toLong + len <= m.bytes.length =>
              val bytes =
                java.util.Arrays.copyOfRange(m.bytes, off, off + len)
              Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))) match {
                case Some(img) =>
                  val px = pixelsRGB(img)
                  var sum = 0.0
                  var i = 0
                  while (i < px.length) {
                    val rgb = px(i)
                    sum += (((rgb >> 16) & 0xff) * 299 +
                      ((rgb >> 8) & 0xff) * 587 +
                      (rgb & 0xff) * 114) / 1000.0
                    i += 1
                  }
                  FrameRow(m.media_id, idx, decoded = true,
                    img.getWidth, img.getHeight,
                    sum / (img.getWidth.toLong * img.getHeight))
                case None =>
                  FrameRow(m.media_id, idx, decoded = false, 0, 0, 0.0)
              }
          }
        }
      }
    }
  }

  /** ---- STUB ---- video frame sampling: split the payload into
    * fixed-size "frames" and keep every `every`-th — the real version
    * seeks keyframes; batch shape and output schema identical. */
  def frameSampleStub(media: Dataset[MediaRow], frameBytes: Int,
                      every: Int)
      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        if (m.kind != "video") m
        else {
          val frames = m.bytes.grouped(frameBytes).toSeq
          val kept = frames.zipWithIndex.collect {
            case (f, i) if i % every == 0 => f
          }
          m.copy(bytes = kept.flatten.toArray)
        }
      }
    }
  }

  /** Frame-sampling PLAN from parsed container metadata: the
    * (media_id, frame_idx, ts_ms) seek grid a decoder consumes —
    * uniform `fps` sampling capped at `maxFrames` per video
    * (the standard "N frames per clip" training-data policy).
    * Metadata-only: derived entirely from [[videoMeta]]'s parsed
    * duration, so it runs BEFORE any decode and the decode stage
    * seeks exactly these timestamps instead of demuxing everything.
    *
    * Scale shape: per-row `sequence` explode bounded by `maxFrames`
    * (≤ maxFrames× row growth, no shuffle); pure codegen.
    *
    * Frame count is ceil(duration·fps/1000) — the stamps t ∈ [0,
    * duration) on the 1/fps grid. NOT floor+1: that emits a seek AT
    * t == duration (end of stream, no frame there) whenever the
    * duration is an exact multiple of the frame interval.
    * Zero-duration clips sample no frames (also keeps `sequence`
    * ascending — Spark's sequence(0, -1) would DESCEND). */
  def frameSamplePlan(meta: Dataset[VideoMeta], fps: Int = 1,
                      maxFrames: Int = 8): DataFrame =
    meta.toDF().filter(col("ok"))
      .withColumn("__n",
        least(ceil(col("duration_ms") * lit(fps) / lit(1000)),
          lit(maxFrames.toLong)))
      .filter(col("__n") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("__n") - 1)).as("frame_idx"))
      .withColumn("ts_ms",
        (col("frame_idx") * lit(1000L) / lit(fps)).cast("long"))

  /** Audio chunking PLAN — the overlapping fixed-window segmentation
    * policy (Whisper-style "N-second windows with hop < window")
    * expressed over DECODED METADATA only: each clip yields chunks
    * starting every `hopMs` while the start is inside the clip; the
    * last chunk is truncated at the clip end (end_ms = min(start +
    * win, duration)), mirroring real pipelines that pad/trim the
    * final window. n_frames converts the chunk span back to frame
    * counts at the clip's own sample rate, so the downstream PCM
    * slicer can address bytes directly.
    *
    * Like [[frameSamplePlan]]: metadata-only, so it runs BEFORE any
    * byte access and the decode stage reads exactly these spans.
    * Scale shape: bounded per-row `sequence` explode (≤ ceil(maxDur/
    * hop) per clip), zero shuffle, pure codegen. Undecodable or
    * zero-length clips yield no chunks (also keeps `sequence`
    * ascending). */
  def audioChunkPlan(meta: Dataset[AudioMeta], winMs: Int = 120,
                     hopMs: Int = 100): DataFrame =
    meta.toDF().filter(col("decoded") && col("duration_ms") > 0)
      .withColumn("__n",
        floor((col("duration_ms") - 1) / lit(hopMs)) + 1)
      .select(col("media_id"), col("sample_rate"), col("duration_ms"),
        explode(sequence(lit(0L), col("__n") - 1)).as("chunk_idx"))
      .withColumn("start_ms", col("chunk_idx") * lit(hopMs.toLong))
      .withColumn("end_ms",
        least(col("start_ms") + lit(winMs.toLong), col("duration_ms")))
      .withColumn("n_frames",
        floor((col("end_ms") - col("start_ms")) *
          col("sample_rate") / lit(1000)).cast("long"))
      .drop("sample_rate", "duration_ms")

  /** Metadata-only predicate pass (no byte access): the point of the
    * typed-metadata column — filters prune before decode. */
  def selectForDecode(media: DataFrame, kinds: Seq[String],
                      maxBytes: Long): DataFrame =
    media.filter(col("kind").isin(kinds: _*) &&
      length(col("bytes")) <= maxBytes)

  /** Test/bench helper: deterministic fake media derived from a text
    * table (doc_id, text) — bytes = UTF-8 text, kind round-robins. */
  def fakeMediaFromDocs(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("bytes"),
      element_at(array(lit("image/png"), lit("audio/wav"),
        lit("video/mp4")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("mime"),
      lit(0).as("width"), lit(0).as("height"),
      (length(col("text")) * 10L).as("duration_ms"))
}
