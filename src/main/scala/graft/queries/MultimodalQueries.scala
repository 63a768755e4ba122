package graft.queries

import graft.Tables
import graft.functions.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column gate queries. q45 is a REAL decode: a tiny PNG is
  * synthesized per document (dimensions a pure function of doc_id), and
  * `javax.imageio` — a genuine in-JDK codec — parses the bytes back; the
  * oracle predicts (width, height, channels) independently from doc_id, so
  * the gate verifies actual image parsing, not arithmetic replay. q46/q64
  * use text bytes as payload stand-ins through the same binary-column
  * plumbing (TESTDATA has no media fixture); their decode step remains the
  * documented stub (video-class formats have no in-container codec).
  */
object MultimodalQueries {

  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------ q45 decode via mapPartitions
  /** Encode stage (real PNG writer) → binary column → decode stage (real PNG
    * reader, one codec setup per partition) → typed struct.
    */
  val q45_multimodal_decode: Q = (s, dir) => {
    import s.implicits._
    val withPng = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map(id => (id,
          Multimodal.syntheticPng((id % 13).toInt + 1, (id % 7).toInt + 1, id)))
      }.toDF("doc_id", "payload")
    Multimodal.decodeImages(withPng, "doc_id", "payload")
      .toDF() // media_id, width, height, channels — true raster values
  }

  // width/height/channels predicted from doc_id alone: if decodeImages did
  // not truly parse the PNG bytes, the hash compare fails
  val q45_oracle: String =
    """SELECT doc_id AS media_id,
      |  (doc_id % 13 + 1)::INT AS width,
      |  (doc_id % 7 + 1)::INT AS height,
      |  3 AS channels
      |FROM documents""".stripMargin

  // -------------------------------------------------- q46 frame sampling shape
  val q46_multimodal_frames: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    Multimodal.sampleFrames(docs, "doc_id", "payload", frameBytes = 64, maxFrames = 4)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"), sum(col("frame_bytes")).as("sampled_bytes"))
  }

  val q46_oracle: String =
    """SELECT doc_id,
      |  least(ceil(octet_length(encode(text)) / 64.0), 4)::BIGINT AS n_frames,
      |  least(octet_length(encode(text)), 256)::BIGINT AS sampled_bytes
      |FROM documents
      |WHERE text IS NOT NULL AND octet_length(encode(text)) > 0""".stripMargin

  // ------------------------------------------- q64 binary feature extraction
  /** Byte-histogram features over the payload (Multimodal.extractFeatures —
    * the model-forward-pass plumbing with a real computed feature). Oracle:
    * the fixture text is pure ASCII (octet_length == length holds for every
    * row), so DuckDB reproduces byte values via codepoints.
    */
  val q64_multimodal_features: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    // gate harness cannot hash ARRAY columns — explode the 16-bin histogram
    // to (doc_id, bin, bin_frac) rows
    Multimodal.extractFeatures(docs, "doc_id", "payload")
      .select(col("doc_id"), posexplode(col("features")).as(Seq("bin", "bin_frac")))
      .withColumn("bin", col("bin").cast("long"))
  }

  val q64_oracle: String = {
    val bins = (0 until 16).map { b =>
      s"""len(list_filter(bs, x -> (x * 16) // 256 = $b))::DOUBLE / greatest(1, len(bs))"""
    }.mkString("[", ",\n      |   ", "]")
    s"""WITH b AS (
       |  SELECT doc_id,
       |    list_transform(range(1, length(text) + 1), i -> unicode(text[i])) AS bs
       |  FROM documents),
       |f AS (SELECT doc_id, $bins AS features FROM b)
       |SELECT doc_id, unnest(range(16)) AS bin, unnest(features) AS bin_frac
       |FROM f""".stripMargin
  }

  // ------------------------------------------ q116 image perceptual hash
  /** Image near-dup fingerprinting: the aHash of each decoded raster, with
    * codec invariance as the differential check — every synthetic image is
    * encoded BOTH as PNG and BMP (different bytes, identical pixels), and
    * the oracle asserts the two hashes agree for every document. A hash
    * computed from the payload bytes (md5-style) fails this; only a hash of
    * the DECODED raster passes, which is exactly what makes it a perceptual
    * near-dup key (recompressed/re-encoded copies collide). Hamming distance
    * on the 64-bit hash is the near-dup radius; MultimodalSpec pins
    * discrimination (distinct images → mostly distinct hashes) and exact-
    * rescale invariance. Scale shape: decode+hash is one narrow pass; the
    * dedup join downstream keys on 8 bytes per image.
    */
  val q116_image_phash: Q = (s, dir) => {
    import s.implicits._
    // deliberately NOT widened: ImageIO's registry serializes concurrent
    // decodes on a global lock (the same convoy the audio path hit in
    // AudioSystem), so 32 tasks burn 4.9 s where one task takes 1.3 s at 10×
    // (measured r7) — single-task is optimal until the decode is lock-free.
    // A production image pipeline swaps in a native codec via
    // mapUsingSubprocess/transformColumn; the JDK path is the in-sandbox
    // reality, documented.
    val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val w = (id % 13).toInt + 1
          val h = (id % 7).toInt + 1
          (id, Multimodal.syntheticImage(w, h, id, "png"),
            Multimodal.syntheticImage(w, h, id, "bmp"))
        }
      }.toDF("doc_id", "png", "bmp")
    val hp = Multimodal.imagePhash(media, "doc_id", "png")
      .withColumnRenamed("phash", "phash_png")
    val hb = Multimodal.imagePhash(media, "doc_id", "bmp")
      .withColumnRenamed("phash", "phash_bmp")
    hp.join(hb, "media_id")
      .select(col("media_id"),
        (col("phash_png") === col("phash_bmp")).cast("int").as("codec_invariant"))
  }

  val q116_oracle: String =
    """SELECT doc_id AS media_id, 1 AS codec_invariant FROM documents""".stripMargin

  // ------------------------------------------------ q118 audio decode
  /** REAL audio decode over binary payloads — `javax.sound` parses the
    * RIFF/WAVE container (in-JDK, no external codec), returning the true
    * frame count / sample rate / channels; the oracle predicts all of them
    * analytically from doc_id (q45's synthesize-and-predict device), so a
    * decode that didn't actually parse the bytes hash-mismatches.
    * duration_us = frames·125 exactly at 8 kHz (integer — no float time
    * arithmetic). Compressed codecs (mp3/aac) need external libraries;
    * this pins the WAV/PCM path end-to-end.
    */
  val q118_audio_decode: Q = (s, dir) => {
    import s.implicits._
    // Width.widen: synth+parse is codec-bound (~0.2 ms/row — the md5-class
    // cost profile, not the tokenize class), and the narrow doc_id scan
    // serialized it onto one task: 16× super-linear at 10× data before the
    // widen, 1.0× after (ScaleTrend r7)
    val withWav = graft.functions.Width.widen(
        Tables(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map(id => (id,
          Multimodal.syntheticWav((id % 1000).toInt + 100, 8000, id)))
      }.toDF("doc_id", "payload")
    Multimodal.decodeAudio(withWav, "doc_id", "payload").toDF()
  }

  val q118_oracle: String =
    """SELECT doc_id AS media_id,
      |  (doc_id % 1000 + 100)::BIGINT AS n_frames,
      |  8000 AS sample_rate,
      |  1 AS channels,
      |  ((doc_id % 1000 + 100) * 125)::BIGINT AS duration_us
      |FROM documents""".stripMargin

  // -------------------------------------------- q164 mp3 frame-header walk
  /** MP3 container metadata WITHOUT a codec (r10 — shrinking the codec
    * boundary): the MPEG Layer III frame-header walk (ISO/IEC 11172-3
    * public tables) counts frames by advancing through per-frame sizes
    * computed from each header's own bitrate/rate/padding bits, skipping a
    * leading ID3v2 tag and stopping at the trailing ID3v1 tag. The oracle
    * predicts (frames, rate, channels, duration) analytically from doc_id —
    * but the PREDICTION is independent of bitrate while the WALK is not
    * (frame sizes vary per doc by bitrate index and alternate padding), so
    * a parser that didn't actually walk the chain miscounts and
    * hash-mismatches. PCM sample extraction still needs an external codec
    * — the boundary is now "samples", not "metadata".
    */
  val q164_mp3_metadata: Q = (s, dir) => {
    import s.implicits._
    val withMp3 = graft.functions.Width.widen(
        Tables(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          (id, Multimodal.syntheticMp3(
            nFrames = (id % 200).toInt + 20,
            bitrateIdx = (id % 14).toInt + 1,
            rateIdx = (id % 3).toInt,
            seed = id,
            id3Bytes = if (id % 5 == 0) (id % 60).toInt + 4 else 0))
        }
      }.toDF("doc_id", "payload")
    Multimodal.decodeAudio(withMp3, "doc_id", "payload").toDF()
  }

  val q164_oracle: String =
    """SELECT doc_id AS media_id,
      |  (doc_id % 200 + 20)::BIGINT AS n_frames,
      |  CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sample_rate,
      |  1 AS channels,
      |  ((doc_id % 200 + 20) * 1152 * 1000000)
      |    // (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END) AS duration_us
      |FROM documents""".stripMargin

  val entries: Map[String, Q] = Map(
    "q164_mp3_metadata" -> q164_mp3_metadata,
    "q118_audio_decode" -> q118_audio_decode,
    "q116_image_phash" -> q116_image_phash,
    "q45_multimodal_decode" -> q45_multimodal_decode,
    "q46_multimodal_frames" -> q46_multimodal_frames,
    "q64_multimodal_features" -> q64_multimodal_features)

  val oracles: Map[String, String] = Map(
    "q164_mp3_metadata" -> q164_oracle,
    "q118_audio_decode" -> q118_oracle,
    "q116_image_phash" -> q116_oracle,
    "q45_multimodal_decode" -> q45_oracle,
    "q46_multimodal_frames" -> q46_oracle,
    "q64_multimodal_features" -> q64_oracle)
}
