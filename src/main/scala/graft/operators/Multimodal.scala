package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column support: image/audio/video as opaque `binary`
 * columns with typed metadata, plus decode / feature-extract /
 * frame-sample operators.
 *
 * The Spark-side plumbing is real — schema, partition-local batch
 * processing via `mapPartitions` (the JVM analog of `mapInPandas`
 * batching: one buffer per partition, streaming iterator, no
 * per-row setup cost), deterministic output shapes. IMAGE decode is
 * REAL — the JDK's built-in `javax.imageio` handles PNG/JPEG/GIF/BMP
 * with zero added dependencies ([[decodeImage]]). Audio/video codec
 * work stays STUBBED (`fakeDecode`) because no such libraries exist in
 * this environment: the stub derives deterministic pseudo-features
 * from the content bytes, so every pipeline stage around the decode is
 * testable and the stub swaps for a real codec without touching plans.
 *
 * AUDIO decode is REAL as of r13 — the JDK's built-in
 * `javax.sound.sampled` parses WAV containers (PCM signed/unsigned,
 * 8/16-bit, µ-law/a-law via the JDK's format converters) with zero
 * added dependencies ([[decodeAudio]]). VIDEO remains the one honest
 * stub: frame EXTRACTION genuinely requires a codec library (H.264 et
 * al. have no JDK decoder), and the no-new-dependencies rule wins —
 * [[sampleFrames]] keeps the deterministic pseudo-frame contract and
 * swaps for a real demuxer without touching plans.
 */
object Multimodal {

  val featureDim = 16

  /** REAL image decode via the JDK's built-in `javax.imageio` (PNG,
    * JPEG, GIF, BMP — zero new dependencies): returns (width, height,
    * 4×4 mean-luminance grid as the 16-dim feature vector), or None
    * when the bytes are not a decodable image. Executor-side only. */
  private[graft] def decodeImage(content: Array[Byte])
      : Option[(Int, Int, Array[Float])] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val grid = 4
        val out = new Array[Float](featureDim)
        var gy = 0
        while (gy < grid) {
          var gx = 0
          while (gx < grid) {
            val x0 = gx * w / grid
            val x1 = math.max(x0 + 1, (gx + 1) * w / grid)
            val y0 = gy * h / grid
            val y1 = math.max(y0 + 1, (gy + 1) * h / grid)
            var sum = 0.0; var n = 0
            var y = y0
            while (y < y1 && y < h) {
              var x = x0
              while (x < x1 && x < w) {
                val rgb = img.getRGB(x, y)
                val r = (rgb >> 16) & 0xff
                val g = (rgb >> 8) & 0xff
                val b = rgb & 0xff
                sum += (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
                n += 1; x += 1
              }
              y += 1
            }
            out(gy * grid + gx) = if (n == 0) 0f else (sum / n).toFloat
            gx += 1
          }
          gy += 1
        }
        Some((w, h, out))
      }
      // ImageIO plugins throw RuntimeExceptions (ArrayIndexOutOfBounds,
      // IllegalArgument) on malformed bytes, not just IOException — any
      // undecodable row must take the documented fallback, never fail
      // the Spark task
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decoded-audio summary: container-level facts plus the fixed-dim
    * feature vector ([[featureDim]] equal-time RMS bins of channel 0,
    * normalized to [0,1] in the 16-bit domain). */
  private[graft] final case class AudioInfo(
      sampleRate: Int, nSamples: Long, durationMs: Long,
      rms: Double, bins: Array[Float])

  /** REAL audio decode via the JDK's built-in `javax.sound.sampled`
    * (WAV containers: PCM signed/unsigned 8/16-bit, µ-law/a-law — the
    * JDK converts everything to 16-bit signed PCM; zero new
    * dependencies): returns sample rate, frame count, duration, overall
    * RMS (16-bit domain — exact for integer constant signals, the
    * property the q128 oracle replays) and [[featureDim]] per-bin RMS
    * features. None when the bytes are not a decodable audio stream —
    * undecodable rows must take the documented fallback, never fail the
    * Spark task. Executor-side only. */
  private[graft] def decodeAudio(content: Array[Byte]): Option[AudioInfo] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val fmt = ais.getFormat
        val target = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          fmt.getSampleRate, 16, fmt.getChannels,
          fmt.getChannels * 2, fmt.getSampleRate, false)
        val pcm = javax.sound.sampled.AudioSystem
          .getAudioInputStream(target, ais)
        try {
          val bytes = pcm.readAllBytes()
          val ch = target.getChannels
          val n = bytes.length / (2 * ch)
          if (n == 0) None
          else {
            val rate = math.round(fmt.getSampleRate)
            val durMs = n.toLong * 1000L / rate
            // channel 0, little-endian signed 16-bit
            def sample(i: Int): Double = {
              val lo = bytes(i * 2 * ch) & 0xff
              val hi = bytes(i * 2 * ch + 1).toInt
              ((hi << 8) | lo).toDouble
            }
            var total = 0.0
            val out = new Array[Float](featureDim)
            var b = 0
            while (b < featureDim) {
              val s0 = (b.toLong * n / featureDim).toInt
              val s1 = ((b + 1).toLong * n / featureDim).toInt
              var sum = 0.0; var i = s0
              while (i < s1) { val v = sample(i); sum += v * v; i += 1 }
              total += sum
              out(b) = if (s1 == s0) 0f
                else (math.sqrt(sum / (s1 - s0)) / 32768.0).toFloat
              b += 1
            }
            Some(AudioInfo(rate, n.toLong, durMs,
              math.sqrt(total / n), out))
          }
        } finally pcm.close()
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Encode 16-bit mono PCM samples as WAV bytes (`AudioSystem.write`
    * into memory) — the fixture-side inverse of [[decodeAudio]], used
    * by [[syntheticWavMedia]] and the specs. */
  private[graft] def encodeWavPcm16(samples: Array[Short],
                                    sampleRate: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val data = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      data(i * 2) = (samples(i) & 0xff).toByte
      data(i * 2 + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** STUB decode for video (and non-decodable bytes) — deterministic
    * pseudo-features from the content bytes. Video frame extraction
    * needs a codec library the JDK doesn't ship (and this environment
    * forbids new dependencies); the signature (bytes → fixed-dim float
    * features) is the swap-in contract. Image bytes take the REAL
    * [[decodeImage]] path and audio bytes the REAL [[decodeAudio]]
    * path in [[extractFeatures]]. */
  private[graft] def fakeDecode(content: Array[Byte]): Array[Float] = {
    val out = new Array[Float](featureDim)
    var h = 1125899906842597L // deterministic seed
    var i = 0
    while (i < content.length) { h = 31 * h + content(i); i += 1 }
    var d = 0
    while (d < featureDim) {
      h = h * 6364136223846793005L + 1442695040888963407L
      out(d) = ((h >>> 40).toInt % 1000) / 1000.0f
      d += 1
    }
    out
  }

  private val featuresSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false))))

  /**
   * Batch feature extraction: one decode per media item, executed
   * partition-locally. Returns (media_id, kind, features float[16]).
   * Image rows decode for REAL through `javax.imageio`
   * ([[decodeImage]]) and audio rows through `javax.sound.sampled`
   * ([[decodeAudio]]); bytes that aren't decodable — and all video
   * rows — fall back to the deterministic stub, so synthetic fixtures
   * keep their digests. Rows with null content are dropped (a real
   * pipeline would route them to a dead-letter sink).
   */
  def extractFeatures(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featuresSchema)
    media.select("media_id", "kind", "content")
      .mapPartitions { rows =>
        rows.filter(!_.isNullAt(2)).map { r =>
          val content = r.getAs[Array[Byte]]("content")
          val feats = r.getString(1) match {
            case "image" =>
              decodeImage(content).map(_._3).getOrElse(fakeDecode(content))
            case "audio" =>
              decodeAudio(content).map(_.bins).getOrElse(fakeDecode(content))
            case _ => fakeDecode(content)
          }
          Row(r.getLong(0), r.getString(1), feats.toSeq)
        }
      }(enc)
  }

  /**
   * REAL audio decode over a media table: parse each audio row's WAV
   * container and emit the container-level facts —
   * (media_id, sample_rate, n_samples, duration_ms, rms_int) with
   * rms_int the overall RMS in the 16-bit domain rounded to a BIGINT
   * (exact for integer constant signals — the oracle contract).
   * Non-audio and undecodable rows are dropped. Partition-local, one
   * decode per row, driver never touches blob bytes.
   */
  def audioDecodeStats(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("rms_int", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "kind", "content")
      .mapPartitions { rows =>
        rows.filter(r => r.getString(1) == "audio" && !r.isNullAt(2))
          .flatMap { r =>
            // positional access: upstream mapPartitions rows (e.g.
            // syntheticWavMedia's) deserialize without a schema
            decodeAudio(r.getAs[Array[Byte]](2)).map { a =>
              Row(r.getLong(0), a.sampleRate, a.nSamples, a.durationMs,
                math.round(a.rms))
            }
          }
      }(enc)
  }

  /** Synthesize a media table whose audio rows are REAL WAV bytes,
    * deterministically derived from (id) arithmetic: every doc becomes
    * a mono 16-bit PCM clip at 8 kHz with `(doc_id % 50 + 1) · 80`
    * samples of the constant amplitude `(doc_id % 100) · 300` — so a
    * SQL oracle can replay sample count, duration and RMS from doc_id
    * alone while the WAV encode/decode round-trip underneath is real.
    * Encoding runs executor-side via [[encodeWavPcm16]]. */
  def syntheticWavMedia(docs: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("content", BinaryType, nullable = false))))
    docs.select(col("doc_id").cast("long").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val n = ((id % 50 + 50) % 50 + 1).toInt * 80
          val amp = (((id % 100 + 100) % 100) * 300).toShort
          Row(id, "audio", encodeWavPcm16(Array.fill(n)(amp), 8000))
        }
      }(enc)
  }

  /**
   * Frame sampling for video rows: emit one row per sampled frame at
   * `fps` frames/sec of `meta.duration_ms`, each with frame-level
   * features (stub: content hash + frame index). Output:
   * (media_id, frame_idx, frame_features). Non-video rows produce no
   * frames. The per-frame fan-out happens executor-side — the driver
   * never sees frame counts.
   */
  def sampleFrames(media: DataFrame, fps: Double = 1.0): DataFrame = {
    val frameSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_features", ArrayType(FloatType, containsNull = false))))
    val enc = org.apache.spark.sql.Encoders.row(frameSchema)
    media.select(col("media_id"), col("kind"), col("content"),
        col("meta.duration_ms").as("duration_ms"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.getString(1) != "video" || r.isNullAt(2) || r.isNullAt(3)) {
            Iterator.empty
          } else {
            val content = r.getAs[Array[Byte]]("content")
            val nFrames = math.max(1,
              (r.getLong(3) / 1000.0 * fps).toInt)
            val base = fakeDecode(content)
            (0 until nFrames).iterator.map { f =>
              val feats = base.clone()
              feats(0) = feats(0) + f // deterministic per-frame variation
              Row(r.getLong(0), f, feats.toSeq)
            }
          }
        }
      }(enc)
  }

  /**
   * Audio segmentation bookkeeping: one row per fixed-`windowMs` window
   * at `hopMs` hop over `meta.duration_ms`, for audio rows — the
   * schedule a feature extractor (or a real codec) consumes. Pure
   * column expressions: `sequence` + `posexplode` fan out executor-side
   * with the blob column pruned away entirely; the last window
   * truncates at the clip end. Compose with [[extractFeatures]] when
   * the segment bytes themselves need decoding.
   */
  def audioSegments(media: DataFrame, windowMs: Long = 1500,
                    hopMs: Long = 1000): DataFrame = {
    require(windowMs > 0 && hopMs > 0, "window and hop must be positive")
    val dur = col("meta.duration_ms")
    media.filter(col("kind") === "audio" && dur.isNotNull && dur > 0)
      .select(col("media_id"), dur.as("dur"),
        posexplode(sequence(lit(0L),
          ceil(dur.cast("double") / hopMs).cast("long") - 1)))
      .select(col("media_id"),
        col("pos").as("segment_idx"),
        (col("col") * hopMs).as("start_ms"),
        least(col("col") * hopMs + windowMs, col("dur")).as("end_ms"))
  }

  /** Declarative metadata ops need no decode at all — e.g. resize
    * bookkeeping is pure column arithmetic on `meta`, executed codegen'd
    * with the blob column never read (column pruning drops `content`). */
  def resizedMeta(media: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width"); val h = col("meta.height")
    val scale = least(lit(1.0), lit(maxSide) / greatest(w, h))
    media.select(col("media_id"), col("kind"),
      (w * scale).cast("int").as("new_width"),
      (h * scale).cast("int").as("new_height"))
  }

  /** Synthesize a deterministic media table from any (id, text) corpus —
    * test fixture generator for environments without real media files. */
  def syntheticMedia(spark: SparkSession, docs: DataFrame): DataFrame = {
    val kind = element_at(array(lit("image"), lit("audio"), lit("video")),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    docs.select(
      col("doc_id").as("media_id"),
      kind.as("kind"),
      col("text").cast("binary").as("content"),
      struct(
        (pmod(col("doc_id"), lit(1920)) + 1).cast("int").as("width"),
        (pmod(col("doc_id"), lit(1080)) + 1).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (pmod(col("doc_id"), lit(30)) * 1000 + 1000).as("duration_ms"),
        lit("application/octet-stream").as("mime")).as("meta"))
  }
}
