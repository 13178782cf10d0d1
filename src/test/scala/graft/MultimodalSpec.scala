package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  private def media = Multimodal.syntheticMedia(spark,
    Tables.load(spark, "/root/testdata/sf0.001", "documents"))

  test("extractFeatures: one fixed-dim feature row per media item, deterministic") {
    val f1 = Multimodal.extractFeatures(media)
    assert(f1.count() === media.count())
    val dims = f1.select(size(col("features"))).distinct().collect()
      .map(_.getInt(0)).toSeq
    assert(dims === Seq(Multimodal.featureDim))
    // deterministic across runs and partitionings
    val a = f1.orderBy("media_id").collect().map(_.getSeq[Float](2))
    val b = Multimodal.extractFeatures(media.repartition(7))
      .orderBy("media_id").collect().map(_.getSeq[Float](2))
    assert(a.toSeq === b.toSeq)
  }

  test("sampleFrames: video rows fan out by duration, others drop") {
    val frames = Multimodal.sampleFrames(media, fps = 1.0)
    val byKind = frames.join(media.select(col("media_id"), col("kind")),
      "media_id").groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind.keySet === Set("video"))
    // one video item's frame count matches duration_ms/1000 * fps
    val one = media.filter(col("kind") === "video")
      .select(col("media_id"), col("meta.duration_ms")).first()
    val expected = math.max(1, one.getLong(1) / 1000)
    assert(frames.filter(col("media_id") === one.getLong(0)).count() === expected)
  }

  test("resizedMeta: pure-column resize bookkeeping, aspect preserved") {
    import spark.implicits._
    val m = Multimodal.syntheticMedia(spark,
      Seq((3839L, "x")).toDF("doc_id", "text")) // width 1920 → scale 0.5
    val r = Multimodal.resizedMeta(m, maxSide = 960).first()
    assert(r.getAs[Int]("new_width") === 960)
  }

  test("audioSegments: audio-only fan-out, hop schedule, truncated tail") {
    import spark.implicits._
    // doc_id 1 → audio, duration (1 % 30)*1000+1000 = 2000 ms
    val m = Multimodal.syntheticMedia(spark,
      Seq((1L, "audio doc"), (2L, "video doc"), (3L, "image doc"))
        .toDF("doc_id", "text"))
    val segs = Multimodal.audioSegments(m, windowMs = 1500, hopMs = 1000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // only the audio row fans out; 2000ms at 1s hop → 2 segments,
    // second truncated at the clip end
    assert(segs.toSeq === Seq((1L, 0, 0L, 1500L), (1L, 1, 1000L, 2000L)))
  }

  /** A real PNG, generated with the same JDK imaging stack the decode
    * uses: left half black, right half white, deterministic bytes. */
  private def realPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("image decode is REAL: javax.imageio parses an actual PNG") {
    import spark.implicits._
    val png = realPng(64, 32)
    val rows = Seq((1L, "image", png), (2L, "image", "not a png".getBytes))
      .toDF("media_id", "kind", "content")
    val feats = Multimodal.extractFeatures(rows)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    // black-left/white-white luminance grid: columns 0-1 dark, 2-3 light
    val f = feats(1L)
    assert(f(0) < 0.1f && f(1) < 0.1f, s"left columns dark: $f")
    assert(f(2) > 0.9f && f(3) > 0.9f, s"right columns light: $f")
    // row symmetry: the image is vertically uniform
    assert(f(0) === f(4) && f(3) === f(15))
    // undecodable bytes fall back to the documented stub, not a crash
    assert(feats(2L).length === Multimodal.featureDim)
    // direct decode returns the true dimensions
    val Some((w, h, _)) = Multimodal.decodeImage(png)
    assert((w, h) === (64, 32))
  }

  test("truncated/corrupt image bytes take the fallback, whatever ImageIO throws") {
    // a real PNG signature with a corrupted body drives ImageIO into its
    // plugin decode path, where malformed data can surface as runtime
    // exceptions rather than IOException — both must yield None
    val png = realPng(64, 32)
    val truncated = png.take(30)
    val corrupted = png.clone()
    java.util.Arrays.fill(corrupted, 20, corrupted.length, 0x7f.toByte)
    for (bytes <- Seq(truncated, corrupted)) {
      assert(Multimodal.decodeImage(bytes).isEmpty)
    }
  }

  test("audio decode is REAL: javax.sound.sampled parses the committed " +
      "fixture WAV (8 kHz PCM16, 400 samples of ±10000 square wave)") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixture.wav").toURI))
    val Some(a) = Multimodal.decodeAudio(bytes)
    assert(a.sampleRate === 8000)
    assert(a.nSamples === 400L)
    assert(a.durationMs === 50L) // 400 / 8000 s
    // |sample| is constant 10000 ⇒ RMS exactly 10000 (integer-exact:
    // sum of squares and the mean are exact in double, sqrt of a
    // perfect square of an int ≤ 2^26 is exact)
    assert(a.rms === 10000.0)
    // every equal-time bin holds 25 samples of the same |amplitude|
    assert(a.bins.length === Multimodal.featureDim)
    a.bins.foreach(b => assert(b === (10000.0 / 32768.0).toFloat, b))
  }

  test("audio decode round-trips encodeWavPcm16 and feeds " +
      "extractFeatures; non-WAV audio bytes take the fallback") {
    import spark.implicits._
    val ramp = Array.tabulate(800)(i => (i * 3 - 1200).toShort)
    val wav = Multimodal.encodeWavPcm16(ramp, 16000)
    val Some(a) = Multimodal.decodeAudio(wav)
    assert(a.sampleRate === 16000 && a.nSamples === 800L &&
      a.durationMs === 50L)
    // exact replay of the decoder's bin arithmetic on the known samples
    val want = Array.tabulate(Multimodal.featureDim) { b =>
      val s0 = b * 800 / Multimodal.featureDim
      val s1 = (b + 1) * 800 / Multimodal.featureDim
      val sum = (s0 until s1).map(i => ramp(i).toDouble * ramp(i)).sum
      (math.sqrt(sum / (s1 - s0)) / 32768.0).toFloat
    }
    assert(a.bins.toSeq === want.toSeq)
    // through the DataFrame path: audio rows with real WAV bytes get
    // the decoded bins; non-WAV audio bytes fall back to the stub
    val rows = Seq((1L, "audio", wav), (2L, "audio", "not wav".getBytes))
      .toDF("media_id", "kind", "content")
    val feats = Multimodal.extractFeatures(rows)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(feats(1L).toSeq === want.toSeq)
    assert(feats(2L).toSeq ===
      Multimodal.fakeDecode("not wav".getBytes).toSeq)
  }

  test("audioDecodeStats + syntheticWavMedia: container facts replay " +
      "from doc_id arithmetic (the q128 oracle contract)") {
    import spark.implicits._
    val docs = Seq(0L, 1L, 49L, 137L, 250L).toDF("doc_id")
    val got = Multimodal.audioDecodeStats(Multimodal.syntheticWavMedia(docs))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    val want = Seq(0L, 1L, 49L, 137L, 250L).map { id =>
      (id, 8000, (id % 50 + 1) * 80, (id % 50 + 1) * 10, (id % 100) * 300)
    }
    assert(got.toSeq === want)
    // non-audio and undecodable rows drop instead of failing the task
    val mixed = Seq((7L, "video", "vid".getBytes),
        (8L, "audio", "junk".getBytes))
      .toDF("media_id", "kind", "content")
    assert(Multimodal.audioDecodeStats(mixed).count() === 0L)
  }

  test("metadata-only ops never read the content blob (column pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-media").toString
    media.write.mode("overwrite").parquet(s"$dir/media")
    val plan = Multimodal.resizedMeta(spark.read.parquet(s"$dir/media"), 512)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("content"), readSchema)
  }
}
