package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.embed.{AudioSpectrogramEmbedder, ImageFeatureEmbedder, MultimodalFixtures}
import graft.engine.{EngineConfig, ZebraEngine}

/** Multimodal contracts (SURVEY.md §5, FIXTURES.md §3): decode correctness,
  * determinism, discrimination, and engine round-trip for images and audio. */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val img = ImageFeatureEmbedder()
  private val aud = AudioSpectrogramEmbedder()

  test("E3 decode: solid-color PNG normalizes to the expected ImageNet values") {
    // solid gray 128: r=g=b=128/255; channel 0 normalized = (0.50196-0.485)/0.229
    val buf = new java.awt.image.BufferedImage(10, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 10; x <- 0 until 10) buf.setRGB(x, y, 0x808080)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(buf, "png", out)
    val t = ImageFeatureEmbedder.loadImage224(out.toByteArray)
    assert(t != null && t.length == 3 && t(0).length == 224 && t(0)(0).length == 224)
    val v = 128.0 / 255.0
    assert(math.abs(t(0)(100)(100) - (v - 0.485) / 0.229) < 1e-6)
    assert(math.abs(t(1)(100)(100) - (v - 0.456) / 0.224) < 1e-6)
    assert(math.abs(t(2)(100)(100) - (v - 0.406) / 0.225) < 1e-6)
  }

  test("E3 decode: garbage bytes yield the zero vector, not a crash") {
    assert(ImageFeatureEmbedder.loadImage224("not a png".getBytes) == null)
    val z = img.embedImage("not a png".getBytes)
    assert(z.length == 768 && z.forall(_ == 0f))
  }

  test("E4 embed: deterministic, unit-norm, discriminates images") {
    val a1 = img.embedImage(MultimodalFixtures.makePng(1))
    val a2 = img.embedImage(MultimodalFixtures.makePng(1))
    val b = img.embedImage(MultimodalFixtures.makePng(9))
    assert(a1.sameElements(a2))
    assert(!a1.sameElements(b))
    val norm = math.sqrt(a1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("E5 decode: generated WAV round-trips samples and rate") {
    val wav = MultimodalFixtures.makeWavSine(440.0)
    val (samples, rate) = AudioSpectrogramEmbedder.audioToSamples(wav)
    assert(rate == 8000f)
    assert(samples.length == 4000)
    // peak amplitude is the synthesized 12000 (+/- rounding)
    assert(samples.max > 11000 && samples.max <= 12000)
  }

  test("E6 spectrogram: distinct frequencies yield distinct images; same input identical") {
    val s1 = AudioSpectrogramEmbedder.spectrogramPng(MultimodalFixtures.makeWavSine(440.0))
    val s1b = AudioSpectrogramEmbedder.spectrogramPng(MultimodalFixtures.makeWavSine(440.0))
    val s2 = AudioSpectrogramEmbedder.spectrogramPng(MultimodalFixtures.makeWavSine(1760.0))
    assert(s1 != null && s1.sameElements(s1b))
    assert(!s1.sameElements(s2))
  }

  test("E7 audio embed: same clip at dist 0, closer frequency = closer embedding") {
    val e440 = aud.embedAudio(MultimodalFixtures.makeWavSine(440.0))
    val e440b = aud.embedAudio(MultimodalFixtures.makeWavSine(440.0))
    val e494 = aud.embedAudio(MultimodalFixtures.makeWavSine(494.0))
    val noise = aud.embedAudio(MultimodalFixtures.makeWavNoise(3))
    assert(e440.sameElements(e440b))
    def cos(x: Array[Float], y: Array[Float]): Double =
      x.zip(y).map { case (p, q) => p.toDouble * q }.sum
    assert(cos(e440, e494) > cos(e440, noise),
      "a nearby tone must be closer than noise")
  }

  test("engine round-trip with image documents: top-1 is self at dist 0") {
    val path = SparkTestBase.tmpDir("test_img_engine")
    ZebraEngine.destroy(path)
    val eng = ZebraEngine.create(
      spark, path, EngineConfig(dim = 768, metric = "cosine"))
    import spark.implicits._
    val docs = (0 until 12)
      .map(i => (f"img$i%03d", MultimodalFixtures.makePng(i)))
      .toDF("id", "document")
    eng.insertDocuments(docs, img)
    assert(eng.count() == 12)
    val queries = (0 until 3)
      .map(i => (i.toLong, MultimodalFixtures.makePng(i)))
      .toDF("query_id", "document")
    val hits = eng.queryDocuments(queries, img, k = 1).collect()
    assert(hits.length == 3)
    hits.foreach { r =>
      assert(r.getAs[String]("id") == f"img${r.getAs[Long]("query_id")}%03d")
      assert(r.getAs[Double]("dist") == 0.0)
    }
    ZebraEngine.destroy(path)
  }

  test("video container: encode/decode round trip, sampling stride, degradation") {
    import graft.embed.VideoFrames
    val frames = (0 until 8).map(f => MultimodalFixtures.makePng(f))
    val video = VideoFrames.encode(frames)
    val back = VideoFrames.decodeFrames(video)
    assert(back.length == 8)
    back.zip(frames).foreach { case (a, b) => assert(a.sameElements(b)) }
    // stride sampling is deterministic and keeps original frame indices
    val sampled = VideoFrames.sampleFrames(video, stride = 3)
    assert(sampled.map(_._1).toSeq == Seq(0, 3, 6))
    // non-container bytes degrade to null, never throw
    assert(VideoFrames.decodeFrames(Array[Byte](1, 2, 3)) == null)
    assert(VideoFrames.decodeFrames(MultimodalFixtures.makePng(0)) == null)
    // truncated container (length prefix past the end) degrades too
    assert(VideoFrames.decodeFrames(video.dropRight(10)) == null)
  }

  test("video embedder: deterministic, unit-norm, self-retrieval at 0") {
    import graft.embed.VideoFrameEmbedder
    val e = VideoFrameEmbedder()
    val v0 = e.embedVideo(MultimodalFixtures.makeVideo(0))
    val v0again = e.embedVideo(MultimodalFixtures.makeVideo(0))
    assert(v0.sameElements(v0again))
    val norm = math.sqrt(v0.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    // distinct videos embed apart
    val v1 = e.embedVideo(MultimodalFixtures.makeVideo(1))
    assert(!v0.sameElements(v1))
    // undecodable bytes -> zero vector, not a throw
    assert(e.embedVideo(Array[Byte](9, 9, 9)).forall(_ == 0f))

    // the catalog query: every query video's top-1 is itself at distance 0
    val knn = graft.catalog.MultimodalQueries.videoKnn
      .run(spark, SparkTestBase.sf0001).collect()
    val top1 = knn.groupBy(_.getLong(0)).map { case (_, rows) =>
      rows.minBy(r => (r.getDouble(2), r.getLong(1)))
    }
    assert(top1.nonEmpty)
    top1.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getDouble(2) == 0.0)
    }
  }

  test("CLI hit previews: ASCII image render and WAV summary (C3/C4)") {
    val png = graft.tools.HitPreview.image(MultimodalFixtures.makePng(1), cols = 16)
    val lines = png.linesIterator.toSeq
    assert(lines.length == 8) // cols/2 rows
    assert(lines.forall(_.length == 16 + 2)) // 2-space indent + cols chars
    // undecodable bytes degrade gracefully, never throw
    assert(graft.tools.HitPreview.image(Array[Byte](1, 2, 3)).contains("undecodable"))

    val wav = graft.tools.HitPreview.audio(
      MultimodalFixtures.makeWavSine(440.0, rate = 8000f, seconds = 0.5))
    assert(wav.contains("0.50 s") && wav.contains("8000 Hz"))
    assert(graft.tools.HitPreview.audio(Array[Byte](9, 9)).contains("undecodable"))
  }
}
