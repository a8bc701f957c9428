package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("real PNG roundtrip: ImageIO decode returns exactly the generated pixels") {
    val docs = Seq(0L, 7L, 123L).toDF("doc_id")
    val media = Multimodal.pngMediaTable(spark, docs)
    assert(media.schema("payload").dataType.typeName == "binary")
    // payload really is a PNG: magic bytes
    val raw = media.filter($"doc_id" === 7).as[Multimodal.ImageRow].head()
    assert(raw.payload.take(4).toSeq ==
      Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val stats = Multimodal.decodePng(spark, media).collect()
      .map(s => s.doc_id -> s).toMap
    for (id <- Seq(0L, 7L, 123L)) {
      val w = Multimodal.genWidth(id); val h = Multimodal.genHeight(id)
      var er = 0L; var eg = 0L; var eb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        er += Multimodal.pixR(id, x, y)
        eg += Multimodal.pixG(id, x, y)
        eb += Multimodal.pixB(id, x, y)
      }
      val s = stats(id)
      assert(s.width == w && s.height == h)
      assert(s.sum_r == er && s.sum_g == eg && s.sum_b == eb)
    }
  }

  test("real NN half-resize: re-encoded PNG decodes to the index-mapped pixels") {
    val id = 42L
    val media = Multimodal.pngMediaTable(spark, Seq(id).toDF("doc_id"))
    val resized = Multimodal.resizePngHalf(spark, media)
    val w = Multimodal.genWidth(id); val h = Multimodal.genHeight(id)
    val w2 = math.max(1, w / 2); val h2 = math.max(1, h / 2)
    val s = Multimodal.decodePng(spark, resized).head()
    assert(s.width == w2 && s.height == h2)
    var er = 0L
    for (y2 <- 0 until h2; x2 <- 0 until w2)
      er += Multimodal.pixR(id, x2 * w / w2, y2 * h / h2)
    assert(s.sum_r == er)
  }

  test("stripSample explodes every k-th strip of decoded pixels, drops partial tail") {
    val id = 9L // h = 9 % 16 + 8 = 17 -> strips of 4 rows: 4 whole, 1-row tail dropped
    val media = Multimodal.pngMediaTable(spark, Seq(id).toDF("doc_id"))
    val h = Multimodal.genHeight(id); val w = Multimodal.genWidth(id)
    assert(h == 17)
    val all = Multimodal.stripSample(spark, media, stripH = 4, everyK = 1)
      .collect().sortBy(_.strip_idx)
    assert(all.map(_.strip_idx).toSeq == Seq(0, 1, 2, 3))
    val expected0 = (for (y <- 0 until 4; x <- 0 until w) yield
      Multimodal.pixR(id, x, y).toLong + Multimodal.pixG(id, x, y) +
        Multimodal.pixB(id, x, y)).sum
    assert(all.head.strip_sum == expected0)
    val sampled = Multimodal.stripSample(spark, media, stripH = 4, everyK = 2).collect()
    assert(sampled.map(_.strip_idx).sorted.toSeq == Seq(0, 2))
  }

  test("real WAV roundtrip: AudioSystem decode returns exactly the generated samples") {
    val docs = Seq(0L, 3L, 250L).toDF("doc_id")
    val media = Multimodal.wavMediaTable(spark, docs)
    // payload really is a WAV: RIFF....WAVE magic
    val raw = media.filter($"doc_id" === 3).as[Multimodal.ImageRow].head()
    assert(new String(raw.payload.take(4), "US-ASCII") == "RIFF")
    assert(new String(raw.payload.slice(8, 12), "US-ASCII") == "WAVE")
    val stats = Multimodal.decodeWav(spark, media).collect()
      .map(s => s.doc_id -> s).toMap
    for (id <- Seq(0L, 3L, 250L)) {
      val n = Multimodal.genSamples(id)
      val samples = (0 until n).map(Multimodal.sampleAt(id, _))
      val s = stats(id)
      assert(s.n_samples == n.toLong)
      assert(s.sum_amp == samples.map(_.toLong).sum)
      assert(s.sum_abs_amp == samples.map(v => math.abs(v.toLong)).sum)
      assert(s.peak == samples.map(v => math.abs(v.toLong)).max)
    }
  }

  test("wavFrameFeatures: energy/zcr per frame match the generator; tail dropped") {
    val docs = Seq(0L, 3L, 250L).toDF("doc_id")
    val media = Multimodal.wavMediaTable(spark, docs)
    val got = Multimodal.wavFrameFeatures(spark, media, frameLen = 160).collect()
      .map(f => (f.doc_id, f.frame_idx) -> f).toMap
    for (id <- Seq(0L, 3L, 250L)) {
      val n = Multimodal.genSamples(id)
      val nFrames = n / 160
      assert(got.keys.count(_._1 == id) == nFrames) // partial tail dropped
      for (fi <- 0 until nFrames) {
        val ss = (fi * 160 until (fi + 1) * 160).map(Multimodal.sampleAt(id, _))
        val f = got((id, fi))
        assert(f.energy == ss.map(s => s.toLong * s).sum)
        assert(f.zcr == ss.sliding(2).count(p => p(0).toLong * p(1) < 0))
      }
    }
  }

  test("real AVI roundtrip: container parse returns exactly the generated frames") {
    val ids = Seq(0L, 5L, 123L)
    val docs = ids.toDF("doc_id")
    val media = Multimodal.aviMediaTable(spark, docs)
    // payload really is an AVI: RIFF....AVI magic
    val raw = media.filter($"doc_id" === 5).as[Multimodal.ImageRow].head()
    assert(new String(raw.payload.take(4), "US-ASCII") == "RIFF")
    assert(new String(raw.payload.slice(8, 12), "US-ASCII") == "AVI ")
    // declared RIFF size covers the whole file
    val declared = java.nio.ByteBuffer.wrap(raw.payload.slice(4, 8))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(declared + 8 == raw.payload.length)
    val frames = Multimodal.sampleAviFrames(spark, media, everyK = 1).collect()
      .groupBy(_.doc_id)
    for (id <- ids) {
      val w = Multimodal.genWidth(id); val h = Multimodal.genHeight(id)
      val fs = frames(id).sortBy(_.frame_idx)
      assert(fs.map(_.frame_idx).toSeq == (0 until Multimodal.genFrames(id)))
      for (fr <- fs) {
        val px = for (y <- 0 until h; x <- 0 until w) yield (x, y)
        assert(fr.sum_r == px.map { case (x, y) => Multimodal.vidR(id, fr.frame_idx, x, y).toLong }.sum)
        assert(fr.sum_g == px.map { case (x, y) => Multimodal.vidG(id, fr.frame_idx, x, y).toLong }.sum)
        assert(fr.sum_b == px.map { case (x, y) => Multimodal.vidB(id, fr.frame_idx, x, y).toLong }.sum)
      }
    }
    // everyK=2 keeps frames 0, 2, 4, ...
    val sampled = Multimodal.sampleAviFrames(spark, media, everyK = 2).collect()
      .filter(_.doc_id == 5L).map(_.frame_idx).sorted.toSeq
    assert(sampled == (0 until Multimodal.genFrames(5L) by 2))
  }

  test("AVI parser rejects corrupt containers loudly") {
    def frames(payload: Array[Byte]) = Multimodal.sampleAviFrames(spark,
      Seq((9L, payload)).toDF("doc_id", "payload"), everyK = 1).collect()
    val good = Multimodal.encodeAvi(9L)
    assert(frames(good).nonEmpty)
    // wrong magic
    val notRiff = good.clone(); notRiff(0) = 'X'.toByte
    intercept[org.apache.spark.SparkException](frames(notRiff))
    // WAVE-but-not-AVI RIFF form
    val notAvi = good.clone(); notAvi(8) = 'W'.toByte
    intercept[org.apache.spark.SparkException](frames(notAvi))
    // corrupt a frame chunk's declared size -> size/format mismatch
    val moviAt = {
      // find the movi LIST, then the first 00db chunk size field after it
      val s = new String(good, "ISO-8859-1"); s.indexOf("00db")
    }
    assert(moviAt > 0)
    val badFrame = good.clone(); badFrame(moviAt + 4) = (badFrame(moviAt + 4) + 1).toByte
    intercept[org.apache.spark.SparkException](frames(badFrame))
  }

  test("dhashPng: monotone gradients give the extreme hashes; formula replay matches") {
    // hand-constructed PNGs: strictly increasing left-to-right gray ->
    // every neighbor comparison g(i) > g(i+1) is false -> hash 0;
    // strictly decreasing -> all 60 bits set -> 2^60 - 1
    def gradientPng(decreasing: Boolean): Array[Byte] = {
      val w = 22; val h = 12
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = if (decreasing) 220 - 10 * x else 10 * x
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.ImageRow(1L, gradientPng(decreasing = false)),
      Multimodal.ImageRow(2L, gradientPng(decreasing = true))).toDF()
    val out = Multimodal.dhashPng(spark, media).collect()
      .map(r => r.doc_id -> r.dhash).toMap
    assert(out(1L) == 0L)
    assert(out(2L) == (1L << 60) - 1)

    // and the generated-corpus hash matches an independent per-pixel
    // replay of the generator formulas (the oracle's arithmetic)
    val gen = Multimodal.pngMediaTable(spark, Seq(5L, 40L).toDF("doc_id"))
    val hashes = Multimodal.dhashPng(spark, gen).collect()
      .map(r => r.doc_id -> r.dhash).toMap
    for (id <- Seq(5L, 40L)) {
      val w = Multimodal.genWidth(id); val h = Multimodal.genHeight(id)
      def gray(x: Int, y: Int): Long =
        Multimodal.pixR(id, x * w / 11, y * h / 6).toLong +
          Multimodal.pixG(id, x * w / 11, y * h / 6) +
          Multimodal.pixB(id, x * w / 11, y * h / 6)
      var expected = 0L
      for (y <- 0 until 6; x <- 0 until 10)
        expected = (expected << 1) | (if (gray(x, y) > gray(x + 1, y)) 1L else 0L)
      assert(hashes(id) == expected, s"dhash mismatch for id $id")
    }
  }

  test("media generators pin the non-negative id contract") {
    val neg = Seq(-1L).toDF("doc_id")
    intercept[org.apache.spark.SparkException](
      Multimodal.aviMediaTable(spark, neg).collect())
    intercept[org.apache.spark.SparkException](
      Multimodal.pngMediaTable(spark, neg).collect())
    intercept[org.apache.spark.SparkException](
      Multimodal.wavMediaTable(spark, neg).collect())
  }

  test("sobelPng: hand-computed energy on the generated image; interior count exact") {
    val out = Multimodal.sobelPng(spark,
        Multimodal.pngMediaTable(spark, Seq(3L, 4L).toDF("doc_id")))
      .collect().map(s => s.doc_id -> s).toMap
    Seq(3L, 4L).foreach { id =>
      val s = out(id)
      val (w, h) = (Multimodal.genWidth(id), Multimodal.genHeight(id))
      assert((s.width, s.height) == ((w, h)))
      assert(s.n_interior == (w - 2).toLong * (h - 2))
      def g(x: Int, y: Int) = Multimodal.pixR(id, x, y) +
        Multimodal.pixG(id, x, y) + Multimodal.pixB(id, x, y)
      var expect = 0L
      for (y <- 1 until h - 1; x <- 1 until w - 1) {
        val gx = (g(x + 1, y - 1) + 2 * g(x + 1, y) + g(x + 1, y + 1)) -
          (g(x - 1, y - 1) + 2 * g(x - 1, y) + g(x - 1, y + 1))
        val gy = (g(x - 1, y + 1) + 2 * g(x, y + 1) + g(x + 1, y + 1)) -
          (g(x - 1, y - 1) + 2 * g(x, y - 1) + g(x + 1, y - 1))
        expect += math.abs(gx) + math.abs(gy)
      }
      assert(s.energy == expect, s"energy mismatch for id $id")
      assert(s.energy > 0, "generated gradient image cannot be flat")
    }
  }
}
