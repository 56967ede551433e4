package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Multimodal._

/** A second deterministic stub for the codec-seam case: per-stride
  * byte means — different math, same seam, proving a codec swap
  * touches zero plumbing. */
private object StrideMeanCodec extends Codec {
  val name = "stub-stride-mean"
  val embeddingDim: Int = MediaCodec.EmbeddingDim
  def decode(payload: Array[Byte]): Array[Float] = {
    val sums = new Array[Float](embeddingDim)
    val counts = new Array[Int](embeddingDim)
    var i = 0
    while (i < payload.length) {
      val s = i % embeddingDim
      sums(s) += (payload(i) & 0xff).toFloat
      counts(s) += 1
      i += 1
    }
    Array.tabulate(embeddingDim)(s =>
      if (counts(s) == 0) 0f else sums(s) / counts(s))
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("decodeStub: deterministic, normalized histogram of EmbeddingDim") {
    val payload = "hello media".getBytes("UTF-8")
    val a = MediaCodec.decodeStub(payload)
    val b = MediaCodec.decodeStub(payload)
    assert(a.toSeq == b.toSeq)
    assert(a.length == MediaCodec.EmbeddingDim)
    assert(math.abs(a.sum - 1.0f) < 1e-5f) // histogram normalized by length
    assert(MediaCodec.decodeStub(Array.empty[Byte]).forall(_ == 0f))
  }

  test("checksum differs across payloads, stable across calls") {
    val x = MediaCodec.checksum("abc".getBytes)
    assert(x == MediaCodec.checksum("abc".getBytes))
    assert(x != MediaCodec.checksum("abd".getBytes))
  }

  test("sampleFrameOffsets: evenly spaced, clamped") {
    assert(MediaCodec.sampleFrameOffsets(1000, 4) == Seq(0L, 250L, 500L, 750L))
    assert(MediaCodec.sampleFrameOffsets(0, 4).isEmpty)
    assert(MediaCodec.sampleFrameOffsets(1000, 0).isEmpty)
  }

  test("extractFeatures end-to-end over the documents-derived media table") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val media = mediaFromDocuments(spark, docs)
    val feats = extractFeatures(media).collect()
    assert(feats.length == docs.count())
    feats.foreach { f =>
      assert(Set("image", "audio", "video").contains(f.mediaType))
      assert(f.nBytes > 0)
      assert(f.embedding.length == MediaCodec.EmbeddingDim)
    }
    // JVM-side recompute must agree with the distributed run
    val one = media.filter(_.id == 0L).head()
    val viaDs = feats.find(_.id == 0L).get
    assert(viaDs.checksum == MediaCodec.checksum(one.payload))
    assert(viaDs.embedding.toSeq == MediaCodec.decodeStub(one.payload).toSeq)
  }

  test("codec seam: swapping the codec changes only the embedding") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .limit(50)
    val media = mediaFromDocuments(spark, docs)
    val hist = extractFeatures(media, HistogramCodec).collect()
      .map(f => f.id -> f).toMap
    val stride = extractFeatures(media, StrideMeanCodec).collect()
      .map(f => f.id -> f).toMap
    assert(hist.keySet == stride.keySet)
    hist.foreach { case (id, h) =>
      val s = stride(id)
      // plumbing identical: ids, types, byte counts, checksums
      assert(h.mediaType == s.mediaType)
      assert(h.nBytes == s.nBytes)
      assert(h.checksum == s.checksum)
      assert(h.embedding.length == s.embedding.length)
    }
    // the two stubs genuinely compute different features
    assert(hist.exists { case (id, h) =>
      h.embedding.toSeq != stride(id).embedding.toSeq })
    // both deterministic
    val strideAgain = extractFeatures(media, StrideMeanCodec).collect()
      .map(f => f.id -> f.embedding.toSeq).toMap
    stride.foreach { case (id, f) =>
      assert(strideAgain(id) == f.embedding.toSeq) }
  }

  // ---- real codecs (JDK ImageIO / javax.sound) through the seam ----

  /** Deterministic 32x24 test image: a luminance gradient with a
    * bright square in one cell. */
  private def testImage(): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      32, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 24; x <- 0 until 32) {
      val v = (x * 255 / 31 + y * 255 / 23) / 2
      val rgb =
        if (x >= 24 && y < 6) 0xffffff // bright cell (0,3)
        else (v << 16) | (v << 8) | v
      img.setRGB(x, y, rgb)
    }
    img
  }

  private def encodeImage(
      img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, bos), s"no $format writer")
    bos.toByteArray
  }

  test("ImageIoCodec: real pixel decode — PNG and BMP of the SAME image agree") {
    val img = testImage()
    val png = encodeImage(img, "png")
    val bmp = encodeImage(img, "bmp")
    assert(!png.sameElements(bmp)) // genuinely different byte streams
    val fromPng = ImageIoCodec.decode(png)
    val fromBmp = ImageIoCodec.decode(bmp)
    // a real codec is a function of the IMAGE, not the bytes — the
    // property no byte-level stub can pass (and, pinned below, the
    // histogram stub indeed fails it)
    assert(fromPng.toSeq == fromBmp.toSeq)
    assert(MediaCodec.decodeStub(png).toSeq != MediaCodec.decodeStub(bmp).toSeq)
    // hand-check the grid: the bright planted square fills grid cell
    // (row 0, col 3) exactly, so dim 3 is the brightest ...
    assert(fromPng.length == MediaCodec.EmbeddingDim)
    assert(fromPng(3) > 0.99f, s"bright cell read ${fromPng(3)}")
    assert(fromPng.zipWithIndex.forall { case (v, i) =>
      i == 3 || v < fromPng(3) })
    // ... and the gradient makes the bottom-right cell the brightest
    // of the bottom row
    assert(fromPng(15) > fromPng(12))
    // garbage fails loudly, never a silent zero vector
    val e = intercept[IllegalArgumentException] {
      ImageIoCodec.decode("not an image".getBytes("UTF-8"))
    }
    assert(e.getMessage.contains("not a decodable image"))
  }

  test("WavPcmCodec: real WAV decode — segment RMS matches the synthesized signal") {
    // 1600 frames of 16-bit mono PCM: first half silence, second half
    // a full-scale square wave (RMS 1.0 by construction)
    val nFrames = 1600
    val pcm = new Array[Byte](nFrames * 2)
    for (f <- nFrames / 2 until nFrames) {
      val s: Short = if (f % 2 == 0) 32767 else -32767
      pcm(2 * f) = (s & 0xff).toByte // little-endian
      pcm(2 * f + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val emb = WavPcmCodec.decode(wav)
    assert(emb.length == MediaCodec.EmbeddingDim)
    // segments 0..7 silent, 8..15 full-scale (|sample| = 32767/32768)
    (0 until 8).foreach(i => assert(emb(i) == 0f, s"segment $i"))
    (8 until 16).foreach(i =>
      assert(math.abs(emb(i) - 32767f / 32768f) < 1e-4f, s"segment $i"))
    val e = intercept[IllegalArgumentException] {
      WavPcmCodec.decode("not audio".getBytes("UTF-8"))
    }
    assert(e.getMessage.contains("not a decodable audio"))
  }

  test("real codecs ride the SAME extractFeatures plumbing (seam untouched)") {
    import spark.implicits._
    val img = testImage()
    val recs = Seq(
      MediaRecord(1L,
        MediaMeta("image", 32, 24, 0, 0L), encodeImage(img, "png")),
      MediaRecord(2L,
        MediaMeta("image", 32, 24, 0, 0L), encodeImage(img, "bmp")))
    val ds = spark.createDataset(recs)
    val feats = extractFeatures(ds, ImageIoCodec).collect()
      .map(f => f.id -> f).toMap
    assert(feats(1L).embedding.toSeq == feats(2L).embedding.toSeq)
    assert(feats(1L).checksum != feats(2L).checksum) // bytes differ
    assert(feats(1L).embedding.toSeq ==
      ImageIoCodec.decode(recs.head.payload).toSeq)
  }

  test("averageHash64: hand bits, format invariance, loud failure") {
    // half-dark / half-bright 8x8: rows 0..3 black, rows 4..7 white.
    // mean is halfway, so exactly bits 32..63 set.
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      img.setRGB(x, y, if (y < 4) 0x000000 else 0xffffff)
    val h = averageHash64(encodeImage(img, "bmp"))
    assert(h == 0xFFFFFFFF00000000L, f"got $h%016x")
    // a function of the IMAGE, not the container bytes
    assert(averageHash64(encodeImage(img, "png")) == h)
    // flipping one bright pixel dark flips exactly that bit
    img.setRGB(0, 4, 0x000000)
    val h2 = averageHash64(encodeImage(img, "bmp"))
    assert(h2 == (h & ~(1L << 32)), f"got $h2%016x")
    val e = intercept[IllegalArgumentException] {
      averageHash64("junk".getBytes("UTF-8"))
    }
    assert(e.getMessage.contains("not a decodable image"))
  }

  test("averageHash64: larger images downsample to cell means") {
    // 16x16 where each 2x2 cell is uniform == the 8x8 of cell values
    val big = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val small = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (cy <- 0 until 8; cx <- 0 until 8) {
      val g = (cx * 31 + cy * 97) % 256
      val rgb = (g << 16) | (g << 8) | g
      small.setRGB(cx, cy, rgb)
      for (dy <- 0 to 1; dx <- 0 to 1)
        big.setRGB(cx * 2 + dx, cy * 2 + dy, rgb)
    }
    assert(averageHash64(encodeImage(big, "png")) ==
      averageHash64(encodeImage(small, "png")))
    // and a genuinely different image hashes differently
    val other = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      other.setRGB(x, y, if ((x + y) % 2 == 0) 0 else 0xffffff)
    assert(averageHash64(encodeImage(other, "png")) !=
      averageHash64(encodeImage(small, "png")))
  }

  test("audioFingerprint64: packing law, duplicate detection, loudness") {
    def wav(samples: Array[Short]): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        data(2 * i) = (s & 0xff).toByte
        data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
        true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt,
        samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // packing law: fingerprint == the codec's RMS vector quantized
    // to 4-bit nibbles, little-segment-first
    val rnd = new scala.util.Random(9)
    val payload = wav(Array.fill(160)(rnd.nextInt(4000).toShort))
    val fp = audioFingerprint64(payload)
    val rms = WavPcmCodec.decode(payload)
    val expected = rms.zipWithIndex.map { case (r, i) =>
      (math.min(15L, math.floor(r.toDouble * 512.0).toLong) & 0xfL) <<
        (4 * i)
    }.reduce(_ | _)
    assert(fp == expected)
    // identical content -> identical fingerprint; silence -> 0
    assert(audioFingerprint64(wav(Array.fill(160)(0.toShort))) == 0L)
    val copy = wav(Array.fill(160)(rnd.nextInt(4000).toShort))
    assert(audioFingerprint64(copy) == audioFingerprint64(copy))
    // full-scale clamps at nibble 15 everywhere
    val loud = wav(Array.fill(160)(32000.toShort))
    assert(audioFingerprint64(loud) == -1L) // all 64 bits set
    // junk fails loudly through the codec contract
    intercept[IllegalArgumentException] {
      audioFingerprint64("not audio".getBytes("UTF-8"))
    }
  }

  test("sampleFrames fans out only videos, frame count as configured") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val media = mediaFromDocuments(spark, docs)
    val nVideos = media.filter(_.meta.mediaType == "video").count()
    val frames = sampleFrames(media, framesPerVideo = 4)
    assert(frames.count() == nVideos * 4)
    val byId = frames.groupBy("id").count().select("count").as[Long].collect()
    assert(byId.forall(_ == 4L))
  }
}
