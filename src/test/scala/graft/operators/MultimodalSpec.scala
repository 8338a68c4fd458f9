package graft.operators

import graft.SparkSpecBase
import graft.fixtures.MediaFixtures
import graft.sources.Tables

class MultimodalSpec extends SparkSpecBase {

  lazy val media = Multimodal.syntheticMediaFromText(
    Tables.documents(spark, sfDir), "doc_id", "text")

  test("synthetic media table has the binary-column schema") {
    val schema = media.toDF().schema
    assert(schema("bytes").dataType.typeName === "binary")
    assert(schema("media_id").dataType.typeName === "long")
    assert(media.count() === 500)
  }

  test("BMP codec round-trip with hand-computed golden values") {
    // 4×1 image, pixels = "abcdefghijkl" (12 bytes)
    val pixels = "abcdefghijkl".getBytes("US-ASCII")
    val bmp = MediaCodec.encodeBmp24(4, 1, pixels)
    assert(bmp.length === 54 + 12)
    assert(bmp(0) === 'B'.toByte && bmp(1) === 'M'.toByte)
    val info = MediaCodec.decodeBmp(bmp).get
    assert(info.width === 4 && info.height === 1 && info.bitsPerPixel === 24)
    // mean over bytes 'a'(97)..'l'(108): (97+108)*12/2/12 = 102.5
    assert(info.meanPixel === 102.5)
    // corrupt magic → decode-failure tolerance, not an exception
    bmp(0) = 'X'.toByte
    assert(MediaCodec.decodeBmp(bmp).isEmpty)
  }

  test("WAV codec round-trip with hand-computed golden values") {
    val samples = "abc".getBytes("US-ASCII")
    val wav = MediaCodec.encodeWavPcm8(10000, samples)
    assert(wav.length === 44 + 3)
    val info = MediaCodec.decodeWav(wav).get
    assert(info.sampleRate === 10000 && info.channels === 1 && info.bitsPerSample === 8)
    assert(info.nSamples === 3L)
    assert(info.meanSample === (97 + 98 + 99) / 3.0)
    // truncated payload → None
    assert(MediaCodec.decodeWav(wav.take(40)).isEmpty)
  }

  test("decoded features: golden values per kind, undecodable rows degrade to metadata-only") {
    import spark.implicits._
    val docs = Seq(
      (0L, "abcdefghijklmnopqrstuvwx"), // image: l=24, h=2, pixels = 24 bytes
      (1L, "abc"), // audio: rate 8000+(1%5)*2000 = 10000
      (2L, "xyz")) // video: undecodable
      .toDF("doc_id", "text")
    val f = Multimodal.extractDecodedFeatures(
      Multimodal.syntheticMediaFromText(docs, "doc_id", "text"))
      .collect().sortBy(_.media_id)
    val img = f(0)
    assert(img.format === "bmp" && img.n_bytes === 54 + 24)
    assert(img.width === Some(4L) && img.height === Some(2L))
    assert(img.mean_byte === Some(('a' to 'x').map(_.toInt).sum / 24.0))
    val wav = f(1)
    assert(wav.format === "wav" && wav.n_bytes === 44 + 3)
    assert(wav.sample_rate === Some(10000L) && wav.n_samples === Some(3L))
    assert(wav.mean_byte === Some((97 + 98 + 99) / 3.0))
    val vid = f(2)
    assert(vid.format === "mp4" && vid.n_bytes === 3)
    assert(vid.width.isEmpty && vid.sample_rate.isEmpty && vid.mean_byte.isEmpty)
  }

  test("resizeBmp24 fixture: real nearest-neighbor BMP downscale, exact pixel provenance") {
    // hand-built 4x4 BMP whose pixel (x,y) encodes its coordinates
    val px = Array.tabulate(4 * 4 * 3) { i =>
      val p = i / 3; ((p % 4) * 16 + (p / 4)).toByte
    }
    val bmp = MediaCodec.encodeBmp24(4, 4, px)
    // a non-BMP payload and an unaligned target stride give None
    assert(MediaFixtures.resizeBmp24(Array[Byte](1, 2, 3), 4, 2).isEmpty)
    assert(MediaFixtures.resizeBmp24(bmp, 3, 2).isEmpty)
    val resized = MediaFixtures.resizeBmp24(bmp, 4, 2).get
    val info = MediaCodec.decodeBmp(resized).get
    assert(info.width === 4 && info.height === 2)
    // nearest-neighbor in LOGICAL space: output pixel (x,y) takes source
    // pixel (x, 2y). Asserted through the ImageIO decode (decodeRgb), so
    // the check is independent of BMP's bottom-up B,G,R storage — and
    // simultaneously proves encodeBmp24 writes a BMP a conforming
    // decoder reads back as the input array.
    val img = MediaCodec.decodeRgb(resized).get
    assert(img.width === 4 && img.height === 2)
    for (y <- 0 until 2; x <- 0 until 4) {
      val s = ((2 * y) * 4 + x) * 3
      val expected = ((px(s) & 0xff) << 16) | ((px(s + 1) & 0xff) << 8) | (px(s + 2) & 0xff)
      assert((img.rgb(y * 4 + x) & 0xffffff) === expected, s"pixel ($x,$y)")
    }
  }

  test("PNG round-trips exactly through javax.imageio: dims and mean channel bit-equal") {
    val pixels = Array.tabulate[Byte](4 * 3 * 3)(i => ((i * 37 + 11) % 256).toByte)
    val png = MediaCodec.encodePng24(4, 3, pixels)
    // PNG magic
    assert((png(0) & 0xff) === 0x89 && png(1) === 'P' && png(2) === 'N' && png(3) === 'G')
    val info = MediaCodec.decodeImageIO(png).get
    assert(info.width === 4 && info.height === 3)
    val expected = pixels.map(_ & 0xff).sum.toDouble / pixels.length
    assert(info.meanChannel === expected,
      "lossless decode must recover the exact channel mean")
  }

  test("JPEG decode is real: exact geometry, channel mean within lossy drift") {
    // smooth gradient — JPEG's DCT reproduces it closely; exactness is
    // deliberately NOT asserted (codec-dependent low bits)
    val pixels = Array.tabulate[Byte](4 * 8 * 3)(i => (40 + (i % 160)).toByte)
    val jpg = MediaCodec.encodeJpeg24(4, 8, pixels)
    assert((jpg(0) & 0xff) === 0xff && (jpg(1) & 0xff) === 0xd8, "JPEG SOI magic")
    val info = MediaCodec.decodeImageIO(jpg).get
    assert(info.width === 4 && info.height === 8)
    val expected = pixels.map(_ & 0xff).sum.toDouble / pixels.length
    assert(math.abs(info.meanChannel - expected) < 16.0,
      s"decoded mean ${info.meanChannel} drifted too far from $expected")
  }

  test("image features: PNG exact, JPEG bounded, corrupt rows metadata-only") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aaaaaaaaaaaaaaaaaaaaaaaa"), // png: l=24, h=2
      (1L, "bbbbbbbbbbbbbbbbbbbbbbbb"), // jpeg
      (2L, "not an image at all")       // undecodable passthrough
    ).toDF("doc_id", "text")
    val feats = Multimodal.extractImageFeatures(
      Multimodal.syntheticImagesFromText(docs, "doc_id", "text"))
      .collect().sortBy(_.media_id)
    val png = feats(0)
    assert(png.format === "png" && png.width === Some(4L) && png.height === Some(2L))
    assert(png.mean_byte === Some('a'.toInt.toDouble),
      "PNG of 24 identical bytes must decode to exactly that mean")
    val jpg = feats(1)
    assert(jpg.format === "jpeg" && jpg.width === Some(4L) && jpg.height === Some(2L))
    assert(jpg.mean_byte.exists(m => math.abs(m - 'b'.toInt) < 16.0))
    val bin = feats(2)
    assert(bin.format === "bin" && bin.width.isEmpty && bin.mean_byte.isEmpty)
    assert(bin.n_bytes === 19L, "undecodable rows keep their metadata")
  }
}
