package graft.operators

/** Minimal pure-JVM media codecs for two PUBLIC container formats — BMP
  * (BITMAPINFOHEADER, 24bpp, bottom-up) and WAV (RIFF PCM) — so the
  * multimodal feature path decodes REAL bytes: magic numbers, header
  * fields, and sample statistics all come from parsing the payload, not
  * from a stub. Layouts follow the public specifications (Windows BMP
  * file header + BITMAPINFOHEADER; RIFF/WAVE with `fmt ` and `data`
  * chunks); no external libraries, so the decoders run inside executor
  * `mapPartitions` with zero dependencies.
  *
  * Decoders return None on any malformed input (wrong magic, truncated
  * header, out-of-range fields) — decode-failure tolerance is part of
  * the operator contract at 100 TB, where a corpus always contains
  * corrupt members.
  */
object MediaCodec {

  // ---- little-endian primitives ------------------------------------
  private def le16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def le32(b: Array[Byte], off: Int, v: Int): Unit = {
    le16(b, off, v & 0xffff); le16(b, off + 2, (v >>> 16) & 0xffff)
  }
  private def rd16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def rd32(b: Array[Byte], off: Int): Int =
    rd16(b, off) | (rd16(b, off + 2) << 16)
  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")
  private def putTag(b: Array[Byte], off: Int, t: String): Unit = {
    val a = t.getBytes("US-ASCII"); System.arraycopy(a, 0, b, off, 4)
  }

  // ---- BMP ----------------------------------------------------------
  val BmpHeaderSize = 54 // 14-byte file header + 40-byte BITMAPINFOHEADER

  /** 24bpp bottom-up BMP. Rows must already be 4-byte aligned
    * (width*3 % 4 == 0) so `pixels` is exactly the pixel array. */
  def encodeBmp24(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "empty image")
    require(width * 3 % 4 == 0, s"row stride ${width * 3} not 4-byte aligned")
    require(pixels.length == width * height * 3,
      s"expected ${width * height * 3} pixel bytes, got ${pixels.length}")
    val b = new Array[Byte](BmpHeaderSize + pixels.length)
    b(0) = 'B'; b(1) = 'M'
    le32(b, 2, b.length) // file size
    le32(b, 10, BmpHeaderSize) // pixel-data offset
    le32(b, 14, 40) // BITMAPINFOHEADER size
    le32(b, 18, width)
    le32(b, 22, height)
    le16(b, 26, 1) // planes
    le16(b, 28, 24) // bits per pixel
    le32(b, 34, pixels.length) // image size
    // BMP stores rows BOTTOM-UP (positive height) in B,G,R channel
    // order; write both so a conforming decoder (javax.imageio) returns
    // EXACTLY the input array — before round 11 the rows were copied
    // verbatim, which decodeBmp never noticed (the mean is
    // order-invariant) but made an ImageIO
    // decode of our own BMP vertically mirrored vs a PNG of the same
    // pixels, breaking cross-container perceptual-hash equality.
    val rowBytes = width * 3
    var row = 0
    while (row < height) {
      val src = (height - 1 - row) * rowBytes
      val dst = BmpHeaderSize + row * rowBytes
      var x = 0
      while (x < rowBytes) {
        b(dst + x) = pixels(src + x + 2) // B
        b(dst + x + 1) = pixels(src + x + 1) // G
        b(dst + x + 2) = pixels(src + x) // R
        x += 3
      }
      row += 1
    }
    b
  }

  case class BmpInfo(width: Int, height: Int, bitsPerPixel: Int, meanPixel: Double)

  /** Parse a 24bpp BMP: magic, header geometry, then the mean over the
    * PIXEL bytes (row padding excluded). */
  def decodeBmp(bytes: Array[Byte]): Option[BmpInfo] = {
    if (bytes.length < BmpHeaderSize || bytes(0) != 'B' || bytes(1) != 'M') return None
    val dataOff = rd32(bytes, 10)
    val width = rd32(bytes, 18)
    val height = rd32(bytes, 22)
    val bpp = rd16(bytes, 28)
    if (width <= 0 || height <= 0 || bpp != 24 || dataOff < BmpHeaderSize) return None
    // all geometry math in Long: a hostile header (width ~ 2^30) overflows
    // `width * 3` in Int, slips a 32-bit bounds check, and turns the pixel
    // loops into out-of-bounds reads — a corrupt ROW must degrade to None,
    // never crash the task (per-item error isolation)
    val rowBytesL = width.toLong * 3
    val strideL = (rowBytesL + 3) / 4 * 4
    if (dataOff.toLong + strideL * height > bytes.length) return None
    // bounds check passed ⇒ every offset below fits in Int
    val rowBytes = rowBytesL.toInt
    val stride = strideL.toInt
    var sum = 0L
    var row = 0
    while (row < height) {
      val base = dataOff + row * stride
      var i = 0
      while (i < rowBytes) { sum += bytes(base + i) & 0xff; i += 1 }
      row += 1
    }
    val n = rowBytesL * height
    Some(BmpInfo(width, height, bpp, sum.toDouble / n))
  }

  // ---- JPEG / PNG via javax.imageio (public JDK API) -----------------

  case class ImageIOInfo(width: Int, height: Int, meanChannel: Double)

  /** Largest pixel count [[decodeImageIO]] will decode: a
    * decompression-bomb guard. Like [[decodeBmp]]'s Long-math bounds
    * check, the limit is enforced from the HEADER — via the ImageReader
    * API, which parses dimensions without touching pixel data — so a
    * hostile 30000×30000 PNG declaration is rejected before the
    * multi-GB BufferedImage allocation, not OOM-caught after. 64 MP
    * covers any real training-corpus image. */
  val MaxImagePixels: Long = 64L * 1024 * 1024

  /** Decode any ImageIO-supported container — PNG, JPEG, (JDK) BMP,
    * GIF — and compute (width, height, mean 8-bit channel value over
    * RGB). PNG is lossless, so its mean is EXACTLY recomputable from
    * the encoded pixels (what makes the mm_features_img gate
    * oracle-able); JPEG decodes are real but codec-dependent in the
    * low bits, so callers keep JPEG means out of cross-engine
    * comparisons. Returns None on anything unreadable or over
    * [[MaxImagePixels]] — the [[decodeBmp]] corrupt-member contract.
    * Catches NonFatal only: an executor OOM must surface, never be
    * swallowed as a quiet None. Pixels read one bulk row at a time
    * (not per-pixel getRGB — a color-model conversion per call) and
    * the stream is memory-backed (`MemoryCacheImageInputStream`), so
    * no per-decode temp file is created on the hot path. */
  // ---- per-thread codec instance cache -------------------------------
  // `ImageIO.getImageReaders` / `getImageWritersByFormatName` walk the
  // static IIORegistry and INSTANTIATE a fresh codec per call; measured
  // in mm_features_img / the pHash family, that per-image machinery
  // dominated the codec jobs, and because the registry is shared JVM
  // state, 32 concurrent codec tasks multiplied total task time several
  // fold on lock contention. Readers/writers are reusable (setInput /
  // setOutput swaps the stream) but not thread-safe, so each executor
  // thread keeps its own instance per format: the container format is
  // probed from the magic bytes for the three formats this engine emits
  // (PNG/JPEG/BMP); anything else falls back to the registry probe,
  // per-call instance and dispose — the exact prior behavior. The codec
  // CLASS is unchanged either way, so decoded pixels and encoded bytes
  // are bit-identical.
  private val readerCache =
    new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]] {
      override def initialValue() =
        new java.util.HashMap[String, javax.imageio.ImageReader]()
    }
  private val writerCache =
    new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageWriter]] {
      override def initialValue() =
        new java.util.HashMap[String, javax.imageio.ImageWriter]()
    }

  private def magicFormat(bytes: Array[Byte]): Option[String] =
    if (bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G') Some("png")
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8) Some("jpeg")
    else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') Some("bmp")
    else None

  private def cachedReader(fmt: String): Option[javax.imageio.ImageReader] = {
    val m = readerCache.get()
    var r = m.get(fmt)
    if (r == null) {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
      if (!it.hasNext) return None
      r = it.next()
      m.put(fmt, r)
    }
    Some(r)
  }

  private[operators] def cachedWriter(fmt: String): javax.imageio.ImageWriter = {
    val m = writerCache.get()
    var w = m.get(fmt)
    if (w == null) {
      val it = javax.imageio.ImageIO.getImageWritersByFormatName(fmt)
      require(it.hasNext, s"no ImageIO writer for format '$fmt'")
      w = it.next()
      m.put(fmt, w)
    }
    w
  }

  /** Run `f` with a reader positioned on `bytes`: the cached per-thread
    * instance when the magic bytes name a known format, else the
    * registry-probe fallback (fresh instance, disposed after). Returns
    * None when no reader exists for the payload. */
  private def withReader[T](bytes: Array[Byte])(
      f: javax.imageio.ImageReader => T): Option[T] = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      magicFormat(bytes).flatMap(cachedReader) match {
        case Some(r) =>
          try { r.setInput(iis, true, true); Some(f(r)) }
          finally r.setInput(null)
        case None =>
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try { r.setInput(iis, true, true); Some(f(r)) }
            finally r.dispose()
          }
      }
    } finally iis.close()
  }

  def decodeImageIO(bytes: Array[Byte]): Option[ImageIOInfo] =
    try {
      withReader(bytes) { reader =>
        val w = reader.getWidth(0)
        val h = reader.getHeight(0)
        if (w <= 0 || h <= 0 || w.toLong * h > MaxImagePixels) None
        else {
          val img = reader.read(0)
          val row = new Array[Int](w)
          var sum = 0L
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            var x = 0
            while (x < w) {
              val rgb = row(x)
              sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          Some(ImageIOInfo(w, h, sum.toDouble / (3.0 * w * h)))
        }
      }.flatten
    } catch { case scala.util.control.NonFatal(_) => None }

  case class RgbImage(width: Int, height: Int, rgb: Array[Int])

  /** Decode any ImageIO-supported container to its FULL pixel grid —
    * [[decodeImageIO]]'s sibling for consumers that need more than the
    * mean (the perceptual hash). Same header-first decompression-bomb
    * guard, same None-on-unreadable contract, same bulk-row read. The
    * returned `rgb` is row-major packed 0xRRGGBB. */
  def decodeRgb(bytes: Array[Byte]): Option[RgbImage] =
    try {
      withReader(bytes) { reader =>
        val w = reader.getWidth(0)
        val h = reader.getHeight(0)
        if (w <= 0 || h <= 0 || w.toLong * h > MaxImagePixels) None
        else {
          val img = reader.read(0)
          val rgb = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, rgb, y * w, w)
            y += 1
          }
          Some(RgbImage(w, h, rgb))
        }
      }.flatten
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Render width×height pixels (3 bytes per pixel, row-major, same
    * layout [[encodeBmp24]] takes) into a BufferedImage. */
  private def toImage(
      width: Int, height: Int, pixels: Array[Byte]): java.awt.image.BufferedImage = {
    require(width > 0 && height > 0, "empty image")
    require(pixels.length == width * height * 3,
      s"expected ${width * height * 3} pixel bytes, got ${pixels.length}")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val i = (y * width + x) * 3
        img.setRGB(x, y,
          ((pixels(i) & 0xff) << 16) | ((pixels(i + 1) & 0xff) << 8) |
            (pixels(i + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    img
  }

  private def writeImage(
      img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // MEMORY-backed output stream, explicitly: `ImageIO.write(_, _, out)`
    // wraps the target via createImageOutputStream, which under the
    // default `ImageIO.getUseCache = true` is a FileCacheImageOutputStream
    // — a disk temp file created+deleted PER ENCODED IMAGE. Measured in
    // mm_features_img at sf0.1: the temp-file churn dominated the encode
    // job single-task, and under 32 concurrent codec tasks the filesystem
    // contention multiplied total task time ~30×. The encoded bytes are
    // identical either way (the stream backing never reaches the codec's
    // output), so every oracle/spec is unaffected.
    val writer = cachedWriter(format)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.write(img)
    } finally { writer.setOutput(null); ios.close() }
    out.toByteArray
  }

  /** Lossless 24-bit PNG: decode recovers the pixel bytes exactly, so
    * the decoded mean equals the encoded mean bit-for-bit. */
  def encodePng24(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] =
    writeImage(toImage(width, height, pixels), "png")

  /** Baseline JPEG at the writer's default quality: a REAL lossy
    * encode — geometry survives exactly, sample values approximately
    * (MultimodalSpec bounds the drift). */
  def encodeJpeg24(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] =
    encodeJpeg24(width, height, pixels, 0.75f)

  /** JPEG at an EXPLICIT compression quality (0.75 = the long-standing
    * JDK writer default, pinned rather than inherited: the
    * PerceptualHashSpec re-encode-invariance bound depends on the
    * quantization error magnitude, and an implicit default could move
    * under a JDK upgrade and flake the suite without any code change). */
  def encodeJpeg24(width: Int, height: Int, pixels: Array[Byte],
      quality: Float): Array[Byte] = {
    require(quality > 0f && quality <= 1f, "quality must be in (0, 1]")
    val img = toImage(width, height, pixels)
    val writer = cachedWriter("jpg")
    val out = new java.io.ByteArrayOutputStream()
    // memory-backed, not createImageOutputStream: the default-useCache
    // file-backed stream costs a disk temp file per image (see
    // writeImage) — bytes identical either way
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    try {
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { writer.setOutput(null); ios.close() }
    out.toByteArray
  }

  // ---- WAV ----------------------------------------------------------
  val WavHeaderSize = 44 // RIFF + fmt(16) + data header

  /** Mono 8-bit PCM WAV (unsigned samples). */
  def encodeWavPcm8(sampleRate: Int, samples: Array[Byte]): Array[Byte] = {
    require(sampleRate > 0, "sample rate must be positive")
    val b = new Array[Byte](WavHeaderSize + samples.length)
    putTag(b, 0, "RIFF")
    le32(b, 4, b.length - 8)
    putTag(b, 8, "WAVE")
    putTag(b, 12, "fmt ")
    le32(b, 16, 16) // fmt chunk size
    le16(b, 20, 1) // PCM
    le16(b, 22, 1) // channels
    le32(b, 24, sampleRate)
    le32(b, 28, sampleRate) // byte rate = rate * channels * bits/8
    le16(b, 32, 1) // block align
    le16(b, 34, 8) // bits per sample
    putTag(b, 36, "data")
    le32(b, 40, samples.length)
    System.arraycopy(samples, 0, b, WavHeaderSize, samples.length)
    b
  }

  case class WavInfo(
      sampleRate: Int, channels: Int, bitsPerSample: Int,
      nSamples: Long, meanSample: Double)

  /** Walk the RIFF chunk list (fmt before data, as written by any
    * conforming encoder) and compute sample stats for 8-bit PCM. */
  def decodeWav(bytes: Array[Byte]): Option[WavInfo] = {
    if (bytes.length < WavHeaderSize) return None
    if (tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
    var off = 12
    var rate, channels, bits = -1
    while (off + 8 <= bytes.length) {
      val id = tag(bytes, off)
      val size = rd32(bytes, off + 4)
      if (size < 0 || off + 8 + size > bytes.length) return None
      id match {
        case "fmt " =>
          if (size < 16) return None
          if (rd16(bytes, off + 8) != 1) return None // PCM only
          channels = rd16(bytes, off + 10)
          rate = rd32(bytes, off + 12)
          bits = rd16(bytes, off + 22)
        case "data" =>
          if (rate <= 0 || channels != 1 || bits != 8) return None
          var sum = 0L
          var i = 0
          while (i < size) { sum += bytes(off + 8 + i) & 0xff; i += 1 }
          val mean = if (size == 0) 0.0 else sum.toDouble / size
          return Some(WavInfo(rate, channels, bits, size.toLong, mean))
        case _ => // skip unknown chunk (word-aligned)
      }
      off += 8 + size + (size & 1)
    }
    None
  }
}
