package graft.fixtures

import java.nio.{ByteBuffer, ByteOrder}

import graft.operators.MediaCodec

/** Image fixtures for the perceptual-hash and multimodal specs. */
object MediaFixtures {

  /** Nearest-neighbor resize of a 24bpp BMP (the classic integer-only
    * resample: src pixel = (dst·srcDim)/dstDim, floor) — how the specs
    * build resized copies of an image. Decode → resample → re-encode;
    * None if the input isn't a well-formed 24bpp BMP or the target
    * stride isn't 4-byte aligned. */
  def resizeBmp24(bytes: Array[Byte], newWidth: Int, newHeight: Int): Option[Array[Byte]] = {
    if (newWidth <= 0 || newHeight <= 0 || newWidth * 3 % 4 != 0 ||
      newWidth.toLong * newHeight * 3 > Int.MaxValue - MediaCodec.BmpHeaderSize) return None
    MediaCodec.decodeBmp(bytes).map { info =>
      val dataOff = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt(10)
      val stride = (info.width * 3 + 3) / 4 * 4
      // work in LOGICAL space (top-down rows, R,G,B): storage row s is
      // logical row h-1-s in B,G,R — encodeBmp24 converts back, so the
      // resample anchors at the logical top-left, independent of BMP's
      // bottom-up storage
      val out = new Array[Byte](newWidth * newHeight * 3)
      for (y <- 0 until newHeight; x <- 0 until newWidth) {
        val sy = (y.toLong * info.height / newHeight).toInt
        val sx = (x.toLong * info.width / newWidth).toInt
        val src = dataOff + (info.height - 1 - sy) * stride + sx * 3
        val dst = (y * newWidth + x) * 3
        out(dst) = bytes(src + 2) // R
        out(dst + 1) = bytes(src + 1) // G
        out(dst + 2) = bytes(src) // B
      }
      MediaCodec.encodeBmp24(newWidth, newHeight, out)
    }
  }
}
