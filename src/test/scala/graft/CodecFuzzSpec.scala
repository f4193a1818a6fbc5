package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{CcittG4, Gif, Jpeg, JpegEncoder, Png, Wav}

/** Mutation fuzz over every codec: random byte flips / truncations /
  * splices of VALID files must terminate with `Left` or a (possibly
  * wrong) `Right` — never an exception, never a hang. This is the X7
  * error-as-data rule applied to the media layer: a 100-TB crawl WILL
  * contain every possible corruption. */
class CodecFuzzSpec extends AnyFunSuite {

  private val r = new scala.util.Random(20260820)

  private def mutations(valid: Array[Byte], n: Int): Iterator[Array[Byte]] =
    Iterator.tabulate(n) { i =>
      val m = valid.clone()
      (i % 4) match {
        case 0 => // flip 1-4 random bytes
          for (_ <- 0 to r.nextInt(4)) {
            val p = r.nextInt(m.length)
            m(p) = (m(p) ^ (1 << r.nextInt(8))).toByte
          }
          m
        case 1 => // truncate
          java.util.Arrays.copyOf(m, 1 + r.nextInt(m.length))
        case 2 => // splice a random window with noise
          val p = r.nextInt(m.length)
          val len = math.min(1 + r.nextInt(16), m.length - p)
          for (k <- 0 until len) m(p + k) = r.nextInt(256).toByte
          m
        case _ => // duplicate a slice (structure confusion)
          val p = r.nextInt(m.length)
          val len = math.min(1 + r.nextInt(32), m.length - p)
          val out = new Array[Byte](m.length + len)
          System.arraycopy(m, 0, out, 0, p + len)
          System.arraycopy(m, p, out, p + len, len)
          System.arraycopy(m, p + len, out, p + 2 * len, m.length - p - len)
          out
      }
    }

  /** Decode `n` mutations of `valid`, each under [[WallBound]]. */
  private def survive(codec: String, valid: Array[Byte], n: Int)(decode: Array[Byte] => Any): Unit =
    for ((m, i) <- mutations(valid, n).zipWithIndex) WallBound(s"$codec mutation $i")(decode(m))

  private def flatJpeg(): Array[Byte] = {
    val pix = Array.tabulate[Byte](48 * 32)(i => ((i * 7) % 256).toByte)
    JpegEncoder.encodeGray(pix, 48, 32)
  }

  test("jpeg decode survives 400 mutations (sequential + progressive + exif)") {
    val pix = Array.tabulate[Byte](48 * 32)(i => ((i * 7) % 256).toByte)
    val seeds = Seq(
      flatJpeg(),
      JpegEncoder.encodeGrayProgressive(pix, 48, 32),
      JpegEncoder.withExifOrientation(flatJpeg(), 6),
      JpegEncoder.encodeRgb444(Array.tabulate[Byte](16 * 16 * 3)(i => (i % 256).toByte), 16, 16))
    for (seed <- seeds) survive("jpeg", seed, 100) { m =>
      Jpeg.decode(m) // Left or Right, never throw
      Jpeg.dimensions(m)
      Jpeg.exifOrientation(m)
    }
    succeed
  }

  test("png decode survives 300 mutations") {
    val pix = Array.tabulate[Byte](40 * 20)(i => ((i * 3) % 256).toByte)
    val seed = Png.encode(pix, 40, 20, 1)
    survive("png", seed, 300)(Png.decode)
    succeed
  }

  test("low-bit png decode survives 300 mutations per depth") {
    for (d <- Seq(1, 2, 4)) {
      val vals = Array.tabulate[Byte](23 * 11)(i => (i % (1 << d)).toByte)
      val gray = Png.encodeGrayLowBit(vals, 23, 11, d)
      survive(s"png gray d=$d", gray, 300)(Png.decode)
      val pal = Array.tabulate[Byte]((1 << d) * 3)(i => (i * 11).toByte)
      val indexed = Png.encodeIndexed(vals, 23, 11, d, pal)
      survive(s"png indexed d=$d", indexed, 300)(Png.decode)
    }
    succeed
  }

  test("gif decode survives 300 mutations") {
    val pal = Array.tabulate[Byte](16 * 3)(i => (i * 5).toByte)
    val idx = Array.tabulate[Byte](30 * 18)(i => (i % 16).toByte)
    val seed = Gif.encode(idx, 30, 18, pal)
    survive("gif", seed, 300)(Gif.decode)
    succeed
  }

  test("animated gif decode survives 300 mutations") {
    val pal = Array.tabulate[Byte](16 * 3)(i => (i * 5).toByte)
    val frames = Seq(
      Gif.FrameSpec(Array.tabulate[Byte](12 * 8)(i => (i % 16).toByte), 0, 0, 12, 8, 5, 1),
      Gif.FrameSpec(Array.tabulate[Byte](4 * 3)(i => (i % 16).toByte), 4, 2, 4, 3, 5, 2, transIdx = 7),
      Gif.FrameSpec(Array.tabulate[Byte](2 * 2)(i => (i % 4).toByte), 1, 1, 2, 2, 5, 3))
    val seed = Gif.encodeAnimated(12, 8, pal, 2, frames)
    survive("animated gif", seed, 300)(Gif.decodeFrames(_))
    succeed
  }

  test("wav decode survives 300 mutations") {
    val seed = Wav.encode(Array.tabulate(400)(i => ((i * 37) % 2001 - 1000).toShort), 1, 16000)
    survive("wav", seed, 300)(Wav.decode)
    succeed
  }

  test("ccitt decode survives 300 mutations") {
    val pix = Array.tabulate[Byte](64 * 16)(i => ((i / 5) % 2).toByte)
    val seed = CcittG4.encode(pix, 64, 16)
    survive("ccitt", seed, 300)(CcittG4.decode(_, 64, 16))
    succeed
  }

  test("tiff decode survives 300 mutations (gray multi-strip, RGB, G4)") {
    val gray = Array.tabulate[Byte](20 * 12)(i => ((i * 3) % 256).toByte)
    val rgb = Array.tabulate[Byte](10 * 8 * 3)(i => ((i * 5) % 256).toByte)
    val bilevel = Array.tabulate[Byte](32 * 10)(i => ((i / 4) % 2).toByte)
    val seeds = Seq(
      graft.codec.Tiff.encode(gray, 20, 12, 1, rowsPerStrip = 3),
      graft.codec.Tiff.encode(rgb, 10, 8, 3),
      graft.codec.Tiff.encodeG4(bilevel, 32, 10, rowsPerStrip = 4),
      graft.codec.Tiff.encodeCompressed(gray, 20, 12, 1, 5, rowsPerStrip = 5, predictor = true),
      graft.codec.Tiff.encodeCompressed(rgb, 10, 8, 3, 32773),
      graft.codec.Tiff.encodeCompressed(gray, 20, 12, 1, 8),
      graft.codec.Tiff.encodeTiled(gray, 20, 12, 1, 16, 16, 5, predictor = true),
      graft.codec.Tiff.encodeJpeg(Array.tabulate[Byte](16 * 16)(i => (i * 3).toByte), 16, 16, 8))
    for (seed <- seeds) survive("tiff", seed, 100)(graft.codec.Tiff.decode)
    succeed
  }

  test("bmp decode survives 300 mutations") {
    val rgb = Array.tabulate[Byte](21 * 14 * 3)(i => ((i * 5) % 256).toByte)
    val seed = graft.codec.Bmp.encode(rgb, 21, 14)
    survive("bmp", seed, 300)(graft.codec.Bmp.decode)
    succeed
  }

  test("rle bmp decode survives 600 mutations") {
    val pal = Array.tabulate[Byte](256 * 3)(i => (i * 7).toByte)
    val idx8 = Array.tabulate[Byte](19 * 9)(i => ((i / 3) % 50).toByte)
    val rle8 = graft.codec.Bmp.encodeRle8(idx8, 19, 9, pal)
    survive("rle8 bmp", rle8, 300)(graft.codec.Bmp.decode)
    val idx4 = Array.tabulate[Byte](17 * 7)(i => (i % 16).toByte)
    val rle4 = graft.codec.Bmp.encodeRle4(idx4, 17, 7, pal)
    survive("rle4 bmp", rle4, 300)(graft.codec.Bmp.decode)
    succeed
  }

  test("avi decode survives 300 mutations") {
    val frames = (0 until 3).map(i =>
      JpegEncoder.encodeGray(Array.fill[Byte](16 * 16)((i * 70).toByte), 16, 16))
    val seed = graft.codec.Avi.encode(frames, 16, 16, 40000)
    survive("avi", seed, 300)(graft.codec.Avi.decode)
    succeed
  }
}
