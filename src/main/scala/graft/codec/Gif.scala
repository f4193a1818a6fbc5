package graft.codec

/** From-scratch GIF (87a/89a) codec — with [[Jpeg]] and [[Png]] this
  * covers the classic web image trio (WebP/AVIF need full VP8/AV1
  * stacks and stay honest fences at the sniffing layer).
  *
  * Decode: logical screen descriptor, global/local color tables,
  * extension-block skipping, the FIRST image frame via variable-width
  * LZW (clear/end codes, 4096-entry dictionary) including the 4-pass
  * interlace layout — [[decode]] is the thumbnail/feature-extraction
  * read. [[decodeFrames]] decodes the WHOLE animation with GIF89a
  * compositing semantics (frame offsets, transparency holes, disposal
  * 1/2/3, NETSCAPE loop count) — animated GIFs are the web's
  * lightweight video, and frame sampling needs true composited frames.
  *
  * Encode (test/fixture twins): GIF87a single frame and GIF89a
  * animation ([[encodeAnimated]]), global palette, real LZW with
  * dictionary growth. Lossless given a ≤256-color palette, so
  * round-trips are bit-exact.
  */
object Gif {
  import Bytes.{LsbBitReader, LsbBitWriter, le, le16}

  def isGif(b: Array[Byte]): Boolean =
    b != null && b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  def decode(b: Array[Byte]): Either[String, Jpeg.Image] =
    try decodeImpl(b)
    catch { case e: Exception => Left(s"gif: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def decodeImpl(b: Array[Byte]): Either[String, Jpeg.Image] = {
    if (!isGif(b)) return Left("gif: bad signature")
    if (b.length < 13) return Left("gif: truncated header")
    val sw = le16(b, 6); val sh = le16(b, 8)
    if (sw <= 0 || sh <= 0) return Left("gif: bad screen size")
    val flags = b(10) & 0xff
    var p = 13
    var gct: Array[Byte] = null
    if ((flags & 0x80) != 0) {
      val n = 2 << (flags & 7)
      if (p + 3 * n > b.length) return Left("gif: truncated global color table")
      gct = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
      p += 3 * n
    }
    while (p < b.length) {
      (b(p) & 0xff) match {
        case 0x3b => return Left("gif: no image data before trailer")
        case 0x21 => // extension: label + sub-blocks
          p += 2
          while (p < b.length && (b(p) & 0xff) != 0) p += 1 + (b(p) & 0xff)
          p += 1
        case 0x2c => // image descriptor
          if (p + 10 > b.length) return Left("gif: truncated image descriptor")
          val iw = le16(b, p + 5); val ih = le16(b, p + 7)
          val iflags = b(p + 9) & 0xff
          val interlaced = (iflags & 0x40) != 0
          p += 10
          var pal = gct
          if ((iflags & 0x80) != 0) {
            val n = 2 << (iflags & 7)
            if (p + 3 * n > b.length) return Left("gif: truncated local color table")
            pal = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
            p += 3 * n
          }
          if (pal == null) return Left("gif: no color table")
          if (iw <= 0 || ih <= 0 || iw.toLong * ih > (1L << 28) / 4)
            return Left("gif: bad frame size") // alloc ceiling, not just overflow guard
          if (p >= b.length) return Left("gif: missing LZW code size")
          val minCode = b(p) & 0xff
          p += 1
          if (minCode < 2 || minCode > 8) return Left("gif: bad LZW min code size")
          // gather sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          while (p < b.length && (b(p) & 0xff) != 0) {
            val n = b(p) & 0xff
            if (p + 1 + n > b.length) return Left("gif: truncated data sub-block")
            data.write(b, p + 1, n)
            p += 1 + n
          }
          val indices = lzwDecode(data.toByteArray, minCode, iw * ih) match {
            case Right(ix) => ix
            case Left(e) => return Left(e)
          }
          // de-interlace + palette resolve
          val maxIdx = pal.length / 3
          val out = new Array[Byte](iw * ih * 3)
          val rowOrder: Array[Int] =
            if (!interlaced) Array.tabulate(ih)(identity)
            else {
              val o = new Array[Int](ih)
              var k = 0
              for (start <- Seq(0, 4, 2, 1); step <- Seq(Seq(8, 8, 4, 2)(Seq(0, 4, 2, 1).indexOf(start)))) {
                var y = start
                while (y < ih) { o(k) = y; k += 1; y += step }
              }
              o
            }
          var srcRow = 0
          while (srcRow < ih) {
            val dstY = rowOrder(srcRow)
            var x = 0
            while (x < iw) {
              val idx = indices(srcRow * iw + x) & 0xff
              if (idx >= maxIdx) return Left("gif: palette index out of range")
              val o = (dstY * iw + x) * 3
              out(o) = pal(3 * idx); out(o + 1) = pal(3 * idx + 1); out(o + 2) = pal(3 * idx + 2)
              x += 1
            }
            srcRow += 1
          }
          return Right(Jpeg.Image(iw, ih, 3, out))
        case other => return Left(f"gif: unknown block 0x$other%02x")
      }
    }
    Left("gif: no image frame")
  }

  /** Variable-width LZW decode (GIF flavor: little-endian bit packing,
    * clear/end codes, dictionary capped at 4096). */
  private def lzwDecode(data: Array[Byte], minCode: Int, nPixels: Int): Either[String, Array[Byte]] = {
    val clearCode = 1 << minCode
    val endCode = clearCode + 1
    val out = new Array[Byte](nPixels)
    var outPos = 0
    // dictionary as (prefix, suffix) pairs
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var dictSize = 0
    var codeWidth = 0
    def reset(): Unit = { dictSize = endCode + 1; codeWidth = minCode + 1 }
    reset()
    val r = new LsbBitReader(data, 0, data.length)
    val stack = new Array[Byte](4096)
    var prev = -1
    while (outPos < nPixels) {
      val code = r.bits(codeWidth)
      if (code < 0) return Left("gif: LZW stream truncated")
      if (code == clearCode) { reset(); prev = -1 }
      else if (code == endCode) {
        if (outPos < nPixels) return Left("gif: LZW ended early")
      } else {
        if (code >= dictSize && !(code == dictSize && prev >= 0))
          return Left("gif: LZW code out of range")
        // expand code (or the KwK special case) onto the stack
        var sp = 0
        var cur = code
        var firstByte: Byte = 0
        if (code == dictSize) { // KwK: prev string + its first byte
          cur = prev
          // placeholder; the appended byte equals prev's first byte
        }
        while (cur >= clearCode + 2) { // composite entry
          stack(sp) = suffix(cur); sp += 1
          cur = prefix(cur)
        }
        firstByte = cur.toByte // literal root
        stack(sp) = firstByte; sp += 1
        if (code == dictSize) {
          // emit prev's expansion then firstByte (already arranged: the
          // stack currently holds prev's string; append firstByte FIRST
          // in output order means pushing it at the BOTTOM — handle by
          // writing stack then the extra byte)
        }
        // write stack in reverse
        var i = sp - 1
        while (i >= 0 && outPos < nPixels) { out(outPos) = stack(i); outPos += 1; i -= 1 }
        if (code == dictSize && outPos < nPixels) { out(outPos) = firstByte; outPos += 1 }
        // grow dictionary
        if (prev >= 0 && dictSize < 4096) {
          prefix(dictSize) = prev
          suffix(dictSize) = firstByte
          dictSize += 1
          if (dictSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        }
        prev = code
      }
    }
    Right(out)
  }

  /** Encode indexed pixels (values < palette size) as a one-frame GIF87a.
    * `palette` is RGB triples, length a power of two in [4, 768]. */
  def encode(indices: Array[Byte], width: Int, height: Int, palette: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && indices.length == width * height, "bad image shape")
    require(palette.length % 3 == 0, "palette must be RGB triples")
    val nColors = palette.length / 3
    require(nColors >= 2 && nColors <= 256 && Integer.bitCount(nColors) == 1,
      "palette size must be a power of two in [2, 256]")
    val colorBits = Integer.numberOfTrailingZeros(nColors)
    val minCode = math.max(2, colorBits)
    val out = new java.io.ByteArrayOutputStream(indices.length / 2 + 64)
    out.write("GIF87a".getBytes("US-ASCII"))
    le(out, width, 2); le(out, height, 2)
    out.write(0x80 | (colorBits - 1 max 0)) // GCT present, size bits
    out.write(0); out.write(0)
    out.write(palette, 0, palette.length)
    out.write(0x2c) // image descriptor
    le(out, 0, 2); le(out, 0, 2); le(out, width, 2); le(out, height, 2)
    out.write(0) // no LCT, not interlaced
    out.write(minCode)
    writeLzwBlocks(out, indices, minCode)
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** LZW-encode indices and append as length-prefixed sub-blocks +
    * terminator (shared by the still and animated writers). */
  private def writeLzwBlocks(out: java.io.ByteArrayOutputStream,
      indices: Array[Byte], minCode: Int): Unit = {
    val clearCode = 1 << minCode
    val endCode = clearCode + 1
    val dict = new java.util.HashMap[Integer, Integer]() // (prev<<8|byte) -> code
    var dictSize = endCode + 1
    var codeWidth = minCode + 1
    val codes = new LsbBitWriter
    codes.bits(clearCode, codeWidth)
    var prev = indices(0) & 0xff
    var i = 1
    while (i < indices.length) {
      val b = indices(i) & 0xff
      val key = (prev << 8) | b
      val hit = dict.get(key)
      if (hit != null) prev = hit.intValue()
      else {
        codes.bits(prev, codeWidth)
        if (dictSize < 4096) {
          dict.put(key, dictSize)
          if (dictSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
          dictSize += 1
        } else {
          codes.bits(clearCode, codeWidth)
          dict.clear()
          dictSize = endCode + 1
          codeWidth = minCode + 1
        }
        prev = b
      }
      i += 1
    }
    codes.bits(prev, codeWidth)
    codes.bits(endCode, codeWidth)
    val z = codes.result()
    var off = 0
    while (off < z.length) {
      val n = math.min(255, z.length - off)
      out.write(n)
      out.write(z, off, n)
      off += n
    }
    out.write(0) // block terminator
  }

  // ------------------------------------------------------------ animation

  /** One frame's placement in an animated GIF: indexed pixels in a rect
    * at (left, top), display delay in centiseconds, disposal method
    * (1 leave, 2 restore-to-background, 3 restore-to-previous), and an
    * optional transparent index (−1 = opaque). */
  final case class FrameSpec(indices: Array[Byte], left: Int, top: Int,
      width: Int, height: Int, delayCs: Int, disposal: Int, transIdx: Int = -1)

  /** A decoded animation: per-frame FULL-CANVAS RGB after compositing
    * (transparency holes show the prior canvas; disposal applied between
    * frames), plus the NETSCAPE loop count (0 = infinite, −1 = absent). */
  final case class Anim(width: Int, height: Int, loop: Int,
      frames: Vector[Jpeg.Image], delaysCs: Vector[Int]) {
    def nFrames: Int = frames.length
    def durationCs: Long = delaysCs.map(_.toLong).sum
  }

  /** Decode ALL frames of a GIF with GIF89a animation semantics — the
    * compositing model browsers implement: frames draw into the logical-
    * screen canvas at their offsets, transparent indices preserve the
    * canvas, and the PREVIOUS frame's disposal runs before each draw
    * (2 clears its rect to black, 3 restores the pre-draw canvas). The
    * canvas starts black (the background-index convention is ignored by
    * every modern renderer). */
  def decodeFrames(b: Array[Byte], maxFrames: Int = 4096): Either[String, Anim] =
    try decodeFramesImpl(b, maxFrames)
    catch { case e: Exception => Left(s"gif: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def decodeFramesImpl(b: Array[Byte], maxFrames: Int): Either[String, Anim] = {
    if (!isGif(b)) return Left("gif: bad signature")
    if (b.length < 13) return Left("gif: truncated header")
    val sw = le16(b, 6); val sh = le16(b, 8)
    if (sw <= 0 || sh <= 0 || sw.toLong * sh > (1L << 28) / 4) return Left("gif: bad screen size")
    val flags = b(10) & 0xff
    var p = 13
    var gct: Array[Byte] = null
    if ((flags & 0x80) != 0) {
      val n = 2 << (flags & 7)
      if (p + 3 * n > b.length) return Left("gif: truncated global color table")
      gct = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
      p += 3 * n
    }
    val canvas = new Array[Byte](sw * sh * 3) // starts black
    var loop = -1
    val frames = Vector.newBuilder[Jpeg.Image]
    val delays = Vector.newBuilder[Int]
    var n = 0
    // pending graphic-control state (applies to the NEXT image)
    var delayCs = 0; var disposal = 0; var transIdx = -1
    // disposal of the PREVIOUS frame, to apply before the next draw
    var prevDisposal = 0
    var prevRect: (Int, Int, Int, Int) = null
    var prevCanvas: Array[Byte] = null
    while (p < b.length) {
      (b(p) & 0xff) match {
        case 0x3b =>
          val fs = frames.result()
          if (fs.isEmpty) return Left("gif: no image frame")
          return Right(Anim(sw, sh, loop, fs, delays.result()))
        case 0x21 =>
          val label = if (p + 1 < b.length) b(p + 1) & 0xff else -1
          if (label == 0xf9 && p + 7 < b.length && (b(p + 2) & 0xff) >= 4) {
            val packed = b(p + 3) & 0xff
            disposal = (packed >> 2) & 7
            delayCs = le16(b, p + 4)
            transIdx = if ((packed & 1) != 0) b(p + 6) & 0xff else -1
          } else if (label == 0xff && p + 2 < b.length && (b(p + 2) & 0xff) == 11 &&
            p + 14 <= b.length &&
            new String(b, p + 3, 8, "US-ASCII") == "NETSCAPE") {
            // NETSCAPE2.0 app extension: sub-block (1, loop lo, loop hi)
            val q = p + 14
            if (q + 4 <= b.length && (b(q) & 0xff) >= 3 && (b(q + 1) & 0xff) == 1)
              loop = le16(b, q + 2)
          }
          p += 2
          while (p < b.length && (b(p) & 0xff) != 0) p += 1 + (b(p) & 0xff)
          p += 1
        case 0x2c =>
          if (n >= maxFrames) return Left("gif: too many frames")
          if (p + 10 > b.length) return Left("gif: truncated image descriptor")
          val left = le16(b, p + 1); val top = le16(b, p + 3)
          val iw = le16(b, p + 5); val ih = le16(b, p + 7)
          val iflags = b(p + 9) & 0xff
          val interlaced = (iflags & 0x40) != 0
          p += 10
          var pal = gct
          if ((iflags & 0x80) != 0) {
            val nn = 2 << (iflags & 7)
            if (p + 3 * nn > b.length) return Left("gif: truncated local color table")
            pal = java.util.Arrays.copyOfRange(b, p, p + 3 * nn)
            p += 3 * nn
          }
          if (pal == null) return Left("gif: no color table")
          if (iw <= 0 || ih <= 0 || left + iw > sw || top + ih > sh)
            return Left("gif: frame rect outside canvas")
          if (p >= b.length) return Left("gif: missing LZW code size")
          val minCode = b(p) & 0xff
          p += 1
          if (minCode < 2 || minCode > 8) return Left("gif: bad LZW min code size")
          val data = new java.io.ByteArrayOutputStream()
          while (p < b.length && (b(p) & 0xff) != 0) {
            val nn = b(p) & 0xff
            if (p + 1 + nn > b.length) return Left("gif: truncated data sub-block")
            data.write(b, p + 1, nn)
            p += 1 + nn
          }
          p += 1 // sub-block terminator
          val indices = lzwDecode(data.toByteArray, minCode, iw * ih) match {
            case Right(ix) => ix
            case Left(e)   => return Left(e)
          }
          // apply the PREVIOUS frame's disposal before drawing this one
          prevDisposal match {
            case 2 if prevRect != null =>
              val (pl, pt, pw2, ph2) = prevRect
              var y = pt
              while (y < pt + ph2) {
                java.util.Arrays.fill(canvas, (y * sw + pl) * 3, (y * sw + pl + pw2) * 3, 0.toByte)
                y += 1
              }
            case 3 if prevCanvas != null =>
              System.arraycopy(prevCanvas, 0, canvas, 0, canvas.length)
            case _ => ()
          }
          val saved = if (disposal == 3) canvas.clone() else null
          val maxIdx = pal.length / 3
          val rowOrder: Array[Int] =
            if (!interlaced) Array.tabulate(ih)(identity)
            else {
              val o = new Array[Int](ih)
              var k = 0
              for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
                var y = start
                while (y < ih) { o(k) = y; k += 1; y += step }
              }
              o
            }
          var srcRow = 0
          while (srcRow < ih) {
            val dstY = top + rowOrder(srcRow)
            var x = 0
            while (x < iw) {
              val idx = indices(srcRow * iw + x) & 0xff
              if (idx >= maxIdx) return Left("gif: palette index out of range")
              if (idx != transIdx) {
                val o = (dstY * sw + left + x) * 3
                canvas(o) = pal(3 * idx); canvas(o + 1) = pal(3 * idx + 1)
                canvas(o + 2) = pal(3 * idx + 2)
              }
              x += 1
            }
            srcRow += 1
          }
          frames += Jpeg.Image(sw, sh, 3, canvas.clone())
          delays += delayCs
          n += 1
          prevDisposal = disposal
          prevRect = (left, top, iw, ih)
          prevCanvas = saved
          delayCs = 0; disposal = 0; transIdx = -1
        case other => return Left(f"gif: unknown block 0x$other%02x")
      }
    }
    Left("gif: missing trailer")
  }

  /** Encode an animated GIF89a: global palette, NETSCAPE loop extension,
    * one GCE per frame (delay, disposal, optional transparency). */
  def encodeAnimated(screenW: Int, screenH: Int, palette: Array[Byte],
      loop: Int, frames: Seq[FrameSpec]): Array[Byte] = {
    require(screenW > 0 && screenH > 0, "bad screen size")
    require(frames.nonEmpty, "at least one frame")
    val nColors = palette.length / 3
    require(nColors >= 2 && nColors <= 256 && Integer.bitCount(nColors) == 1,
      "palette size must be a power of two in [2, 256]")
    val colorBits = Integer.numberOfTrailingZeros(nColors)
    val minCode = math.max(2, colorBits)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    le(out, screenW, 2); le(out, screenH, 2)
    out.write(0x80 | (colorBits - 1 max 0))
    out.write(0); out.write(0)
    out.write(palette, 0, palette.length)
    // NETSCAPE2.0 loop extension
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    out.write(3); out.write(1); le(out, loop, 2); out.write(0)
    for (f <- frames) {
      require(f.indices.length == f.width * f.height, "bad frame shape")
      require(f.left >= 0 && f.top >= 0 && f.left + f.width <= screenW &&
        f.top + f.height <= screenH, "frame rect outside canvas")
      // graphic control extension
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(((f.disposal & 7) << 2) | (if (f.transIdx >= 0) 1 else 0))
      le(out, f.delayCs, 2)
      out.write(if (f.transIdx >= 0) f.transIdx else 0)
      out.write(0)
      // image descriptor + data
      out.write(0x2c)
      le(out, f.left, 2); le(out, f.top, 2); le(out, f.width, 2); le(out, f.height, 2)
      out.write(0)
      out.write(minCode)
      writeLzwBlocks(out, f.indices, minCode)
    }
    out.write(0x3b)
    out.toByteArray
  }
}
