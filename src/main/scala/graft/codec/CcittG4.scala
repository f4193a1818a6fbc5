package graft.codec

/** From-scratch CCITT Group 4 (ITU-T T.6) bilevel codec — the fax-scan
  * image leg of the PDF fence (/CCITTFaxDecode with K < 0), same role
  * [[Jpeg]] plays for /DCTDecode.
  *
  * T.6 is pure 2-D coding: every line is coded against the line above
  * (an imaginary all-white line for the first) with three modes — pass
  * (b2 overruns a1), vertical (a1 within ±3 of b1), horizontal (two
  * explicit runs in the T.4 modified-Huffman run tables). Lossless, so
  * the spec pins encode->decode round-trips bit-exactly and the
  * differential tests cross-check both directions against the JDK's
  * independent TIFF fax (de)compressor.
  *
  * Pixels are one byte each: 0 = white, 1 = black (the photometric
  * mapping a container applies — TIFF PhotometricInterpretation, PDF
  * /BlackIs1 — is the caller's business, kept out of the codec).
  * `byteAlign` pads each coded line to a byte boundary (PDF
  * /EncodedByteAlign). Malformed input returns `Left`, never throws.
  */
object CcittG4 {
  import Bytes.{MsbBitReader, MsbBitWriter}

  // ------------------------------------------------- T.4 run-length codes

  // (runLength, bitCount, code) — terminating + makeup, per color, plus the
  // shared extended makeups. Published in ITU-T T.4 tables 2/3/4.
  private val whiteCodes: Array[(Int, Int, Int)] = Array(
    (0, 8, 0x35), (1, 6, 0x07), (2, 4, 0x07), (3, 4, 0x08), (4, 4, 0x0b),
    (5, 4, 0x0c), (6, 4, 0x0e), (7, 4, 0x0f), (8, 5, 0x13), (9, 5, 0x14),
    (10, 5, 0x07), (11, 5, 0x08), (12, 6, 0x08), (13, 6, 0x03), (14, 6, 0x34),
    (15, 6, 0x35), (16, 6, 0x2a), (17, 6, 0x2b), (18, 7, 0x27), (19, 7, 0x0c),
    (20, 7, 0x08), (21, 7, 0x17), (22, 7, 0x03), (23, 7, 0x04), (24, 7, 0x28),
    (25, 7, 0x2b), (26, 7, 0x13), (27, 7, 0x24), (28, 7, 0x18), (29, 8, 0x02),
    (30, 8, 0x03), (31, 8, 0x1a), (32, 8, 0x1b), (33, 8, 0x12), (34, 8, 0x13),
    (35, 8, 0x14), (36, 8, 0x15), (37, 8, 0x16), (38, 8, 0x17), (39, 8, 0x28),
    (40, 8, 0x29), (41, 8, 0x2a), (42, 8, 0x2b), (43, 8, 0x2c), (44, 8, 0x2d),
    (45, 8, 0x04), (46, 8, 0x05), (47, 8, 0x0a), (48, 8, 0x0b), (49, 8, 0x52),
    (50, 8, 0x53), (51, 8, 0x54), (52, 8, 0x55), (53, 8, 0x24), (54, 8, 0x25),
    (55, 8, 0x58), (56, 8, 0x59), (57, 8, 0x5a), (58, 8, 0x5b), (59, 8, 0x4a),
    (60, 8, 0x4b), (61, 8, 0x32), (62, 8, 0x33), (63, 8, 0x34),
    // white makeup
    (64, 5, 0x1b), (128, 5, 0x12), (192, 6, 0x17), (256, 7, 0x37),
    (320, 8, 0x36), (384, 8, 0x37), (448, 8, 0x64), (512, 8, 0x65),
    (576, 8, 0x68), (640, 8, 0x67), (704, 9, 0xcc), (768, 9, 0xcd),
    (832, 9, 0xd2), (896, 9, 0xd3), (960, 9, 0xd4), (1024, 9, 0xd5),
    (1088, 9, 0xd6), (1152, 9, 0xd7), (1216, 9, 0xd8), (1280, 9, 0xd9),
    (1344, 9, 0xda), (1408, 9, 0xdb), (1472, 9, 0x98), (1536, 9, 0x99),
    (1600, 9, 0x9a), (1664, 6, 0x18), (1728, 9, 0x9b))

  private val blackCodes: Array[(Int, Int, Int)] = Array(
    (0, 10, 0x37), (1, 3, 0x02), (2, 2, 0x03), (3, 2, 0x02), (4, 3, 0x03),
    (5, 4, 0x03), (6, 4, 0x02), (7, 5, 0x03), (8, 6, 0x05), (9, 6, 0x04),
    (10, 7, 0x04), (11, 7, 0x05), (12, 7, 0x07), (13, 8, 0x04), (14, 8, 0x07),
    (15, 9, 0x18), (16, 10, 0x17), (17, 10, 0x18), (18, 10, 0x08),
    (19, 11, 0x67), (20, 11, 0x68), (21, 11, 0x6c), (22, 11, 0x37),
    (23, 11, 0x28), (24, 11, 0x17), (25, 11, 0x18), (26, 12, 0xca),
    (27, 12, 0xcb), (28, 12, 0xcc), (29, 12, 0xcd), (30, 12, 0x68),
    (31, 12, 0x69), (32, 12, 0x6a), (33, 12, 0x6b), (34, 12, 0xd2),
    (35, 12, 0xd3), (36, 12, 0xd4), (37, 12, 0xd5), (38, 12, 0xd6),
    (39, 12, 0xd7), (40, 12, 0x6c), (41, 12, 0x6d), (42, 12, 0xda),
    (43, 12, 0xdb), (44, 12, 0x54), (45, 12, 0x55), (46, 12, 0x56),
    (47, 12, 0x57), (48, 12, 0x64), (49, 12, 0x65), (50, 12, 0x52),
    (51, 12, 0x53), (52, 12, 0x24), (53, 12, 0x37), (54, 12, 0x38),
    (55, 12, 0x27), (56, 12, 0x28), (57, 12, 0x58), (58, 12, 0x59),
    (59, 12, 0x2b), (60, 12, 0x2c), (61, 12, 0x5a), (62, 12, 0x66),
    (63, 12, 0x67),
    // black makeup
    (64, 10, 0x0f), (128, 12, 0xc8), (192, 12, 0xc9), (256, 12, 0x5b),
    (320, 12, 0x33), (384, 12, 0x34), (448, 12, 0x35), (512, 13, 0x6c),
    (576, 13, 0x6d), (640, 13, 0x4a), (704, 13, 0x4b), (768, 13, 0x4c),
    (832, 13, 0x4d), (896, 13, 0x72), (960, 13, 0x73), (1024, 13, 0x74),
    (1088, 13, 0x75), (1152, 13, 0x76), (1216, 13, 0x77), (1280, 13, 0x52),
    (1344, 13, 0x53), (1408, 13, 0x54), (1472, 13, 0x55), (1536, 13, 0x5a),
    (1600, 13, 0x5b), (1664, 13, 0x64), (1728, 13, 0x65))

  // shared extended makeups (both colors), T.4 table 4
  private val extCodes: Array[(Int, Int, Int)] = Array(
    (1792, 11, 0x08), (1856, 11, 0x0c), (1920, 11, 0x0d), (1984, 12, 0x12),
    (2048, 12, 0x13), (2112, 12, 0x14), (2176, 12, 0x15), (2240, 12, 0x16),
    (2304, 12, 0x17), (2368, 12, 0x1c), (2432, 12, 0x1d), (2496, 12, 0x1e),
    (2560, 12, 0x1f))

  // decode maps: key = (len << 16) | code
  private def buildMap(codes: Array[(Int, Int, Int)]): java.util.HashMap[Integer, Integer] = {
    val m = new java.util.HashMap[Integer, Integer]()
    for ((run, len, code) <- codes) m.put((len << 16) | code, run)
    for ((run, len, code) <- extCodes) m.put((len << 16) | code, run)
    m
  }
  private val whiteMap = buildMap(whiteCodes)
  private val blackMap = buildMap(blackCodes)

  // encode tables: runLength -> (len, code); runs 0..63 direct, makeups by slot
  private def buildEnc(codes: Array[(Int, Int, Int)]): java.util.HashMap[Integer, Integer] = {
    val m = new java.util.HashMap[Integer, Integer]()
    for ((run, len, code) <- codes) m.put(run, (len << 16) | code)
    for ((run, len, code) <- extCodes) m.put(run, (len << 16) | code)
    m
  }
  private val whiteEnc = buildEnc(whiteCodes)
  private val blackEnc = buildEnc(blackCodes)

  // ------------------------------------------------------------- encoding

  private def putRun(out: MsbBitWriter, run0: Int, black: Boolean): Unit = {
    var run = run0
    val enc = if (black) blackEnc else whiteEnc
    while (run >= 64) {
      val slot = math.min((run / 64) * 64, 2560)
      val e = enc.get(slot)
      out.bits(e & 0xffff, e >>> 16)
      run -= slot
    }
    val e = enc.get(run)
    out.bits(e & 0xffff, e >>> 16)
  }

  /** Transition positions of a line (positions where color changes,
    * scanning left to right from implicit white), terminated by two
    * `width` sentinels. */
  private def transitions(pix: Array[Byte], off: Int, width: Int): Array[Int] = {
    val t = new Array[Int](width + 2)
    var n = 0
    var color = 0
    var x = 0
    while (x < width) {
      val p = pix(off + x) & 1
      if (p != color) { t(n) = x; n += 1; color = p }
      x += 1
    }
    t(n) = width; t(n + 1) = width
    java.util.Arrays.copyOf(t, n + 2)
  }

  /** Encode `pixels` (w*h bytes, 0 white / 1 black). */
  def encode(pixels: Array[Byte], width: Int, height: Int, byteAlign: Boolean = false): Array[Byte] = {
    require(width > 0 && height >= 0 && pixels.length == width * height, "bad image shape")
    val out = new MsbBitWriter
    var ref = Array(width, width) // imaginary all-white reference line
    var y = 0
    while (y < height) {
      val cur = transitions(pixels, y * width, width)
      var a0 = -1
      var color = 0 // 0 white, 1 black
      var ci = 0 // index into cur of next transition > a0 with start color != color... maintained via scan
      while (a0 < width) {
        // a1: next transition in cur strictly right of a0 (first changing element of opposite color)
        while (ci < cur.length - 2 && cur(ci) <= a0) ci += 1
        val a1 = if (ci < cur.length) cur(ci) else width
        // b1: first ref transition > a0 whose start color != color
        // start color of ref transition k is black iff k even
        var k = 0
        while (k < ref.length - 2 && (ref(k) <= a0 || (k % 2 == 0) != (color == 0))) k += 1
        // ensure parity: if ref(k) > a0 but parity wrong, advance one
        if (k < ref.length - 2 && (k % 2 == 0) != (color == 0)) k += 1
        val b1 = if (k < ref.length) math.max(ref(math.min(k, ref.length - 1)), 0) else width
        val b2 = if (k + 1 < ref.length) ref(k + 1) else width
        if (b2 < a1) {
          out.bits(0x1, 4) // pass: 0001
          a0 = b2
        } else if (math.abs(a1 - b1) <= 3) {
          (a1 - b1) match {
            case 0 => out.bits(0x1, 1)
            case 1 => out.bits(0x3, 3) // 011
            case 2 => out.bits(0x03, 6) // 000011
            case 3 => out.bits(0x03, 7) // 0000011
            case -1 => out.bits(0x2, 3) // 010
            case -2 => out.bits(0x02, 6) // 000010
            case _ => out.bits(0x02, 7) // 0000010
          }
          a0 = a1; color ^= 1
          ci += 1
        } else {
          // horizontal: 001 + run(color, a0a1) + run(!color, a1a2)
          val a2 = if (ci + 1 < cur.length) cur(ci + 1) else width
          out.bits(0x1, 3)
          val r1 = if (a0 < 0) a1 else a1 - a0
          val r2 = a2 - a1
          putRun(out, r1, color == 1)
          putRun(out, r2, color == 0)
          a0 = a2
          ci += 2
        }
      }
      if (byteAlign) out.align()
      ref = cur
      y += 1
    }
    out.result()
  }

  // ------------------------------------------------------------- decoding

  /** Decode `width`*`height` pixels (0 white / 1 black). */
  def decode(data: Array[Byte], width: Int, height: Int, byteAlign: Boolean = false): Either[String, Array[Byte]] = {
    try decodeImpl(data, width, height, byteAlign)
    catch { case e: Exception => Left(s"ccitt: ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  private def decodeImpl(data: Array[Byte], width: Int, height: Int,
      byteAlign: Boolean): Either[String, Array[Byte]] = {
    if (data == null) return Left("ccitt: null input")
    if (width <= 0 || height < 0) return Left("ccitt: bad dims")
    val out = new Array[Byte](width * height)
    val in = new MsbBitReader(data, 0, data.length)
    def decodeRun(black: Boolean): Int = {
      val m = if (black) blackMap else whiteMap
      var total = 0
      var cont = true
      while (cont) {
        var code = 0; var len = 0
        var run = -1
        while (run < 0 && len < 14) {
          val b = in.bits(1)
          if (b < 0) return -1
          code = (code << 1) | b
          len += 1
          val r = m.get((len << 16) | code)
          if (r != null) run = r.intValue()
        }
        if (run < 0) return -1
        total += run
        // terminating code (< 64) ends the run; makeups continue
        cont = run >= 64
      }
      total
    }

    var ref = Array(width, width)
    var y = 0
    while (y < height) {
      val cur = new Array[Int](width + 6)
      var cn = 0
      var a0 = -1
      var color = 0
      var fail = false
      while (a0 < width && !fail) {
        // decode mode code
        var mode = -1 // 0=V0 1=VR1 2=VR2 3=VR3 4=VL1 5=VL2 6=VL3 7=H 8=P
        var zeros = 0
        var done = false
        while (!done) {
          val b = in.bits(1)
          if (b < 0) { fail = true; done = true }
          else if (b == 1) {
            mode = zeros match {
              case 0 => 0 // 1 -> V0
              case 1 => -2 // 01x: need one more bit
              case 2 => 7 // 001 -> H
              case 3 => 8 // 0001 -> P
              case 4 => -3 // 00001x...: 000011/000010 need one more bit
              case 5 => -4 // 0000011/0000010
              case _ => -5 // long zero run: EOFB/EOL territory
            }
            done = true
          } else zeros += 1
        }
        if (!fail) mode match {
          case -2 => // 01b: b=1 -> VR1 (011), b=0 -> VL1 (010)
            val b = in.bits(1); if (b < 0) fail = true else mode = if (b == 1) 1 else 4
          case -3 =>
            val b = in.bits(1); if (b < 0) fail = true else mode = if (b == 1) 2 else 5
          case -4 =>
            val b = in.bits(1); if (b < 0) fail = true else mode = if (b == 1) 3 else 6
          case -5 =>
            // >=6 leading zeros then 1: EOL/EOFB -> treat as premature end
            return Left(s"ccitt: unexpected EOL/EOFB at line $y")
          case _ => ()
        }
        if (!fail) {
          // changing elements on ref line
          var k = 0
          while (k < ref.length - 2 && (ref(k) <= a0 || (k % 2 == 0) != (color == 0))) k += 1
          if (k < ref.length - 2 && (k % 2 == 0) != (color == 0)) k += 1
          val b1 = if (k < ref.length) ref(math.min(k, ref.length - 1)) else width
          val b2 = if (k + 1 < ref.length) ref(k + 1) else width
          mode match {
            case 8 => // pass: fill a0..b2 with color
              if (b2 <= a0) fail = true // corrupt stream: a0 must advance
              else {
                if (color == 1) {
                  var x = math.max(a0, 0)
                  while (x < b2) { out(y * width + x) = 1; x += 1 }
                }
                a0 = b2
              }
            case 7 => // horizontal
              val r1 = decodeRun(color == 1)
              val r2 = decodeRun(color == 0)
              if (r1 < 0 || r2 < 0 || r1 + r2 == 0) fail = true // non-advancing = corrupt
              else {
                val s = math.max(a0, 0)
                if (color == 1) { var x = s; while (x < s + r1 && x < width) { out(y * width + x) = 1; x += 1 } }
                else { var x = s + r1; while (x < s + r1 + r2 && x < width) { out(y * width + x) = 1; x += 1 } }
                if (s + r1 <= width) { cur(cn) = s + r1; cn += 1 } // transition after first run
                if (s + r1 + r2 <= width) { cur(cn) = s + r1 + r2; cn += 1 }
                a0 = s + r1 + r2
              }
            case v if v >= 0 && v <= 6 =>
              val delta = v match {
                case 0 => 0; case 1 => 1; case 2 => 2; case 3 => 3
                case 4 => -1; case 5 => -2; case _ => -3
              }
              val a1 = b1 + delta
              if (a1 < 0 || a1 > width || a1 <= a0) fail = true // a1 > a0 in any valid stream
              else {
                if (color == 1) {
                  var x = math.max(a0, 0)
                  while (x < a1) { out(y * width + x) = 1; x += 1 }
                }
                if (a1 <= width) { cur(cn) = a1; cn += 1 }
                a0 = a1
                color ^= 1
              }
            case _ => fail = true
          }
        }
      }
      if (fail) return Left(s"ccitt: decode failed at line $y")
      // normalize cur transitions: must be sorted increasing; horizontal
      // mode can emit a transition at `width` followed by none — pad
      cur(cn) = width; cur(cn + 1) = width
      ref = java.util.Arrays.copyOf(cur, cn + 2)
      if (byteAlign) in.align()
      y += 1
    }
    Right(out)
  }
}
