package graft.codec

/** Minimal baseline JPEG (ITU-T T.81) *encoder* — the test/fixture twin of
  * [[Jpeg]], same role PdfWriter plays for PdfParser: goldens and oracled
  * queries need deterministic in-repo JPEG bytes, and the differential
  * specs need bytes an independent decoder (the JDK's ImageIO) accepts.
  *
  * Emits: JFIF APP0, DQT, SOF0, DHT (the T.81 Annex K.3 typical tables),
  * optional DRI, single interleaved SOS. Grayscale or 4:4:4 YCbCr; FDCT in
  * double precision, quantization round-half-away-from-zero.
  *
  * The "exact class": with a quant table whose DC entry is 8 (see
  * [[exactQuant]]), an image built of flat 8x8 blocks round-trips
  * bit-exactly — FDCT of a flat block is DC-only with DC = 8*(v-128),
  * quantized losslessly by 8 — which is what lets the q192/q194 oracles
  * state decoded pixel sums as closed forms of doc_id.
  */
object JpegEncoder {
  import Bytes.be

  /** Annex K.1 luminance quantization table (natural order). */
  val stdLumaQuant: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** Annex K.2 chrominance quantization table (natural order). */
  val stdChromaQuant: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** DC=8, AC=16: lossless DC for flat blocks (see class doc). */
  val exactQuant: Array[Int] = { val t = Array.fill(64)(16); t(0) = 8; t }

  /** libjpeg-style quality scaling of a base table (public formula). */
  def scaledQuant(base: Array[Int], quality: Int): Array[Int] = {
    val q = math.max(1, math.min(100, quality))
    val scale = if (q < 50) 5000 / q else 200 - q * 2
    base.map { v =>
      val s = (v * scale + 50) / 100
      math.max(1, math.min(255, s))
    }
  }

  // --- Annex K.3 typical Huffman tables: (bits per length 1..16, values)
  private val dcLumaBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val dcLumaVals = (0 to 11).map(_.toByte).toArray
  private val dcChromaBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val dcChromaVals = (0 to 11).map(_.toByte).toArray
  private val acLumaBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val acLumaVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61,
    0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52,
    0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25,
    0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64,
    0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x83,
    0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99,
    0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3,
    0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8,
    0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)
  private val acChromaBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val acChromaVals: Array[Byte] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61,
    0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33,
    0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18,
    0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63,
    0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7a,
    0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97,
    0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca,
    0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7,
    0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)

  private final class HuffEnc(bits: Array[Int], vals: Array[Byte]) {
    val codeOf = new Array[Int](256)
    val sizeOf = new Array[Int](256)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        var i = 0
        while (i < bits(l - 1)) {
          val v = vals(k) & 0xff
          codeOf(v) = code; sizeOf(v) = l
          code += 1; k += 1; i += 1
        }
        code <<= 1
        l += 1
      }
    }
  }

  private val dcLumaEnc = new HuffEnc(dcLumaBits, dcLumaVals)
  private val acLumaEnc = new HuffEnc(acLumaBits, acLumaVals)
  private val dcChromaEnc = new HuffEnc(dcChromaBits, dcChromaVals)
  private val acChromaEnc = new HuffEnc(acChromaBits, acChromaVals)

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def put(code: Int, size: Int): Unit = {
      var i = size - 1
      while (i >= 0) {
        buf = (buf << 1) | ((code >> i) & 1)
        cnt += 1
        if (cnt == 8) {
          out.write(buf & 0xff)
          if ((buf & 0xff) == 0xff) out.write(0x00) // byte stuffing
          buf = 0; cnt = 0
        }
        i -= 1
      }
    }
    /** Pad to byte boundary with 1-bits (T.81 F.1.2.3). */
    def flush(): Unit = if (cnt > 0) put((1 << (8 - cnt)) - 1, 8 - cnt)
  }

  private val cosTab: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  /** FDCT + quantize one 8x8 block (samples 0..255, natural order). */
  private def fdctQuant(samples: Array[Int], qt: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var u = 0
    while (u < 8) { // rows: frequency u from spatial x
      var y = 0
      while (y < 8) {
        var s = 0.0; var x = 0
        while (x < 8) { s += cosTab(u)(x) * (samples(y * 8 + x) - 128); x += 1 }
        tmp(y * 8 + u) = 0.5 * s
        y += 1
      }
      u += 1
    }
    var v = 0
    while (v < 8) {
      var uu = 0
      while (uu < 8) {
        var s = 0.0; var y = 0
        while (y < 8) { s += cosTab(v)(y) * tmp(y * 8 + uu); y += 1 }
        val coefRaw = 0.5 * s
        val q = qt(v * 8 + uu)
        val c = coefRaw / q
        out(v * 8 + uu) = math.round(c).toInt // half-up; exact class hits integers
        uu += 1
      }
      v += 1
    }
  }

  private def encodeBlock(w: BitWriter, coefNat: Array[Int], pred: Int,
      dc: HuffEnc, ac: HuffEnc): Int = {
    def category(v: Int): Int = {
      var a = math.abs(v); var n = 0
      while (a != 0) { a >>= 1; n += 1 }
      n
    }
    val dcv = coefNat(0)
    val diff = dcv - pred
    val t = category(diff)
    w.put(dc.codeOf(t), dc.sizeOf(t))
    if (t > 0) {
      val bitsVal = if (diff < 0) diff + (1 << t) - 1 else diff
      w.put(bitsVal, t)
    }
    var k = 1
    var run = 0
    while (k < 64) {
      val v = coefNat(Jpeg.ZigZag(k))
      if (v == 0) run += 1
      else {
        while (run > 15) { w.put(ac.codeOf(0xf0), ac.sizeOf(0xf0)); run -= 16 }
        val s = category(v)
        val rs = (run << 4) | s
        w.put(ac.codeOf(rs), ac.sizeOf(rs))
        val bitsVal = if (v < 0) v + (1 << s) - 1 else v
        w.put(bitsVal, s)
        run = 0
      }
      k += 1
    }
    if (run > 0) w.put(ac.codeOf(0x00), ac.sizeOf(0x00)) // EOB
    dcv
  }

  private def seg(out: java.io.ByteArrayOutputStream, marker: Int, body: Array[Byte]): Unit = {
    out.write(0xff); out.write(marker)
    val len = body.length + 2
    be(out, len, 2)
    out.write(body, 0, body.length)
  }

  private def dqtSeg(id: Int, qt: Array[Int]): Array[Byte] = {
    val b = new Array[Byte](65)
    b(0) = id.toByte
    var i = 0
    while (i < 64) { b(1 + i) = qt(Jpeg.ZigZag(i)).toByte; i += 1 }
    b
  }

  private def dhtSeg(tcth: Int, bits: Array[Int], vals: Array[Byte]): Array[Byte] = {
    val b = new Array[Byte](1 + 16 + vals.length)
    b(0) = tcth.toByte
    var i = 0
    while (i < 16) { b(1 + i) = bits(i).toByte; i += 1 }
    System.arraycopy(vals, 0, b, 17, vals.length)
    b
  }

  private val jfifApp0: Array[Byte] =
    Array[Int](0x4a, 0x46, 0x49, 0x46, 0x00, 1, 1, 0, 0, 1, 0, 1, 0, 0).map(_.toByte)

  /** Encode a grayscale image (row-major bytes 0..255). */
  def encodeGray(pix: Array[Byte], w: Int, h: Int,
      qtable: Array[Int] = scaledQuant(stdLumaQuant, 75), dri: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && pix.length == w * h, "bad gray image shape")
    val out = new java.io.ByteArrayOutputStream(1024 + pix.length / 2)
    out.write(0xff); out.write(0xd8)
    seg(out, 0xe0, jfifApp0)
    seg(out, 0xdb, dqtSeg(0, qtable))
    seg(out, 0xc0, Array[Int](8, h >> 8, h & 0xff, w >> 8, w & 0xff, 1, 1, 0x11, 0).map(_.toByte))
    seg(out, 0xc4, dhtSeg(0x00, dcLumaBits, dcLumaVals))
    seg(out, 0xc4, dhtSeg(0x10, acLumaBits, acLumaVals))
    if (dri > 0) seg(out, 0xdd, Array[Int](dri >> 8, dri & 0xff).map(_.toByte))
    seg(out, 0xda, Array[Int](1, 1, 0x00, 0, 63, 0).map(_.toByte))
    val bw = new BitWriter(out)
    val blocksX = (w + 7) / 8; val blocksY = (h + 7) / 8
    val samples = new Array[Int](64)
    val coefs = new Array[Int](64)
    var pred = 0
    var mcusLeft = if (dri > 0) dri else Int.MaxValue
    var rst = 0
    var by = 0
    while (by < blocksY) {
      var bx = 0
      while (bx < blocksX) {
        var yy = 0
        while (yy < 8) {
          val sy = math.min(by * 8 + yy, h - 1)
          var xx = 0
          while (xx < 8) {
            val sx = math.min(bx * 8 + xx, w - 1)
            samples(yy * 8 + xx) = pix(sy * w + sx) & 0xff
            xx += 1
          }
          yy += 1
        }
        fdctQuant(samples, qtable, coefs)
        pred = encodeBlock(bw, coefs, pred, dcLumaEnc, acLumaEnc)
        mcusLeft -= 1
        val last = by == blocksY - 1 && bx == blocksX - 1
        if (dri > 0 && mcusLeft == 0 && !last) {
          bw.flush()
          out.write(0xff); out.write(0xd0 + rst)
          rst = (rst + 1) & 7; pred = 0; mcusLeft = dri
        }
        bx += 1
      }
      by += 1
    }
    bw.flush()
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  /** Encode a grayscale image as a PROGRESSIVE (SOF2) JPEG with a 3-scan
    * script that exercises the decoder's spectral-selection and
    * successive-approximation paths: DC first (Al=1), DC refinement
    * (Ah=1, Al=0), AC first full band (EOB-run coded). Same pixel
    * semantics as [[encodeGray]] — the exact class stays exact — so
    * closed-form oracles can pin the progressive decode path too. */
  def encodeGrayProgressive(pix: Array[Byte], w: Int, h: Int,
      qtable: Array[Int] = scaledQuant(stdLumaQuant, 75)): Array[Byte] = {
    require(w > 0 && h > 0 && pix.length == w * h, "bad gray image shape")
    val blocksX = (w + 7) / 8; val blocksY = (h + 7) / 8
    val nBlocks = blocksX * blocksY
    // FDCT+quantize every block once
    val coefs = new Array[Array[Int]](nBlocks)
    val samples = new Array[Int](64)
    var bi = 0
    var by = 0
    while (by < blocksY) {
      var bx = 0
      while (bx < blocksX) {
        var yy = 0
        while (yy < 8) {
          val sy = math.min(by * 8 + yy, h - 1)
          var xx = 0
          while (xx < 8) {
            samples(yy * 8 + xx) = pix(sy * w + math.min(bx * 8 + xx, w - 1)) & 0xff
            xx += 1
          }
          yy += 1
        }
        val c = new Array[Int](64)
        fdctQuant(samples, qtable, c)
        coefs(bi) = c
        bi += 1; bx += 1
      }
      by += 1
    }
    val out = new java.io.ByteArrayOutputStream(1024 + pix.length / 2)
    out.write(0xff); out.write(0xd8)
    seg(out, 0xe0, jfifApp0)
    seg(out, 0xdb, dqtSeg(0, qtable))
    seg(out, 0xc2, Array[Int](8, h >> 8, h & 0xff, w >> 8, w & 0xff, 1, 1, 0x11, 0).map(_.toByte))
    seg(out, 0xc4, dhtSeg(0x00, dcLumaBits, dcLumaVals))
    seg(out, 0xc4, dhtSeg(0x10, acLumaBits, acLumaVals))
    def category(v: Int): Int = {
      var a = math.abs(v); var n = 0
      while (a != 0) { a >>= 1; n += 1 }
      n
    }
    // scan 1: DC first, Al=1 (point transform = arithmetic shift)
    seg(out, 0xda, Array[Int](1, 1, 0x00, 0, 0, 0x01).map(_.toByte))
    var bw = new BitWriter(out)
    var pred = 0
    bi = 0
    while (bi < nBlocks) {
      val dc = coefs(bi)(0) >> 1
      val diff = dc - pred
      pred = dc
      val t = category(diff)
      bw.put(dcLumaEnc.codeOf(t), dcLumaEnc.sizeOf(t))
      if (t > 0) bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
      bi += 1
    }
    bw.flush()
    // scan 2: DC refinement, Ah=1 Al=0 (one raw bit per block)
    seg(out, 0xda, Array[Int](1, 1, 0x00, 0, 0, 0x10).map(_.toByte))
    bw = new BitWriter(out)
    bi = 0
    while (bi < nBlocks) {
      bw.put(coefs(bi)(0) & 1, 1)
      bi += 1
    }
    bw.flush()
    // scan 3: AC first, full band 1..63, Al=0, EOB-run coded
    seg(out, 0xda, Array[Int](1, 1, 0x00, 1, 63, 0x00).map(_.toByte))
    bw = new BitWriter(out)
    var eobrun = 0
    // The Annex K baseline AC table defines only EOB0 (0x00) — EOBn
    // symbols (r<<4, r>0) need custom progressive tables — so runs are
    // emitted as repeated EOB1 codes. (The decoder's EOBn path is
    // exercised by the ImageIO-written progressive differentials.)
    def flushEob(): Unit = {
      while (eobrun > 0) {
        bw.put(acLumaEnc.codeOf(0x00), acLumaEnc.sizeOf(0x00))
        eobrun -= 1
      }
    }
    bi = 0
    while (bi < nBlocks) {
      val c = coefs(bi)
      var lastNz = 0
      var k = 1
      while (k < 64) { if (c(Jpeg.ZigZag(k)) != 0) lastNz = k; k += 1 }
      if (lastNz == 0) eobrun += 1
      else {
        flushEob()
        var run = 0
        k = 1
        while (k <= lastNz) {
          val v = c(Jpeg.ZigZag(k))
          if (v == 0) run += 1
          else {
            while (run > 15) { bw.put(acLumaEnc.codeOf(0xf0), acLumaEnc.sizeOf(0xf0)); run -= 16 }
            val s = category(v)
            val rs = (run << 4) | s
            bw.put(acLumaEnc.codeOf(rs), acLumaEnc.sizeOf(rs))
            bw.put(if (v < 0) v + (1 << s) - 1 else v, s)
            run = 0
          }
          k += 1
        }
        if (lastNz < 63) eobrun += 1 // block tail joins a fresh EOB run
      }
      bi += 1
    }
    flushEob()
    bw.flush()
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  /** Encode explicit YCbCr planes, 4:4:4 (each plane w*h bytes). The
    * direct-plane API avoids forward color-convert rounding so the exact
    * class stays exact for color images too. */
  def encodeYcbcr444(yp: Array[Byte], cb: Array[Byte], cr: Array[Byte], w: Int, h: Int,
      qLuma: Array[Int] = scaledQuant(stdLumaQuant, 75),
      qChroma: Array[Int] = scaledQuant(stdChromaQuant, 75), dri: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && yp.length == w * h && cb.length == w * h && cr.length == w * h,
      "bad ycbcr image shape")
    val out = new java.io.ByteArrayOutputStream(1024 + pixEstimate(w, h))
    out.write(0xff); out.write(0xd8)
    seg(out, 0xe0, jfifApp0)
    seg(out, 0xdb, dqtSeg(0, qLuma))
    seg(out, 0xdb, dqtSeg(1, qChroma))
    seg(out, 0xc0, Array[Int](8, h >> 8, h & 0xff, w >> 8, w & 0xff, 3,
      1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1).map(_.toByte))
    seg(out, 0xc4, dhtSeg(0x00, dcLumaBits, dcLumaVals))
    seg(out, 0xc4, dhtSeg(0x10, acLumaBits, acLumaVals))
    seg(out, 0xc4, dhtSeg(0x01, dcChromaBits, dcChromaVals))
    seg(out, 0xc4, dhtSeg(0x11, acChromaBits, acChromaVals))
    if (dri > 0) seg(out, 0xdd, Array[Int](dri >> 8, dri & 0xff).map(_.toByte))
    seg(out, 0xda, Array[Int](3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0).map(_.toByte))
    val bw = new BitWriter(out)
    val blocksX = (w + 7) / 8; val blocksY = (h + 7) / 8
    val samples = new Array[Int](64)
    val coefs = new Array[Int](64)
    val preds = new Array[Int](3)
    val planes = Array(yp, cb, cr)
    var mcusLeft = if (dri > 0) dri else Int.MaxValue
    var rst = 0
    var by = 0
    while (by < blocksY) {
      var bx = 0
      while (bx < blocksX) {
        var ci = 0
        while (ci < 3) {
          val plane = planes(ci)
          var yy = 0
          while (yy < 8) {
            val sy = math.min(by * 8 + yy, h - 1)
            var xx = 0
            while (xx < 8) {
              val sx = math.min(bx * 8 + xx, w - 1)
              samples(yy * 8 + xx) = plane(sy * w + sx) & 0xff
              xx += 1
            }
            yy += 1
          }
          fdctQuant(samples, if (ci == 0) qLuma else qChroma, coefs)
          preds(ci) = encodeBlock(bw, coefs, preds(ci),
            if (ci == 0) dcLumaEnc else dcChromaEnc,
            if (ci == 0) acLumaEnc else acChromaEnc)
          ci += 1
        }
        mcusLeft -= 1
        val last = by == blocksY - 1 && bx == blocksX - 1
        if (dri > 0 && mcusLeft == 0 && !last) {
          bw.flush()
          out.write(0xff); out.write(0xd0 + rst)
          rst = (rst + 1) & 7
          preds(0) = 0; preds(1) = 0; preds(2) = 0
          mcusLeft = dri
        }
        bx += 1
      }
      by += 1
    }
    bw.flush()
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  /** Encode four 4:4:4 component planes as an Adobe CMYK-family JPEG:
    * APP14 "Adobe" with the given transform (0 = planes stored direct —
    * the CMYK shape; 2 = YCCK — caller provides the already-
    * YCbCr-transformed first three planes), all components on the luma
    * quant/huffman tables. Planes are stored VERBATIM (the exact class
    * round-trips bit-exactly), so closed-form pixel oracles extend to
    * the 4-component decode path. */
  def encodeCmyk444(p0: Array[Byte], p1: Array[Byte], p2: Array[Byte], p3: Array[Byte],
      w: Int, h: Int, transform: Int,
      qtable: Array[Int] = scaledQuant(stdLumaQuant, 75)): Array[Byte] = {
    require(w > 0 && h > 0 && Seq(p0, p1, p2, p3).forall(_.length == w * h),
      "bad cmyk image shape")
    require(transform == 0 || transform == 2, "Adobe transform 0 (CMYK) or 2 (YCCK)")
    val out = new java.io.ByteArrayOutputStream(1024 + w * h)
    out.write(0xff); out.write(0xd8)
    // APP14 Adobe: tag(5) + version(2) + flags0(2) + flags1(2) + transform(1)
    seg(out, 0xee, "Adobe".getBytes("US-ASCII") ++
      Array[Byte](0, 100, 0, 0, 0, 0, transform.toByte))
    seg(out, 0xdb, dqtSeg(0, qtable))
    seg(out, 0xc0, (Array[Int](8, h >> 8, h & 0xff, w >> 8, w & 0xff, 4) ++
      (1 to 4).flatMap(ci => Seq(ci, 0x11, 0))).map(_.toByte))
    seg(out, 0xc4, dhtSeg(0x00, dcLumaBits, dcLumaVals))
    seg(out, 0xc4, dhtSeg(0x10, acLumaBits, acLumaVals))
    seg(out, 0xda, (Array[Int](4) ++ (1 to 4).flatMap(ci => Seq(ci, 0x00)) ++
      Seq(0, 63, 0)).map(_.toByte))
    val bw = new BitWriter(out)
    val blocksX = (w + 7) / 8; val blocksY = (h + 7) / 8
    val samples = new Array[Int](64)
    val coefs = new Array[Int](64)
    val preds = new Array[Int](4)
    val planes = Array(p0, p1, p2, p3)
    var by = 0
    while (by < blocksY) {
      var bx = 0
      while (bx < blocksX) {
        var ci = 0
        while (ci < 4) {
          val plane = planes(ci)
          var yy = 0
          while (yy < 8) {
            val sy = math.min(by * 8 + yy, h - 1)
            var xx = 0
            while (xx < 8) {
              samples(yy * 8 + xx) = plane(sy * w + math.min(bx * 8 + xx, w - 1)) & 0xff
              xx += 1
            }
            yy += 1
          }
          fdctQuant(samples, qtable, coefs)
          preds(ci) = encodeBlock(bw, coefs, preds(ci), dcLumaEnc, acLumaEnc)
          ci += 1
        }
        bx += 1
      }
      by += 1
    }
    bw.flush()
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  /** Encode interleaved RGB via the inverse of [[Jpeg]]'s fixed-point
    * YCbCr->RGB (forward JFIF floats, rounded half-up). */
  def encodeRgb444(rgb: Array[Byte], w: Int, h: Int, quality: Int = 75, dri: Int = 0): Array[Byte] = {
    require(rgb.length == w * h * 3, "bad rgb image shape")
    val n = w * h
    val yp = new Array[Byte](n); val cb = new Array[Byte](n); val cr = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val r = rgb(3 * i) & 0xff; val g = rgb(3 * i + 1) & 0xff; val b = rgb(3 * i + 2) & 0xff
      yp(i) = clamp255(math.round(0.299 * r + 0.587 * g + 0.114 * b).toInt)
      cb(i) = clamp255(math.round(-0.168735892 * r - 0.331264108 * g + 0.5 * b + 128).toInt)
      cr(i) = clamp255(math.round(0.5 * r - 0.418687589 * g - 0.081312411 * b + 128).toInt)
      i += 1
    }
    encodeYcbcr444(yp, cb, cr, w, h,
      scaledQuant(stdLumaQuant, quality), scaledQuant(stdChromaQuant, quality), dri)
  }

  /** Splice a minimal APP1 EXIF segment (little-endian TIFF, one IFD0
    * entry: orientation tag 0x0112) right after SOI. */
  def withExifOrientation(jpeg: Array[Byte], orientation: Int): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8, "orientation 1..8")
    require(Jpeg.isJpeg(jpeg), "not a jpeg")
    val tiff = Array[Int](
      'I', 'I', 42, 0, 8, 0, 0, 0, // LE header, IFD0 at offset 8
      1, 0, // one entry
      0x12, 0x01, 3, 0, 1, 0, 0, 0, orientation, 0, 0, 0, // tag, SHORT, count 1, value
      0, 0, 0, 0 // next IFD: none
    ).map(_.toByte)
    afterSoi(jpeg, 0xe1, "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiff)
  }

  /** Insert a COM (comment) segment after SOI — the test/fixture twin of
    * [[Jpeg.stripMetadata]]'s COM removal. */
  def withComment(jpeg: Array[Byte], comment: String): Array[Byte] = {
    require(Jpeg.isJpeg(jpeg), "not a jpeg")
    afterSoi(jpeg, 0xfe, comment.getBytes("UTF-8"))
  }

  /** `jpeg` with one marker segment inserted right after SOI. */
  private def afterSoi(jpeg: Array[Byte], marker: Int, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(jpeg.length + body.length + 4)
    out.write(jpeg, 0, 2)
    seg(out, marker, body)
    out.write(jpeg, 2, jpeg.length - 2)
    out.toByteArray
  }

  private def clamp255(v: Int): Byte = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
  private def pixEstimate(w: Int, h: Int): Int = math.min(w * h, 1 << 24)
}
