package graft.codec

/** VP8 key-frame synthesis twin (the [[Vp8]] decoder's counterpart, in
  * the same spirit as every other codec's encode leg here): a boolean
  * ENCODER (RFC 6386 §7.3, the carry-propagating libvpx shape) plus a
  * minimal-stream writer producing a well-formed key frame in which
  * every macroblock is DC_PRED / chroma-DC with an explicit all-EOB
  * token set (skip disabled, so the token partition is really read).
  * Decoding such a frame yields EXACTLY 128 on every Y/U/V sample —
  * the first MB has no neighbors (DC predicts 128) and every later MB
  * averages 128-valued borders — and any loop-filter level is a no-op
  * on the uniform planes, so q-oracles can state the output in closed
  * form while the stream still exercises the full header / mode /
  * token / reconstruction path of the libwebp-pinned decoder. */
object Vp8Synth {
  import Bytes.le

  /** RFC 6386 §7.3 boolean encoder. */
  final class BoolWriter {
    private var lowvalue: Long = 0L
    private var range: Int = 255
    private var count: Int = -24
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]

    def put(prob: Int, bit: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit != 0) { lowvalue += split; range -= split }
      else range = split
      var shift = java.lang.Integer.numberOfLeadingZeros(range) - 24
      range <<= shift
      count += shift
      if (count >= 0) {
        val offset = shift - count
        if (((lowvalue << (offset - 1)) & 0x80000000L) != 0) {
          var x = buf.length - 1
          while (x >= 0 && buf(x) == 0xff.toByte) { buf(x) = 0; x -= 1 }
          if (x >= 0) buf(x) = (buf(x) + 1).toByte
        }
        buf += ((lowvalue >> (24 - offset)) & 0xff).toByte
        lowvalue = (lowvalue << offset) & 0xffffffL
        shift = count
        count -= 8
      }
      lowvalue = (lowvalue << shift) & 0xffffffffL
    }
    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { put(128, (v >> i) & 1); i -= 1 }
    }
    def finish(): Array[Byte] = {
      var i = 0
      while (i < 32) { put(128, 0); i += 1 }
      buf.toArray
    }
  }

  /** Minimal all-DC key frame; returns the raw VP8 payload (frame tag
    * + partitions) for a `VP8 ` chunk. */
  def synthesize(width: Int, height: Int, yAcQi: Int = 40, filterLevel: Int = 20): Array[Byte] = {
    require(width >= 1 && height >= 1 && width <= 0x3fff && height <= 0x3fff)
    require(yAcQi >= 0 && yAcQi <= 127 && filterLevel >= 0 && filterLevel <= 63)
    val mbW = (width + 15) / 16
    val mbH = (height + 15) / 16

    val p0 = new BoolWriter
    p0.literal(0, 1) // color space
    p0.literal(0, 1) // clamping
    p0.literal(0, 1) // segmentation disabled
    p0.literal(0, 1) // filter type: normal
    p0.literal(filterLevel, 6)
    p0.literal(0, 3) // sharpness
    p0.literal(0, 1) // lf delta disabled
    p0.literal(0, 2) // log2(nbr partitions) = 0 -> 1 partition
    p0.literal(yAcQi, 7)
    var i = 0
    while (i < 5) { p0.put(128, 0); i += 1 } // no quant deltas
    p0.literal(0, 1) // refresh entropy probs
    i = 0
    while (i < 1056) { p0.put(Vp8Tables.CoeffUpdateProbs(i), 0); i += 1 }
    p0.literal(0, 1) // mb_no_coeff_skip disabled: every MB carries tokens
    var mb = 0
    while (mb < mbW * mbH) {
      // y mode DC: kf tree bits (1,0,0); uv DC: bit 0
      p0.put(145, 1); p0.put(156, 0); p0.put(163, 0)
      p0.put(142, 0)
      mb += 1
    }
    val part0 = p0.finish()

    val p1 = new BoolWriter
    def eob(blockType: Int, band: Int): Unit =
      p1.put(Vp8Tables.CoeffProbs(((blockType * 8 + band) * 3 + 0) * 11), 0)
    mb = 0
    while (mb < mbW * mbH) {
      eob(1, 0) // Y2
      var b = 0
      while (b < 16) { eob(0, 1); b += 1 } // luma, first coeff 1 -> band 1
      b = 0
      while (b < 8) { eob(2, 0); b += 1 } // chroma
      mb += 1
    }
    val part1 = p1.finish()

    val out = new java.io.ByteArrayOutputStream()
    val tag = (part0.length << 5) | (1 << 4) // show_frame, version 0, key frame
    le(out, tag, 3)
    out.write(0x9d); out.write(0x01); out.write(0x2a)
    out.write(width & 0xff); out.write((width >> 8) & 0x3f)
    out.write(height & 0xff); out.write((height >> 8) & 0x3f)
    out.write(part0, 0, part0.length)
    out.write(part1, 0, part1.length)
    out.toByteArray
  }

  /** Wrap a raw VP8 payload in a RIFF/WEBP container. */
  def wrapWebp(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("RIFF".getBytes("US-ASCII"))
    le(out, 4 + 8 + payload.length + (payload.length & 1), 4)
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8 ".getBytes("US-ASCII")); le(out, payload.length, 4)
    out.write(payload, 0, payload.length)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }
}
