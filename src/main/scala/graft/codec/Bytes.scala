package graft.codec

import java.io.ByteArrayOutputStream

/** The one byte and bit cursor every codec reads and writes through.
  *
  * Multi-byte reads are plain array indexing: an offset past the end
  * throws the JVM's `ArrayIndexOutOfBoundsException`, which each codec's
  * decode wrapper already turns into its typed `Left`. Reads are
  * unsigned; a caller that wants a signed 32-bit field takes `.toInt`.
  *
  * Bit readers share one rule: a read that needs more bits than remain
  * returns -1 and consumes nothing. They never pad with zero bits — zero
  * padding decodes as valid symbols in some prefix codes (JBIG2 Table
  * B.1 reads it as export run 0, forever), so a truncated stream must
  * surface as an end the caller can see. Bit writers pad the last byte
  * with zero bits.
  */
object Bytes {

  // ------------------------------------------------------------ reads

  def le16(b: Array[Byte], p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  def le24(b: Array[Byte], p: Int): Int = le16(b, p) | ((b(p + 2) & 0xff) << 16)
  def le32(b: Array[Byte], p: Int): Long = le16(b, p).toLong | (le16(b, p + 2).toLong << 16)
  def le64(b: Array[Byte], p: Int): Long = le32(b, p) | (le32(b, p + 4) << 32)

  def be16(b: Array[Byte], p: Int): Int = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
  def be32(b: Array[Byte], p: Int): Long = (be16(b, p).toLong << 16) | be16(b, p + 2).toLong
  def be64(b: Array[Byte], p: Int): Long = (be32(b, p) << 32) | be32(b, p + 4)

  /** 16/32-bit reads whose byte order a file header picks (TIFF II/MM). */
  def u16(b: Array[Byte], p: Int, littleEndian: Boolean): Int =
    if (littleEndian) le16(b, p) else be16(b, p)
  def u32(b: Array[Byte], p: Int, littleEndian: Boolean): Long =
    if (littleEndian) le32(b, p) else be32(b, p)

  // ------------------------------------------------------------ writes

  /** Append the low `n` bytes of `v`, least significant first. */
  def le(out: ByteArrayOutputStream, v: Long, n: Int): Unit = {
    var k = 0
    while (k < n) { out.write((v >>> (8 * k)).toInt & 0xff); k += 1 }
  }

  /** Append the low `n` bytes of `v`, most significant first. */
  def be(out: ByteArrayOutputStream, v: Long, n: Int): Unit = {
    var k = n - 1
    while (k >= 0) { out.write((v >>> (8 * k)).toInt & 0xff); k -= 1 }
  }

  /** Store the low `n` bytes of `v` at `a(p)`, least significant first. */
  def le(a: Array[Byte], p: Int, v: Long, n: Int): Unit = {
    var k = 0
    while (k < n) { a(p + k) = (v >>> (8 * k)).toByte; k += 1 }
  }

  /** Store the low `n` bytes of `v` at `a(p)`, most significant first. */
  def be(a: Array[Byte], p: Int, v: Long, n: Int): Unit = {
    var k = 0
    while (k < n) { a(p + k) = (v >>> (8 * (n - 1 - k))).toByte; k += 1 }
  }

  // ------------------------------------------------------------ bit readers

  /** Bit reader over `b(start until end)`, each byte's most significant
    * bit first. `pos` is the byte holding the next bit; after `align()`
    * a caller may read whole bytes there and move `pos` past them. */
  final class MsbBitReader(b: Array[Byte], start: Int, end: Int) {
    var pos: Int = start
    private var used = 0 // bits of b(pos) already read

    /** The next `n` bits (0 <= n <= 31), first bit most significant;
      * -1 when fewer than `n` remain. */
    def bits(n: Int): Int = {
      if ((end - pos).toLong * 8 - used < n) return -1
      var v = 0
      var got = 0
      while (got < n) {
        val take = math.min(n - got, 8 - used)
        v = (v << take) | (((b(pos) & 0xff) >>> (8 - used - take)) & ((1 << take) - 1))
        got += take
        used += take
        if (used == 8) { used = 0; pos += 1 }
      }
      v
    }

    /** Skip to the next byte boundary. */
    def align(): Unit = if (used != 0) { used = 0; pos += 1 }
  }

  /** Bit reader over `b(start until end)`, each byte's least significant
    * bit first; multi-bit values are little-endian (DEFLATE order). */
  final class LsbBitReader(b: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var used = 0 // bits of b(pos) already read

    /** The next `n` bits (0 <= n <= 31), first bit least significant;
      * -1 when fewer than `n` remain. */
    def bits(n: Int): Int = {
      if (n == 1) { // WebP prefix-code walks: without this, VP8L decode runs ~15% slower
        if (pos >= end) return -1
        val v = ((b(pos) & 0xff) >>> used) & 1
        used += 1
        if (used == 8) { used = 0; pos += 1 }
        return v
      }
      if ((end - pos).toLong * 8 - used < n) return -1
      var v = 0
      var got = 0
      while (got < n) {
        val take = math.min(n - got, 8 - used)
        v |= (((b(pos) & 0xff) >>> used) & ((1 << take) - 1)) << got
        got += take
        used += take
        if (used == 8) { used = 0; pos += 1 }
      }
      v
    }

    /** Skip to the next byte boundary. */
    def align(): Unit = if (used != 0) { used = 0; pos += 1 }
  }

  // ------------------------------------------------------------ bit writers

  /** Twin of [[MsbBitReader]]. */
  final class MsbBitWriter {
    private val out = new ByteArrayOutputStream()
    private var acc = 0L // the low n bits are pending
    private var n = 0

    /** Append the low `len` bits of `v` (len <= 32), most significant first. */
    def bits(v: Int, len: Int): Unit = {
      acc = (acc << len) | (v & ((1L << len) - 1))
      n += len
      while (n >= 8) { n -= 8; out.write((acc >>> n).toInt & 0xff) }
      acc &= (1L << n) - 1
    }

    /** Zero-pad to the next byte boundary. */
    def align(): Unit = if (n > 0) { out.write((acc << (8 - n)).toInt); acc = 0; n = 0 }

    /** Align, then append whole bytes. */
    def bytes(a: Array[Byte]): Unit = { align(); out.write(a, 0, a.length) }

    def result(): Array[Byte] = { align(); out.toByteArray }
  }

  /** Twin of [[LsbBitReader]]. */
  final class LsbBitWriter {
    private val out = new ByteArrayOutputStream()
    private var acc = 0L // the low n bits are pending
    private var n = 0

    /** Append the low `len` bits of `v` (len <= 32), least significant first. */
    def bits(v: Int, len: Int): Unit = {
      acc |= (v & ((1L << len) - 1)) << n
      n += len
      while (n >= 8) { out.write(acc.toInt & 0xff); acc >>>= 8; n -= 8 }
    }

    /** Zero-pad the last byte and return everything written. */
    def result(): Array[Byte] = {
      if (n > 0) { out.write(acc.toInt); acc = 0; n = 0 }
      out.toByteArray
    }
  }
}
