package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.Bytes

/** The shared byte/bit cursor: multi-byte reads and writes pinned
  * against java.nio.ByteBuffer, bit writers round-tripped through their
  * readers, and the end-of-data rule (-1, never zero padding). */
class BytesSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(20261017)
  private def randomBytes(n: Int): Array[Byte] = Array.fill(n)(rng.nextInt(256).toByte)

  test("LE/BE reads match ByteBuffer at every offset, unsigned") {
    val b = randomBytes(64)
    val le = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val be = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    for (p <- 0 to b.length - 8) {
      assert(Bytes.le16(b, p) == (le.getShort(p) & 0xffff))
      assert(Bytes.be16(b, p) == (be.getShort(p) & 0xffff))
      assert(Bytes.le24(b, p) == (le.getInt(p) & 0xffffff))
      assert(Bytes.le32(b, p) == (le.getInt(p) & 0xffffffffL))
      assert(Bytes.be32(b, p) == (be.getInt(p) & 0xffffffffL))
      assert(Bytes.le64(b, p) == le.getLong(p))
      assert(Bytes.be64(b, p) == be.getLong(p))
      assert(Bytes.u16(b, p, littleEndian = true) == Bytes.le16(b, p))
      assert(Bytes.u16(b, p, littleEndian = false) == Bytes.be16(b, p))
      assert(Bytes.u32(b, p, littleEndian = true) == Bytes.le32(b, p))
      assert(Bytes.u32(b, p, littleEndian = false) == Bytes.be32(b, p))
    }
    // plain indexing: a read past the end throws, as a codec's own did
    assertThrows[ArrayIndexOutOfBoundsException](Bytes.le32(b, b.length - 3))
  }

  test("LE/BE writes match ByteBuffer, into a stream and at an offset") {
    for (_ <- 0 until 200) {
      val v = rng.nextLong()
      for ((n, order) <- Seq(2, 3, 4, 8).flatMap(n =>
          Seq(n -> ByteOrder.LITTLE_ENDIAN, n -> ByteOrder.BIG_ENDIAN))) {
        val want = ByteBuffer.allocate(8).order(order).putLong(v).array()
        // the low n bytes of v, in the given order
        val low = if (order == ByteOrder.LITTLE_ENDIAN) want.take(n) else want.takeRight(n)
        val out = new java.io.ByteArrayOutputStream()
        val at = new Array[Byte](n + 3)
        if (order == ByteOrder.LITTLE_ENDIAN) { Bytes.le(out, v, n); Bytes.le(at, 3, v, n) }
        else { Bytes.be(out, v, n); Bytes.be(at, 3, v, n) }
        assert(out.toByteArray.sameElements(low), s"stream n=$n $order")
        assert(at.drop(3).sameElements(low) && at.take(3).forall(_ == 0), s"offset n=$n $order")
      }
    }
  }

  test("MSB and LSB bit writers round-trip through their readers") {
    for (_ <- 0 until 50) {
      val fields = Vector.fill(1 + rng.nextInt(60)) {
        val len = rng.nextInt(32) // 0..31
        (rng.nextInt() & ((1 << len) - 1), len)
      }
      val msb = new Bytes.MsbBitWriter
      val lsb = new Bytes.LsbBitWriter
      fields.foreach { case (v, len) => msb.bits(v, len); lsb.bits(v, len) }
      val mb = msb.result(); val lb = lsb.result()
      val total = fields.map(_._2).sum
      assert(mb.length == (total + 7) / 8 && lb.length == (total + 7) / 8)
      val mr = new Bytes.MsbBitReader(mb, 0, mb.length)
      val lr = new Bytes.LsbBitReader(lb, 0, lb.length)
      fields.foreach { case (v, len) =>
        assert(mr.bits(len) == v, s"msb len=$len")
        assert(lr.bits(len) == v, s"lsb len=$len")
      }
    }
    // bit order within a byte: 0b101 then 0b1 fills from the top (MSB)
    // or from the bottom (LSB)
    val m = new Bytes.MsbBitWriter; m.bits(5, 3); m.bits(1, 1)
    val l = new Bytes.LsbBitWriter; l.bits(5, 3); l.bits(1, 1)
    assert(m.result().sameElements(Array(0xb0.toByte)))
    assert(l.result().sameElements(Array(0x0d.toByte)))
  }

  test("align skips to the byte boundary; MSB bytes() and pos see whole bytes") {
    val w = new Bytes.MsbBitWriter
    w.bits(1, 1)
    w.bytes(Array[Byte](0x12, 0x34))
    w.bits(3, 2)
    w.align()
    val b = w.result()
    assert(b.sameElements(Array(0x80.toByte, 0x12, 0x34, 0xc0.toByte)))
    val r = new Bytes.MsbBitReader(b, 0, b.length)
    assert(r.bits(1) == 1)
    r.align()
    assert(r.pos == 1 && r.bits(16) == 0x1234 && r.bits(2) == 3)
    val lr = new Bytes.LsbBitReader(Array[Byte](0x01, 0x7f), 0, 2)
    assert(lr.bits(1) == 1)
    lr.align()
    assert(lr.bits(8) == 0x7f)
  }

  test("a read needing more bits than remain returns -1 and consumes nothing") {
    val b = Array[Byte](0xa5.toByte, 0x3c, 0x00, 0x00)
    for (reader <- Seq[Int => Int](
        { val r = new Bytes.MsbBitReader(b, 0, 2); r.bits },
        { val r = new Bytes.LsbBitReader(b, 0, 2); r.bits })) {
      assert(reader(11) >= 0)
      assert(reader(6) == -1) // 5 bits left, and the zero bytes past end are not read
      assert(reader(5) >= 0)
      assert(reader(1) == -1)
      assert(reader(0) == 0)
    }
    // a reader over an empty slice: every positive read is -1
    val empty = new Bytes.MsbBitReader(b, 2, 2)
    assert(empty.bits(1) == -1)
  }
}
