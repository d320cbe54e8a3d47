package graft

import java.nio.{ByteBuffer, ByteOrder}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Endian

/** `Endian` against `java.nio.ByteBuffer` in both byte orders, over seeded
  * random arrays: every reader at every offset, including the read that
  * ends exactly at the array end; the read one byte past it (and one
  * starting before 0) throws `ArrayIndexOutOfBoundsException`.
  */
class EndianSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(20261019L)
  private val arrays = Seq.fill(20)(Array.fill(1 + rnd.nextInt(40))(rnd.nextInt(256).toByte)) ++
    Seq(Array.fill(8)(0xff.toByte), Array.fill(8)(0x80.toByte), new Array[Byte](8))

  private def buf(b: Array[Byte], le: Boolean): ByteBuffer =
    ByteBuffer.wrap(b).order(if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)

  /** (name, width, little-endian, Endian reader, ByteBuffer reader). */
  private val readers: Seq[(String, Int, Boolean, (Array[Byte], Int) => Long,
      (ByteBuffer, Int) => Long)] = Seq(
    ("le16", 2, true, Endian.le16(_, _).toLong, (bb, o) => (bb.getShort(o) & 0xffff).toLong),
    ("be16", 2, false, Endian.be16(_, _).toLong, (bb, o) => (bb.getShort(o) & 0xffff).toLong),
    ("leInt", 4, true, Endian.leInt(_, _).toLong, (bb, o) => bb.getInt(o).toLong),
    ("beInt", 4, false, Endian.beInt(_, _).toLong, (bb, o) => bb.getInt(o).toLong),
    ("le32", 4, true, Endian.le32(_, _), (bb, o) => bb.getInt(o) & 0xffffffffL),
    ("be32", 4, false, Endian.be32(_, _), (bb, o) => bb.getInt(o) & 0xffffffffL),
    ("le64", 8, true, Endian.le64(_, _), (bb, o) => bb.getLong(o)),
    ("be64", 8, false, Endian.be64(_, _), (bb, o) => bb.getLong(o)))

  test("offset readers match ByteBuffer up to the array end and throw one byte past it") {
    for ((name, w, le, read, ref) <- readers; b <- arrays) {
      val bb = buf(b, le)
      for (o <- 0 to b.length - w) assert(read(b, o) == ref(bb, o), s"$name at $o of ${b.length}")
      intercept[ArrayIndexOutOfBoundsException](read(b, b.length - w + 1))
      intercept[ArrayIndexOutOfBoundsException](read(b, -1))
    }
  }

  /** (name, width, little-endian, Cursor read, ByteBuffer read). */
  private val cursorReads: Seq[(String, Int, Boolean, Endian.Cursor => Long,
      (ByteBuffer, Int) => Long)] = Seq(
    ("u8", 1, true, _.u8().toLong, (bb, o) => (bb.get(o) & 0xff).toLong),
    ("le16", 2, true, _.le16().toLong, (bb, o) => (bb.getShort(o) & 0xffff).toLong),
    ("le32", 4, true, _.le32(), (bb, o) => bb.getInt(o) & 0xffffffffL),
    ("le64", 8, true, _.le64(), (bb, o) => bb.getLong(o)),
    ("be16", 2, false, _.be16().toLong, (bb, o) => (bb.getShort(o) & 0xffff).toLong),
    ("beInt", 4, false, _.beInt().toLong, (bb, o) => bb.getInt(o).toLong))

  test("cursor reads match ByteBuffer, advance past what they read, and stop at the end") {
    for ((name, w, le, read, ref) <- cursorReads; b <- arrays) {
      val bb = buf(b, le)
      val c = new Endian.Cursor(b)
      while (c.pos + w <= b.length) {
        val at = c.pos
        assert(read(c) == ref(bb, at), s"$name at $at of ${b.length}")
        assert(c.pos == at + w)
      }
      // a read ending exactly at the end, then one a byte past it, which
      // throws and leaves the position where it was
      if (b.length >= w) {
        c.pos = b.length - w
        assert(read(c) == ref(bb, b.length - w), s"$name at the end of ${b.length}")
        assert(c.pos == b.length)
      }
      c.pos = b.length - w + 1
      intercept[ArrayIndexOutOfBoundsException](read(c))
      assert(c.pos == b.length - w + 1, name)
    }
  }

  test("writers match ByteBuffer puts, in place and as fresh arrays") {
    for (_ <- 0 until 500) {
      val v = rnd.nextLong()
      val o = rnd.nextInt(8)
      def ref(le: Boolean)(put: ByteBuffer => Any): Array[Byte] = {
        val b = new Array[Byte](16)
        put(buf(b, le).position(o))
        b
      }
      def mine(f: (Array[Byte], Int) => Unit): Array[Byte] = {
        val b = new Array[Byte](16); f(b, o); b
      }
      assert(mine(Endian.putLe16(_, _, v.toInt)) sameElements ref(le = true)(_.putShort(v.toShort)))
      assert(mine(Endian.putLe32(_, _, v)) sameElements ref(le = true)(_.putInt(v.toInt)))
      assert(mine(Endian.putLe64(_, _, v)) sameElements ref(le = true)(_.putLong(v)))
      assert(mine(Endian.putBe16(_, _, v.toInt)) sameElements
        ref(le = false)(_.putShort(v.toShort)))
      assert(mine(Endian.putBe32(_, _, v)) sameElements ref(le = false)(_.putInt(v.toInt)))
      def fresh(n: Int, le: Boolean)(put: ByteBuffer => Any): Array[Byte] = {
        val b = new Array[Byte](n); put(buf(b, le)); b
      }
      assert(Endian.le16Bytes(v.toInt) sameElements fresh(2, le = true)(_.putShort(v.toShort)))
      assert(Endian.le32Bytes(v) sameElements fresh(4, le = true)(_.putInt(v.toInt)))
      assert(Endian.le64Bytes(v) sameElements fresh(8, le = true)(_.putLong(v)))
      assert(Endian.be16Bytes(v.toInt) sameElements fresh(2, le = false)(_.putShort(v.toShort)))
      assert(Endian.be32Bytes(v) sameElements fresh(4, le = false)(_.putInt(v.toInt)))
    }
    // a write that would end past the array throws
    intercept[ArrayIndexOutOfBoundsException](Endian.putLe32(new Array[Byte](3), 0, 1L))
    intercept[ArrayIndexOutOfBoundsException](Endian.putBe16(new Array[Byte](2), 1, 1))
  }
}
