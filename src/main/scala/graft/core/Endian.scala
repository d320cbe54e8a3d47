package graft.core

/** Fixed-width integers in byte arrays, read and written in either byte
  * order: the one copy of what tika-core's `io.EndianUtils` does for the
  * binary parsers and the corpus generators.
  *
  * Readers take an array and an offset and index the array directly, so a
  * read that starts before 0 or ends past the array throws
  * `ArrayIndexOutOfBoundsException`; a parser that reports its own format
  * error checks the bounds first and hands only the arithmetic here. The
  * 16-bit and `32` readers are unsigned (`Int` and `Long`); `Int` and `64`
  * are signed. `Endian` is an object, so every method is final and small
  * enough for the JIT to inline on the hot paths (ZIP headers, PDF CID
  * strings, OOXML through the ZIP reads).
  */
object Endian {
  def le16(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  def leInt(b: Array[Byte], o: Int): Int = le16(b, o) | (le16(b, o + 2) << 16)
  def le32(b: Array[Byte], o: Int): Long = leInt(b, o) & 0xffffffffL
  def le64(b: Array[Byte], o: Int): Long = le32(b, o) | (leInt(b, o + 4).toLong << 32)

  def be16(b: Array[Byte], o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  def beInt(b: Array[Byte], o: Int): Int = (be16(b, o) << 16) | be16(b, o + 2)
  def be32(b: Array[Byte], o: Int): Long = beInt(b, o) & 0xffffffffL
  def be64(b: Array[Byte], o: Int): Long = (beInt(b, o).toLong << 32) | be32(b, o + 4)

  /** Writers store the low 16, 32 or 64 bits of `v` at `o`. */
  def putLe16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
  }
  def putLe32(b: Array[Byte], o: Int, v: Long): Unit = {
    putLe16(b, o, v.toInt); putLe16(b, o + 2, (v >> 16).toInt)
  }
  def putLe64(b: Array[Byte], o: Int, v: Long): Unit = {
    putLe32(b, o, v); putLe32(b, o + 4, v >> 32)
  }
  def putBe16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v >> 8).toByte; b(o + 1) = v.toByte
  }
  def putBe32(b: Array[Byte], o: Int, v: Long): Unit = {
    putBe16(b, o, (v >> 16).toInt); putBe16(b, o + 2, v.toInt)
  }

  def le16Bytes(v: Int): Array[Byte] = { val b = new Array[Byte](2); putLe16(b, 0, v); b }
  def le32Bytes(v: Long): Array[Byte] = { val b = new Array[Byte](4); putLe32(b, 0, v); b }
  def le64Bytes(v: Long): Array[Byte] = { val b = new Array[Byte](8); putLe64(b, 0, v); b }
  def be16Bytes(v: Int): Array[Byte] = { val b = new Array[Byte](2); putBe16(b, 0, v); b }
  def be32Bytes(v: Long): Array[Byte] = { val b = new Array[Byte](4); putBe32(b, 0, v); b }

  /** A sequential reader over `b` from `pos`: each read returns what the
    * same-named offset reader returns at `pos`, then advances `pos` past
    * it. A read past the end throws and leaves `pos` where it was.
    */
  class Cursor(val b: Array[Byte], var pos: Int = 0) {
    def u8(): Int = { val v = b(pos) & 0xff; pos += 1; v }
    def le16(): Int = { val v = Endian.le16(b, pos); pos += 2; v }
    def le32(): Long = { val v = Endian.le32(b, pos); pos += 4; v }
    def le64(): Long = { val v = Endian.le64(b, pos); pos += 8; v }
    def be16(): Int = { val v = Endian.be16(b, pos); pos += 2; v }
    def beInt(): Int = { val v = Endian.beInt(b, pos); pos += 4; v }
  }
}
