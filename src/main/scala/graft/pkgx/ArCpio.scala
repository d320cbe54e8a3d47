package graft.pkgx

import graft.core.Endian.le16

/** Unix `ar` and `cpio` archive readers — pure JDK, from the public
  * formats (classic common `ar` with GNU `//` long-name table and BSD
  * `#1/N` inline names; cpio in old-binary 070707, portable-ASCII odc and
  * SVR4 newc/crc layouts).
  *
  * The reference routes both through commons-compress via
  * pkg/PackageParser.java (ArArchiveInputStream / CpioArchiveInputStream
  * dispatch); member semantics mirrored: each regular member becomes an
  * embedded document named by the entry, directories are skipped, the
  * `TRAILER!!!` cpio sentinel ends the archive.
  */
object ArCpio {

  final class ArchiveMalformed(msg: String) extends RuntimeException(msg)

  final case class Entry(name: String, data: Array[Byte])

  private def ascii(b: Array[Byte], off: Int, len: Int): String =
    new String(b, off, len, java.nio.charset.StandardCharsets.US_ASCII)

  // ---- ar ----------------------------------------------------------------

  def isAr(b: Array[Byte]): Boolean =
    b.length > 8 && ascii(b, 0, 8) == "!<arch>\n"

  def arEntries(bytes: Array[Byte], maxEntries: Int = 10000): Vector[Entry] =
    try arEntries0(bytes, maxEntries)
    catch { case _: NumberFormatException =>
      throw new ArchiveMalformed("non-numeric ar header field") }

  private def arEntries0(bytes: Array[Byte], maxEntries: Int): Vector[Entry] = {
    if (!isAr(bytes)) throw new ArchiveMalformed("not an ar archive")
    val out = Vector.newBuilder[Entry]
    var longNames: Array[Byte] = null
    var off = 8
    var n = 0
    while (off + 60 <= bytes.length && n < maxEntries) {
      val rawName = ascii(bytes, off, 16).trim
      val sizeField = ascii(bytes, off + 48, 10).trim
      if (ascii(bytes, off + 58, 2) != "`\n")
        throw new ArchiveMalformed("bad ar entry magic")
      if (sizeField.isEmpty || !sizeField.forall(_.isDigit))
        throw new ArchiveMalformed("bad ar size field")
      val size = sizeField.toLong
      var dataOff = off + 60
      var dataLen = size
      var name = rawName
      if (rawName.startsWith("#1/")) {
        // BSD: N name bytes prefixed to the data
        val nameLen = rawName.drop(3).toInt
        if (dataOff + nameLen > bytes.length)
          throw new ArchiveMalformed("bsd name overruns")
        name = ascii(bytes, dataOff, nameLen).takeWhile(_ != '\u0000')
        dataOff += nameLen
        dataLen -= nameLen
      } else if (rawName == "//") {
        // GNU long-name table
        longNames = java.util.Arrays.copyOfRange(bytes, dataOff,
          math.min(bytes.length.toLong, dataOff + dataLen).toInt)
        name = null
      } else if (rawName.startsWith("/") && rawName.length > 1 &&
          rawName.drop(1).forall(_.isDigit)) {
        val tblOff = rawName.drop(1).toInt
        if (longNames == null || tblOff >= longNames.length)
          throw new ArchiveMalformed("gnu long-name offset out of range")
        val end0 = longNames.indexOf('\n'.toByte, tblOff)
        val end = if (end0 < 0) longNames.length else end0
        name = new String(longNames, tblOff, end - tblOff,
          java.nio.charset.StandardCharsets.US_ASCII).stripSuffix("/")
      } else {
        name = rawName.stripSuffix("/") // GNU terminates names with '/'
      }
      if (dataLen < 0 || dataOff + dataLen > bytes.length)
        throw new ArchiveMalformed("ar member overruns archive")
      if (name != null && name.nonEmpty && name != "/" && name != "/SYM64/") {
        out += Entry(name,
          java.util.Arrays.copyOfRange(bytes, dataOff, (dataOff + dataLen).toInt))
        n += 1
      }
      off = (dataOff + dataLen + ((dataOff + dataLen) & 1)).toInt // 2-align
    }
    out.result()
  }

  // ---- cpio --------------------------------------------------------------

  def isCpio(b: Array[Byte]): Boolean =
    b.length > 6 && {
      val m = ascii(b, 0, 6)
      m == "070707" || m == "070701" || m == "070702" ||
        ((b(0) & 0xff) | ((b(1) & 0xff) << 8)) == 0x71c7 ||
        ((b(1) & 0xff) | ((b(0) & 0xff) << 8)) == 0x71c7
    }

  private val CpioDirMask = 0xf000
  private val CpioDir = 0x4000

  def cpioEntries(bytes: Array[Byte], maxEntries: Int = 10000): Vector[Entry] =
    try cpioEntries0(bytes, maxEntries)
    catch { case _: NumberFormatException =>
      throw new ArchiveMalformed("non-numeric cpio header field") }

  private def cpioEntries0(bytes: Array[Byte], maxEntries: Int): Vector[Entry] = {
    if (!isCpio(bytes)) throw new ArchiveMalformed("not a cpio archive")
    val out = Vector.newBuilder[Entry]
    var off = 0
    var n = 0
    var done = false
    while (!done && n < maxEntries && off < bytes.length) {
      val (name, mode, size, dataOff, nextOff) = readCpioHeader(bytes, off)
      if (name == "TRAILER!!!") done = true
      else {
        if ((mode & CpioDirMask) != CpioDir && name.nonEmpty) {
          if (dataOff + size > bytes.length)
            throw new ArchiveMalformed("cpio member overruns archive")
          out += Entry(name,
            java.util.Arrays.copyOfRange(bytes, dataOff, (dataOff + size).toInt))
          n += 1
        }
        off = nextOff
      }
    }
    out.result()
  }

  /** Returns (name, mode, size, dataOff, nextHeaderOff). */
  private def readCpioHeader(b: Array[Byte], off: Int): (String, Int, Long, Int, Int) = {
    def need(n: Int): Unit =
      if (off + n > b.length) throw new ArchiveMalformed("truncated cpio header")
    need(6)
    val magic = ascii(b, off, 6)
    if (magic == "070701" || magic == "070702") {
      // newc / crc: 110-byte ASCII-hex header, 4-byte alignment
      need(110)
      def hex(i: Int): Long =
        java.lang.Long.parseLong(ascii(b, off + 6 + i * 8, 8), 16)
      val mode = hex(1).toInt
      val size = hex(6)
      val nameSize = hex(11).toInt
      if (nameSize <= 0 || nameSize > 65536)
        throw new ArchiveMalformed("bad cpio name size")
      need(110 + nameSize)
      val name = ascii(b, off + 110, nameSize - 1) // NUL-terminated
      val dataOff = pad4(off + 110 + nameSize)
      val next = pad4((dataOff + size).toInt)
      (name, mode, size, dataOff, next)
    } else if (magic == "070707") {
      // odc: 76-byte ASCII-octal header, no alignment
      need(76)
      def oct(start: Int, len: Int): Long =
        java.lang.Long.parseLong(ascii(b, off + start, len), 8)
      val mode = oct(18, 6).toInt
      val nameSize = oct(59, 6).toInt
      val size = oct(65, 11)
      if (nameSize <= 0 || nameSize > 65536)
        throw new ArchiveMalformed("bad cpio name size")
      need(76 + nameSize)
      val name = ascii(b, off + 76, nameSize - 1)
      val dataOff = off + 76 + nameSize
      ((name, mode, size, dataOff, (dataOff + size).toInt))
    } else {
      // old binary: 26-byte header of little-endian shorts, 2-byte align
      need(26)
      if (le16(b, off) != 0x71c7) throw new ArchiveMalformed("bad binary cpio magic")
      val mode = le16(b, off + 6)
      val nameSize = le16(b, off + 20)
      // 32-bit values are stored high-half first as two 16-bit words
      val size = (le16(b, off + 22).toLong << 16) | le16(b, off + 24).toLong
      if (nameSize <= 0 || nameSize > 65536)
        throw new ArchiveMalformed("bad cpio name size")
      need(26 + nameSize)
      val name = ascii(b, off + 26, nameSize - 1)
      val dataOff = pad2(off + 26 + nameSize)
      val next = pad2((dataOff + size).toInt)
      (name, mode, size, dataOff, next)
    }
  }

  private def pad2(v: Int): Int = v + (v & 1)
  private def pad4(v: Int): Int = (v + 3) & ~3

  // ---- fixture writers ---------------------------------------------------

  /** Classic `ar` writer (GNU short names, `/`-terminated). */
  def writeAr(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("!<arch>\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    entries.foreach { case (name, data) =>
      val hdr = new StringBuilder
      hdr.append((name + "/").padTo(16, ' ').take(16))
      hdr.append("0".padTo(12, ' '))            // mtime
      hdr.append("0".padTo(6, ' '))             // uid
      hdr.append("0".padTo(6, ' '))             // gid
      hdr.append("100644".padTo(8, ' '))        // mode
      hdr.append(data.length.toString.padTo(10, ' '))
      hdr.append("`\n")
      out.write(hdr.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.write(data)
      if ((data.length & 1) == 1) out.write('\n')
    }
    out.toByteArray
  }

  /** SVR4 newc cpio writer (magic 070701, 4-byte alignment). */
  def writeCpio(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def align4(): Unit = while (out.size() % 4 != 0) out.write(0)
    def one(name: String, data: Array[Byte], mode: Int): Unit = {
      val h = new StringBuilder("070701")
      def f(v: Long): Unit = h.append(f"$v%08x")
      f(1); f(mode); f(0); f(0); f(1); f(0); f(data.length.toLong)
      f(0); f(0); f(0); f(0); f(name.length + 1L); f(0)
      out.write(h.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.write(name.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.write(0)
      align4()
      out.write(data)
      align4()
    }
    entries.foreach { case (n, d) => one(n, d, 0x81a4) }
    one("TRAILER!!!", Array.emptyByteArray, 0)
    out.toByteArray
  }
}
