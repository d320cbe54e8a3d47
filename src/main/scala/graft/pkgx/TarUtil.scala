package graft.pkgx

import java.nio.charset.StandardCharsets
import graft.core.OutBuf

/** USTAR (POSIX tar) archive reader — pure JDK, header-only format.
  *
  * Reference analog: tika-parsers pkg-module PackageParser.java:64-193
  * routes tar through commons-compress and emits each entry as an
  * embedded document; this reader yields the same entry stream for the
  * Extractor's work-stack recursion. Supports the GNU long-name ('L')
  * extension and skips pax headers ('x'/'g') and non-file entries.
  */
object TarUtil {

  final case class Entry(name: String, data: Array[Byte])

  private val BlockSize = 512

  /** Malformed numeric header field — fails the DOCUMENT (a bogus size
    * silently misaligns every subsequent entry otherwise).
    */
  final class TarMalformed(msg: String) extends RuntimeException(msg)

  /** Parse a numeric header field: octal (NUL/space padded) or GNU
    * base-256 (0x80 flag in the first byte, big-endian binary). Garbage
    * fields throw [[TarMalformed]] instead of accumulating stray octal
    * digits into a bogus length.
    */
  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    val end = off + len
    if ((b(off) & 0x80) != 0) {
      // GNU base-256: value bits start in the flag byte itself
      var v = (b(off) & 0x7fL)
      var i = off + 1
      while (i < end) {
        if (v > (Long.MaxValue >> 8))
          throw new TarMalformed("base-256 field exceeds 63 bits")
        v = (v << 8) | (b(i) & 0xffL)
        i += 1
      }
      return v
    }
    var i = off
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    var v = 0L
    var digits = 0
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = (v << 3) + (b(i) - '0'); digits += 1; i += 1
    }
    // after the digit run only padding may follow; a field with stray
    // non-octal bytes (or digits after garbage) is a malformed header
    while (i < end) {
      if (b(i) != ' ' && b(i) != 0)
        throw new TarMalformed(s"non-octal byte 0x${(b(i) & 0xff).toHexString} in numeric field")
      i += 1
    }
    v // all-padding fields (digits == 0) read as 0 — some writers leave mode empty
  }

  private def str(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val max = off + len
    while (end < max && b(end) != 0) end += 1
    new String(b, off, end - off, StandardCharsets.UTF_8)
  }

  def isTar(bytes: Array[Byte]): Boolean =
    bytes.length >= 263 && bytes(257) == 'u' && bytes(258) == 's' &&
      bytes(259) == 't' && bytes(260) == 'a' && bytes(261) == 'r'

  def entries(bytes: Array[Byte], maxEntries: Int = 10000): Vector[Entry] = {
    val out = Vector.newBuilder[Entry]
    var p = 0L
    var pendingLongName: String = null
    var n = 0
    var extracted = 0L
    while (p + BlockSize <= bytes.length && n < maxEntries) {
      val pi = p.toInt
      // two consecutive zero blocks end the archive; one zero name ends too
      if (bytes(pi) == 0) return out.result()
      val size = octal(bytes, pi + 124, 12)
      val typeflag = bytes(pi + 156)
      // Long math throughout: forged 8 GB sizes must advance the cursor
      // past EOF, not overflow Int into a same-bytes re-read loop
      val dataBlocks = (size + BlockSize - 1) / BlockSize
      val dataStart = p + BlockSize
      val dataEnd = math.min(dataStart + size, bytes.length.toLong)
      typeflag match {
        case 'L' => // GNU long name: data is the next entry's name
          pendingLongName = str(bytes, dataStart.toInt,
            (dataEnd - dataStart).toInt)
        case '0' | 0 =>
          val name = {
            val base = str(bytes, pi, 100)
            val prefix = str(bytes, pi + 345, 155)
            val full = if (prefix.nonEmpty) prefix + "/" + base else base
            if (pendingLongName != null) pendingLongName else full
          }
          pendingLongName = null
          if (name.nonEmpty) {
            // budget the CLAIMED size, not the EOF-clamped copy: a tar
            // forging absurd sizes is failed as hostile (like the zip
            // guard) instead of silently yielding truncated members
            extracted += size
            if (extracted > OutBuf.MaxBytes) throw new graft.engine.ZipBombDetected
            out += Entry(name,
              java.util.Arrays.copyOfRange(bytes, dataStart.toInt, dataEnd.toInt))
          }
        case _ => // directories, links, pax headers: skip (data consumed below)
          pendingLongName = null
      }
      p = dataStart + dataBlocks * BlockSize
      n += 1
    }
    out.result()
  }

  /** Build a USTAR archive (fixture/corpus writer; fixed mtime for
    * byte-identical output like Corpus.zip).
    */
  def write(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      val h = new Array[Byte](BlockSize)
      val nm = name.getBytes(StandardCharsets.UTF_8)
      require(nm.length <= 100, s"name too long: $name")
      System.arraycopy(nm, 0, h, 0, nm.length)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes(StandardCharsets.US_ASCII)
        System.arraycopy(b, 0, h, off, b.length)
      }
      put(100, "0000644")                  // mode
      put(108, "0000000")                  // uid
      put(116, "0000000")                  // gid
      put(124, f"${data.length}%011o")     // size
      put(136, f"${1735689600L}%011o")     // mtime (fixed)
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // checksum spaces
      h(156) = '0'                         // regular file
      put(257, "ustar")                    // magic + NUL (zero-filled)
      put(263, "00")                       // version
      var sum = 0L
      h.foreach(b => sum += (b & 0xff))
      put(148, f"$sum%06o")
      h(154) = 0; h(155) = ' '
      out.write(h)
      out.write(data)
      val pad = (BlockSize - data.length % BlockSize) % BlockSize
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](BlockSize * 2))
    out.toByteArray
  }
}
