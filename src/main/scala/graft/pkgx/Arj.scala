package graft.pkgx

import java.nio.charset.StandardCharsets
import graft.core.Endian.{le16, le32}

/** ARJ archive walk (stored-method entries only).
  *
  * Reference behavior: tika-parsers pkg-module PackageParser dispatches
  * .arj to commons-compress `ArjArchiveInputStream`, which likewise
  * supports ONLY method-0 (stored) entries and raises on compressed
  * ones. Framing follows the public ARJ TECHNOTE: each header is
  * `0x60 0xEA`, basic-header-size(2), first_hdr_size(1), versions,
  * host os, flags, method, file type, timestamps, compressed/original
  * sizes, then a NUL-terminated name + comment, CRC32, and extended
  * headers; data of compressed_size follows file headers; a zero
  * basic-header-size ends the archive.
  */
object Arj {

  final class ArjMalformed(msg: String) extends Exception(msg)

  final case class Entry(name: String, data: Option[Array[Byte]],
      method: Int, originalSize: Long)

  def isArj(b: Array[Byte]): Boolean =
    b.length > 4 && (b(0) & 0xff) == 0x60 && (b(1) & 0xff) == 0xea

  def entries(b: Array[Byte]): Vector[Entry] = {
    if (!isArj(b)) throw new ArjMalformed("bad ARJ magic")
    val out = Vector.newBuilder[Entry]
    var p = 0
    var sawMain = false
    var count = 0
    while (p + 4 <= b.length && count < 100000) {
      count += 1
      if ((b(p) & 0xff) != 0x60 || (b(p + 1) & 0xff) != 0xea)
        throw new ArjMalformed("lost header sync")
      val hsize = le16(b, p + 2)
      if (hsize == 0) return out.result() // end of archive
      if (hsize > 2600 || p + 4 + hsize + 4 > b.length)
        throw new ArjMalformed("header overruns archive")
      val h = p + 4
      val firstHdrSize = b(h) & 0xff
      // the fixed part we read (through originalSize at +16..+20) and
      // the name region must both lie inside the declared basic header
      if (hsize < 20 || firstHdrSize < 20 || firstHdrSize > hsize)
        throw new ArjMalformed("basic header too small")
      val method = b(h + 5) & 0xff
      val compressedSize = le32(b, h + 12)
      val originalSize = le32(b, h + 16)
      // NUL-terminated name right after the fixed part
      var q = h + firstHdrSize
      val nameEnd = {
        var i = q
        while (i < h + hsize && b(i) != 0) i += 1
        i
      }
      val name = new String(b, q, nameEnd - q, StandardCharsets.ISO_8859_1)
      // basic header + CRC(4), then extended header sizes (2 each, 0 ends)
      var r = p + 4 + hsize + 4
      var extGuard = 0
      while (r + 2 <= b.length && le16(b, r) != 0 && extGuard < 64) {
        r += 2 + le16(b, r) + 4
        extGuard += 1
      }
      r += 2
      if (!sawMain) {
        sawMain = true // main header carries no file data
        p = r
      } else {
        if (compressedSize < 0 || r + compressedSize > b.length)
          throw new ArjMalformed("data overruns archive")
        val data =
          if (method == 0 && compressedSize == originalSize)
            Some(java.util.Arrays.copyOfRange(b, r, (r + compressedSize).toInt))
          else None
        out += Entry(name, data, method, originalSize)
        p = (r + compressedSize).toInt
      }
    }
    out.result()
  }
}
