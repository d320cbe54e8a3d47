package graft.pkgx

import graft.core.{Endian, OutBuf}

/** Snappy framing format (github.com/google/snappy framing_format.txt)
  * and the raw block format — the CompressorParser's snappy-framed
  * route, from scratch.
  *
  * Frames: u8 chunk type + u24 LE length; 0xFF stream identifier
  * ("sNaPpY"), 0x00 compressed data (u32 masked CRC32-C + snappy
  * block), 0x01 uncompressed data (CRC + raw bytes), 0x02-0x7F
  * reserved-unskippable, 0x80-0xFE reserved-skippable.
  *
  * Blocks: uvarint uncompressed length, then tagged elements — literals
  * (tag&3 == 0, length in the tag or 1-4 trailing bytes) and copies
  * with 1/2/4-byte little-endian offsets.
  */
object Snappy {

  final class SnappyMalformed(msg: String) extends RuntimeException(msg)

  /** Uncompressed bytes one framed chunk may hold (framing format §4.2). */
  private val MaxChunk = 65536

  /** Decompress a framed stream. */
  def decompressFramed(b: Array[Byte]): Array[Byte] = {
    val out = new OutBuf(OutBuf.MaxBytes, 1 << 16,
      () => new SnappyMalformed("copy out of bounds"))
    var p = 0
    while (p + 4 <= b.length) {
      val tpe = b(p) & 0xff
      val len = (b(p + 1) & 0xff) | ((b(p + 2) & 0xff) << 8) |
        ((b(p + 3) & 0xff) << 16)
      p += 4
      if (p + len > b.length) throw new SnappyMalformed("truncated chunk")
      tpe match {
        case 0x00 => // compressed: 4-byte masked crc then block
          if (len < 4) throw new SnappyMalformed("short compressed chunk")
          decompressBlock(b, p + 4, len - 4, out)
        case 0x01 =>
          if (len < 4) throw new SnappyMalformed("short uncompressed chunk")
          out.write(b, p + 4, len - 4)
        case 0xff => () // stream identifier
        case t if t >= 0x80 => () // skippable
        case t => throw new SnappyMalformed(f"unskippable chunk 0x$t%02x")
      }
      p += len
    }
    out.result
  }

  /** Decompress one raw snappy block onto `out`; its copies reach back
    * only into the block itself.
    */
  private def decompressBlock(b: Array[Byte], from: Int, n: Int,
      out: OutBuf): Unit = {
    var p = from
    val end = from + n
    // uvarint expected length
    var expect = 0L
    var shift = 0
    var more = true
    while (more && p < end && shift < 35) {
      val c = b(p) & 0xff
      p += 1
      expect |= (c & 0x7fL) << shift
      shift += 7
      more = (c & 0x80) != 0
    }
    if (expect > MaxChunk) throw new SnappyMalformed("declared size over chunk limit")
    val start = out.len
    val stop = start + expect.toInt
    def copy(off: Int, len: Int): Unit = {
      if (off <= 0 || off > out.len - start || out.len + len > stop)
        throw new SnappyMalformed("copy out of bounds")
      out.copyBack(off - 1, len)
    }
    while (p < end && out.len < stop) {
      val tag = b(p) & 0xff
      p += 1
      (tag & 3) match {
        case 0 => // literal
          var litLen = (tag >> 2) + 1
          if (litLen > 60) {
            val extra = litLen - 60
            if (p + extra > end) throw new SnappyMalformed("truncated literal len")
            var v = 0
            var i = 0
            while (i < extra) { v |= (b(p + i) & 0xff) << (8 * i); i += 1 }
            litLen = v + 1
            p += extra
          }
          if (p + litLen > end || out.len + litLen > stop)
            throw new SnappyMalformed("literal out of bounds")
          out.write(b, p, litLen)
          p += litLen
        case 1 => // copy, 1-byte offset, len 4-11
          if (p >= end) throw new SnappyMalformed("truncated copy1")
          val len = ((tag >> 2) & 0x7) + 4
          val off = ((tag >> 5) << 8) | (b(p) & 0xff)
          p += 1
          copy(off, len)
        case 2 => // copy, 2-byte offset
          if (p + 2 > end) throw new SnappyMalformed("truncated copy2")
          val len = (tag >> 2) + 1
          val off = Endian.le16(b, p)
          p += 2
          copy(off, len)
        case _ => // copy, 4-byte offset
          if (p + 4 > end) throw new SnappyMalformed("truncated copy4")
          val len = (tag >> 2) + 1
          val off = Endian.leInt(b, p)
          p += 4
          copy(off, len)
      }
    }
    if (out.len != stop) throw new SnappyMalformed("short block")
  }

  /** Framed-format compressor (uncompressed chunks — valid output for
    * round-trip tests and corpus rows).
    */
  def compressFramed(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0xff.toByte, 6, 0, 0, 's', 'N', 'a', 'P', 'p', 'Y'))
    var p = 0
    while (p < data.length || (data.isEmpty && p == 0)) {
      val n = math.min(65536, data.length - p)
      out.write(0x01)
      val len = n + 4
      out.write(len & 0xff); out.write((len >> 8) & 0xff)
      out.write((len >> 16) & 0xff)
      val crc = maskedCrc32c(data, p, n)
      out.write((crc & 0xff).toInt); out.write(((crc >> 8) & 0xff).toInt)
      out.write(((crc >> 16) & 0xff).toInt); out.write(((crc >> 24) & 0xff).toInt)
      out.write(data, p, n)
      p += n
      if (data.isEmpty) p = 1
    }
    out.toByteArray
  }

  private def maskedCrc32c(b: Array[Byte], off: Int, n: Int): Long = {
    val c = new java.util.zip.CRC32C()
    c.update(b, off, n)
    val v = c.getValue
    ((v >>> 15) | (v << 17)) + 0xa282ead8L & 0xffffffffL
  }
}
