package graft.pkgx

import graft.core.Endian.{le16, le32Bytes, leInt}
import graft.core.OutBuf

/** LZ4 frame codec — pure JDK, from the public LZ4 frame + block
  * specs. The reference routes .lz4 through commons-compress (tika
  * pkg-module CompressorParser.java); this gives the engine .lz4 /
  * .tar.lz4 recursion without the codec dependency.
  *
  * Decoder: standard frames (magic 0x184D2204) with block/content
  * checksums verified via xxHash32, plus the legacy frame
  * (0x184C2102). Writer (fixtures): standard frames of uncompressed
  * blocks — real lz4 tools read them.
  */
object Lz4 {

  final class Lz4Malformed(msg: String) extends RuntimeException(msg)

  private val Magic = 0x184D2204
  private val LegacyMagic = 0x184C2102

  def isLz4(b: Array[Byte]): Boolean =
    b.length > 7 && (leInt(b, 0) == Magic || leInt(b, 0) == LegacyMagic)

  // ---- xxHash32 (public algorithm; used by the frame format's checksums)
  private val P1 = 0x9E3779B1
  private val P2 = 0x85EBCA77
  private val P3 = 0xC2B2AE3D
  private val P4 = 0x27D4EB2F
  private val P5 = 0x165667B1

  def xxh32(data: Array[Byte], from: Int, len: Int, seed: Int): Int = {
    var idx = from
    val end = from + len
    var h: Int = 0
    if (len >= 16) {
      var v1 = seed + P1 + P2
      var v2 = seed + P2
      var v3 = seed
      var v4 = seed - P1
      while (idx <= end - 16) {
        v1 = Integer.rotateLeft(v1 + leInt(data, idx) * P2, 13) * P1
        v2 = Integer.rotateLeft(v2 + leInt(data, idx + 4) * P2, 13) * P1
        v3 = Integer.rotateLeft(v3 + leInt(data, idx + 8) * P2, 13) * P1
        v4 = Integer.rotateLeft(v4 + leInt(data, idx + 12) * P2, 13) * P1
        idx += 16
      }
      h = Integer.rotateLeft(v1, 1) + Integer.rotateLeft(v2, 7) +
        Integer.rotateLeft(v3, 12) + Integer.rotateLeft(v4, 18)
    } else h = seed + P5
    h += len
    while (idx <= end - 4) {
      h = Integer.rotateLeft(h + leInt(data, idx) * P3, 17) * P4
      idx += 4
    }
    while (idx < end) {
      h = Integer.rotateLeft(h + (data(idx) & 0xff) * P5, 11) * P1
      idx += 1
    }
    h ^= h >>> 15
    h *= P2
    h ^= h >>> 13
    h *= P3
    h ^= h >>> 16
    h
  }

  /** LZ4 block decompression (the raw block format). */
  def decodeBlock(in: Array[Byte], from: Int, len: Int,
      window: OutBuf): Unit = {
    var i = from
    val end = from + len
    while (i < end) {
      val token = in(i) & 0xff
      i += 1
      var litLen = token >>> 4
      if (litLen == 15) {
        var b = 255
        while (b == 255) {
          if (i >= end) throw new Lz4Malformed("truncated literal length")
          b = in(i) & 0xff; i += 1; litLen += b
        }
      }
      if (i + litLen > end) throw new Lz4Malformed("truncated literals")
      window.write(in, i, litLen)
      i += litLen
      if (i >= end) return // last sequence has no match part
      if (i + 2 > end) throw new Lz4Malformed("truncated match offset")
      val offset = le16(in, i)
      i += 2
      if (offset == 0) throw new Lz4Malformed("zero match offset")
      var matchLen = (token & 0x0f) + 4
      if ((token & 0x0f) == 15) {
        var b = 255
        while (b == 255) {
          if (i >= end) throw new Lz4Malformed("truncated match length")
          b = in(i) & 0xff; i += 1; matchLen += b
        }
      }
      window.copyBack(offset - 1, matchLen)
    }
  }

  def decompress(bytes: Array[Byte]): Array[Byte] = {
    if (!isLz4(bytes)) throw new Lz4Malformed("bad lz4 magic")
    // one window across blocks: linked blocks reference earlier output
    val window = new OutBuf(OutBuf.MaxBytes, 1 << 16,
      () => new Lz4Malformed("match offset before output start"))
    if (leInt(bytes, 0) == LegacyMagic) {
      // legacy frame: 4-byte LE block sizes until EOF or another magic
      var pos = 4
      var stop = false
      while (!stop && pos + 4 <= bytes.length) {
        val size = leInt(bytes, pos)
        if (size == Magic || size == LegacyMagic) stop = true // next frame
        else {
          pos += 4
          if (size < 0 || pos + size > bytes.length)
            throw new Lz4Malformed("truncated legacy block")
          decodeBlock(bytes, pos, size, window)
          pos += size
        }
      }
      return window.result
    }
    val flg = bytes(4) & 0xff
    val version = (flg >> 6) & 3
    if (version != 1) throw new Lz4Malformed(s"unsupported frame version $version")
    val blockChecksum = (flg & 0x10) != 0
    val contentSize = (flg & 0x08) != 0
    val contentChecksum = (flg & 0x04) != 0
    val dictId = (flg & 0x01) != 0
    var pos = 6 // magic(4) + FLG + BD
    if (contentSize) pos += 8
    if (dictId) pos += 4
    // HC: xxh32(descriptor) >> 8 & 0xFF
    val hc = bytes(pos) & 0xff
    val descLen = pos - 4
    if (((xxh32(bytes, 4, descLen, 0) >> 8) & 0xff) != hc)
      throw new Lz4Malformed("frame descriptor checksum mismatch")
    pos += 1
    var done = false
    while (!done) {
      if (pos + 4 > bytes.length) throw new Lz4Malformed("truncated block size")
      val raw = leInt(bytes, pos)
      pos += 4
      if (raw == 0) done = true // EndMark
      else {
        val uncompressed = (raw & 0x80000000) != 0
        val size = raw & 0x7fffffff
        // Long math: a forged ~2^31 size must not overflow the bound check
        if (pos.toLong + size > bytes.length)
          throw new Lz4Malformed("truncated block")
        if (uncompressed) window.write(bytes, pos, size)
        else decodeBlock(bytes, pos, size, window)
        if (blockChecksum) {
          val c = leInt(bytes, pos + size)
          if (xxh32(bytes, pos, size, 0) != c)
            throw new Lz4Malformed("block checksum mismatch")
        }
        pos += size + (if (blockChecksum) 4 else 0)
      }
    }
    if (contentChecksum) {
      if (pos + 4 > bytes.length) throw new Lz4Malformed("missing content checksum")
      if (xxh32(window.buf, 0, window.len, 0) != leInt(bytes, pos))
        throw new Lz4Malformed("content checksum mismatch")
    }
    window.result
  }

  /** Fixture writer: standard frame of uncompressed blocks with a
    * content checksum (real lz4 tools read it).
    */
  def compress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(le32Bytes(Magic))
    val desc = Array[Byte](0x64, 0x40) // v1, independent blocks, content checksum; 64 KB
    out.write(desc(0)); out.write(desc(1))
    out.write((xxh32(desc, 0, 2, 0) >> 8) & 0xff)
    var off = 0
    while (off < data.length) {
      val n = math.min(0xFFFF, data.length - off)
      out.write(le32Bytes(n | 0x80000000))
      out.write(data, off, n)
      off += n
    }
    out.write(le32Bytes(0)) // EndMark
    out.write(le32Bytes(xxh32(data, 0, data.length, 0)))
    out.toByteArray
  }
}
