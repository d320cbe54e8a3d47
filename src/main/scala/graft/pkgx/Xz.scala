package graft.pkgx

import graft.core.Endian.{be16, le32, le64, le32Bytes}
import graft.core.OutBuf

/** XZ / LZMA2 codec — pure JDK, implemented from the public formats
  * (tukaani xz-file-format spec + the LZMA specification's reference
  * decoder). The reference routes .xz through commons-compress /
  * XZ-for-Java (tika pkg-module CompressorParser.java); this gives the
  * engine .xz / .tar.xz recursion without the codec dependency.
  *
  * Decoder: full LZMA2 (range-coded LZMA chunks with state/props/dict
  * resets + uncompressed chunks), CRC32/CRC64/SHA-256 block checks
  * verified. Writer (fixtures): valid XZ streams of UNCOMPRESSED LZMA2
  * chunks with CRC32 checks — real xz tools read them; the ratio is
  * simply 1.0.
  */
object Xz {

  final class XzMalformed(msg: String) extends RuntimeException(msg)

  private val HeaderMagic = Array[Byte](0xfd.toByte, '7', 'z', 'X', 'Z', 0)

  def isXz(b: Array[Byte]): Boolean =
    b.length > 12 && (0 until 6).forall(i => b(i) == HeaderMagic(i))

  // ---- CRC64-ECMA (reflected poly) — xz's default check
  private val crc64Table: Array[Long] = {
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var c = i.toLong
      var k = 0
      while (k < 8) {
        c = if ((c & 1L) != 0) (c >>> 1) ^ 0xC96C5795D7870F42L else c >>> 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private def crc64(data: Array[Byte], from: Int, len: Int): Long = {
    var c = ~0L
    var i = from
    while (i < from + len) {
      c = (c >>> 8) ^ crc64Table(((c ^ data(i)) & 0xff).toInt)
      i += 1
    }
    ~c
  }

  private def crc32(data: Array[Byte], from: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(data, from, len)
    c.getValue
  }

  /** Check field size per check-type id (spec §2.1.1.2 ranges). */
  private def checkSize(id: Int): Int = id match {
    case 0 => 0
    case 1 | 2 | 3 => 4
    case 4 | 5 | 6 => 8
    case 7 | 8 | 9 => 16
    case 10 | 11 | 12 => 32
    case _ => 64
  }

  /** xz multibyte varint: 7-bit LE groups, high bit = continue. */
  private def varint(b: Array[Byte], off0: Int): (Long, Int) = {
    var v = 0L
    var off = off0
    var shift = 0
    var loop = true
    while (loop) {
      if (off >= b.length || shift > 62) throw new XzMalformed("bad varint")
      val x = b(off) & 0xff
      v |= (x & 0x7fL) << shift
      off += 1
      shift += 7
      if ((x & 0x80) == 0) loop = false
    }
    (v, off)
  }

  def decompress(bytes: Array[Byte]): Array[Byte] = {
    if (!isXz(bytes)) throw new XzMalformed("bad xz magic")
    val checkType = bytes(7) & 0x0f
    if (crc32(bytes, 6, 2) != le32(bytes, 8))
      throw new XzMalformed("stream header CRC mismatch")
    val window = Lzma2.window(OutBuf.MaxBytes, 1 << 16)
    var pos = 12
    var done = false
    while (!done) {
      if (pos >= bytes.length) throw new XzMalformed("truncated stream")
      val first = bytes(pos) & 0xff
      if (first == 0) done = true // index indicator: blocks finished
      else {
        val headerSize = (first + 1) * 4
        if (pos + headerSize > bytes.length)
          throw new XzMalformed("truncated block header")
        if (crc32(bytes, pos, headerSize - 4) != le32(bytes, pos + headerSize - 4))
          throw new XzMalformed("block header CRC mismatch")
        val flags = bytes(pos + 1) & 0xff
        val nFilters = (flags & 3) + 1
        var p = pos + 2
        if ((flags & 0x40) != 0) p = varint(bytes, p)._2 // compressed size hint
        if ((flags & 0x80) != 0) p = varint(bytes, p)._2 // uncompressed size hint
        // filter chain: zero or more non-last filters (delta 0x03, x86
        // BCJ 0x04) ending in LZMA2 0x21; non-last filters are undone in
        // reverse order after LZMA2 decode
        var chain = List.empty[(Long, Array[Byte])]
        var f = 0
        while (f < nFilters) {
          val (id, p1) = varint(bytes, p)
          val (propLen, p2) = varint(bytes, p1)
          val props = java.util.Arrays.copyOfRange(bytes, p2, p2 + propLen.toInt)
          id match {
            case 0x21 | 0x03 | 0x04 => chain ::= (id, props)
            case other =>
              throw new XzMalformed(f"unsupported filter 0x$other%x")
          }
          p = p2 + propLen.toInt
          f += 1
        }
        chain match {
          case (0x21, _) :: _ => ()
          case _ => throw new XzMalformed("last filter must be LZMA2")
        }
        val dataStart = pos + headerSize
        val before = window.len
        val dataEnd = Lzma2.decode(bytes, dataStart, window)
        chain.tail.foreach { case (id, props) =>
          val n0 = window.len - before
          if (id == 0x03) {
            val dist = (if (props.nonEmpty) props(0) & 0xff else 0) + 1
            BcjFilters.deltaDecode(window.buf, before, n0, dist)
          } else {
            val startIp =
              if (props.length >= 4) le32(props, 0) else 0L
            BcjFilters.x86Decode(window.buf, before, n0, startIp)
          }
        }
        // block padding to 4-byte alignment (zero bytes)
        var q = dataEnd
        while (((q - pos) & 3) != 0) {
          if (q >= bytes.length || bytes(q) != 0)
            throw new XzMalformed("bad block padding")
          q += 1
        }
        val n = window.len - before
        if (q + checkSize(checkType) > bytes.length)
          throw new XzMalformed("truncated block check")
        checkType match {
          case 0 => ()
          case 1 =>
            if (crc32(window.buf, before, n) != le32(bytes, q))
              throw new XzMalformed("block CRC32 mismatch")
          case 4 =>
            if (crc64(window.buf, before, n) != le64(bytes, q))
              throw new XzMalformed("block CRC64 mismatch")
          case 10 =>
            val d = java.security.MessageDigest.getInstance("SHA-256")
            d.update(window.buf, before, n)
            if (!java.util.Arrays.equals(d.digest(),
                java.util.Arrays.copyOfRange(bytes, q, q + 32)))
              throw new XzMalformed("block SHA-256 mismatch")
          case _ => () // other ids: decoded fine, check not verified
        }
        pos = q + checkSize(checkType)
      }
    }
    // index + footer carry no content; extraction stops here
    window.result
  }

  /** Fixture writer: one block of uncompressed LZMA2 chunks, CRC32
    * check, valid index + footer (real xz tools accept the output).
    */
  def compress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(bs: Int*): Unit = bs.foreach(out.write)
    def varintBytes(v0: Long): Array[Byte] = {
      var v = v0
      val b = Array.newBuilder[Byte]
      var loop = true
      while (loop) {
        if (v >= 0x80) { b += ((v & 0x7f) | 0x80).toByte; v >>= 7 }
        else { b += v.toByte; loop = false }
      }
      b.result()
    }
    // stream header: magic + flags (check = CRC32) + CRC32 of flags
    out.write(HeaderMagic)
    w(0x00, 0x01)
    out.write(le32Bytes(crc32(Array[Byte](0x00, 0x01), 0, 2)))
    // block header: 1 filter = LZMA2 (props: dict-size code 0x10 = 1 MiB)
    val bh = new java.io.ByteArrayOutputStream()
    bh.write(0) // size byte placeholder
    bh.write(0) // flags
    bh.write(varintBytes(0x21))
    bh.write(varintBytes(1))
    bh.write(0x10)
    while ((bh.size() + 4) % 4 != 0) bh.write(0)
    val bhb = bh.toByteArray
    bhb(0) = (((bhb.length + 4) / 4) - 1).toByte
    out.write(bhb)
    out.write(le32Bytes(crc32(bhb, 0, bhb.length)))
    // LZMA2 uncompressed chunks (first resets the dict) + end marker
    val chunks = new java.io.ByteArrayOutputStream()
    var off = 0
    var firstChunk = true
    while (off < data.length) {
      val n = math.min(1 << 16, data.length - off)
      chunks.write(if (firstChunk) 0x01 else 0x02)
      chunks.write(((n - 1) >> 8) & 0xff)
      chunks.write((n - 1) & 0xff)
      chunks.write(data, off, n)
      off += n
      firstChunk = false
    }
    chunks.write(0x00)
    val cb = chunks.toByteArray
    out.write(cb)
    // unpadded size = header+hdrCRC + data + check (EXCLUDING padding)
    val unpadded = (bhb.length + 4) + cb.length + 4
    var padding = (4 - ((bhb.length + 4 + cb.length) & 3)) & 3
    while (padding > 0) { out.write(0); padding -= 1 }
    out.write(le32Bytes(crc32(data, 0, data.length))) // block check (CRC32 of plain data)
    // index
    val idx = new java.io.ByteArrayOutputStream()
    idx.write(0x00)
    idx.write(varintBytes(1))
    idx.write(varintBytes(unpadded.toLong))
    idx.write(varintBytes(data.length.toLong))
    while ((idx.size() & 3) != 0) idx.write(0)
    val idxb = idx.toByteArray
    out.write(idxb)
    out.write(le32Bytes(crc32(idxb, 0, idxb.length)))
    // footer: CRC32(backwardSize LE32 + flags), backwardSize, flags, "YZ"
    val backward = ((idxb.length + 4) / 4) - 1
    val tail = Array[Byte](
      (backward & 0xff).toByte, ((backward >> 8) & 0xff).toByte,
      ((backward >> 16) & 0xff).toByte, ((backward >> 24) & 0xff).toByte,
      0x00, 0x01)
    out.write(le32Bytes(crc32(tail, 0, 6)))
    out.write(tail)
    out.write('Y'); out.write('Z')
    out.toByteArray
  }
}

/** LZMA2 chunk-stream decoder. The output window doubles as the LZ
  * dictionary (whole output in memory, bomb-capped by the caller's
  * window limit). Public algorithm per the LZMA specification's
  * reference decoder.
  */
object Lzma2 {
  import Xz.XzMalformed

  /** An output window of at most `cap` bytes. */
  def window(cap: Long, hint: Int): OutBuf =
    new OutBuf(cap, hint, () => new XzMalformed("lzma distance out of range"))

  /** Decode chunks starting at `pos0` into `window`; returns the offset
    * just past the 0x00 end marker.
    */
  def decode(in: Array[Byte], pos0: Int, window: OutBuf): Int = {
    var pos = pos0
    var lzma: LzmaDecoder = null
    var lc = 0; var lp = 0; var pb = 0
    var done = false
    while (!done) {
      if (pos >= in.length) throw new XzMalformed("truncated lzma2")
      val c = in(pos) & 0xff
      pos += 1
      if (c == 0x00) done = true
      else if (c == 0x01 || c == 0x02) {
        if (pos + 2 > in.length) throw new XzMalformed("truncated copy header")
        val n = be16(in, pos) + 1
        pos += 2
        if (pos + n > in.length) throw new XzMalformed("truncated copy chunk")
        window.write(in, pos, n)
        pos += n
        lzma = null // an uncompressed chunk invalidates LZMA state
      } else if (c >= 0x80) {
        if (pos + 4 > in.length) throw new XzMalformed("truncated lzma header")
        val unpacked = (((c & 0x1f) << 16) | be16(in, pos)) + 1
        val packed = be16(in, pos + 2) + 1
        pos += 4
        val mode = (c >> 5) & 3
        if (mode >= 2) {
          if (pos >= in.length) throw new XzMalformed("truncated props")
          val props = in(pos) & 0xff
          pos += 1
          if (props > 224) throw new XzMalformed("bad lzma props")
          lc = props % 9; lp = (props / 9) % 5; pb = props / 45
        }
        if (mode >= 1 || lzma == null) lzma = new LzmaDecoder(lc, lp, pb)
        if (pos + packed > in.length) throw new XzMalformed("truncated lzma chunk")
        lzma.decodeChunk(in, pos, packed, unpacked, window)
        pos += packed
      } else throw new XzMalformed(f"bad lzma2 control 0x$c%02x")
    }
    pos
  }

  /** Decode one raw LZMA1 stream of known unpacked size —
    * the 7z folder-coder shape (id 0x030101): a single range-coded stream
    * with the classic `(pb*5 + lp)*9 + lc` props byte, no chunking, no end
    * marker needed when the size is known. Shares the LZMA2 chunk
    * decoder's probability model (an LZMA2 compressed chunk IS an LZMA1
    * stream with reset state).
    */
  def decodeLzma1(propsByte: Int, in: Array[Byte], from: Int, packed: Int,
      unpacked: Int): Array[Byte] = {
    if (propsByte > 224) throw new XzMalformed("bad lzma props")
    val lc = propsByte % 9; val lp = (propsByte / 9) % 5; val pb = propsByte / 45
    val w = window(unpacked, unpacked)
    new LzmaDecoder(lc, lp, pb).decodeChunk(in, from, packed, unpacked, w)
    w.result
  }

  /** One LZMA probability-model decoder (survives across mode-0 chunks). */
  private final class LzmaDecoder(lc: Int, lp: Int, pb: Int) {
    private val posMask = (1 << pb) - 1
    private val litPosMask = (1 << lp) - 1

    private def newProbs(n: Int) = Array.fill[Short](n)(1024)
    private val isMatch = newProbs(12 << 4)
    private val isRep = newProbs(12)
    private val isRepG0 = newProbs(12)
    private val isRepG1 = newProbs(12)
    private val isRepG2 = newProbs(12)
    private val isRep0Long = newProbs(12 << 4)
    private val posSlot = Array.fill(4)(newProbs(64))
    private val specPos = newProbs(115)
    private val align = newProbs(16)
    private val literal = newProbs(0x300 << (lc + lp))
    private val lenChoice = newProbs(2)
    private val lenLow = Array.fill(16)(newProbs(8))
    private val lenMid = Array.fill(16)(newProbs(8))
    private val lenHigh = newProbs(256)
    private val repChoice = newProbs(2)
    private val repLow = Array.fill(16)(newProbs(8))
    private val repMid = Array.fill(16)(newProbs(8))
    private val repHigh = newProbs(256)

    private var state = 0
    private var rep0 = 0; private var rep1 = 0
    private var rep2 = 0; private var rep3 = 0

    // ---- range decoder
    private var code = 0
    private var range = 0
    private var inPos = 0
    private var inEnd = 0
    private var buf: Array[Byte] = null

    private def rcInit(b: Array[Byte], from: Int, len: Int): Unit = {
      buf = b; inPos = from; inEnd = from + len
      if ((buf(inPos) & 0xff) != 0) throw new XzMalformed("bad rc first byte")
      inPos += 1
      code = 0
      range = -1 // 0xFFFFFFFF
      var i = 0
      while (i < 4) { code = (code << 8) | (buf(inPos) & 0xff); inPos += 1; i += 1 }
    }

    private def rcNormalize(): Unit =
      if ((range & 0xFF000000) == 0) {
        if (inPos >= inEnd) throw new XzMalformed("rc underrun")
        range <<= 8
        code = (code << 8) | (buf(inPos) & 0xff)
        inPos += 1
      }

    private def rcBit(probs: Array[Short], idx: Int): Int = {
      rcNormalize()
      val p = probs(idx) & 0xffff
      val bound = (range >>> 11) * p
      if ((code ^ 0x80000000) < (bound ^ 0x80000000)) { // unsigned <
        range = bound
        probs(idx) = (p + ((2048 - p) >>> 5)).toShort
        0
      } else {
        range -= bound
        code -= bound
        probs(idx) = (p - (p >>> 5)).toShort
        1
      }
    }

    private def rcBitTree(probs: Array[Short], nBits: Int): Int = {
      var m = 1
      var i = 0
      while (i < nBits) { m = (m << 1) | rcBit(probs, m); i += 1 }
      m - (1 << nBits)
    }

    private def rcBitTreeReverse(probs: Array[Short], off: Int, nBits: Int): Int = {
      var m = 1
      var sym = 0
      var i = 0
      while (i < nBits) {
        val b = rcBit(probs, off + m)
        m = (m << 1) | b
        sym |= b << i
        i += 1
      }
      sym
    }

    private def rcDirect(nBits: Int): Int = {
      var res = 0
      var i = 0
      while (i < nBits) {
        rcNormalize()
        range = range >>> 1
        code -= range
        val t = 0 - (code >>> 31) // 0 when code >= 0, else -1
        code += range & t
        res = (res << 1) + (t + 1)
        i += 1
      }
      res
    }

    private def decodeLen(choice: Array[Short], low: Array[Array[Short]],
        mid: Array[Array[Short]], high: Array[Short], posState: Int): Int =
      if (rcBit(choice, 0) == 0) 2 + rcBitTree(low(posState), 3)
      else if (rcBit(choice, 1) == 0) 10 + rcBitTree(mid(posState), 3)
      else 18 + rcBitTree(high, 8)

    def decodeChunk(in: Array[Byte], from: Int, packed: Int, unpacked: Int,
        w: OutBuf): Unit = {
      rcInit(in, from, packed)
      w.ensure(unpacked)
      var produced = 0
      while (produced < unpacked) {
        val posState = w.len & posMask
        if (rcBit(isMatch, (state << 4) + posState) == 0) {
          // literal
          val prev = if (w.len == 0) 0 else w.at(0)
          val litState = ((w.len & litPosMask) << lc) + (prev >>> (8 - lc))
          val offp = 0x300 * litState
          var sym = 1
          if (state >= 7) {
            var matchByte = w.at(rep0)
            var break = false
            while (!break && sym < 0x100) {
              matchByte <<= 1
              val matchBit = matchByte & 0x100
              val b = rcBit(literal, offp + 0x100 + matchBit + sym)
              sym = (sym << 1) | b
              if (((matchBit >> 8) & 1) != b) break = true
            }
          }
          while (sym < 0x100) sym = (sym << 1) | rcBit(literal, offp + sym)
          w.put(sym & 0xff)
          produced += 1
          state = if (state < 4) 0 else if (state < 10) state - 3 else state - 6
        } else {
          var len = 0
          if (rcBit(isRep, state) == 1) {
            // repeated-distance match
            if (rcBit(isRepG0, state) == 0) {
              if (rcBit(isRep0Long, (state << 4) + posState) == 0) {
                state = if (state < 7) 9 else 11
                w.put(w.at(rep0))
                produced += 1
                len = -1 // short rep handled
              }
            } else {
              var dist = 0
              if (rcBit(isRepG1, state) == 0) dist = rep1
              else {
                if (rcBit(isRepG2, state) == 0) dist = rep2
                else { dist = rep3; rep3 = rep2 }
                rep2 = rep1
              }
              rep1 = rep0
              rep0 = dist
            }
            if (len == 0) {
              len = decodeLen(repChoice, repLow, repMid, repHigh, posState)
              state = if (state < 7) 8 else 11
            }
          } else {
            // new match
            rep3 = rep2; rep2 = rep1; rep1 = rep0
            len = decodeLen(lenChoice, lenLow, lenMid, lenHigh, posState)
            state = if (state < 7) 7 else 10
            val slot = rcBitTree(posSlot(math.min(len - 2, 3)), 6)
            if (slot < 4) rep0 = slot
            else {
              val nDirect = (slot >> 1) - 1
              rep0 = (2 | (slot & 1)) << nDirect
              if (slot < 14)
                rep0 += rcBitTreeReverse(specPos, rep0 - slot, nDirect)
              else {
                rep0 += rcDirect(nDirect - 4) << 4
                rep0 += rcBitTreeReverse(align, 0, 4)
              }
            }
            if (rep0 == -1)
              throw new XzMalformed("unexpected lzma end marker in lzma2")
          }
          if (len > 0) {
            if (produced + len > unpacked)
              throw new XzMalformed("lzma overrun past chunk size")
            w.copyBack(rep0, len)
            produced += len
          }
        }
      }
    }
  }
}
