package graft.pkgx

import graft.core.Endian.{le16, le64, leInt}
import graft.core.OutBuf

/** Zstandard decoder — pure JDK, implemented from the public format
  * (RFC 8878). The reference routes .zst through commons-compress /
  * zstd-jni (tika pkg-module CompressorParser.java); this gives the
  * engine .zst / .tar.zst recursion without the codec dependency.
  *
  * Scope: full decode of standard frames — raw/RLE/compressed blocks,
  * Huffman literals (direct + FSE-compressed weights, 1- and 4-stream),
  * predefined/RLE/FSE/repeat sequence tables, repeat-offset history,
  * skippable frames, multi-frame concatenation; xxHash64 content
  * checksums verified. Dictionaries are not supported (a nonzero
  * dictionary id rejects) — web-crawl .zst members are dictionary-less.
  */
object Zstd {

  final class ZstdMalformed(msg: String) extends RuntimeException(msg)

  private val Magic = 0xFD2FB528

  // ==== xxHash64 (public algorithm) — content checksum ================
  private val P1 = 0x9E3779B185EBCA87L
  private val P2 = 0xC2B2AE3D27D4EB4FL
  private val P3 = 0x165667B19E3779F9L
  private val P4 = 0x85EBCA77C2B2AE63L
  private val P5 = 0x27D4EB2F165667C5L

  def xxh64(data: Array[Byte], from: Int, len: Int, seed: Long): Long = {
    var idx = from
    val end = from + len
    def round(acc: Long, in: Long): Long =
      java.lang.Long.rotateLeft(acc + in * P2, 31) * P1
    var h: Long = 0
    if (len >= 32) {
      var v1 = seed + P1 + P2
      var v2 = seed + P2
      var v3 = seed
      var v4 = seed - P1
      while (idx <= end - 32) {
        v1 = round(v1, le64(data, idx))
        v2 = round(v2, le64(data, idx + 8))
        v3 = round(v3, le64(data, idx + 16))
        v4 = round(v4, le64(data, idx + 24))
        idx += 32
      }
      h = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
        java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
      def merge(acc: Long, v: Long): Long = (acc ^ round(0, v)) * P1 + P4
      h = merge(h, v1); h = merge(h, v2); h = merge(h, v3); h = merge(h, v4)
    } else h = seed + P5
    h += len
    while (idx <= end - 8) {
      h = java.lang.Long.rotateLeft(h ^ round(0, le64(data, idx)), 27) * P1 + P4
      idx += 8
    }
    if (idx <= end - 4) {
      h = java.lang.Long.rotateLeft(h ^ ((leInt(data, idx) & 0xffffffffL) * P1), 23) *
        P2 + P3
      idx += 4
    }
    while (idx < end) {
      h = java.lang.Long.rotateLeft(h ^ ((data(idx) & 0xffL) * P5), 11) * P1
      idx += 1
    }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  // ==== bitstreams =====================================================

  /** Forward LSB-first bitstream (table descriptions, RFC §4.1.1). */
  private final class FwdBits(b: Array[Byte], val start: Int) {
    var bitPos = 0
    def read(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val p = bitPos + i
        val byteIdx = start + (p >> 3)
        if (byteIdx >= b.length) throw new ZstdMalformed("table header underrun")
        v |= ((b(byteIdx) >> (p & 7)) & 1) << i
        i += 1
      }
      bitPos += n
      v
    }
    def rewind(n: Int): Unit = bitPos -= n
    def bytesConsumed: Int = (bitPos + 7) >> 3
  }

  /** Backward bitstream (RFC §4.1): starts after the LAST byte, whose
    * highest set bit is the padding sentinel; reads move toward byte 0.
    * Reads past the beginning return zero bits (callers bound them).
    */
  private final class BackBits(b: Array[Byte], start: Int, len: Int) {
    var bitPos: Long = {
      if (len <= 0) throw new ZstdMalformed("empty bitstream")
      val last = b(start + len - 1) & 0xff
      if (last == 0) throw new ZstdMalformed("bitstream missing sentinel")
      (len - 1).toLong * 8 + (31 - Integer.numberOfLeadingZeros(last))
    }
    def read(n: Int): Int = {
      if (n == 0) return 0
      bitPos -= n
      if (bitPos < -1000000) throw new ZstdMalformed("bitstream underrun")
      var v = 0
      var i = 0
      while (i < n) {
        val p = bitPos + i
        if (p >= 0)
          v |= ((b(start + (p >>> 3).toInt) >> (p & 7).toInt) & 1) << i
        i += 1
      }
      v
    }
    def exhausted: Boolean = bitPos <= 0
    def overflowed: Boolean = bitPos < 0
  }

  // ==== FSE ============================================================

  private final class FseTable(val accLog: Int, nSyms: Int) {
    val size = 1 << accLog
    val symbol = new Array[Int](size)
    val nbBits = new Array[Int](size)
    val baseline = new Array[Int](size)
  }

  /** Decoding table from a normalized distribution (the educational
    * construction: state_desc counters per RFC 8878 §4.1.1).
    */
  private def buildFse(norm: Array[Int], accLog: Int): FseTable = {
    val t = new FseTable(accLog, norm.length)
    val size = t.size
    val cells = new Array[Int](size)
    val stateDesc = new Array[Int](norm.length)
    var highThreshold = size
    var s = 0
    while (s < norm.length) {
      if (norm(s) == -1) {
        highThreshold -= 1
        cells(highThreshold) = s
        stateDesc(s) = 1
      }
      s += 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var pos = 0
    s = 0
    while (s < norm.length) {
      if (norm(s) > 0) {
        stateDesc(s) = norm(s)
        var i = 0
        while (i < norm(s)) {
          cells(pos) = s
          do { pos = (pos + step) & mask } while (pos >= highThreshold)
          i += 1
        }
      }
      s += 1
    }
    if (pos != 0) throw new ZstdMalformed("FSE spread incomplete")
    var i = 0
    while (i < size) {
      val sym = cells(i)
      val desc = stateDesc(sym)
      stateDesc(sym) += 1
      val nb = accLog - (31 - Integer.numberOfLeadingZeros(desc))
      t.symbol(i) = sym
      t.nbBits(i) = nb
      t.baseline(i) = (desc << nb) - size
      i += 1
    }
    t
  }

  /** Parse an FSE table description from a FORWARD bitstream
    * (RFC §4.1.1): accuracy = 4 bits + 5, then variable-bit normalized
    * probabilities with the zero-repeat extension. Returns the table
    * and the byte length consumed.
    */
  private def readFseTable(b: Array[Byte], start: Int, maxSyms: Int,
      maxAccLog: Int): (FseTable, Int) = {
    val bits = new FwdBits(b, start)
    val accLog = bits.read(4) + 5
    if (accLog > maxAccLog) throw new ZstdMalformed(s"accLog $accLog too large")
    var remaining = (1 << accLog) + 1
    val norm = new Array[Int](maxSyms)
    var sym = 0
    while (remaining > 1 && sym < maxSyms) {
      val nBits = (32 - Integer.numberOfLeadingZeros(remaining)) // highestBit+1
      var v = bits.read(nBits)
      val lowerMask = (1 << (nBits - 1)) - 1
      val threshold = (1 << nBits) - 1 - remaining
      if ((v & lowerMask) < threshold) {
        bits.rewind(1)
        v = v & lowerMask
      } else if (v > lowerMask) {
        v -= threshold
      }
      val proba = v - 1
      norm(sym) = proba
      remaining -= math.abs(proba) // -1 probabilities subtract one
      sym += 1
      if (proba == 0) {
        var repeat = bits.read(2)
        var cont = true
        while (cont) {
          var i = 0
          while (i < repeat && sym < maxSyms) { norm(sym) = 0; sym += 1; i += 1 }
          if (repeat == 3) repeat = bits.read(2) else cont = false
        }
      }
    }
    if (remaining != 1) throw new ZstdMalformed("FSE normalization mismatch")
    (buildFse(java.util.Arrays.copyOf(norm, maxSyms), accLog), bits.bytesConsumed)
  }

  // predefined sequence distributions (RFC 8878 §3.1.1.3.2.2)
  private val LLDefault = Array(4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private val MLDefault = Array(1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1)
  private val OFDefault = Array(1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)
  private lazy val llDefaultTable = buildFse(LLDefault, 6)
  private lazy val mlDefaultTable = buildFse(MLDefault, 6)
  private lazy val ofDefaultTable = buildFse(OFDefault, 5)

  // code → (baseline, extra bits) for literal lengths and match lengths
  private val LLBase = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14,
    15, 16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048,
    4096, 8192, 16384, 32768, 65536)
  private val LLBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val MLBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34,
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027, 2051,
    4099, 8195, 16387, 32771, 65539)
  private val MLBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3,
    4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  // ==== Huffman ========================================================

  private final class HufTable(val maxBits: Int) {
    val size = 1 << maxBits
    val symbol = new Array[Int](size)
    val nbBits = new Array[Int](size)
  }

  /** Build the Huffman decoding table from weights (last weight implied
    * by the caller). numBits(sym) = maxBits + 1 - weight (weight > 0).
    */
  private def buildHuf(weights: Array[Int]): HufTable = {
    var total = 0L
    weights.foreach(w => if (w > 0) total += 1L << (w - 1))
    if (total == 0) throw new ZstdMalformed("empty huffman weights")
    // after the implied last weight, total is an exact power of two
    if (java.lang.Long.bitCount(total) != 1)
      throw new ZstdMalformed("huffman weights not a power of 2")
    val mb = 63 - java.lang.Long.numberOfLeadingZeros(total)
    val t = new HufTable(mb.toInt)
    var cell = 0
    var w = 1
    while (w <= mb) {
      var s = 0
      while (s < weights.length) {
        if (weights(s) == w) {
          val n = 1 << (w - 1)
          var i = 0
          while (i < n) {
            if (cell >= t.size) throw new ZstdMalformed("huffman overflow")
            t.symbol(cell) = s
            t.nbBits(cell) = t.maxBits + 1 - w
            cell += 1
            i += 1
          }
        }
        s += 1
      }
      w += 1
    }
    if (cell != t.size) throw new ZstdMalformed("huffman table not full")
    t
  }

  private def nextPow2(v: Long): Long = {
    var p = 1L
    while (p < v) p <<= 1
    p
  }

  /** Huffman-decode one backward stream into out (exactly n symbols). */
  private def hufDecodeStream(t: HufTable, b: Array[Byte], start: Int,
      len: Int, n: Int, out: OutBuf): Unit = {
    val bits = new BackBits(b, start, len)
    var state = bits.read(t.maxBits)
    var produced = 0
    while (produced < n) {
      out.put(t.symbol(state))
      produced += 1
      if (produced < n) {
        val nb = t.nbBits(state)
        state = ((state << nb) | bits.read(nb)) & (t.size - 1)
      }
    }
  }

  /** Parse the Huffman tree description; returns (table, bytes used). */
  private def readHufTable(b: Array[Byte], start: Int): (HufTable, Int) = {
    val header = b(start) & 0xff
    if (header >= 128) {
      // direct: header-127 weights, 4-bit packed, high nibble first
      val n = header - 127
      val weights = new Array[Int](n + 1) // +1 implied
      var i = 0
      while (i < n) {
        val byte = b(start + 1 + (i >> 1)) & 0xff
        weights(i) = if ((i & 1) == 0) byte >> 4 else byte & 0x0f
        i += 1
      }
      implyLastWeight(weights)
      (buildHuf(weights), 1 + ((n + 1) >> 1))
    } else {
      // FSE-compressed weights (accLog <= 6): two interleaved states on
      // a backward bitstream until exhausted
      val compSize = header
      val (fse, hdrLen) = readFseTable(b, start + 1, 256, 6)
      val streamStart = start + 1 + hdrLen
      val streamLen = compSize - hdrLen
      if (streamLen <= 0) throw new ZstdMalformed("bad huffman weight stream")
      val bits = new BackBits(b, streamStart, streamLen)
      var s1 = bits.read(fse.accLog)
      var s2 = bits.read(fse.accLog)
      val weights = new scala.collection.mutable.ArrayBuffer[Int]()
      // alternate states; when a state UPDATE drains the stream, emit the
      // OTHER state's symbol and stop (RFC §4.2.1 interleaved weights)
      var done = false
      while (!done && weights.length < 255) {
        weights += fse.symbol(s1)
        s1 = fse.baseline(s1) + bits.read(fse.nbBits(s1))
        if (bits.overflowed) { weights += fse.symbol(s2); done = true }
        else {
          weights += fse.symbol(s2)
          s2 = fse.baseline(s2) + bits.read(fse.nbBits(s2))
          if (bits.overflowed) { weights += fse.symbol(s1); done = true }
        }
      }
      val ws = weights.toArray :+ 0 // slot for the implied last weight
      implyLastWeight(ws)
      (buildHuf(ws), 1 + compSize)
    }
  }

  /** Last weight is implied: it completes the sum to a power of two. */
  private def implyLastWeight(weights: Array[Int]): Unit = {
    var total = 0L
    var i = 0
    while (i < weights.length - 1) {
      if (weights(i) > 0) total += 1L << (weights(i) - 1)
      i += 1
    }
    if (total == 0) throw new ZstdMalformed("no huffman weights")
    val p2 = nextPow2(total + 1) // last weight must be >= 1
    val rest = p2 - total
    // rest must be a power of two
    if (java.lang.Long.bitCount(rest) != 1)
      throw new ZstdMalformed("huffman weights do not complete a power of 2")
    weights(weights.length - 1) =
      (63 - java.lang.Long.numberOfLeadingZeros(rest)).toInt + 1
  }

  // ==== frame / block decode ===========================================

  private final class SeqTables(
      var ll: FseTable, var of: FseTable, var ml: FseTable)

  def decompress(bytes: Array[Byte]): Array[Byte] = {
    val out = newOut(OutBuf.MaxBytes, 1 << 16)
    var pos = 0
    var sawFrame = false
    while (pos + 4 <= bytes.length) {
      val magic = leInt(bytes, pos)
      if ((magic & 0xFFFFFFF0) == 0x184D2A50) {
        // skippable frame
        val size = leInt(bytes, pos + 4)
        pos += 8 + size
      } else if (magic == Magic) {
        sawFrame = true
        pos = decodeFrame(bytes, pos + 4, out)
      } else if (sawFrame) {
        pos = bytes.length // trailing garbage after valid frames: stop
      } else throw new ZstdMalformed(f"bad zstd magic 0x$magic%08x")
    }
    if (!sawFrame) throw new ZstdMalformed("no zstd frame")
    out.result
  }

  private def newOut(cap: Long, hint: Int) =
    new OutBuf(cap, hint, () => new ZstdMalformed("match distance out of range"))

  private def decodeFrame(bytes: Array[Byte], start: Int, out: OutBuf): Int = {
    var pos = start
    val fhd = bytes(pos) & 0xff
    pos += 1
    val fcsFlag = fhd >> 6
    val singleSegment = (fhd & 0x20) != 0
    val hasChecksum = (fhd & 0x04) != 0
    val dictIdFlag = fhd & 0x03
    if (!singleSegment) pos += 1 // window descriptor
    val dictBytes = Array(0, 1, 2, 4)(dictIdFlag)
    var dictId = 0L
    var i = 0
    while (i < dictBytes) { dictId |= (bytes(pos + i) & 0xffL) << (8 * i); i += 1 }
    pos += dictBytes
    if (dictId != 0) throw new ZstdMalformed("dictionaries unsupported")
    val fcsBytes =
      if (fcsFlag == 0) (if (singleSegment) 1 else 0)
      else Array(0, 2, 4, 8)(fcsFlag)
    pos += fcsBytes
    val frameStartLen = out.len
    // blocks
    val seqTables = new SeqTables(null, null, null)
    var prevHuf: HufTable = null
    var last = false
    while (!last) {
      if (pos + 3 > bytes.length) throw new ZstdMalformed("truncated block header")
      val hdr = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8) |
        ((bytes(pos + 2) & 0xff) << 16)
      pos += 3
      last = (hdr & 1) != 0
      val btype = (hdr >> 1) & 3
      val bsize = hdr >>> 3
      btype match {
        case 0 => // raw
          if (pos + bsize > bytes.length) throw new ZstdMalformed("truncated raw block")
          out.write(bytes, pos, bsize)
          pos += bsize
        case 1 => // RLE
          if (pos >= bytes.length) throw new ZstdMalformed("truncated rle block")
          val b = bytes(pos) & 0xff
          pos += 1
          out.ensure(bsize)
          var i = 0
          while (i < bsize) { out.put(b); i += 1 }
        case 2 =>
          if (pos + bsize > bytes.length) throw new ZstdMalformed("truncated block")
          prevHuf = decodeCompressedBlock(bytes, pos, bsize, out, seqTables, prevHuf)
          pos += bsize
        case _ => throw new ZstdMalformed("reserved block type")
      }
    }
    if (hasChecksum) {
      if (pos + 4 > bytes.length) throw new ZstdMalformed("missing content checksum")
      val expect = leInt(bytes, pos) & 0xffffffffL
      pos += 4
      val got = xxh64(out.buf, frameStartLen, out.len - frameStartLen, 0) & 0xffffffffL
      if (got != expect) throw new ZstdMalformed("content checksum mismatch")
    }
    pos
  }

  /** Returns the Huffman table in effect after this block (for treeless
    * literals in later blocks).
    */
  private def decodeCompressedBlock(b: Array[Byte], start: Int, size: Int,
      out: OutBuf, seqTables: SeqTables, prevHuf0: HufTable): HufTable = {
    var prevHuf = prevHuf0
    var pos = start
    val end = start + size
    // ---- literals section
    val b0 = b(pos) & 0xff
    val litType = b0 & 3
    val sizeFormat = (b0 >> 2) & 3
    var literals: Array[Byte] = null
    if (litType == 0 || litType == 1) {
      val (regen, hdrLen) = sizeFormat match {
        case 0 | 2 => (b0 >> 3, 1)
        case 1 => ((b0 >> 4) | ((b(pos + 1) & 0xff) << 4), 2)
        case _ => ((b0 >> 4) | ((b(pos + 1) & 0xff) << 4) |
          ((b(pos + 2) & 0xff) << 12), 3)
      }
      pos += hdrLen
      if (litType == 0) { // raw
        literals = java.util.Arrays.copyOfRange(b, pos, pos + regen)
        pos += regen
      } else { // rle
        literals = Array.fill[Byte](regen)(b(pos))
        pos += 1
      }
    } else {
      val (nStreams, sizeBits, hdrLen) = sizeFormat match {
        case 0 => (1, 10, 3)
        case 1 => (4, 10, 3)
        case 2 => (4, 14, 4)
        case _ => (4, 18, 5)
      }
      var header = 0L
      var i = 0
      while (i < hdrLen) { header |= (b(pos + i) & 0xffL) << (8 * i); i += 1 }
      val regen = ((header >> 4) & ((1L << sizeBits) - 1)).toInt
      val comp = ((header >> (4 + sizeBits)) & ((1L << sizeBits) - 1)).toInt
      pos += hdrLen
      val sectionEnd = pos + comp
      val huf =
        if (litType == 2) {
          val (t, used) = readHufTable(b, pos)
          pos += used
          t
        } else {
          if (prevHuf == null) throw new ZstdMalformed("treeless without prior table")
          prevHuf
        }
      prevHuf = huf
      val litOut = newOut(regen max 16, regen max 16)
      if (nStreams == 1) {
        hufDecodeStream(huf, b, pos, sectionEnd - pos, regen, litOut)
      } else {
        // jump table: 3 LE16 sizes; 4th stream = remainder
        val s1 = le16(b, pos)
        val s2 = le16(b, pos + 2)
        val s3 = le16(b, pos + 4)
        var sp = pos + 6
        val s4 = sectionEnd - sp - s1 - s2 - s3
        if (s4 <= 0) throw new ZstdMalformed("bad literals jump table")
        val per = (regen + 3) / 4
        val lens = Array(s1, s2, s3, s4)
        val outs = Array(per, per, per, regen - 3 * per)
        var k = 0
        while (k < 4) {
          hufDecodeStream(huf, b, sp, lens(k), outs(k), litOut)
          sp += lens(k)
          k += 1
        }
      }
      literals = litOut.result
      pos = sectionEnd
    }

    // ---- sequences section
    if (pos >= end) {
      // no sequences payload at all: everything is literals
      out.write(literals, 0, literals.length)
      return prevHuf
    }
    val s0 = b(pos) & 0xff
    var nbSeq = 0
    if (s0 < 128) { nbSeq = s0; pos += 1 }
    else if (s0 < 255) { nbSeq = ((s0 - 128) << 8) + (b(pos + 1) & 0xff); pos += 2 }
    else { nbSeq = (b(pos + 1) & 0xff) + ((b(pos + 2) & 0xff) << 8) + 0x7F00; pos += 3 }
    if (nbSeq == 0) {
      out.write(literals, 0, literals.length)
      return prevHuf
    }
    val modes = b(pos) & 0xff
    pos += 1
    def table(mode: Int, prev: FseTable, default: FseTable, maxSyms: Int,
        maxLog: Int): FseTable = mode match {
      case 0 => default
      case 1 => // RLE: single symbol, accLog 0
        val sym = b(pos) & 0xff
        pos += 1
        val t = new FseTable(0, maxSyms)
        t.symbol(0) = sym; t.nbBits(0) = 0; t.baseline(0) = 0
        t
      case 2 =>
        val (t, used) = readFseTable(b, pos, maxSyms, maxLog)
        pos += used
        t
      case _ =>
        if (prev == null) throw new ZstdMalformed("repeat mode without prior table")
        prev
    }
    val llT = table((modes >> 6) & 3, seqTables.ll, llDefaultTable, 36, 9)
    val ofT = table((modes >> 4) & 3, seqTables.of, ofDefaultTable, 32, 8)
    val mlT = table((modes >> 2) & 3, seqTables.ml, mlDefaultTable, 53, 9)
    seqTables.ll = llT; seqTables.of = ofT; seqTables.ml = mlT

    val bits = new BackBits(b, pos, end - pos)
    var llState = bits.read(llT.accLog)
    var ofState = bits.read(ofT.accLog)
    var mlState = bits.read(mlT.accLog)
    val reps = Array(1, 4, 8)
    var litPos = 0
    var seq = 0
    while (seq < nbSeq) {
      val ofCode = ofT.symbol(ofState)
      val offValue =
        if (ofCode == 0) 1L
        else (1L << ofCode) + (bits.read(ofCode).toLong & ((1L << ofCode) - 1))
      val mlCode = mlT.symbol(mlState)
      val ml = MLBase(mlCode) + bits.read(MLBits(mlCode))
      val llCode = llT.symbol(llState)
      val ll = LLBase(llCode) + bits.read(LLBits(llCode))
      // offset history (RFC §3.1.1.3.2.1.1)
      var offset = 0
      if (offValue > 3) {
        offset = (offValue - 3).toInt
        reps(2) = reps(1); reps(1) = reps(0); reps(0) = offset
      } else {
        val idx = (offValue - 1).toInt + (if (ll == 0) 1 else 0)
        if (idx == 0) offset = reps(0)
        else if (idx == 1) { offset = reps(1); reps(1) = reps(0); reps(0) = offset }
        else if (idx == 2) { offset = reps(2); reps(2) = reps(1); reps(1) = reps(0); reps(0) = offset }
        else { // litLen == 0 && offValue == 3: rep1 - 1
          offset = reps(0) - 1
          if (offset <= 0) throw new ZstdMalformed("zero repeat offset")
          reps(2) = reps(1); reps(1) = reps(0); reps(0) = offset
        }
      }
      if (litPos + ll > literals.length) throw new ZstdMalformed("literal overrun")
      out.write(literals, litPos, ll)
      litPos += ll
      out.copyBack(offset - 1, ml)
      seq += 1
      if (seq < nbSeq) { // states do not update after the final sequence
        llState = llT.baseline(llState) + bits.read(llT.nbBits(llState))
        mlState = mlT.baseline(mlState) + bits.read(mlT.nbBits(mlState))
        ofState = ofT.baseline(ofState) + bits.read(ofT.nbBits(ofState))
      }
    }
    out.write(literals, litPos, literals.length - litPos)
    prevHuf
  }
}
