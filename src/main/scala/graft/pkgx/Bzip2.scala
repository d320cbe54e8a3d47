package graft.pkgx

import graft.core.OutBuf

/** bzip2 codec — pure JDK, implemented from the public format
  * (Huffman-coded MTF/RLE2 over a BWT; the informal spec is the
  * canonical bzip2 source's documented layout). The reference routes
  * .bz2 through commons-compress (tika pkg-module CompressorParser.java);
  * this gives the engine the same .bz2 / .tar.bz2 recursion without a
  * codec dependency. The encoder exists for deterministic corpus
  * fixtures: single Huffman table sent twice (nGroups=2 is the format
  * minimum), selectors all zero — valid, merely not maximally tight.
  *
  * Stream layout: "BZh" + level ('1'..'9', block = level*100k), then
  * bit-packed blocks (48-bit magic 0x314159265359, 32-bit CRC,
  * randomized bit, 24-bit origPtr, symbol map, selectors, delta-coded
  * code lengths, Huffman symbols to EOB), then footer magic
  * 0x177245385090 + combined CRC.
  */
object Bzip2 {

  final class Bzip2Malformed(msg: String) extends RuntimeException(msg)

  // ---- CRC-32/BZIP2 (poly 0x04c11db7, MSB-first, init/final 0xffffffff)
  private val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7 else c << 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private final class Crc {
    private var v = 0xffffffff
    def update(b: Byte): Unit =
      v = (v << 8) ^ crcTable(((v >>> 24) ^ (b & 0xff)) & 0xff)
    def value: Int = ~v
  }

  private val RunA = 0
  private val RunB = 1
  private val MaxCodeLen = 23

  // =====================================================================
  // Decoder
  // =====================================================================

  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var cur = 0L
    private var nBits = 0
    /** the next n bits; past the end of the input they read as zero */
    def peek(n: Int): Int = {
      while (nBits < n && pos < data.length) {
        cur = (cur << 8) | (data(pos) & 0xffL)
        pos += 1
        nBits += 8
      }
      val v = if (nBits >= n) cur >>> (nBits - n) else cur << (n - nBits)
      (v & ((1L << n) - 1)).toInt
    }
    def skip(n: Int): Unit = {
      if (n > nBits) throw new Bzip2Malformed("truncated stream")
      nBits -= n
    }
    def bits(n: Int): Int = { val v = peek(n); skip(n); v }
    def bit(): Int = bits(1)
    def decode(c: PrefixCode): Int = {
      val e = c.decode(peek(c.maxLen))
      if (e < 0) throw new Bzip2Malformed("corrupt Huffman code")
      skip(PrefixCode.len(e))
      PrefixCode.sym(e)
    }
    /** Byte offset of the first unconsumed whole byte (drops the
      * sub-byte padding remainder) — multi-stream restart point.
      */
    def alignedPos: Int = pos - (nBits >> 3)
  }

  def isBzip2(bytes: Array[Byte]): Boolean =
    bytes.length > 4 && bytes(0) == 'B' && bytes(1) == 'Z' && bytes(2) == 'h' &&
      bytes(3) >= '1' && bytes(3) <= '9'

  /** Full (possibly multi-stream) decompress: pbzip2/lbzip2 concatenate
    * whole byte-aligned streams, like gzip members — keep reading while
    * another BZh header follows.
    */
  def decompress(bytes: Array[Byte]): Array[Byte] = {
    if (!isBzip2(bytes)) throw new Bzip2Malformed("bad BZh header")
    val out = new OutBuf(OutBuf.MaxBytes)
    var start = 0
    while (start + 4 < bytes.length && bytes(start) == 'B' &&
        bytes(start + 1) == 'Z' && bytes(start + 2) == 'h' &&
        bytes(start + 3) >= '1' && bytes(start + 3) <= '9') {
      val blockMax = (bytes(start + 3) - '0') * 100000
      val in = new BitReader(bytes, start + 4)
      var combined = 0
      var done = false
      while (!done) {
        val magicHi = in.bits(24)
        val magicLo = in.bits(24)
        if (magicHi == 0x177245 && magicLo == 0x385090) {
          val footerCrc = (in.bits(16) << 16) | in.bits(16)
          if (footerCrc != combined)
            throw new Bzip2Malformed(
              f"stream CRC mismatch: ${footerCrc}%08x != ${combined}%08x")
          done = true
        } else if (magicHi == 0x314159 && magicLo == 0x265359) {
          val blockCrc = decodeBlock(in, blockMax, out)
          combined = ((combined << 1) | (combined >>> 31)) ^ blockCrc
        } else throw new Bzip2Malformed(f"bad block magic $magicHi%06x$magicLo%06x")
      }
      start = in.alignedPos
    }
    out.result
  }

  /** One block: returns the block CRC after appending plain bytes. */
  private def decodeBlock(in: BitReader, blockMax: Int, out: OutBuf): Int = {
    val storedCrc = (in.bits(16) << 16) | in.bits(16)
    if (in.bit() != 0)
      throw new Bzip2Malformed("deprecated randomized blocks unsupported")
    val origPtr = in.bits(24)

    // symbol map: 16-bit range bitmap + 16 bits per used range
    val used = new Array[Boolean](256)
    val ranges = in.bits(16)
    var nUsed = 0
    var r = 0
    while (r < 16) {
      if ((ranges & (0x8000 >>> r)) != 0) {
        val m = in.bits(16)
        var j = 0
        while (j < 16) {
          if ((m & (0x8000 >>> j)) != 0) { used(r * 16 + j) = true; nUsed += 1 }
          j += 1
        }
      }
      r += 1
    }
    if (nUsed == 0) throw new Bzip2Malformed("empty symbol map")
    val seqToByte = new Array[Int](nUsed)
    var si = 0
    var b = 0
    while (b < 256) { if (used(b)) { seqToByte(si) = b; si += 1 }; b += 1 }
    val alphaSize = nUsed + 2

    val nGroups = in.bits(3)
    if (nGroups < 2 || nGroups > 6)
      throw new Bzip2Malformed(s"nGroups=$nGroups out of [2,6]")
    val nSelectors = in.bits(15)
    if (nSelectors == 0) throw new Bzip2Malformed("zero selectors")
    // selectors: unary-coded MTF over group indices
    val selMtf = Array.tabulate(nGroups)(identity)
    val selectors = new Array[Int](nSelectors)
    var s = 0
    while (s < nSelectors) {
      var j = 0
      while (in.bit() == 1) {
        j += 1
        if (j >= nGroups) throw new Bzip2Malformed("selector overrun")
      }
      val v = selMtf(j)
      while (j > 0) { selMtf(j) = selMtf(j - 1); j -= 1 }
      selMtf(0) = v
      selectors(s) = v
      s += 1
    }

    // delta-coded code lengths per group
    val lens = Array.ofDim[Int](nGroups, alphaSize)
    var g = 0
    while (g < nGroups) {
      var cur = in.bits(5)
      var sym = 0
      while (sym < alphaSize) {
        var loop = true
        while (loop) {
          if (cur < 1 || cur > MaxCodeLen)
            throw new Bzip2Malformed(s"code length $cur out of range")
          if (in.bit() == 0) loop = false
          else cur += (if (in.bit() == 0) 1 else -1)
        }
        lens(g)(sym) = cur
        sym += 1
      }
      g += 1
    }

    // a group's widest code bounds its peek
    val codes = lens.map(l => new PrefixCode(l, l.max,
      () => new Bzip2Malformed("code length out of range")))

    // Huffman symbols -> RLE2/MTF decode into the BWT column
    val mtf = seqToByte.clone()
    val bwt = new Array[Byte](blockMax)
    var n = 0
    var groupNo = -1
    var groupPos = 0
    val eob = alphaSize - 1
    def nextSym(): Int = {
      if (groupPos == 0) {
        groupNo += 1
        if (groupNo >= nSelectors) throw new Bzip2Malformed("selectors exhausted")
        groupPos = 50
      }
      groupPos -= 1
      in.decode(codes(selectors(groupNo)))
    }
    var sym = nextSym()
    while (sym != eob) {
      if (sym == RunA || sym == RunB) {
        var run = 0L
        var k = 0
        while (sym == RunA || sym == RunB) {
          run += (sym + 1).toLong << k
          k += 1
          if (k > 40) throw new Bzip2Malformed("absurd zero run")
          sym = nextSym()
        }
        if (n + run > blockMax) throw new Bzip2Malformed("block overrun (run)")
        val zb = mtf(0).toByte
        var i = 0L
        while (i < run) { bwt(n) = zb; n += 1; i += 1 }
      } else {
        // MTF value sym-1 (RUNA/RUNB occupy 0/1)
        val j = sym - 1
        if (j >= nUsed) throw new Bzip2Malformed("MTF index out of range")
        val v = mtf(j)
        var i = j
        while (i > 0) { mtf(i) = mtf(i - 1); i -= 1 }
        mtf(0) = v
        if (n >= blockMax) throw new Bzip2Malformed("block overrun")
        bwt(n) = v.toByte
        n += 1
        sym = nextSym()
      }
    }
    if (origPtr >= n) throw new Bzip2Malformed(s"origPtr $origPtr >= block $n")

    // inverse BWT
    val cftab = new Array[Int](257)
    var i = 0
    while (i < n) { cftab((bwt(i) & 0xff) + 1) += 1; i += 1 }
    i = 1
    while (i < 257) { cftab(i) += cftab(i - 1); i += 1 }
    val next = new Array[Int](n)
    i = 0
    while (i < n) {
      val c = bwt(i) & 0xff
      next(cftab(c)) = i
      cftab(c) += 1
      i += 1
    }

    // walk + RLE1 decode + CRC in one pass
    val crc = new Crc
    var p = next(origPtr)
    var emitted = 0
    var runByte = -1
    var runLen = 0
    var pendingCount = false
    while (emitted < n) {
      val c = bwt(p)
      p = next(p)
      emitted += 1
      if (pendingCount) {
        // byte after 4 equal bytes = extra repeat count
        val extra = c & 0xff
        var k = 0
        while (k < extra) { out.put(runByte); crc.update(runByte.toByte); k += 1 }
        pendingCount = false
        runByte = -1
        runLen = 0
      } else {
        out.put(c)
        crc.update(c)
        if ((c & 0xff) == runByte) {
          runLen += 1
          if (runLen == 4) pendingCount = true
        } else {
          runByte = c & 0xff
          runLen = 1
        }
      }
    }
    if (pendingCount) throw new Bzip2Malformed("RLE1 run truncated at block end")
    val computed = crc.value
    if (computed != storedCrc)
      throw new Bzip2Malformed(f"block CRC mismatch: $computed%08x != $storedCrc%08x")
    computed
  }

  // =====================================================================
  // Encoder (fixture writer)
  // =====================================================================

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var cur = 0L
    private var nBits = 0
    def bits(v: Int, n: Int): Unit = {
      cur = (cur << n) | (v & ((1L << n) - 1))
      nBits += n
      while (nBits >= 8) {
        nBits -= 8
        out.write(((cur >>> nBits) & 0xff).toInt)
      }
    }
    def flush(): Unit = if (nBits > 0) {
      out.write(((cur << (8 - nBits)) & 0xff).toInt)
      nBits = 0
    }
  }

  /** Max plain bytes per block: RLE1 expands at most 5/4, level-1 block
    * cap is 100000 post-RLE1 bytes.
    */
  private val EncBlockPlain = 79000

  def compress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write('B'); out.write('Z'); out.write('h'); out.write('1')
    val bw = new BitWriter(out)
    var combined = 0
    var off = 0
    while (off < data.length) { // empty input = zero blocks, combined CRC 0
      val end = math.min(off + EncBlockPlain, data.length)
      val crc = encodeBlock(bw, data, off, end)
      combined = ((combined << 1) | (combined >>> 31)) ^ crc
      off = end
    }
    bw.bits(0x177245, 24); bw.bits(0x385090, 24)
    bw.bits(combined >>> 16, 16); bw.bits(combined & 0xffff, 16)
    bw.flush()
    out.toByteArray
  }

  private def encodeBlock(bw: BitWriter, data: Array[Byte], from: Int,
      to: Int): Int = {
    // CRC over the plain block
    val crc = new Crc
    var i = from
    while (i < to) { crc.update(data(i)); i += 1 }
    val blockCrc = crc.value

    // RLE1
    val rle = new java.io.ByteArrayOutputStream()
    i = from
    while (i < to) {
      val c = data(i)
      var run = 1
      while (i + run < to && run < 255 && data(i + run) == c) run += 1
      if (run >= 4) {
        val extra = math.min(run - 4, 251)
        rle.write(c); rle.write(c); rle.write(c); rle.write(c); rle.write(extra)
        i += 4 + extra
      } else {
        var k = 0
        while (k < run) { rle.write(c); k += 1 }
        i += run
      }
    }
    val block = rle.toByteArray
    val n = block.length

    // BWT via rotation sort over the doubled block
    val doubled = new Array[Byte](2 * n)
    System.arraycopy(block, 0, doubled, 0, n)
    System.arraycopy(block, 0, doubled, n, n)
    val idx = Array.tabulate(n)(Integer.valueOf)
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      def compare(a: Integer, b: Integer): Int = {
        var x = a.intValue; var y = b.intValue
        var k = 0
        while (k < n) {
          val d = (doubled(x) & 0xff) - (doubled(y) & 0xff)
          if (d != 0) return d
          x += 1; y += 1; k += 1
        }
        0
      }
    })
    val bwt = new Array[Byte](n)
    var origPtr = -1
    i = 0
    while (i < n) {
      val rot = idx(i).intValue
      if (rot == 0) origPtr = i
      bwt(i) = doubled(rot + n - 1)
      i += 1
    }

    // MTF + RLE2
    val used = new Array[Boolean](256)
    i = 0
    while (i < n) { used(block(i) & 0xff) = true; i += 1 }
    var nUsed = 0
    val byteToSeq = new Array[Int](256)
    var b = 0
    while (b < 256) { if (used(b)) { byteToSeq(b) = nUsed; nUsed += 1 }; b += 1 }
    val alphaSize = nUsed + 2
    val eob = alphaSize - 1
    val mtf = new Array[Int](nUsed)
    var k2 = 0
    b = 0
    while (b < 256) { if (used(b)) { mtf(k2) = byteToSeq(b); k2 += 1 }; b += 1 }
    val syms = new java.util.ArrayList[Integer](n + 8)
    var zPend = 0
    def flushZeros(): Unit = if (zPend > 0) {
      var z = zPend - 1
      var loop = true
      while (loop) {
        syms.add(if ((z & 1) == 1) RunB else RunA)
        if (z < 2) loop = false else z = (z - 2) / 2
      }
      zPend = 0
    }
    i = 0
    while (i < n) {
      val v = byteToSeq(bwt(i) & 0xff)
      var j = 0
      while (mtf(j) != v) j += 1
      if (j == 0) zPend += 1
      else {
        flushZeros()
        syms.add(j + 1)
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
      }
      i += 1
    }
    flushZeros()
    syms.add(eob)

    // Huffman lengths over the symbol frequencies (cap 17, bzip2's own cap)
    val freq = new Array[Long](alphaSize)
    var t = 0
    while (t < syms.size) { freq(syms.get(t).intValue) += 1; t += 1 }
    val lens = huffmanLengths(freq, 17)

    val codes = new PrefixCode(lens, 17,
      () => new IllegalStateException("code length over 17"))

    // ---- emit the block
    bw.bits(0x314159, 24); bw.bits(0x265359, 24)
    bw.bits(blockCrc >>> 16, 16); bw.bits(blockCrc & 0xffff, 16)
    bw.bits(0, 1) // not randomized
    bw.bits(origPtr, 24)
    // symbol map
    var ranges = 0
    b = 0
    while (b < 256) { if (used(b)) ranges |= 0x8000 >>> (b >> 4); b += 1 }
    bw.bits(ranges, 16)
    var r = 0
    while (r < 16) {
      if ((ranges & (0x8000 >>> r)) != 0) {
        var m = 0
        var j = 0
        while (j < 16) { if (used(r * 16 + j)) m |= 0x8000 >>> j; j += 1 }
        bw.bits(m, 16)
      }
      r += 1
    }
    // two identical groups, all selectors 0
    val nSelectors = (syms.size + 49) / 50
    bw.bits(2, 3)
    bw.bits(nSelectors, 15)
    var sI = 0
    while (sI < nSelectors) { bw.bits(0, 1); sI += 1 } // unary 0 = group 0
    var g = 0
    while (g < 2) {
      var cur = lens(0)
      bw.bits(cur, 5)
      i = 0
      while (i < alphaSize) {
        while (cur < lens(i)) { bw.bits(2, 2); cur += 1 } // 10 = +1
        while (cur > lens(i)) { bw.bits(3, 2); cur -= 1 } // 11 = -1
        bw.bits(0, 1)
        i += 1
      }
      g += 1
    }
    t = 0
    while (t < syms.size) {
      val sym = syms.get(t).intValue
      bw.bits(codes.code(sym), lens(sym))
      t += 1
    }
    blockCrc
  }

  /** Huffman code lengths capped at `maxLen` (bzip2's scale-and-retry). */
  private def huffmanLengths(freq0: Array[Long], maxLen: Int): Array[Int] = {
    val nSym = freq0.length
    var freq = freq0.map(f => math.max(f, 1L))
    while (true) {
      // standard heap-based Huffman; parent array for depth extraction
      val parent = new Array[Int](2 * nSym)
      val weight = new Array[Long](2 * nSym)
      val pq = new java.util.PriorityQueue[Int](nSym,
        new java.util.Comparator[Int] {
          def compare(a: Int, b: Int): Int = {
            val d = java.lang.Long.compare(weight(a), weight(b))
            if (d != 0) d else Integer.compare(a, b)
          }
        })
      var i = 0
      while (i < nSym) { weight(i) = freq(i); pq.add(i); i += 1 }
      var nextId = nSym
      while (pq.size > 1) {
        val a = pq.poll(); val b = pq.poll()
        weight(nextId) = weight(a) + weight(b)
        parent(a) = nextId; parent(b) = nextId
        pq.add(nextId)
        nextId += 1
      }
      val root = pq.poll()
      val lens = new Array[Int](nSym)
      var tooDeep = false
      i = 0
      while (i < nSym) {
        var d = 0
        var p = i
        while (p != root) { p = parent(p); d += 1 }
        lens(i) = math.max(d, 1) // single-symbol alphabet still needs 1 bit
        if (d > maxLen) tooDeep = true
        i += 1
      }
      if (!tooDeep) return lens
      freq = freq.map(f => f / 2 + 1)
    }
    throw new IllegalStateException("unreachable")
  }
}
