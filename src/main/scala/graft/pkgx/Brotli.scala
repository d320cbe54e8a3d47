package graft.pkgx

import graft.core.OutBuf

/** Brotli decoder — pure JDK, implemented from the public format
  * (RFC 7932). The reference routes .br through the external
  * brotli-dec library (tika pkg-module CompressorParser.java:129-140);
  * this gives the engine .br / .tar.br recursion without the codec
  * dependency.
  *
  * Scope: full decode — stream header window bits, metadata/empty/
  * uncompressed/compressed metablocks, simple and complex prefix
  * codes (incl. HSKIP and 16/17 run-length codes), block switching
  * across all three categories, literal context modeling (LSB6/MSB6/
  * UTF8/Signed), context maps with RLE + inverse-MTF, distance ring
  * buffer with short codes, NPOSTFIX/NDIRECT distance coding, and
  * static-dictionary references with all 121 word transforms.
  *
  * Static data (the 122,784-byte dictionary, the 2,048-byte context
  * lookup table, and the 121-entry transform table) is the fixed
  * public data of RFC 7932 Appendices A/B — shipped as resources /
  * tables, not logic.
  */
object Brotli {

  final class BrotliMalformed(msg: String) extends RuntimeException(msg)

  private def fail(msg: String): Nothing = throw new BrotliMalformed(msg)

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(name)
    if (in == null) fail(s"missing resource $name")
    try in.readAllBytes() finally in.close()
  }

  /** RFC 7932 Appendix A: the static dictionary (sha-256
    * 20e42eb1b511c21806d4d227d07e5dd06877d8ce7b3a817f378f313653f35c70). */
  private lazy val Dict: Array[Byte] = resource("/graft/brotli_dict.bin")

  /** Context lookup table (RFC 7932 section 7.1): 4 modes x (256+256). */
  private lazy val CtxLut: Array[Byte] = resource("/graft/brotli_context.bin")

  private val SizeBitsByLength: Array[Int] = Array(
    0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8,
    7, 7, 8, 7, 7, 6, 6, 5, 5, 0, 0, 0, 0, 0, 0, 0)

  private val OffsetsByLength: Array[Int] = Array(
    0, 0, 0, 0, 0, 4096, 9216, 21504, 35840, 44032, 53248, 63488,
    74752, 87040, 93696, 100864, 104704, 106752, 108928, 113536,
    115968, 118528, 119872, 121280, 122016, 122784, 122784, 122784,
    122784, 122784, 122784, 122784)

  // Transform ops: 0=identity 1=ferment-first 2=ferment-all
  // 3..11=omit-first-1..9  12..20=omit-last-1..9  (RFC 7932 App. B)
  private final case class T(prefix: String, op: Int, suffix: String)

  private val Transforms: Array[T] = Array(
    T("", 0, ""),
    T("", 0, " "),
    T(" ", 0, " "),
    T("", 3, ""),
    T("", 1, " "),
    T("", 0, " the "),
    T(" ", 0, ""),
    T("s ", 0, " "),
    T("", 0, " of "),
    T("", 1, ""),
    T("", 0, " and "),
    T("", 4, ""),
    T("", 12, ""),
    T(", ", 0, " "),
    T("", 0, ", "),
    T(" ", 1, " "),
    T("", 0, " in "),
    T("", 0, " to "),
    T("e ", 0, " "),
    T("", 0, "\""),
    T("", 0, "."),
    T("", 0, "\">"),
    T("", 0, "\n"),
    T("", 14, ""),
    T("", 0, "]"),
    T("", 0, " for "),
    T("", 5, ""),
    T("", 13, ""),
    T("", 0, " a "),
    T("", 0, " that "),
    T(" ", 1, ""),
    T("", 0, ". "),
    T(".", 0, ""),
    T(" ", 0, ", "),
    T("", 6, ""),
    T("", 0, " with "),
    T("", 0, "'"),
    T("", 0, " from "),
    T("", 0, " by "),
    T("", 7, ""),
    T("", 8, ""),
    T(" the ", 0, ""),
    T("", 15, ""),
    T("", 0, ". The "),
    T("", 2, ""),
    T("", 0, " on "),
    T("", 0, " as "),
    T("", 0, " is "),
    T("", 18, ""),
    T("", 12, "ing "),
    T("", 0, "\n	"),
    T("", 0, ":"),
    T(" ", 0, ". "),
    T("", 0, "ed "),
    T("", 11, ""),
    T("", 9, ""),
    T("", 17, ""),
    T("", 0, "("),
    T("", 1, ", "),
    T("", 19, ""),
    T("", 0, " at "),
    T("", 0, "ly "),
    T(" the ", 0, " of "),
    T("", 16, ""),
    T("", 20, ""),
    T(" ", 1, ", "),
    T("", 1, "\""),
    T(".", 0, "("),
    T("", 2, " "),
    T("", 1, "\">"),
    T("", 0, "=\""),
    T(" ", 0, "."),
    T(".com/", 0, ""),
    T(" the ", 0, " of the "),
    T("", 1, "'"),
    T("", 0, ". This "),
    T("", 0, ","),
    T(".", 0, " "),
    T("", 1, "("),
    T("", 1, "."),
    T("", 0, " not "),
    T(" ", 0, "=\""),
    T("", 0, "er "),
    T(" ", 2, " "),
    T("", 0, "al "),
    T(" ", 2, ""),
    T("", 0, "='"),
    T("", 2, "\""),
    T("", 1, ". "),
    T(" ", 0, "("),
    T("", 0, "ful "),
    T(" ", 1, ". "),
    T("", 0, "ive "),
    T("", 0, "less "),
    T("", 2, "'"),
    T("", 0, "est "),
    T(" ", 1, "."),
    T("", 2, "\">"),
    T(" ", 0, "='"),
    T("", 1, ","),
    T("", 0, "ize "),
    T("", 2, "."),
    T("Â ", 0, ""),
    T(" ", 0, ","),
    T("", 1, "=\""),
    T("", 2, "=\""),
    T("", 0, "ous "),
    T("", 2, ", "),
    T("", 1, "='"),
    T(" ", 1, ","),
    T(" ", 2, "=\""),
    T(" ", 2, ", "),
    T("", 2, ","),
    T("", 2, "("),
    T("", 2, ". "),
    T(" ", 2, "."),
    T("", 2, "='"),
    T(" ", 2, ". "),
    T(" ", 1, "=\""),
    T(" ", 2, "='"),
    T(" ", 1, "='")
  )

  // ==== bit reader (LSB-first within bytes) ===========================

  private final class Br(val in: Array[Byte]) {
    var pos: Int = 0        // next byte
    var bitBuf: Long = 0L
    var bitCnt: Int = 0

    def ensure(n: Int): Unit = {
      while (bitCnt < n) {
        if (pos >= in.length) fail("unexpected end of brotli stream")
        bitBuf |= (in(pos) & 0xffL) << bitCnt
        pos += 1
        bitCnt += 8
      }
    }

    def readBits(n: Int): Int = {
      if (n == 0) return 0
      ensure(n)
      val v = (bitBuf & ((1L << n) - 1)).toInt
      bitBuf >>>= n
      bitCnt -= n
      v
    }

    def readBit(): Int = readBits(1)

    /** Top up from input (no failure at EOF) and return the low n bits;
      * bits past end-of-stream read as zero — callers must check
      * `bitCnt` before consuming. */
    def peekBits(n: Int): Int = {
      while (bitCnt < n && pos < in.length) {
        bitBuf |= (in(pos) & 0xffL) << bitCnt
        pos += 1
        bitCnt += 8
      }
      (bitBuf & ((1L << n) - 1)).toInt
    }

    def drop(n: Int): Unit = { bitBuf >>>= n; bitCnt -= n }

    /** Discard bits to the next byte boundary; pad bits must be zero. */
    def align(): Unit = {
      val drop = bitCnt & 7
      if (drop > 0) {
        if ((bitBuf & ((1L << drop) - 1)) != 0) fail("nonzero pad bits")
        bitBuf >>>= drop
        bitCnt -= drop
      }
    }

    /** Read n raw bytes (only valid at a byte boundary). */
    def copyBytes(n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var i = 0
      while (i < n && bitCnt > 0) {
        out(i) = (bitBuf & 0xff).toByte
        bitBuf >>>= 8
        bitCnt -= 8
        i += 1
      }
      val rest = n - i
      if (rest > 0) {
        if (pos + rest > in.length) fail("truncated uncompressed block")
        System.arraycopy(in, pos, out, i, rest)
        pos += rest
      }
      out
    }

    def skipBytes(n: Int): Unit = {
      var left = n
      while (left > 0 && bitCnt > 0) {
        bitBuf >>>= 8
        bitCnt -= 8
        left -= 1
      }
      if (pos + left > in.length) fail("truncated metadata block")
      pos += left
    }
  }

  // ==== prefix codes (canonical, max len 15) ===========================

  private def code(lengths: Array[Int]): PrefixCode =
    new PrefixCode(lengths, 15, () => new BrotliMalformed("bad code length"))

  /** One symbol: a one-symbol code reads no bits (RFC 7932 §3.4); the
    * others read their code from the LSB-first peek, reversed. */
  private def decode(c: PrefixCode, br: Br): Int = {
    if (c.single >= 0) return c.single
    val e = c.decode(Integer.reverse(br.peekBits(15)) >>> 17)
    if (e < 0) fail("invalid prefix code word")
    val l = PrefixCode.len(e)
    if (l > br.bitCnt) fail("unexpected end of brotli stream")
    br.drop(l)
    PrefixCode.sym(e)
  }

  private val CodeLengthOrder =
    Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  // fixed code for the code-length code lengths (RFC 7932 3.5):
  // peek 4 bits LSB-first -> (symbol, bits)
  private val ClcSym = Array(0, 4, 3, 2, 0, 4, 3, 1, 0, 4, 3, 2, 0, 4, 3, 5)
  private val ClcBits = Array(2, 2, 2, 3, 2, 2, 2, 4, 2, 2, 2, 3, 2, 2, 2, 4)

  /** Read a prefix code over `alphabet` symbols (RFC 7932 section 3). */
  private def readHuffman(br: Br, alphabet: Int): PrefixCode = {
    val kind = br.readBits(2)
    if (kind == 1) {
      // simple code: 1-4 symbols listed explicitly
      val nsym = br.readBits(2) + 1
      val abits = 32 - Integer.numberOfLeadingZeros(alphabet - 1)
      val sym = new Array[Int](nsym)
      var i = 0
      while (i < nsym) {
        sym(i) = br.readBits(abits)
        if (sym(i) >= alphabet) fail("simple code symbol out of range")
        i += 1
      }
      // duplicate check
      i = 0
      while (i < nsym) {
        var j = i + 1
        while (j < nsym) {
          if (sym(i) == sym(j)) fail("duplicate symbol in simple code")
          j += 1
        }
        i += 1
      }
      val lengths = new Array[Int](alphabet)
      nsym match {
        case 1 =>
          return singletonCode(sym(0), alphabet)
        case 2 =>
          java.util.Arrays.sort(sym)
          lengths(sym(0)) = 1; lengths(sym(1)) = 1
        case 3 =>
          if (sym(1) > sym(2)) { val t = sym(1); sym(1) = sym(2); sym(2) = t }
          lengths(sym(0)) = 1; lengths(sym(1)) = 2; lengths(sym(2)) = 2
        case 4 =>
          if (br.readBit() == 1) {
            if (sym(2) > sym(3)) { val t = sym(2); sym(2) = sym(3); sym(3) = t }
            lengths(sym(0)) = 1; lengths(sym(1)) = 2
            lengths(sym(2)) = 3; lengths(sym(3)) = 3
          } else {
            java.util.Arrays.sort(sym)
            var k = 0
            while (k < 4) { lengths(sym(k)) = 2; k += 1 }
          }
      }
      code(lengths)
    } else {
      // complex code; kind = HSKIP (0, 2 or 3)
      val clcLen = new Array[Int](18)
      var space = 0
      var numCodes = 0
      var i = kind
      while (i < 18 && space < 32) {
        val idx = CodeLengthOrder(i)
        val peek = { br.ensure(4); (br.bitBuf & 15).toInt }
        val len = ClcSym(peek)
        br.readBits(ClcBits(peek))
        clcLen(idx) = len
        if (len > 0) { space += 32 >> len; numCodes += 1 }
        i += 1
      }
      if (numCodes != 1 && space != 32) fail("code-length code over/under-subscribed")
      val clc =
        if (numCodes == 1) {
          var s = 0
          var j = 0
          while (j < 18) { if (clcLen(j) > 0) s = j; j += 1 }
          singletonCode(s, 18)
        } else code(clcLen)

      val lengths = new Array[Int](alphabet)
      var symIdx = 0
      var prevLen = 8
      var repeat = 0      // accumulated repeat count of the active run
      var repCode = 0     // 16 or 17; 0 = no active run
      var total = 0       // space in 1/32768 units
      while (symIdx < alphabet && total < 32768) {
        val s = decode(clc, br)
        if (s < 16) {
          lengths(symIdx) = s
          symIdx += 1
          if (s > 0) { prevLen = s; total += 32768 >> s }
          repCode = 0
          repeat = 0
        } else {
          val extraBits = if (s == 16) 2 else 3
          val extra = br.readBits(extraBits)
          var newRepeat = 0
          if (repCode == s)
            newRepeat = ((repeat - 2) << extraBits) + 3 + extra
          else
            newRepeat = 3 + extra
          val delta = newRepeat - (if (repCode == s) repeat else 0)
          repCode = s
          repeat = newRepeat
          val fillLen = if (s == 16) prevLen else 0
          var k = 0
          while (k < delta) {
            if (symIdx >= alphabet) fail("code length run overruns alphabet")
            lengths(symIdx) = fillLen
            symIdx += 1
            if (fillLen > 0) total += 32768 >> fillLen
            k += 1
          }
        }
      }
      if (total != 32768) fail("prefix code over/under-subscribed")
      code(lengths)
    }
  }

  private def singletonCode(sym: Int, alphabet: Int): PrefixCode = {
    // one symbol with a code: `decode` reads it with no bits
    val l = new Array[Int](alphabet)
    l(sym) = 15
    code(l)
  }

  // ==== static tables ==================================================

  private val InsBase = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34,
    50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsExtra = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
    5, 5, 6, 7, 8, 9, 10, 12, 14, 24)
  private val CopyBase = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22,
    30, 38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CopyExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3,
    4, 4, 5, 5, 6, 7, 8, 9, 10, 24)
  private val InsRangeLut = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CopyRangeLut = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)

  // block count code (26 symbols): (base, extra-bits)
  private val BlkLenBase = Array(1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81,
    97, 113, 145, 177, 209, 241, 305, 369, 497, 753, 1265, 2289, 4337,
    8433, 16625)
  private val BlkLenExtra = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5,
    5, 5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 24)

  // distance short codes: ring index offset / delta
  // ring offsets relative to the slot of the most recent distance
  private val DistShortIdx = Array(0, 3, 2, 1, 0, 0, 0, 0, 0, 0, 3, 3, 3, 3, 3, 3)
  private val DistShortDelta = Array(0, 0, 0, 0, -1, 1, -2, 2, -3, 3, -1, 1, -2, 2, -3, 3)

  // ==== dictionary transforms ==========================================

  private def ferment(buf: Array[Byte], off: Int, pos: Int): Int = {
    // Writes past the word end are dropped: several dictionary words end
    // mid-UTF-8-sequence, and libbrotli's ToUpperCase XORs those bytes in
    // ring-buffer scratch that the suffix / later output overwrites before
    // emission — observable output treats the overshoot as a no-op.
    val b = buf(off + pos) & 0xff
    if (b < 192) {
      if (b >= 97 && b <= 122) buf(off + pos) = (b ^ 32).toByte
      1
    } else if (b < 224) {
      if (off + pos + 1 < buf.length)
        buf(off + pos + 1) = (buf(off + pos + 1) ^ 32).toByte
      2
    } else {
      if (off + pos + 2 < buf.length)
        buf(off + pos + 2) = (buf(off + pos + 2) ^ 5).toByte
      3
    }
  }

  private[graft] def transformWord(word: Array[Byte], tid: Int): Array[Byte] = {
    val t = Transforms(tid)
    var w = word
    t.op match {
      case 0 => // identity
      case 1 => // ferment first
        w = w.clone()
        if (w.nonEmpty) ferment(w, 0, 0)
      case 2 => // ferment all
        w = w.clone()
        var i = 0
        while (i < w.length) i += ferment(w, 0, i)
      case k if k >= 3 && k <= 11 => // omit first 1..9
        val n = k - 2
        w = if (n >= w.length) Array.emptyByteArray else w.drop(n)
      case k => // omit last 1..9
        val n = k - 11
        w = if (n >= w.length) Array.emptyByteArray else w.dropRight(n)
    }
    val pre = t.prefix
    val suf = t.suffix
    val out = new Array[Byte](pre.length + w.length + suf.length)
    var i = 0
    while (i < pre.length) { out(i) = pre.charAt(i).toByte; i += 1 }
    System.arraycopy(w, 0, out, pre.length, w.length)
    var j = 0
    while (j < suf.length) { out(pre.length + w.length + j) = suf.charAt(j).toByte; j += 1 }
    out
  }

  // ==== context map ====================================================

  private def readVarLen256(br: Br): Int =
    if (br.readBit() == 0) 1
    else {
      val n = br.readBits(3)
      (1 << n) + br.readBits(n) + 1
    }

  private def readContextMap(br: Br, size: Int, ntrees: Int): Array[Byte] = {
    val map = new Array[Byte](size)
    if (ntrees == 1) return map
    val rleMax = if (br.readBit() == 1) br.readBits(4) + 1 else 0
    val code = readHuffman(br, ntrees + rleMax)
    var i = 0
    while (i < size) {
      val s = decode(code, br)
      if (s == 0) { map(i) = 0; i += 1 }
      else if (s <= rleMax) {
        val reps = (1 << s) + br.readBits(s)
        if (i + reps > size) fail("context-map zero run overruns map")
        i += reps // already zero
      } else {
        map(i) = (s - rleMax).toByte
        i += 1
      }
    }
    if (br.readBit() == 1) {
      // inverse move-to-front
      val mtf = new Array[Byte](256)
      var k = 0
      while (k < 256) { mtf(k) = k.toByte; k += 1 }
      var j = 0
      while (j < size) {
        val idx = map(j) & 0xff
        val v = mtf(idx)
        var m = idx
        while (m > 0) { mtf(m) = mtf(m - 1); m -= 1 }
        mtf(0) = v
        map(j) = v
        j += 1
      }
    }
    map
  }

  // ==== block category state ===========================================

  private final class BlockState(br: Br, val nbltypes: Int, alphabetHint: Int) {
    var typeCode: PrefixCode = null
    var countCode: PrefixCode = null
    var cur: Int = 0
    var prev: Int = 1
    var remaining: Int = 1 << 28 // effectively unbounded when nbltypes == 1
    if (nbltypes > 1) {
      typeCode = readHuffman(br, nbltypes + 2)
      countCode = readHuffman(br, 26)
      remaining = readCount(br)
    }

    private def readCount(br: Br): Int = {
      val s = decode(countCode, br)
      BlkLenBase(s) + br.readBits(BlkLenExtra(s))
    }

    def maybeSwitch(br: Br): Unit = {
      if (remaining == 0) {
        val s = decode(typeCode, br)
        val nt =
          if (s == 0) prev
          else if (s == 1) (cur + 1) % nbltypes
          else s - 2
        prev = cur
        cur = nt
        remaining = readCount(br)
      }
    }
  }

  // ==== main ===========================================================

  def decompress(bytes: Array[Byte]): Array[Byte] = {
    val br = new Br(bytes)
    // stream header: window bits
    val wbits =
      if (br.readBit() == 0) 16
      else {
        val n = br.readBits(3)
        if (n != 0) 17 + n
        else {
          val m = br.readBits(3)
          if (m == 1) fail("reserved WBITS code")
          else if (m != 0) 8 + m
          else 17
        }
      }
    val window = (1 << wbits) - 16
    // flat output for backward copies; each metablock reserves its length
    // up front, so a budget overflow is a bomb before anything decodes
    val out = new OutBuf(OutBuf.MaxBytes,
      math.max(1024, math.min(bytes.length * 4L, 1 << 20).toInt))

    val distRb = Array(16, 15, 11, 4)
    var distRbIdx = 3 // most recent initial distance (4) lives in slot 3

    var isLast = false
    while (!isLast) {
      isLast = br.readBit() == 1
      if (isLast && br.readBit() == 1) {
        // ISLASTEMPTY
        isLast = true
        // done — skip loop body
      } else {
        val mnibbles = br.readBits(2) match {
          case 3 => 0
          case v => v + 4
        }
        if (mnibbles == 0) {
          // metadata block
          if (isLast) fail("metadata block cannot be last")
          if (br.readBit() != 0) fail("reserved metadata bit set")
          val skipBytesCnt = br.readBits(2)
          val skipLen =
            if (skipBytesCnt == 0) 0
            else {
              val v = br.readBits(8 * skipBytesCnt)
              if (skipBytesCnt > 1 && (v >>> (8 * (skipBytesCnt - 1))) == 0)
                fail("metadata skip length not minimally encoded")
              v + 1
            }
          br.align()
          br.skipBytes(skipLen)
        } else {
          var mlen = br.readBits(4 * mnibbles) + 1
          if (mnibbles > 4 && ((mlen - 1) >>> (4 * (mnibbles - 1))) == 0)
            fail("MLEN not minimally encoded")
          val uncompressed = !isLast && br.readBit() == 1
          if (uncompressed) {
            br.align()
            out.ensure(mlen)
            out.write(br.copyBytes(mlen), 0, mlen)
          } else {
            // ---- compressed metablock ----
            val litBlocks = new BlockState(br, readVarLen256(br), 256)
            val cmdBlocks = new BlockState(br, readVarLen256(br), 704)
            val dstBlocks = new BlockState(br, readVarLen256(br), 0)
            val npostfix = br.readBits(2)
            val ndirect = br.readBits(4) << npostfix
            val postfixMask = (1 << npostfix) - 1
            val ctxModes = new Array[Int](litBlocks.nbltypes)
            var i = 0
            while (i < litBlocks.nbltypes) { ctxModes(i) = br.readBits(2); i += 1 }
            val ntreesL = readVarLen256(br)
            val cmapL = readContextMap(br, 64 * litBlocks.nbltypes, ntreesL)
            val ntreesD = readVarLen256(br)
            val cmapD = readContextMap(br, 4 * dstBlocks.nbltypes, ntreesD)
            val litCodes = Array.fill(ntreesL)(readHuffman(br, 256))
            val cmdCodes = Array.fill(cmdBlocks.nbltypes)(readHuffman(br, 704))
            val distAlphabet = 16 + ndirect + (48 << npostfix)
            val distCodes = Array.fill(ntreesD)(readHuffman(br, distAlphabet))

            val end = out.len + mlen
            out.ensure(mlen)
            while (out.len < end) {
              cmdBlocks.maybeSwitch(br)
              cmdBlocks.remaining -= 1
              val cmdSym = decode(cmdCodes(cmdBlocks.cur), br)
              var rangeIdx = cmdSym >> 6
              val implicitZero = rangeIdx < 2
              if (rangeIdx >= 2) rangeIdx -= 2
              val insCode = InsRangeLut(rangeIdx) + ((cmdSym >> 3) & 7)
              val copyCode = CopyRangeLut(rangeIdx) + (cmdSym & 7)
              val insLen = InsBase(insCode) + br.readBits(InsExtra(insCode))
              val copyLen = CopyBase(copyCode) + br.readBits(CopyExtra(copyCode))

              // literals
              if (insLen > 0) {
                if (out.len + insLen > end) fail("insert run overruns metablock")
                var p1 = if (out.len > 0) out.at(0) else 0
                var p2 = if (out.len > 1) out.at(1) else 0
                var k = 0
                while (k < insLen) {
                  litBlocks.maybeSwitch(br)
                  litBlocks.remaining -= 1
                  val mode = ctxModes(litBlocks.cur)
                  val ctx = (CtxLut((mode << 9) + p1) & 0xff) |
                    (CtxLut((mode << 9) + 256 + p2) & 0xff)
                  val tree = litCodes(cmapL(litBlocks.cur * 64 + ctx) & 0xff)
                  val lit = decode(tree, br)
                  out.put(lit)
                  p2 = p1
                  p1 = lit
                  k += 1
                }
              }
              if (out.len < end) {
                // distance
                var distance = 0
                var dcode = 0
                if (implicitZero) {
                  distance = distRb(distRbIdx & 3)
                  dcode = 0
                } else {
                  dstBlocks.maybeSwitch(br)
                  dstBlocks.remaining -= 1
                  val dctx = math.min(copyLen - 2, 3)
                  val tree = distCodes(cmapD(dstBlocks.cur * 4 + dctx) & 0xff)
                  dcode = decode(tree, br)
                  if (dcode < 16) {
                    distance = distRb((distRbIdx + DistShortIdx(dcode)) & 3) +
                      DistShortDelta(dcode)
                    if (distance <= 0) fail("non-positive short distance")
                  } else if (dcode < 16 + ndirect) {
                    distance = dcode - 15
                  } else {
                    var x = dcode - ndirect - 16
                    val postfix = x & postfixMask
                    x >>>= npostfix
                    val ndistbits = 1 + (x >> 1)
                    val offset = ((2 + (x & 1)) << ndistbits) - 4
                    distance = ((offset + br.readBits(ndistbits)) << npostfix) +
                      postfix + ndirect + 1
                  }
                }
                val maxDist = math.min(window, out.len)
                if (distance <= maxDist) {
                  if (out.len + copyLen > end) fail("copy run overruns metablock")
                  out.copyBack(distance - 1, copyLen)
                  if (dcode != 0) {
                    distRbIdx = (distRbIdx + 1) & 3
                    distRb(distRbIdx & 3) = distance
                  }
                } else {
                  // static dictionary reference
                  if (copyLen < 4 || copyLen > 24 || SizeBitsByLength(copyLen) == 0)
                    fail(s"dictionary reference with invalid length $copyLen")
                  val wordIdx = distance - maxDist - 1
                  val shift = SizeBitsByLength(copyLen)
                  val wordId = wordIdx & ((1 << shift) - 1)
                  val tid = wordIdx >>> shift
                  if (tid >= Transforms.length) fail("transform id out of range")
                  val base = OffsetsByLength(copyLen) + copyLen * wordId
                  val word = java.util.Arrays.copyOfRange(Dict, base, base + copyLen)
                  val xf = transformWord(word, tid)
                  if (out.len + xf.length > end) fail("dictionary word overruns metablock")
                  out.write(xf, 0, xf.length)
                }
              }
            }
          }
        }
      }
    }
    out.result
  }
}
