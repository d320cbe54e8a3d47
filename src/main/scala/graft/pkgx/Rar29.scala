package graft.pkgx

import graft.core.OutBuf

/** RAR version-29 (RAR 3.x "unpack29") LZ decoder, written from the
  * publicly documented format (RARLAB technote block layout; the LZ
  * alphabet, canonical-Huffman table serialization, and base/extra-bit
  * constant tables are documented across several independent
  * decompressor implementations — ClamAV, The Unarchiver, 7-Zip's Rar
  * handler). Decode-only; this is NOT derived from the unrar sources
  * (whose license restricts reuse for creating compressors).
  *
  * Scope: the Huffman-coded LZ block type with the 4-distance history,
  * short-match codes, and the low-distance sub-table; PPMd-vH blocks
  * (stream bit 15 set at table time) via [[PpmdH]], including the
  * in-PPM escape protocol (new-table / end-of-file / VM code / LZ copy
  * / RLE / literal-escape); and the standard RarVM filters (main
  * symbol 257 or PPM escape 3), recognized by (length, CRC32) and run
  * natively. Solid groups decode through a shared [[Rar29.Stream]]
  * (window/tables/history/PPM state persist across entries).
  * Non-standard VM programs are reported as [[Rar29.Unsupported]],
  * which the container walk records per entry exactly like other
  * declared-unsupported payloads.
  *
  * Reference behavior: tika pkg-module RarParser extracts these entries
  * via junrar; CompressParserTest/RarParserTest expect the inner
  * documents of test-documents.rar to parse.
  */
object Rar29 {

  final class Unsupported(msg: String) extends Exception(msg)
  final class Malformed(msg: String) extends Exception(msg)

  // length slots (28): base value and extra bits
  private val LDecode = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 10, 12, 14, 16,
    20, 24, 28, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224)
  private val LBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2,
    2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5)
  // distance slots (60)
  private val DDecode = Array(0, 1, 2, 3, 4, 6, 8, 12, 16, 24, 32, 48,
    64, 96, 128, 192, 256, 384, 512, 768, 1024, 1536, 2048, 3072, 4096,
    6144, 8192, 12288, 16384, 24576, 32768, 49152, 65536, 98304, 131072,
    196608, 262144, 327680, 393216, 458752, 524288, 589824, 655360,
    720896, 786432, 851968, 917504, 983040, 1048576, 1310720, 1572864,
    1835008, 2097152, 2359296, 2621440, 2883584, 3145728, 3407872,
    3670016, 3932160)
  private val DBits = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6,
    6, 7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13, 14, 14, 15, 15,
    16, 16, 16, 16, 16, 16, 16, 16, 16, 16, 16, 16, 16, 16, 16, 16, 16,
    16, 16, 16, 16, 16, 16, 16, 16, 16)
  // short-match (length 2) distance slots (8)
  private val SDDecode = Array(0, 4, 8, 16, 32, 64, 128, 192)
  private val SDBits = Array(2, 2, 3, 4, 5, 6, 6, 6)

  private val NC = 299 // main alphabet
  private val DC = 60 // distances
  private val LDC = 17 // low distances
  private val RC = 28 // rep-match lengths
  private val BC = 20 // pre-code

  /** MSB-first bit reader over a slice. Reads past the end yield zero
    * bits and flip `exhausted` so corrupt streams terminate cleanly.
    * Shared with [[Rar50]] (same bit order in the v5.0 stream).
    * `extend` swaps in a longer backing array at the same cursor — the
    * solid-archive stream appends each entry's packed segment to one
    * continuous input.
    */
  private[pkgx] final class BitReader(b0: Array[Byte], start: Int, end0: Int) {
    private var b = b0
    private var end = end0
    private var pos = start
    private var bit = 0
    var exhausted = false
    /** byte/bit cursor — RAR5 block boundaries are byte+bit exact */
    def bytePos: Int = pos
    def bitPos: Int = bit
    def extend(nb: Array[Byte], newEnd: Int): Unit = {
      b = nb; end = newEnd; exhausted = false
    }
    /** restore a saved cursor (speculative end-of-file marker reads) */
    def seek(p: Int, bi: Int, ex: Boolean): Unit = {
      pos = p; bit = bi; exhausted = ex
    }
    def peek16: Int = {
      val v0 = if (pos < end) b(pos) & 0xff else { exhausted = true; 0 }
      val v1 = if (pos + 1 < end) b(pos + 1) & 0xff else 0
      val v2 = if (pos + 2 < end) b(pos + 2) & 0xff else 0
      (((v0 << 16) | (v1 << 8) | v2) >>> (8 - bit)) & 0xffff
    }
    def skip(n: Int): Unit = {
      bit += n
      pos += bit >> 3
      bit &= 7
    }
    /** advance to the next byte boundary (table reads are byte-aligned
      * in the v29 stream) */
    def align(): Unit = if (bit != 0) skip(8 - bit)
    def bits(n: Int): Int =
      if (n == 0) 0
      else { val v = peek16 >>> (16 - n); skip(n); v }
    def decode(c: PrefixCode): Int = {
      val e = c.decode(peek16 >>> 1)
      if (e < 0) throw new Malformed("huffman code overrun")
      skip(PrefixCode.len(e))
      PrefixCode.sym(e)
    }
  }

  /** The four codes an LZ block decodes with: main, distance, low
    * distance and rep length (v2.9 and v5.0 alike).
    */
  private[pkgx] final class Codes(val ld: PrefixCode, val dd: PrefixCode,
      val ldd: PrefixCode, val rd: PrefixCode)

  /** Read the pre-code and the four code tables after it, the same
    * serialization in v2.9 and v5.0: a length below 16 is added, mod 16,
    * to the one at its index in `old` (v5.0 passes zeros), 16/17 repeat
    * the previous length and 18/19 write zeros. `old` takes the new
    * lengths; `sizes` are the alphabets of `Codes`, in order.
    */
  private[pkgx] def readCodes(br: BitReader, old: Array[Int],
      sizes: Array[Int]): Codes = {
    val bitLength = new Array[Int](BC)
    var i = 0
    while (i < BC) {
      val len = br.bits(4)
      if (len == 15) {
        val zc = br.bits(4)
        if (zc == 0) { bitLength(i) = 15; i += 1 }
        else {
          var n = zc + 2
          while (n > 0 && i < BC) { bitLength(i) = 0; i += 1; n -= 1 }
        }
      } else { bitLength(i) = len; i += 1 }
    }
    val bd = code(bitLength)
    val table = new Array[Int](old.length)
    i = 0
    while (i < table.length) {
      if (br.exhausted) throw new Malformed("table underrun")
      val num = br.decode(bd)
      if (num < 16) { table(i) = (num + old(i)) & 0xf; i += 1 }
      else if (num < 18) {
        if (i == 0) throw new Malformed("repeat at table start")
        var n = if (num == 16) br.bits(3) + 3 else br.bits(7) + 11
        while (n > 0 && i < table.length) {
          table(i) = table(i - 1); i += 1; n -= 1
        }
      } else {
        var n = if (num == 18) br.bits(3) + 3 else br.bits(7) + 11
        while (n > 0 && i < table.length) { table(i) = 0; i += 1; n -= 1 }
      }
    }
    System.arraycopy(table, 0, old, 0, table.length)
    val from = sizes.scanLeft(0)(_ + _)
    val c = Array.tabulate(4)(k =>
      code(java.util.Arrays.copyOfRange(table, from(k), from(k + 1))))
    new Codes(c(0), c(1), c(2), c(3))
  }

  private def code(lengths: Array[Int]): PrefixCode =
    new PrefixCode(lengths, 15, () => new Malformed("bad code length"))

  /** The PPMd model walks its own heap; corrupt streams surface as
    * model guards or (worst case) heap-bound overruns — both are
    * stream corruption, not crashes. Scoped to the PPM call sites so
    * an indexing defect in the LZ/filter paths still surfaces loudly.
    */
  @inline private def ppmGuard[T](f: => T): T =
    try f
    catch {
      case e: PpmdH.Corrupt => throw new Malformed("ppm: " + e.getMessage)
      case _: ArrayIndexOutOfBoundsException =>
        throw new Malformed("ppm heap overrun")
      case _: ArithmeticException => throw new Malformed("ppm arithmetic")
    }

  /** Decompress one non-solid version-29 entry (fresh stream). */
  def unpack(data: Array[Byte], off: Int, packSize: Int,
      unpSize: Long): Array[Byte] = {
    val s = new Stream
    s.append(data, off, packSize)
    s.decodeNext(unpSize)
  }

  private final case class FilterProg(kind: Int) // 1=E8 2=E8E9 3=DELTA
  private final case class FilterInv(kind: Int, blockStart: Int,
      blockLength: Int, channels: Int)

  /** One continuous version-29 decode stream. Non-solid entries use a
    * fresh instance each; a solid group shares one: the LZ window (the
    * growing output), Huffman tables, distance history, VM filter
    * programs, and the PPMd model + range coder all persist across
    * entries, and the packed segments concatenate into one input
    * stream whose per-entry `packSize` boundaries need not align with
    * symbol boundaries (the container walk appends every segment of a
    * group before decoding). Mirrors the reference decoder's solid
    * semantics: a file ends at its end-of-block marker (LZ symbol 256
    * with the new-file flag, or PPM escape 2) or when its declared
    * output size is reached, and the next file resumes mid-stream,
    * re-reading tables only when the marker requested them.
    */
  final class Stream {
    private var buf = new Array[Byte](0)
    private var bufLen = 0
    private val br = new BitReader(buf, 0, 0)
    // per-member packed-segment start offsets: the reference decoder
    // re-inits its bit input byte-aligned at each member's segment
    // start (unrar UnpInitData runs InitBitInput unconditionally, even
    // for solid continuations), discarding the previous member's
    // encoder flush padding and, for -p members, the AES tail padding
    // inside the 16-byte-padded packSize
    private val segStarts = scala.collection.mutable.ArrayBuffer.empty[Int]
    private var segIdx = 0
    private var out = new Array[Byte](0)
    private var op = 0
    private var outCap = 0 // logical limit: current entry's declared end
    private var totalPacked = 0L
    private var broken = false

    private val oldTable = new Array[Int](NC + DC + LDC + RC)
    private var codes: Codes = null
    private val oldDist = new Array[Int](4)
    private var lastDist = 0
    private var lastLength = 0
    private var prevLowDist = 0
    private var lowDistRepCount = 0
    private var tablesRead = false

    // --- VM filters (main symbol 257 / PPM escape 3) ----------------
    // Filter programs arrive as small RarVM bytecode blobs; the well
    // known "standard filters" are recognized by (length, CRC32) and
    // executed natively (the technote documents this shortcut; full VM
    // interpretation is out of scope — unknown programs throw
    // Unsupported). Invocations target output ranges and are applied
    // after each entry's LZ pass: the LZ window always holds the RAW
    // stream, filters only transform the written file bytes.
    private val progs = scala.collection.mutable.ArrayBuffer.empty[FilterProg]
    private val progLengths = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val invocations = scala.collection.mutable.ArrayBuffer.empty[FilterInv]
    private var lastFilter = 0

    // --- PPMd block state -------------------------------------------
    private var ppm: PpmdH = null
    private var ppmRc: PpmdH.Dec = null
    private var escChar = 2
    private var isPpm = false

    /** Append one member's packed segment to the continuous input.
      * Exactly one `append` per member, in member order: the n-th
      * `decodeNext` starts at the n-th appended segment, so a member
      * appended in two pieces would desync every later one, and a
      * `decodeNext` with no segment of its own left throws. */
    def append(data: Array[Byte], off: Int, packSize: Int): Unit = {
      val len = math.max(0, math.min(packSize.toLong,
        data.length.toLong - off).toInt)
      segStarts += bufLen
      if (bufLen + len > buf.length) {
        val nb = new Array[Byte](math.max(bufLen + len, buf.length * 2))
        System.arraycopy(buf, 0, nb, 0, bufLen)
        buf = nb
      }
      System.arraycopy(data, off, buf, bufLen, len)
      bufLen += len
      totalPacked += len
      br.extend(buf, bufLen)
    }

    private def vmStandardKind(code: Array[Byte]): Int = {
      val crc = new java.util.zip.CRC32
      crc.update(code)
      (code.length, crc.getValue) match {
        case (53, 0xad576887L) => 1 // E8
        case (57, 0x3cd7e57eL) => 2 // E8E9
        case (29, 0x0e06077dL) => 3 // DELTA
        case (len, c) =>
          throw new Unsupported(f"rar vm filter len=$len crc=$c%08x")
      }
    }

    // byte supplier: 8-bit bitfield reads in LZ blocks, model-decoded
    // chars in PPM blocks (the blob framing is identical)
    private def readVmCode(nextB: () => Int): Unit = {
      val firstByte = nextB()
      var length = (firstByte & 7) + 1
      if (length == 7) length = nextB() + 7
      else if (length == 8) length = (nextB() << 8) | nextB()
      if (length == 0 || length > 0x10000)
        throw new Malformed("vm code length")
      val code = new Array[Byte](length)
      var i = 0
      while (i < length) { code(i) = nextB().toByte; i += 1 }
      // the blob has its own bit reader
      val vr = new BitReader(code, 0, code.length)
      def readData(): Int = {
        val d = vr.peek16
        (d & 0xc000) match {
          case 0 => vr.skip(6); (d >> 10) & 0xf
          case 0x4000 =>
            if ((d & 0x3c00) == 0) { vr.skip(14); 0xffffff00 | ((d >> 2) & 0xff) }
            else { vr.skip(10); (d >> 6) & 0xff }
          case 0x8000 => vr.skip(2); vr.bits(16)
          case _ => vr.skip(2); (vr.bits(16) << 16) | vr.bits(16)
        }
      }
      var filtPos =
        if ((firstByte & 0x80) != 0) {
          val fp = readData()
          if (fp == 0) { progs.clear(); progLengths.clear(); 0 }
          else fp - 1
        } else lastFilter
      if (filtPos > progs.size) throw new Malformed("vm filter position")
      lastFilter = filtPos
      val newFilter = filtPos == progs.size
      var blockStart = readData()
      if ((firstByte & 0x40) != 0) blockStart += 258
      blockStart += op
      val blockLength =
        if ((firstByte & 0x20) != 0) readData()
        else if (filtPos < progLengths.size) progLengths(filtPos)
        else 0
      if (newFilter) progLengths += blockLength
      else progLengths(filtPos) = blockLength
      // explicit register inits (R0..R6); only R0 = channel count is
      // meaningful for the supported standard filters
      var channels = 1
      if ((firstByte & 0x10) != 0) {
        val initMask = vr.bits(7)
        var r = 0
        while (r < 7) {
          if ((initMask & (1 << r)) != 0) {
            val v = readData()
            if (r == 0) channels = v
          }
          r += 1
        }
      }
      val prog =
        if (newFilter) {
          val vmSize = readData()
          if (vmSize <= 0 || vmSize > 0x10000)
            throw new Malformed("vm program size")
          val vmCode = new Array[Byte](vmSize)
          var j = 0
          while (j < vmSize) { vmCode(j) = vr.bits(8).toByte; j += 1 }
          val p = FilterProg(vmStandardKind(vmCode))
          progs += p
          p
        } else progs(filtPos)
      if (blockLength > 0 && blockStart >= 0)
        invocations += FilterInv(prog.kind, blockStart, blockLength, channels)
    }

    /** Apply pending filter invocations to the entry's OUTPUT COPY
      * (`res` = out[entryStart, targetEnd)), never the shared window:
      * the reference keeps the LZ window raw, so later solid members
      * whose matches reach into a filtered range must copy untouched
      * bytes. Offsets passed to the transforms are file-relative (the
      * reference's E8/ARM position term is the offset within the
      * written file, reset per member even in solid mode).
      */
    private def applyFilters(res: Array[Byte], entryStart: Int): Unit = {
      invocations.foreach { f =>
        val start = f.blockStart - entryStart // file-relative
        val len = math.min(f.blockLength.toLong, res.length.toLong - start).toInt
        if (start >= 0 && len > 4) f.kind match {
          case 1 | 2 => // E8 / E8E9 x86 call-target transform
            RarFilters.e8(res, start, len, e8e9 = f.kind == 2,
              modOffset = false)
          case 3 => // DELTA: per-channel byte-delta decode
            RarFilters.delta(res, start, len, f.channels)
          case _ => ()
        }
      }
      invocations.clear()
    }

    // block-start flag byte (bit 7 = PPM marker): bit 6 = new escape
    // char follows, bit 5 = reset model (heap MB byte follows), low 5
    // bits = max order - 1 (values >16 expand by 3s, up to 64)
    private def ppmInit(): Unit = {
      val b0 = br.bits(8)
      val reset = (b0 & 0x20) != 0
      var mb = 0
      if (reset) mb = br.bits(8)
      else if (ppm == null) throw new Malformed("ppm continue without model")
      if ((b0 & 0x40) != 0) escChar = br.bits(8)
      ppmRc = new PpmdH.Dec(() => br.bits(8))
      ppmRc.init()
      if (reset) {
        var mo = (b0 & 0x1f) + 1
        if (mo > 16) mo = 16 + (mo - 16) * 3
        if (mo == 1) throw new Malformed("ppm order 1")
        // model-allocation bomb guard (same posture as the output
        // ratio guard): a model beyond 64 MB must be backed by at
        // least heap/64 bytes of packed stream, else a ~50-byte entry
        // could demand a 256 MB heap
        val heapMB = mb + 1
        if (heapMB > 64 && heapMB.toLong * (1 << 20) > 64L * totalPacked)
          throw new Unsupported(
            s"ppm model bomb: $heapMB MB for $totalPacked bytes")
        ppm = ppmGuard(new PpmdH(heapMB, mo))
      }
      isPpm = true
    }

    private def ppmDec(): Int = {
      if (br.exhausted) throw new Malformed("ppm underrun")
      val c = ppmGuard(ppm.decodeChar(ppmRc))
      if (c < 0) throw new Malformed("ppm corrupt stream")
      c
    }

    private def readTables(): Unit = {
      br.align()
      val bf = br.peek16
      if ((bf & 0x8000) != 0) { ppmInit(); tablesRead = true; return }
      isPpm = false
      // prevLowDist/lowDistRepCount deliberately NOT reset here: the
      // reference zeroes them only at (non-solid) stream init and
      // preserves them across in-stream table reloads, so a
      // low-distance repeat run crossing a block boundary continues
      if ((bf & 0x4000) == 0) java.util.Arrays.fill(oldTable, 0)
      br.skip(2)
      codes = readCodes(br, oldTable, Array(NC, DC, LDC, RC))
      tablesRead = true
    }

    private def insertOldDist(d: Int): Unit = {
      oldDist(3) = oldDist(2); oldDist(2) = oldDist(1)
      oldDist(1) = oldDist(0); oldDist(0) = d
    }

    private def copyString(length: Int, dist: Int): Unit = {
      if (dist <= 0 || dist > op)
        throw new Malformed("match before window start")
      var src = op - dist
      var n = length
      while (n > 0 && op < outCap) {
        out(op) = out(src); op += 1; src += 1; n -= 1
      }
    }

    /** Decode the next entry of the stream (`unpSize` output bytes).
      * All packed segments the entry's symbols may reach must already
      * be appended. */
    def decodeNext(unpSize: Long): Array[Byte] = {
      if (broken) throw new Malformed("stream poisoned by earlier entry")
      // both checks needed: unpSize alone may be a crafted 2^63-scale
      // value whose sum with op would wrap
      if (unpSize < 0 || unpSize > OutBuf.MaxBytes || op + unpSize > OutBuf.MaxBytes)
        throw new Unsupported(s"rar entry too large: $unpSize")
      if (op + unpSize > 1L * 1024 * 1024 &&
          (op + unpSize) / math.max(1L, totalPacked) > 1000)
        throw new Unsupported(
          s"rar expansion ratio bomb: $totalPacked -> ${op + unpSize}")
      try decodeNextInner(unpSize)
      catch { case e: Throwable => broken = true; throw e }
    }

    private def decodeNextInner(unpSize: Long): Array[Byte] = {
      // Per-member bit-input reset (reference semantics): each member's
      // LZ symbols start byte-aligned at its own segment; unconsumed
      // tail bits/padding of the previous segment are discarded. PPM
      // continuations are exempt — the reference's PPM range coder
      // reads bytes through its own continuous channel (ModelPPM pulls
      // from the unpack read stream directly, not the LZ bit input),
      // so a mid-PPM member boundary must not disturb the byte cursor.
      if (segIdx >= segStarts.length)
        throw new Malformed("decodeNext without an appended segment")
      if (!isPpm) br.seek(segStarts(segIdx), 0, ex = false)
      segIdx += 1
      val entryStart = op
      val targetEnd = (op + unpSize).toInt
      if (targetEnd > out.length) {
        // geometric growth keeps many-entry solid groups linear; the
        // logical write limit stays outCap (= this entry's end)
        val cap = math.max(targetEnd,
          math.min(OutBuf.MaxBytes, out.length * 2L).toInt)
        val no = new Array[Byte](cap)
        System.arraycopy(out, 0, no, 0, op)
        out = no
      }
      outCap = targetEnd
      if (!tablesRead) readTables()
      var fileEnd = false
      while (!fileEnd) {
        if (op >= targetEnd) {
          // output complete: consume the end-of-file marker the
          // encoder leaves at each file boundary (LZ symbol 256 with
          // the new-file flag, or PPM escape 2) so a solid
          // continuation resumes after it. A stream that simply runs
          // out here (no marker — possible for a last file) ends
          // cleanly; any other symbol is left unconsumed.
          if (br.exhausted) fileEnd = true
          else if (isPpm) {
            // the model cannot rewind, so any anomaly here ends the
            // entry leniently (the data already decoded in full); a
            // desynced solid continuation is then caught by its CRC
            try {
              val ch = ppmDec()
              if (ch == escChar) ppmDec() match {
                case 2 => fileEnd = true // PPM mode persists
                case 0 => readTables()
                case _ => fileEnd = true
              }
              else fileEnd = true
            } catch {
              case _: Malformed | _: Unsupported => fileEnd = true
            }
          } else {
            val sp = br.bytePos
            val sb = br.bitPos
            val se = br.exhausted
            try {
              val num = br.decode(codes.ld)
              if (num == 256) {
                val bf = br.peek16
                if ((bf & 0x8000) != 0) { br.skip(1); readTables() }
                else {
                  br.skip(2)
                  tablesRead = (bf & 0x4000) == 0
                  fileEnd = true
                }
              } else if (num == 257) readVmCode(() => br.bits(8))
              else { br.seek(sp, sb, se); fileEnd = true }
            } catch {
              // trailing padding or a corrupt marker must not fail an
              // entry whose output is already complete
              case _: Malformed | _: Unsupported =>
                br.seek(sp, sb, se); fileEnd = true
            }
          }
        }
        else {
        if (br.exhausted) throw new Malformed("bitstream underrun")
        if (isPpm) {
          // in-PPM escape protocol: EscChar then 0=new tables,
          // 1=literal EscChar, 2=end of file, 3=VM code, 4=LZ copy
          // (3-byte distance + length byte), 5=RLE at distance 1
          val ch = ppmDec()
          if (ch == escChar) {
            ppmDec() match {
              case 0 => readTables()
              case 2 => fileEnd = true // PPM mode persists for the next file
              case 3 => readVmCode(ppmDec _)
              case 4 =>
                var dist = 0
                var i = 0
                while (i < 3) { dist = (dist << 8) | ppmDec(); i += 1 }
                val length = ppmDec()
                copyString(length + 32, dist + 2)
              case 5 =>
                val length = ppmDec()
                copyString(length + 32, 1)
              case _ =>
                out(op) = ch.toByte; op += 1
            }
          } else { out(op) = ch.toByte; op += 1 }
        } else {
          val num = br.decode(codes.ld)
          if (num < 256) { out(op) = num.toByte; op += 1 }
          else if (num == 256) {
            // end of block: high bit set -> same file, new tables
            // follow; otherwise the file ends and the next bit says
            // whether tables precede the next (solid) file
            val bf = br.peek16
            if ((bf & 0x8000) != 0) { br.skip(1); readTables() }
            else {
              br.skip(2)
              tablesRead = (bf & 0x4000) == 0
              fileEnd = true
            }
          }
          else if (num == 257) readVmCode(() => br.bits(8))
          else if (num == 258) {
            if (lastLength != 0) copyString(lastLength, lastDist)
          }
          else if (num < 263) {
            val dn = num - 259
            val dist = oldDist(dn)
            var j = dn
            while (j > 0) { oldDist(j) = oldDist(j - 1); j -= 1 }
            oldDist(0) = dist
            val ln = br.decode(codes.rd)
            val length = LDecode(ln) + 2 + br.bits(LBits(ln))
            lastLength = length; lastDist = dist
            copyString(length, dist)
          }
          else if (num < 271) {
            val dn = num - 263
            val dist = SDDecode(dn) + 1 + br.bits(SDBits(dn))
            insertOldDist(dist)
            lastLength = 2; lastDist = dist
            copyString(2, dist)
          }
          else {
            val ln = num - 271
            var length = LDecode(ln) + 3 + br.bits(LBits(ln))
            val dn = br.decode(codes.dd)
            var dist = DDecode(dn) + 1
            if (DBits(dn) > 0) {
              if (dn > 9) {
                if (DBits(dn) > 4) dist += br.bits(DBits(dn) - 4) << 4
                if (lowDistRepCount > 0) {
                  lowDistRepCount -= 1; dist += prevLowDist
                } else {
                  val lowDist = br.decode(codes.ldd)
                  if (lowDist == 16) { lowDistRepCount = 15; dist += prevLowDist }
                  else { dist += lowDist; prevLowDist = lowDist }
                }
              } else dist += br.bits(DBits(dn))
            }
            if (dist >= 0x2000) {
              length += 1
              if (dist >= 0x40000) length += 1
            }
            insertOldDist(dist)
            lastLength = length; lastDist = dist
            copyString(length, dist)
          }
        }
        }
      }
      if (op < targetEnd)
        throw new Malformed(s"short rar stream: $op of $targetEnd")
      val res = java.util.Arrays.copyOfRange(out, entryStart, targetEnd)
      applyFilters(res, entryStart)
      res
    }
  }
}
