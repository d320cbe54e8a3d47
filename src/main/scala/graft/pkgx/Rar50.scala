package graft.pkgx

import graft.core.OutBuf

/** RAR 5.0 ("unpack50") LZ decoder, written from the public format
  * notes (the RARLAB rar5 file-format description and the block layout
  * as documented by independent readers — The Unarchiver, 7-Zip's Rar5
  * handler). NOT derived from the unrar sources.
  *
  * The v5.0 stream drops RAR3's PPMd blocks, RarVM programs, and the
  * low-distance repeat cache in favor of byte-exact framed blocks:
  * each block header carries its size in bytes plus the valid bit
  * count of the final byte, a checksum byte, a last-block flag, and a
  * table-present flag. Tables are the same canonical-Huffman pre-code
  * serialization as v29 but without the old-table delta; alphabets are
  * main 306 / distance 64 / low-distance 16 / rep-length 44. Filters
  * are declarative (delta / E8 / E8E9 / ARM) with 2-bit-counted
  * little-endian operands, applied to written ranges.
  *
  * Reference behavior: tika pkg-module RarParser routes RAR5 archives
  * to junrar, which reads the container but cannot decompress v5.0
  * entries — this decoder therefore exceeds the reference (same
  * posture as RAR3 decryption). Solid groups decode through a shared
  * [[Rar50.Stream]] (window/tables/history persist; v5 files are
  * block-framed, so bit state never crosses entries).
  *
  * Validation note: no rar5-producing tool exists in this sandbox, so
  * the spec-level gates are encoder-backed round-trips (the test suite
  * carries a minimal v5.0 block/table/filter encoder), frozen pins,
  * and mutation robustness — the same evidence class as [[PpmdH]],
  * recorded in PLANS.md.
  */
object Rar50 {
  import Rar29.{BitReader, Codes, Malformed, Unsupported}

  val NC = 306 // main alphabet
  val DC = 64 // distance slots
  val LDC = 16 // low-distance values
  val RC = 44 // rep-length slots
  val BC = 20 // pre-code

  private val MaxFilterBlock = 0x400000
  private val MaxFilters = 8192

  final case class Filter(kind: Int, blockStart: Long, blockLength: Int,
      channels: Int)
  private val FilterDelta = 0
  private val FilterE8 = 1
  private val FilterE8E9 = 2
  private val FilterArm = 3

  /** Decompress one non-solid v5.0 entry (fresh stream). */
  def unpack(data: Array[Byte], off: Int, packSize: Int,
      unpSize: Long): Array[Byte] =
    new Stream().decodeEntry(data, off, packSize, unpSize)

  /** One v5.0 decode stream. Unlike RAR3, v5 files are block-framed —
    * each file's packed area begins at a fresh byte-aligned block
    * header — so a solid group shares only the window (the growing
    * output), the Huffman tables (a solid member's first block may
    * omit them via the table-present flag), the distance history, and
    * the last match length; bit state never crosses entries. Non-solid
    * entries use a fresh instance each.
    */
  final class Stream {
    private var out = new Array[Byte](0)
    private var op = 0
    private var outCap = 0
    private var totalPacked = 0L
    private var broken = false
    private var br: BitReader = null

    private var codes: Codes = null
    private val oldDist = new Array[Int](4)
    private var lastLength = 0
    private val filters = scala.collection.mutable.ArrayBuffer.empty[Filter]

    // current block bounds: last byte index and its valid bit count
    private var blockLastByte = 0
    private var blockBitSize = 0
    private var lastBlock = false

    def readBlockHeader(): Unit = {
      br.align()
      if (br.exhausted) throw new Malformed("rar5 header underrun")
      val flags = br.bits(8)
      val byteCount = ((flags >> 3) & 3) + 1
      if (byteCount == 4) throw new Malformed("rar5 block size width")
      blockBitSize = (flags & 7) + 1
      val saved = br.bits(8)
      var blockSize = 0
      var i = 0
      while (i < byteCount) { blockSize += br.bits(8) << (8 * i); i += 1 }
      val check = 0x5a ^ flags ^ blockSize ^ (blockSize >> 8) ^ (blockSize >> 16)
      if ((check & 0xff) != saved)
        throw new Malformed("rar5 block header checksum")
      if (blockSize <= 0) throw new Malformed("rar5 empty block")
      blockLastByte = br.bytePos + blockSize - 1
      lastBlock = (flags & 0x40) != 0
      if ((flags & 0x80) != 0) // v5.0 lengths are absolute: a zero old table
        codes = Rar29.readCodes(br, new Array[Int](NC + DC + LDC + RC),
          Array(NC, DC, LDC, RC))
    }

    def pastBlockEnd: Boolean =
      br.bytePos > blockLastByte ||
        (br.bytePos == blockLastByte && br.bitPos >= blockBitSize)

    // BitReader.bits caps at 16; the widest distance slots need up to
    // 26 extra high bits
    def bitsWide(n: Int): Int =
      if (n <= 16) br.bits(n)
      else (br.bits(n - 16) << 16) | br.bits(16)

    def slotToLength(slot: Int): Int = {
      var length = 2
      var lBits = 0
      if (slot < 8) length += slot
      else {
        lBits = slot / 4 - 1
        length += (4 | (slot & 3)) << lBits
        length += br.bits(lBits)
      }
      length
    }

    def readFilterData(): Long = {
      val byteCount = br.bits(2) + 1
      var v = 0L
      var i = 0
      while (i < byteCount) { v += (br.bits(8).toLong << (8 * i)); i += 1 }
      v
    }

    def readFilter(): Unit = {
      val blockStart = readFilterData() + op
      var blockLength = readFilterData().toInt
      if (blockLength > MaxFilterBlock) blockLength = 0
      val kind = br.bits(3)
      if (kind > FilterArm)
        throw new Unsupported(s"rar5 filter type $kind")
      val channels = if (kind == FilterDelta) br.bits(5) + 1 else 1
      if (filters.length >= MaxFilters)
        throw new Unsupported("rar5 filter flood")
      if (blockLength > 0)
        filters += Filter(kind, blockStart, blockLength, channels)
    }

    def insertOldDist(d: Int): Unit = {
      oldDist(3) = oldDist(2); oldDist(2) = oldDist(1)
      oldDist(1) = oldDist(0); oldDist(0) = d
    }

    def copyString(length: Int, dist: Int): Unit = {
      if (dist <= 0 || dist > op)
        throw new Malformed("rar5 match before window start")
      var src = op - dist
      var n = length
      while (n > 0 && op < outCap) {
        out(op) = out(src); op += 1; src += 1; n -= 1
      }
    }

    /** Decode the next entry: `packSize` bytes at `data[off..)` hold
      * the entry's complete block-framed stream. */
    def decodeEntry(data: Array[Byte], off: Int, packSize: Int,
        unpSize: Long): Array[Byte] = {
      if (broken) throw new Malformed("rar5 stream poisoned")
      if (unpSize < 0 || unpSize > OutBuf.MaxBytes ||
          op + unpSize > OutBuf.MaxBytes)
        throw new Unsupported(s"rar5 entry too large: $unpSize")
      totalPacked += packSize
      if (op + unpSize > 1L * 1024 * 1024 &&
          (op + unpSize) / math.max(1L, totalPacked) > 1000)
        throw new Unsupported(
          s"rar5 expansion ratio bomb: $totalPacked -> ${op + unpSize}")
      try decodeEntryInner(data, off, packSize, unpSize)
      catch { case e: Throwable => broken = true; throw e }
    }

    private def decodeEntryInner(data: Array[Byte], off: Int, packSize: Int,
        unpSize: Long): Array[Byte] = {
      val entryStart = op
      val targetEnd = (op + unpSize).toInt
      if (targetEnd > out.length) {
        val cap = math.max(targetEnd,
          math.min(OutBuf.MaxBytes, out.length * 2L).toInt)
        val no = new Array[Byte](cap)
        System.arraycopy(out, 0, no, 0, op)
        out = no
      }
      outCap = targetEnd
      val end = math.min(off.toLong + packSize, data.length).toInt
      br = new BitReader(data, off, end)
      readBlockHeader()
      if (codes == null) throw new Malformed("rar5 first block without tables")
      var done = false
      while (!done && op < outCap) {
      if (br.exhausted) throw new Malformed("rar5 bitstream underrun")
      if (pastBlockEnd) {
        var fileDone = false
        while (!fileDone && pastBlockEnd) {
          if (lastBlock) fileDone = true
          else readBlockHeader()
        }
        if (fileDone) done = true
      } else {
        val slot = br.decode(codes.ld)
        if (slot < 256) { out(op) = slot.toByte; op += 1 }
        else if (slot == 256) readFilter()
        else if (slot == 257) {
          if (lastLength != 0) copyString(lastLength, oldDist(0))
        } else if (slot < 262) {
          val dn = slot - 258
          val dist = oldDist(dn)
          var j = dn
          while (j > 0) { oldDist(j) = oldDist(j - 1); j -= 1 }
          oldDist(0) = dist
          val length = slotToLength(br.decode(codes.rd))
          lastLength = length
          copyString(length, dist)
        } else {
          var length = slotToLength(slot - 262)
          val distSlot = br.decode(codes.dd)
          // Long arithmetic: the top slots address up to ~3 GB (the
          // format's 1 GB dictionaries) — far past this reader's
          // 256 MB entry cap, but the math must not wrap
          var dist = 1L
          if (distSlot < 4) dist += distSlot
          else {
            val dBits = distSlot / 2 - 1
            dist += (2L | (distSlot & 1)) << dBits
            if (dBits > 0) {
              if (dBits >= 4) {
                if (dBits > 4) dist += bitsWide(dBits - 4).toLong << 4
                dist += br.decode(codes.ldd)
              } else dist += br.bits(dBits)
            }
          }
          if (dist > 0x100) {
            length += 1
            if (dist > 0x2000) {
              length += 1
              if (dist > 0x40000) length += 1
            }
          }
          if (dist > op)
            throw new Malformed("rar5 match before window start")
          insertOldDist(dist.toInt)
          lastLength = length
          copyString(length, dist.toInt)
        }
      }
    }
      if (op < outCap)
        throw new Malformed(s"short rar5 stream: $op of $outCap")
      val res = java.util.Arrays.copyOfRange(out, entryStart, targetEnd)
      applyFilters(res, entryStart, filters)
      filters.clear()
      res
    }
  }

  /** v5.0 filters transform written file ranges after the LZ pass,
    * applied to the entry's OUTPUT COPY — the shared window always
    * holds the raw stream, so later solid members' matches copy
    * untransformed bytes (reference semantics). Offsets are
    * file-relative: the E8/ARM position term is the block's offset
    * within the written file (WrittenFileSize, reset per member). */
  private def applyFilters(res: Array[Byte], entryStart: Int,
      filters: Iterable[Filter]): Unit = filters.foreach { f =>
    val rel = f.blockStart - entryStart // file-relative
    if (rel >= 0 && rel < res.length) {
      val start = rel.toInt
      val len = math.min(f.blockLength.toLong, res.length.toLong - start).toInt
      f.kind match {
        case FilterE8 | FilterE8E9 =>
          RarFilters.e8(res, start, len, e8e9 = f.kind == FilterE8E9,
            modOffset = true)
        case FilterArm =>
          // BL with the always-condition: patch 24-bit word offsets
          var i = 0
          while (i + 4 <= len) {
            if ((res(start + i + 3) & 0xff) == 0xeb) {
              val o = start + i
              val v = ((res(o) & 0xff) | ((res(o + 1) & 0xff) << 8) |
                ((res(o + 2) & 0xff) << 16)) - (start + i) / 4
              res(o) = v.toByte; res(o + 1) = (v >> 8).toByte
              res(o + 2) = (v >> 16).toByte
            }
            i += 4
          }
        case FilterDelta =>
          RarFilters.delta(res, start, len, f.channels)
        case _ => ()
      }
    }
  }
}
