package graft.pkgx

import graft.core.Endian

/** LZX decoder for ITSS/CHM "LZXC" compressed sections, from the public
  * LZX format specification (Microsoft cabinet SDK / MS-PATCH; the
  * rendition by M. Russotto that libmspack and chmlib implement).
  *
  * Reference behavior (NOT code) cross-checked against tika-parsers
  * .../microsoft/chm/ChmLzxBlock.java:105-210 — per-interval E8 header
  * (1 bit + optional 32-bit translation size), 3-bit block type,
  * 24-bit block size read as (16<<8)|8, delta-coded Huffman code
  * lengths, and the LZXC framing: the compressed stream is byte-aligned
  * at every 0x8000-byte output frame (the reset table maps frame →
  * compressed offset) and the full decoder state resets every
  * `resetInterval` frames.
  *
  * Bitstream: 16-bit little-endian words, bits consumed MSB-first.
  */
object Lzx {

  final class Malformed(msg: String) extends Exception(msg)

  val FrameSize = 0x8000

  /** number of position slots for a window of 2^bits bytes */
  private def positionSlots(bits: Int): Int = bits match {
    case 20 => 42
    case 21 => 50
    case b => b * 2
  }

  private val MaxSlots = 50
  private val ExtraBits: Array[Int] = {
    val a = new Array[Int](MaxSlots)
    var i = 0
    while (i < MaxSlots) {
      a(i) = math.min(17, math.max(0, (i >> 1) - 1))
      i += 1
    }
    a // 0,0,0,0,1,1,2,2,3,3,... capped at 17
  }
  private val PositionBase: Array[Long] = {
    val a = new Array[Long](MaxSlots)
    var i = 1
    while (i < MaxSlots) { a(i) = a(i - 1) + (1L << ExtraBits(i - 1)); i += 1 }
    a
  }

  private final class BitReader(data: Array[Byte]) {
    var pos = 0          // next byte to load
    private var bitbuf = 0L
    private var bitsLeft = 0
    private var pastEnd = 0 // buffered bits of words that start past the input

    def seekByte(off: Long): Unit = {
      if (off < 0 || off > data.length) throw new Malformed("seek out of range")
      pos = off.toInt; bitbuf = 0L; bitsLeft = 0; pastEnd = 0
    }

    /** one word; a word that starts at or before the end reads missing
      * bytes as zero, one past it only fills a peek */
    private def loadWord(): Unit = {
      if (pos > data.length) pastEnd += 16
      val lo = if (pos < data.length) data(pos) & 0xff else 0
      val hi = if (pos + 1 < data.length) data(pos + 1) & 0xff else 0
      pos += 2
      bitbuf |= ((lo | (hi << 8)).toLong << (48 - bitsLeft))
      bitsLeft += 16
    }

    def peek(n: Int): Int = {
      while (bitsLeft < n) loadWord()
      (bitbuf >>> (64 - n)).toInt
    }

    def skip(n: Int): Unit = {
      if (n > bitsLeft - pastEnd) throw new Malformed("read past end")
      bitbuf <<= n
      bitsLeft -= n
    }

    def read(n: Int): Int = {
      if (n == 0) return 0
      val v = peek(n)
      skip(n)
      v
    }

    def decode(c: PrefixCode): Int = {
      val e = c.decode(peek(c.maxLen))
      if (e < 0) throw new Malformed("invalid huffman code")
      skip(PrefixCode.len(e))
      PrefixCode.sym(e)
    }

    /** uncompressed-block alignment: discard to the next 16-bit
      * boundary; a stream already at a boundary skips a full 16 bits.
      * Whole words a peek loaded ahead go back to the input first.
      */
    def alignUncompressed(): Unit = {
      pos -= (bitsLeft >> 4) << 1
      if ((bitsLeft & 15) == 0) pos += 2
      bitbuf = 0L; bitsLeft = 0; pastEnd = 0
    }

    def readRawLE32(): Long = {
      if (pos + 4 > data.length) throw new Malformed("raw read past end")
      pos += 4
      Endian.le32(data, pos - 4)
    }

    def readRaw(dst: Array[Byte], dstOff: Int, n: Int): Unit = {
      if (pos + n > data.length) throw new Malformed("raw read past end")
      System.arraycopy(data, pos, dst, dstOff, n)
      pos += n
    }

    def skipRaw(n: Int): Unit = { pos += n }
  }

  private def code(lens: Array[Int], maxLen: Int = 16): PrefixCode =
    new PrefixCode(lens, maxLen, () => new Malformed("bad code length"))

  /** LZX code lengths are DELTA-coded against the previous block's
    * lengths via a 20-symbol pretree: sym 0-16 = (prev + 17 - sym) % 17,
    * 17 = run of 4-19 zeros, 18 = run of 20-51 zeros, 19 = short run of
    * a delta-decoded value.
    */
  private def readLengths(br: BitReader, lens: Array[Int], first: Int,
      last: Int): Unit = {
    val preLens = new Array[Int](20)
    var i = 0
    while (i < 20) { preLens(i) = br.read(4); i += 1 }
    val pre = code(preLens)
    var x = first
    while (x < last) {
      val z = br.decode(pre)
      if (z == 17) {
        var n = 4 + br.read(4)
        while (n > 0 && x < last) { lens(x) = 0; x += 1; n -= 1 }
      } else if (z == 18) {
        var n = 20 + br.read(5)
        while (n > 0 && x < last) { lens(x) = 0; x += 1; n -= 1 }
      } else if (z == 19) {
        var n = 4 + br.read(1)
        val z2 = br.decode(pre)
        if (z2 > 16) throw new Malformed("bad pretree run symbol")
        val v = (lens(x) + 17 - z2) % 17
        while (n > 0 && x < last) { lens(x) = v; x += 1; n -= 1 }
      } else {
        lens(x) = (lens(x) + 17 - z) % 17
        x += 1
      }
    }
  }

  private val BlockVerbatim = 1
  private val BlockAligned = 2
  private val BlockUncompressed = 3

  /** Decode a whole LZXC content section.
    *
    * @param comp         compressed section bytes
    * @param frameOffsets compressed byte offset of each 0x8000-byte
    *                     output frame (the LZXC reset table)
    * @param resetInterval frames between full decoder-state resets
    * @param windowBytes  sliding-window size (2^15 .. 2^21)
    * @param outLen       total uncompressed length
    */
  def decodeSection(comp: Array[Byte], frameOffsets: Array[Long],
      resetInterval: Int, windowBytes: Long, outLen: Long): Array[Byte] = {
    if (outLen > graft.core.OutBuf.MaxBytes) throw new graft.engine.ZipBombDetected
    if (outLen < 0) throw new Malformed("negative length")
    var winBits = 0
    while ((1L << winBits) < windowBytes) winBits += 1
    if (winBits < 15 || winBits > 21 || (1L << winBits) != windowBytes)
      throw new Malformed(s"bad window size $windowBytes")
    if (resetInterval <= 0) throw new Malformed("bad reset interval")
    val slots = positionSlots(winBits)
    val mainElems = 256 + (slots << 3)
    val out = new Array[Byte](outLen.toInt)
    val nFrames = ((outLen + FrameSize - 1) / FrameSize).toInt
    if (frameOffsets.length < nFrames) throw new Malformed("reset table short")
    var sawIntel = 0L

    var f0 = 0
    while (f0 < nFrames) {
      // ---- fresh state per reset interval
      val br = new BitReader(comp)
      br.seekByte(frameOffsets(f0))
      val mainLens = new Array[Int](mainElems)
      val lenLens = new Array[Int](249)
      var main: PrefixCode = null
      var lenTree: PrefixCode = null
      var aligned: PrefixCode = null
      var r0 = 1L; var r1 = 1L; var r2 = 1L
      var headerRead = false
      var blockType = 0
      var blockRemaining = 0L
      var blockSize = 0L
      var outPos = f0.toLong * FrameSize
      val intervalEnd = math.min(outLen, (f0.toLong + resetInterval) * FrameSize)
      var frame = f0
      var frameEnd = math.min(outPos + FrameSize, outLen)

      while (outPos < intervalEnd) {
        if (outPos >= frameEnd) {
          // next frame: the compressed stream is byte-aligned here; the
          // reset table is authoritative (reference decodes per-frame
          // segments straight from it). Mid-uncompressed-block the raw
          // cursor is already at the right byte — don't disturb it.
          frame += 1
          frameEnd = math.min(frameEnd + FrameSize, outLen)
          if (!(blockType == BlockUncompressed && blockRemaining > 0) &&
              frame < nFrames)
            br.seekByte(frameOffsets(frame))
        }
        if (blockRemaining == 0) {
          if (blockType == BlockUncompressed) br.seekByte(br.pos) // resync bits
          if (!headerRead) {
            headerRead = true
            if (br.read(1) == 1) {
              sawIntel = ((br.read(16).toLong << 16) | br.read(16))
            }
          }
          blockType = br.read(3)
          blockRemaining = (br.read(16).toLong << 8) | br.read(8)
          blockSize = blockRemaining
          blockType match {
            case BlockAligned =>
              val aLens = new Array[Int](8)
              var i = 0
              while (i < 8) { aLens(i) = br.read(3); i += 1 }
              aligned = code(aLens, 7)
              readLengths(br, mainLens, 0, 256)
              readLengths(br, mainLens, 256, mainElems)
              main = code(mainLens)
              readLengths(br, lenLens, 0, 249)
              lenTree = code(lenLens)
            case BlockVerbatim =>
              readLengths(br, mainLens, 0, 256)
              readLengths(br, mainLens, 256, mainElems)
              main = code(mainLens)
              readLengths(br, lenLens, 0, 249)
              lenTree = code(lenLens)
            case BlockUncompressed =>
              br.alignUncompressed()
              r0 = br.readRawLE32(); r1 = br.readRawLE32(); r2 = br.readRawLE32()
              if (r0 <= 0 || r1 <= 0 || r2 <= 0)
                throw new Malformed("bad uncompressed-block offsets")
            case t => throw new Malformed(s"bad block type $t")
          }
        }

        val run = math.min(blockRemaining, frameEnd - outPos)
        if (blockType == BlockUncompressed) {
          br.readRaw(out, outPos.toInt, run.toInt)
          outPos += run
          blockRemaining -= run
          // an odd-sized uncompressed block carries one pad byte
          if (blockRemaining == 0 && (blockSize & 1) == 1) br.skipRaw(1)
        } else {
          if (main == null || main.isEmpty)
            throw new Malformed("empty main tree")
          var produced = 0L
          while (produced < run) {
            val sym = br.decode(main)
            if (sym < 256) {
              out(outPos.toInt) = sym.toByte
              outPos += 1
              produced += 1
            } else {
              val s = sym - 256
              val slot = s >> 3
              val lenHdr = s & 7
              var matchLen = lenHdr + 2
              if (lenHdr == 7) {
                if (lenTree == null || lenTree.isEmpty)
                  throw new Malformed("empty length tree")
                matchLen += br.decode(lenTree)
              }
              var off = 0L
              if (slot == 0) off = r0
              else if (slot == 1) { off = r1; r1 = r0; r0 = off }
              else if (slot == 2) { off = r2; r2 = r0; r0 = off }
              else {
                if (slot >= slots) throw new Malformed("bad position slot")
                val extra = ExtraBits(slot)
                if (blockType == BlockAligned && extra >= 3)
                  off = PositionBase(slot) - 2 +
                    (br.read(extra - 3).toLong << 3) + br.decode(aligned)
                else
                  off = PositionBase(slot) - 2 + br.read(extra)
                r2 = r1; r1 = r0; r0 = off
              }
              val base = f0.toLong * FrameSize
              if (off <= 0 || off > outPos - base)
                throw new Malformed(
                  s"match before window/reset (off=$off outPos=$outPos base=$base)")
              // some encoders let the final match run past the declared
              // output length (seen in real HTML Help files) — truncate,
              // as other public decoders do
              if (outPos + matchLen > outLen) matchLen = (outLen - outPos).toInt
              var i = 0
              val src = outPos - off
              while (i < matchLen) {
                out(outPos.toInt) = out((src + i).toInt)
                outPos += 1
                i += 1
              }
              produced += matchLen
            }
          }
          blockRemaining -= produced
          if (blockRemaining < 0) blockRemaining = 0
        }
      }
      f0 += resetInterval
    }

    // Intel E8 call-translation reversal, per 32 KiB frame over the first
    // 32768 frames, skipping each frame's last 10 bytes (cab SDK rule).
    if (sawIntel != 0) {
      val fileSize = sawIntel
      var frame = 0
      while (frame < 32768 && frame.toLong * FrameSize < outLen) {
        val start = frame.toLong * FrameSize
        val end = math.min(start + FrameSize, outLen) - 10
        var i = start
        while (i < end) {
          if (out(i.toInt) == 0xe8.toByte) {
            val absS = Endian.leInt(out, (i + 1).toInt).toLong // signed 32-bit
            val curpos = i
            if (absS >= -curpos && absS < fileSize) {
              val rel = if (absS >= 0) absS - curpos else absS + fileSize
              Endian.putLe32(out, (i + 1).toInt, rel)
            }
            i += 5
          } else i += 1
        }
        frame += 1
      }
    }
    out
  }
}
