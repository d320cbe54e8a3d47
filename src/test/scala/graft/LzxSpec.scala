package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer
import graft.pkgx.Lzx

/** LZX (CHM "LZXC" sections) decoding against a test-side writer:
  * verbatim, aligned-offset and uncompressed blocks, matches through all
  * three repeated offsets, 0x8000-byte frames realigned to 16-bit words,
  * and a reset interval of two frames.
  */
class LzxSpec extends AnyFunSuite {
  import LzxSpec._

  /** Words, records and a binary stretch: repeated fields give matches at
    * alternating distances, so the repeated offsets all get used.
    */
  private def plaintext(n: Int): Array[Byte] = {
    val rnd = new scala.util.Random(7)
    val words = Array.fill(400) {
      Array.fill(2 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString
    }
    val sb = new StringBuilder
    while (sb.length < n) rnd.nextInt(4) match {
      case 0 =>
        val k = words(rnd.nextInt(words.length))
        sb ++= s"<td>$k</td><td>${rnd.nextInt(100)}</td><td>$k</td>\n"
      case 1 => sb ++= Array.fill(1 + rnd.nextInt(12))(words(rnd.nextInt(40))).mkString(" ") + ". "
      case 2 => sb ++= Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toChar).mkString
      case _ => sb ++= words(rnd.nextInt(words.length)) + "\n"
    }
    sb.result().take(n).map(_.toByte).toArray
  }

  test("decodes verbatim, aligned and uncompressed blocks across frames and a reset") {
    val plain = plaintext(3 * FrameSize + 9001)
    // interval 1 = frames 0-1, interval 2 = frames 2-3; the aligned block
    // of interval 1 and the second uncompressed block cross a frame edge
    val blocks = Seq(Verbatim -> 20000, Aligned -> 45536,
      Uncompressed -> 4001, Aligned -> 20000, Verbatim -> 5464,
      Uncompressed -> 5000, Verbatim -> 7304)
    assert(blocks.map(_._2).sum == plain.length)
    val w = new LzxWriter(windowBits = 16, resetInterval = 2)
    val (comp, frames) = w.encode(plain, blocks)
    assert(frames.length == 4)
    assert(w.repUses.forall(_ > 0), w.repUses.mkString(","))
    assert(w.longLengths > 0, "no match used the length tree")
    val dec = Lzx.decodeSection(comp, frames, 2, 1L << 16, plain.length)
    assert(java.util.Arrays.equals(dec, plain))
  }

  test("a single frame with one verbatim block") {
    val plain = plaintext(FrameSize)
    val w = new LzxWriter(windowBits = 15, resetInterval = 1)
    val (comp, frames) = w.encode(plain, Seq(Verbatim -> plain.length))
    val dec = Lzx.decodeSection(comp, frames, 1, 1L << 15, plain.length)
    assert(java.util.Arrays.equals(dec, plain))
  }
}

object LzxSpec {
  import TestCodes.{BitWriter, HuffEnc, huffmanLengths}

  val Verbatim = 1
  val Aligned = 2
  val Uncompressed = 3
  val FrameSize = 0x8000

  /** One LZ token: a literal byte, or a match through `slot` (0-2 are the
    * repeated offsets) with `extra` = formatted offset − the slot's base.
    */
  private final case class Tok(lit: Int, len: Int, slot: Int, extra: Int)

  private final case class PreItem(sym: Int, bits: Int, value: Int)

  /** An LZX writer from the format description (MS-PATCH / cabinet SDK):
    * bits go MSB-first into 16-bit little-endian words; each 0x8000-byte
    * output frame starts on a new word, at the offset the reset table
    * records; every `resetInterval` frames the state (code lengths,
    * repeated offsets, window) starts over behind a one-bit E8 header.
    * Matches never cross a frame edge or reach before the interval.
    */
  final class LzxWriter(windowBits: Int, resetInterval: Int) {
    private val slots = windowBits match { case 20 => 42; case 21 => 50; case b => 2 * b }
    private val extraBits = Array.tabulate(slots)(i => math.min(17, math.max(0, i / 2 - 1)))
    private val slotBase = extraBits.scanLeft(0)((b, e) => b + (1 << e))
    private val mainElems = 256 + 8 * slots
    private val maxOffset = math.min(1 << windowBits, slotBase(slots)) - 3

    private val out = new java.io.ByteArrayOutputStream
    private var bw = new BitWriter
    private val frames = ArrayBuffer.empty[Long]
    private var plain: Array[Byte] = Array.emptyByteArray
    private var pos = 0
    private var base = 0
    private var mainLens = new Array[Int](mainElems)
    private var lenLens = new Array[Int](249)
    private val reps = Array(1, 1, 1)
    private var head: Array[Int] = Array.emptyIntArray
    private var chain: Array[Int] = Array.emptyIntArray
    private var hashed = 0

    /** matches per repeated-offset slot, and matches longer than 8 */
    val repUses = new Array[Int](3)
    var longLengths = 0

    def encode(data: Array[Byte], blocks: Seq[(Int, Int)]): (Array[Byte], Array[Long]) = {
      plain = data
      head = Array.fill(1 << 16)(-1)
      chain = new Array[Int](data.length)
      blocks.foreach { case (kind, len) => block(kind, len) }
      require(pos == data.length, "blocks do not cover the input")
      flushBits()
      (out.toByteArray, frames.toArray)
    }

    /** Pad the bit segment to a whole word and store its words little-endian. */
    private def flushBits(): Unit = {
      if (bw.bitLength % 16 != 0) bw.put(0, 16 - bw.bitLength % 16)
      val b = bw.toBytes
      var i = 0
      while (i < b.length) { out.write(b(i + 1)); out.write(b(i)); i += 2 }
      bw = new BitWriter
    }

    /** At a frame's first byte: realign, record its offset and, at an
      * interval's first frame, reset the state and write the E8 bit. */
    private def frameEdge(): Unit =
      if (pos % FrameSize == 0 && frames.length == pos / FrameSize) {
        flushBits()
        frames += out.size.toLong
        if (pos % (FrameSize * resetInterval) == 0) {
          base = pos
          mainLens = new Array[Int](mainElems)
          lenLens = new Array[Int](249)
          java.util.Arrays.fill(reps, 1)
          bw.put(0, 1) // no E8 call translation
        }
      }

    private def block(kind: Int, len: Int): Unit = {
      val interval = FrameSize * resetInterval
      require(pos / interval == (pos + len - 1) / interval, "a block crosses a reset")
      frameEdge()
      bw.put(kind, 3); bw.put(len >>> 8, 16); bw.put(len & 0xff, 8)
      if (kind == Uncompressed) {
        // 1-16 bits of padding to the next word, then raw bytes
        bw.put(0, 16 - bw.bitLength % 16)
        flushBits()
        reps.foreach { r => var k = 0; while (k < 4) { out.write(r >>> (8 * k)); k += 1 } }
        val end = pos + len
        while (pos < end) { frameEdge(); out.write(plain(pos)); pos += 1 }
        if (len % 2 == 1) out.write(0)
      } else {
        val toks = tokenize(pos + len)
        val main = new HuffEnc(huffmanLengths(freq(mainElems, toks.map(mainSym)), 16))
        val lenTree = new HuffEnc(huffmanLengths(
          freq(249, toks.filter(t => t.len > 8).map(_.len - 9)), 16))
        val aligned =
          if (kind != Aligned) null
          else {
            val l = huffmanLengths(freq(8, toks.filter(usesAligned).map(_.extra & 7)), 7)
            new HuffEnc(if (l.forall(_ == 0)) Array.fill(8)(3) else l)
          }
        if (aligned != null) aligned.lengths.foreach(bw.put(_, 3))
        writeLengths(mainLens, main.lengths, 0, 256)
        writeLengths(mainLens, main.lengths, 256, mainElems)
        writeLengths(lenLens, lenTree.lengths, 0, 249)
        mainLens = main.lengths; lenLens = lenTree.lengths
        toks.foreach { t =>
          frameEdge()
          main.emit(bw, mainSym(t))
          if (t.len > 8) { lenTree.emit(bw, t.len - 9); longLengths += 1 }
          if (t.len > 0 && t.slot >= 3) {
            val e = extraBits(t.slot)
            if (aligned != null && e >= 3) {
              bw.put(t.extra >>> 3, e - 3); aligned.emit(bw, t.extra & 7)
            } else bw.put(t.extra, e)
          }
          pos += math.max(t.len, 1)
        }
      }
    }

    private def usesAligned(t: Tok): Boolean = t.len > 0 && t.slot >= 3 && extraBits(t.slot) >= 3

    private def mainSym(t: Tok): Int =
      if (t.len == 0) t.lit else 256 + 8 * t.slot + math.min(t.len - 2, 7)

    private def freq(n: Int, syms: Seq[Int]): Array[Long] = {
      val f = new Array[Long](n)
      syms.foreach(s => f(s) += 1)
      f
    }

    /** Pretree-coded lengths, delta against `prev`: 0-16 a delta, 17/18
      * a run of zeros, 19 a short run of one delta. */
    private def writeLengths(prev: Array[Int], next: Array[Int], from: Int, to: Int): Unit = {
      val items = ArrayBuffer.empty[PreItem]
      def delta(x: Int) = PreItem((prev(x) - next(x) + 17) % 17, 0, 0)
      var x = from
      while (x < to) {
        var run = 1
        while (x + run < to && next(x + run) == next(x)) run += 1
        if (next(x) == 0 && run >= 20) {
          val n = math.min(run, 51); items += PreItem(18, 5, n - 20); x += n
        } else if (next(x) == 0 && run >= 4) {
          val n = math.min(run, 19); items += PreItem(17, 4, n - 4); x += n
        } else if (run >= 4) {
          val n = math.min(run, 5); items += PreItem(19, 1, n - 4); items += delta(x); x += n
        } else { items += delta(x); x += 1 }
      }
      val pre = new HuffEnc(huffmanLengths(freq(20, items.map(_.sym).toSeq), 15))
      pre.lengths.foreach(bw.put(_, 4))
      items.foreach { it => pre.emit(bw, it.sym); bw.put(it.value, it.bits) }
    }

    private def hash(i: Int): Int =
      ((plain(i) & 0xff) << 8 ^ (plain(i + 1) & 0xff) << 4 ^ (plain(i + 2) & 0xff)) & 0xffff

    /** Greedy parse of [pos, end): a repeated offset when it gives three
      * bytes or more, else the longest match in the hash chain. */
    private def tokenize(end: Int): Seq[Tok] = {
      val toks = ArrayBuffer.empty[Tok]
      var i = pos
      while (i < end) {
        while (hashed < i && hashed + 2 < plain.length) {
          chain(hashed) = head(hash(hashed)); head(hash(hashed)) = hashed; hashed += 1
        }
        val limit = math.min(257, math.min(end, (i / FrameSize + 1) * FrameSize) - i)
        def matchLen(off: Int): Int =
          if (off > i - base || off > maxOffset) 0
          else { var n = 0; while (n < limit && plain(i + n - off) == plain(i + n)) n += 1; n }
        val repLens = reps.map(matchLen)
        val k = repLens.indices.maxBy(repLens(_))
        if (repLens(k) >= 3) {
          val off = reps(k); reps(k) = reps(0); reps(0) = off
          repUses(k) += 1
          toks += Tok(0, repLens(k), k, 0)
          i += repLens(k)
        } else {
          var best = 0; var bestOff = 0
          var j = if (i + 2 < plain.length) head(hash(i)) else -1
          var steps = 0
          while (j >= 0 && steps < 64) {
            val n = matchLen(i - j)
            if (n > best) { best = n; bestOff = i - j }
            j = chain(j); steps += 1
          }
          if (best >= 3) {
            val f = bestOff + 2
            val slot = (3 until slots).filter(slotBase(_) <= f).last
            reps(2) = reps(1); reps(1) = reps(0); reps(0) = bestOff
            toks += Tok(0, best, slot, f - slotBase(slot))
            i += best
          } else {
            toks += Tok(plain(i) & 0xff, 0, 0, 0)
            i += 1
          }
        }
      }
      toks.toSeq
    }
  }
}
