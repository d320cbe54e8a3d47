package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pkgx.{Rar29, Rar50, RarUtil}

/** RAR 5.0 LZ decoding via encoder-backed fixtures: a minimal v5.0
  * block/table/symbol encoder lives in this spec (no rar5-producing
  * tool exists in this sandbox — same evidence class as the PPMd
  * route, recorded in PLANS.md). Filter semantics are pinned by
  * hand-computed expected bytes, not by replaying the decoder's own
  * transform.
  */
class Rar50Spec extends AnyFunSuite {
  import TestCodes.{BitWriter, HuffEnc}

  // --- minimal v5.0 encoder ------------------------------------------

  // literals at 9 bits, all 50 control/length-slot symbols at 10:
  // Kraft 256/512 + 50/1024 < 1 (incomplete codes are fine — the
  // encoder never emits undefined space)
  private val mainLens: Array[Int] = Array.tabulate(Rar50.NC) { i =>
    if (i < 256) 9 else 10
  }
  private val distLens: Array[Int] = Array.fill(Rar50.DC)(6)
  private val lowDistLens: Array[Int] = Array.fill(Rar50.LDC)(4)
  private val repLens: Array[Int] = Array.fill(Rar50.RC)(6)

  /** v5.0 stream builder over the fixed code set above; `startOp`
    * continues a solid window, `start(tables = false)` reuses the
    * previous member's tables via the table-present flag. */
  private final class Rar5Writer(startOp: Int = 0) {
    private val bw = new BitWriter
    private val main = new HuffEnc(mainLens)
    private val dist = new HuffEnc(distLens)
    private val lowDist = new HuffEnc(lowDistLens)
    private val rep = new HuffEnc(repLens)
    private var op = startOp // decoder write position
    private var emittedTables = false
    private var tablePresent = true

    private def writeTables(): Unit = {
      // pre-table: symbols {0,4,6,9,10} at length 3, as raw 4-bit lens
      val preLens = new Array[Int](Rar50.BC)
      Seq(0, 4, 6, 9, 10).foreach(preLens(_) = 3)
      preLens.foreach(bw.put(_, 4))
      val pre = new HuffEnc(preLens)
      // every table entry is a literal pre-symbol equal to its length
      (mainLens ++ distLens ++ lowDistLens ++ repLens)
        .foreach(pre.emit(bw, _))
      emittedTables = true
    }

    def lit(b: Int): Unit = { main.emit(bw, b & 0xff); op += 1 }
    def text(s: String): Unit =
      s.getBytes("ISO-8859-1").foreach(b => lit(b & 0xff))

    /** inverse of slotToLength: (slot, extraBits, extraVal) */
    private def lenSlot(len: Int): (Int, Int, Int) = {
      val rem = len - 2
      if (rem < 8) (rem, 0, 0)
      else {
        var slot = 8
        while (slot < 44) {
          val lBits = slot / 4 - 1
          val base = (4 | (slot & 3)) << lBits
          if (rem >= base && rem - base < (1 << lBits))
            return (slot, lBits, rem - base)
          slot += 1
        }
        fail(s"length $len out of slot range")
      }
    }

    /** decoder applies +1 length corrections past these distances */
    private def corr(d: Int): Int =
      (if (d > 0x100) 1 else 0) + (if (d > 0x2000) 1 else 0) +
        (if (d > 0x40000) 1 else 0)

    /** new match: emits main slot 262+, then distance */
    def matchNew(d: Int, len: Int): Unit = {
      val emitLen = len - corr(d)
      require(emitLen >= 2, "length after correction")
      val (ls, lb, lv) = lenSlot(emitLen)
      main.emit(bw, 262 + ls)
      if (lb > 0) bw.put(lv, lb)
      val dv = d - 1
      if (dv < 4) dist.emit(bw, dv)
      else {
        var slot = 4
        var done = false
        while (!done && slot < 64) {
          val dBits = slot / 2 - 1
          val base = (2 | (slot & 1)) << dBits
          if (dv >= base && dv - base < (1 << dBits)) {
            dist.emit(bw, slot)
            val extra = dv - base
            if (dBits >= 4) {
              if (dBits > 4) bw.put(extra >>> 4, dBits - 4)
              lowDist.emit(bw, extra & 15)
            } else bw.put(extra, dBits)
            done = true
          }
          slot += 1
        }
        require(done, s"distance $d out of slot range")
      }
      op += len
    }

    /** reuse history slot dn (0..3) with a rep-table length */
    def matchRep(dn: Int, d: Int, len: Int): Unit = {
      val emitLen = len // rep matches read the length from the rep table
      val (ls, lb, lv) = lenSlot(emitLen)
      main.emit(bw, 258 + dn)
      rep.emit(bw, ls)
      if (lb > 0) bw.put(lv, lb)
      op += len
    }

    /** repeat the last length at the most recent distance */
    def repLast(len: Int): Unit = { main.emit(bw, 257); op += len }

    def filter(kind: Int, start: Int, length: Int, channels: Int = 1): Unit = {
      main.emit(bw, 256)
      def data(v: Long): Unit = {
        var bytes = 1
        while (bytes < 4 && (v >>> (8 * bytes)) != 0) bytes += 1
        bw.put(bytes - 1, 2)
        var i = 0
        while (i < bytes) { bw.put(((v >>> (8 * i)) & 0xff).toInt, 8); i += 1 }
      }
      data((start - op).toLong) // relative to the current write position
      data(length.toLong)
      bw.put(kind, 3)
      if (kind == 0) bw.put(channels - 1, 5)
    }

    /** frame the stream as one last-block with tables */
    def finish(): Array[Byte] = {
      if (!emittedTables) fail("call start() first")
      val bytes = bw.toBytes
      val bits = bw.bitLength
      val blockBitSize = ((bits - 1) % 8) + 1
      val out = new java.io.ByteArrayOutputStream
      var sizeBytes = 1
      while (sizeBytes < 3 && (bytes.length >>> (8 * sizeBytes)) != 0)
        sizeBytes += 1
      val flags = (if (tablePresent) 0x80 else 0) | 0x40 |
        ((sizeBytes - 1) << 3) | (blockBitSize - 1)
      val check = 0x5a ^ flags ^ bytes.length ^ (bytes.length >> 8) ^
        (bytes.length >> 16)
      out.write(flags)
      out.write(check & 0xff)
      var i = 0
      while (i < sizeBytes) { out.write((bytes.length >> (8 * i)) & 0xff); i += 1 }
      out.write(bytes)
      out.toByteArray
    }

    def start(tables: Boolean = true): this.type = {
      if (tables) writeTables()
      else { emittedTables = true; tablePresent = false }
      this
    }
  }

  // --- RAR5 container with a compressed entry ------------------------

  private def le32(v: Long) =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  private def vint(v: Long): Array[Byte] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var x = v
    while ({ b += ((x & 0x7f) | (if ((x >> 7) != 0) 0x80 else 0)).toByte
      x >>= 7; x != 0 }) ()
    b.toArray
  }

  private def rar5Packed(name: String, packed: Array[Byte],
      unp: Array[Byte]): Array[Byte] =
    rar5Multi(Seq((name, packed, unp, false)))

  /** entries = (name, packedSegment, plainBytes, solidFlag) */
  private def rar5Multi(
      entries: Seq[(String, Array[Byte], Array[Byte], Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    out.write(Array[Byte]('R', 'a', 'r', '!', 0x1a, 0x07, 0x01, 0x00))
    def block(header: Array[Byte], payload: Array[Byte]): Unit = {
      out.write(le32(0))
      out.write(vint(header.length))
      out.write(header)
      out.write(payload)
    }
    block(Array[Byte](1, 0, 0), Array.emptyByteArray)
    for ((name, packed, unp, solid) <- entries) {
      val nameB = name.getBytes("UTF-8")
      val crc = new java.util.zip.CRC32
      crc.update(unp)
      val h = new java.io.ByteArrayOutputStream
      h.write(2) // type: file
      h.write(2) // hflags: data area
      h.write(vint(packed.length))
      h.write(4) // file flags: crc present
      h.write(vint(unp.length))
      h.write(0) // attributes
      h.write(le32(crc.getValue))
      h.write(vint((3L << 7) | (if (solid) 0x40 else 0))) // compInfo
      h.write(1) // host os
      h.write(vint(nameB.length)); h.write(nameB)
      block(h.toByteArray, packed)
    }
    block(Array[Byte](5, 0, 0), Array.emptyByteArray)
    out.toByteArray
  }

  private def extractOne(archive: Array[Byte]): RarUtil.Entry = {
    val a = RarUtil.parse(archive)
    assert(a.entries.size == 1)
    a.entries.head
  }

  // --- tests ----------------------------------------------------------

  test("literal stream round-trips through the container walk") {
    val data = ("rar five point zero literals. " * 120).getBytes
    val w = new Rar5Writer().start()
    data.foreach(b => w.lit(b & 0xff))
    val e = extractOne(rar5Packed("lit.txt", w.finish(), data))
    assert(e.stored.isDefined, "v5 literal entry must decode")
    assert(java.util.Arrays.equals(e.stored.get, data))
  }

  test("matches: new, history slots, rep-last, length corrections") {
    val phrase = "the five kinds of match encodings in rar five. "
    val buf = new scala.collection.mutable.ArrayBuffer[Byte]
    val w = new Rar5Writer().start()
    def lit(s: String): Unit = { w.text(s); buf ++= s.getBytes("ISO-8859-1") }
    def copy(d: Int, len: Int): Unit = {
      var i = 0
      while (i < len) { buf += buf(buf.length - d); i += 1 }
    }
    lit(phrase)
    w.matchNew(phrase.length, 30); copy(phrase.length, 30) // overlap copy
    lit("X")
    w.matchRep(0, phrase.length, 12); copy(phrase.length, 12) // history hit
    w.repLast(12); copy(phrase.length, 12) // rep-last repeats it
    // a long-range match with the >0x100 length correction: pad out
    // past 256 bytes then copy from the start
    while (buf.length < 400) { w.lit('p'); buf += 'p'.toByte }
    w.matchNew(390, 20); copy(390, 20)
    val data = buf.toArray
    val e = extractOne(rar5Packed("match.bin", w.finish(), data))
    assert(e.stored.isDefined, "v5 match entry must decode")
    assert(java.util.Arrays.equals(e.stored.get, data))
  }

  test("delta filter output matches hand-computed expectation") {
    val w = new Rar5Writer().start()
    w.filter(0, 0, 6, channels = 2)
    Seq(1, 2, 3, 4, 5, 6).foreach(w.lit)
    // channel walk: ch0 consumes 1,2,3 -> 255,253,250 at 0,2,4;
    // ch1 consumes 4,5,6 -> 252,247,241 at 1,3,5
    val expected = Array(255, 252, 253, 247, 250, 241).map(_.toByte)
    val e = extractOne(rar5Packed("delta.bin", w.finish(), expected))
    assert(e.stored.isDefined, "delta entry must decode")
    assert(e.stored.get.toSeq === expected.toSeq)
  }

  test("e8 filter output matches hand-computed expectation") {
    val w = new Rar5Writer().start()
    w.filter(1, 0, 12)
    val raw = Array(0x41, 0x41, 0x41, 0x41, 0xE8, 0x10, 0, 0, 0, 0x42, 0x42, 0x42)
    raw.foreach(w.lit)
    // E8 at index 4; addr 0x10 is positive and < 2^24, so the decoder
    // subtracts the post-opcode offset 5: 0x10 - 5 = 0x0B
    val expected = raw.map(_.toByte)
    expected(5) = 0x0B
    val e = extractOne(rar5Packed("e8.bin", w.finish(), expected))
    assert(e.stored.isDefined, "e8 entry must decode")
    assert(e.stored.get.toSeq === expected.toSeq)
  }

  test("arm filter output matches hand-computed expectation") {
    val w = new Rar5Writer().start()
    w.filter(3, 0, 8)
    val raw = Array(0x40, 0x00, 0x00, 0xEB, 0x41, 0x41, 0x41, 0x41)
    raw.foreach(w.lit)
    // BL word at 0: 24-bit offset 0x40 minus wordIndex 0/4=0 -> 0x40;
    // position 0 leaves it unchanged; assert the non-branch word is
    // untouched and decode succeeds (offset arithmetic pinned below)
    val expected = raw.map(_.toByte)
    val e = extractOne(rar5Packed("arm.bin", w.finish(), expected))
    assert(e.stored.isDefined, "arm entry must decode")
    assert(e.stored.get.toSeq === expected.toSeq)
  }

  test("arm filter subtracts the word index at a non-zero position") {
    val w = new Rar5Writer().start()
    // 8 pad bytes, then the filtered range starts at 8
    (0 until 8).foreach(_ => w.lit(0x30))
    w.filter(3, 8, 8)
    val raw = Array(0x40, 0x00, 0x00, 0xEB, 0x41, 0x41, 0x41, 0x41)
    raw.foreach(w.lit)
    val expected = new Array[Byte](16)
    java.util.Arrays.fill(expected, 0, 8, 0x30.toByte)
    raw.zipWithIndex.foreach { case (b, i) => expected(8 + i) = b.toByte }
    // the filter range is [8,16); the BL word sits at range offset 0 but
    // file offset 8 -> 24-bit value 0x40 - 8/4 = 0x3E
    expected(8) = 0x3E
    val e = extractOne(rar5Packed("arm2.bin", w.finish(), expected))
    assert(e.stored.isDefined, "arm entry must decode")
    assert(e.stored.get.toSeq === expected.toSeq)
  }

  test("crc mismatch surfaces as an undecoded entry") {
    val data = "crc gate".getBytes
    val w = new Rar5Writer().start()
    data.foreach(b => w.lit(b & 0xff))
    val archive = rar5Packed("crc.txt", w.finish(), data)
    // corrupt the stored crc32 (header field right before compInfo)
    val needle = {
      val c = new java.util.zip.CRC32
      c.update(data)
      le32(c.getValue)
    }
    val idx = archive.indexOfSlice(needle)
    assert(idx > 0)
    archive(idx) = (archive(idx) ^ 0xff).toByte
    val e = extractOne(archive)
    assert(e.stored.isEmpty, "crc-mismatched entry must not surface")
  }

  test("rar5 compressed entry recurses through the full extractor") {
    import graft.core.{DocRow, Span}
    import graft.engine.Extractor
    import graft.corpus.Corpus
    val inner = "Compressed rar five content extracted end to end. " * 30
    val w = new Rar5Writer().start()
    w.text(inner)
    val archive = rar5Packed("note.txt", w.finish(), inner.getBytes)
    val d = Extractor.extract(DocRow("five.rar",
      Seq(Span("bytes", Corpus.b64(archive), null, 0))))
    assert(d.mime == graft.mime.MimeDb.Rar)
    val txt = d.spans.filter(_.kind == graft.core.Span.KindText)
      .map(_.text).mkString("\n")
    assert(txt.contains("rar five content"), "inner text must surface")
  }

  test("v5 solid: window and tables persist across entries") {
    val p1 = "the rar five solid dictionary seed content. "
    val w1 = new Rar5Writer().start()
    w1.text(p1)
    val seg1 = w1.finish()
    // entry 2: no tables of its own (reuses entry 1's), matches into
    // entry 1's window across the member boundary
    val w2 = new Rar5Writer(startOp = p1.length).start(tables = false)
    w2.matchNew(p1.length, 20)
    w2.text(" fresh tail")
    val seg2 = w2.finish()
    val out2 = p1.substring(0, 20) + " fresh tail"
    val a = RarUtil.parse(rar5Multi(Seq(
      ("a.txt", seg1, p1.getBytes, false),
      ("b.txt", seg2, out2.getBytes, true))))
    assert(a.entries.size == 2)
    assert(a.entries(0).stored.isDefined, "v5 solid head")
    assert(new String(a.entries(0).stored.get) === p1)
    assert(a.entries(1).stored.isDefined, "v5 solid continuation")
    assert(new String(a.entries(1).stored.get) === out2)
  }

  test("v5 solid: filters transform the output copy, window stays raw") {
    // member 1 decodes 8 literals under a delta filter; member 2
    // (solid) copies member 1's full range out of the window and must
    // receive the RAW pre-filter bytes — the reference applies filters
    // to the written file only, never to the shared LZ window.
    val raw = Array(10, 20, 30, 40, 50, 60, 70, 80)
    val w1 = new Rar5Writer().start()
    w1.filter(0, 0, 8, channels = 1) // delta over [0, 8)
    raw.foreach(w1.lit)
    val exp1 = new Array[Byte](8) // delta-decode of the raw literals
    var prev = 0
    for (i <- 0 until 8) { prev = (prev - raw(i)) & 0xff; exp1(i) = prev.toByte }
    val w2 = new Rar5Writer(startOp = 8).start(tables = false)
    w2.matchNew(8, 8)
    val exp2 = raw.map(_.toByte) // raw window bytes, NOT exp1
    val a = RarUtil.parse(rar5Multi(Seq(
      ("f1.bin", w1.finish(), exp1, false),
      ("f2.bin", w2.finish(), exp2, true))))
    assert(a.entries(0).stored.isDefined, "filtered member decodes")
    assert(a.entries(0).stored.get.toSeq === exp1.toSeq)
    assert(a.entries(1).stored.isDefined, "solid copy out of the raw window")
    assert(a.entries(1).stored.get.toSeq === exp2.toSeq)
  }

  test("v5 solid: a failed member poisons the rest of the chain") {
    val p1 = "solid chain head. "
    val w1 = new Rar5Writer().start()
    w1.text(p1)
    val seg1 = w1.finish()
    val w3 = new Rar5Writer(startOp = p1.length + 10).start()
    w3.text("tail member")
    val seg3 = w3.finish()
    val a = RarUtil.parse(rar5Multi(Seq(
      ("ok.txt", seg1, p1.getBytes, false),
      ("bad.bin", Array[Byte](1, 2, 3), new Array[Byte](10), true),
      ("tail.txt", seg3, "tail member".getBytes, true))))
    assert(a.entries(0).stored.isDefined)
    assert(a.entries(1).stored.isEmpty, "corrupt member fails")
    assert(a.entries(2).stored.isEmpty, "post-failure member poisoned")
  }

  test("v5 solid head missing: orphan continuation fails cleanly") {
    val w = new Rar5Writer(startOp = 50).start()
    w.matchNew(40, 10)
    val a = RarUtil.parse(rar5Multi(Seq(
      ("orphan.bin", w.finish(), new Array[Byte](10), true))))
    assert(a.entries.head.stored.isEmpty)
  }

  test("corrupt v5 streams fail cleanly across random mutations") {
    val data = ("mutation stability for rar five " * 60).getBytes
    val w = new Rar5Writer().start()
    data.foreach(b => w.lit(b & 0xff))
    val packed = w.finish()
    val rnd = new java.util.Random(77)
    var decoded = 0
    var failed = 0
    for (_ <- 0 until 300) {
      val m = packed.clone()
      for (_ <- 0 to rnd.nextInt(4))
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      try {
        Rar50.unpack(m, 0, m.length, data.length.toLong)
        decoded += 1
      } catch {
        case _: Rar29.Unsupported | _: Rar29.Malformed => failed += 1
      }
    }
    assert(decoded + failed == 300)
  }

  test("truncated v5 stream never crashes") {
    val data = ("truncate me " * 50).getBytes
    val w = new Rar5Writer().start()
    data.foreach(b => w.lit(b & 0xff))
    val packed = w.finish()
    for (cut <- 1 until math.min(packed.length, 64)) {
      val t = java.util.Arrays.copyOfRange(packed, 0, cut)
      try { Rar50.unpack(t, 0, t.length, data.length.toLong); () }
      catch { case _: Rar29.Unsupported | _: Rar29.Malformed => () }
    }
  }
}
