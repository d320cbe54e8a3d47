package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pkgx.{PpmdH, RarUtil}

/** Solid RAR3 archives: consecutive entries share one v29 decode
  * stream (window, tables, distance history, PPM model), which the
  * reference handles via junrar — this was the last RAR3 parity gap.
  * Fixtures come from a minimal in-spec v29 LZ encoder plus the PPMd
  * encoder; cross-entry matches and mid-stream packed-size splits are
  * the properties under test.
  */
class RarSolidSpec extends AnyFunSuite {
  import TestCodes.{BitWriter, HuffEnc}

  // --- minimal v29 LZ encoder ----------------------------------------

  // v29 decode tables (mirror of Rar29's constants, needed for slot
  // inversion in the encoder)
  private val LDecode = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 10, 12, 14, 16,
    20, 24, 28, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224)
  private val LBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2,
    2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5)
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

  private val NC = 299
  private val mainLens: Array[Int] =
    Array.tabulate(NC)(i => if (i < 256) 9 else 10)
  private val distLens = Array.fill(60)(6)
  private val lowDistLens = Array.fill(17)(5)
  private val repLens = Array.fill(28)(5)

  /** Continuous v29 stream writer (the solid case: one stream, many
    * files). Emits absolute tables (old-table zeroed), literals,
    * matches, and the end-of-file marker with its next-file table
    * flag.
    */
  private final class Rar29Writer {
    val bw = new BitWriter
    private val main = new HuffEnc(mainLens)
    private val dist = new HuffEnc(distLens)
    private val lowDist = new HuffEnc(lowDistLens)
    private var op = 0

    def writeTables(): Unit = {
      bw.align()
      bw.put(0, 2) // not PPM (bit15=0), zero old table (bit14=0)
      val preLens = new Array[Int](20)
      Seq(0, 5, 6, 9, 10).foreach(preLens(_) = 3)
      preLens.foreach(bw.put(_, 4))
      val pre = new HuffEnc(preLens)
      (mainLens ++ distLens ++ lowDistLens ++ repLens)
        .foreach(pre.emit(bw, _))
    }

    def lit(b: Int): Unit = { main.emit(bw, b & 0xff); op += 1 }
    def text(s: String): Unit =
      s.getBytes("ISO-8859-1").foreach(b => lit(b & 0xff))

    /** new match via 271+: length 3.. with the >=0x2000 corrections */
    def matchNew(d: Int, len: Int): Unit = {
      val corr = (if (d >= 0x2000) 1 else 0) + (if (d >= 0x40000) 1 else 0)
      val emitLen = len - corr
      require(emitLen >= 3, "length after correction")
      var ln = 0
      while (!(emitLen - 3 >= LDecode(ln) &&
          emitLen - 3 - LDecode(ln) < (1 << LBits(ln)))) ln += 1
      main.emit(bw, 271 + ln)
      if (LBits(ln) > 0) bw.put(emitLen - 3 - LDecode(ln), LBits(ln))
      val dv = d - 1
      var dn = 0
      while (!(dv >= DDecode(dn) &&
          (dn == 59 || dv < DDecode(dn + 1)))) dn += 1
      dist.emit(bw, dn)
      val extra = dv - DDecode(dn)
      if (DBits(dn) > 0) {
        if (dn > 9) {
          // low-distance path: optional high bits then a 0..15 LDD
          // symbol (never 16, so the decoder's rep cache stays idle)
          if (DBits(dn) > 4) bw.put(extra >>> 4, DBits(dn) - 4)
          lowDist.emit(bw, extra & 15)
        } else bw.put(extra, DBits(dn))
      }
      op += len
    }

    /** end the current file; nextTables=true makes the next (solid)
      * file re-read tables */
    def endFile(nextTables: Boolean): Unit = {
      main.emit(bw, 256)
      bw.put(0, 1) // bit15=0: file ends
      bw.put(if (nextTables) 1 else 0, 1)
    }

    private var lastCut = 0

    /** Close the current member's packed segment at a byte boundary and
      * return its bytes (reference model: each member's packed data
      * starts byte-aligned — the decoder re-inits its bit input per
      * member, discarding the previous segment's flush padding).
      */
    def cutSegment(): Array[Byte] = {
      bw.align()
      val all = bw.toBytes
      val seg = java.util.Arrays.copyOfRange(all, lastCut, all.length)
      lastCut = all.length
      seg
    }
  }

  // --- RAR4 container with N entries over one packed stream ----------

  private def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
  private def le32(v: Long) =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  private def crcOf(str: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(str.getBytes("ISO-8859-1"))
    c.getValue
  }

  /** entries = (name, unpSize, fileCrc, packedSegment, solidFlag) */
  private def rar4Multi(
      entries: Seq[(String, Int, Long, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    out.write(Array[Byte]('R', 'a', 'r', '!', 0x1a, 0x07, 0x00))
    out.write(le16(0)); out.write(0x73); out.write(le16(0)); out.write(le16(13))
    out.write(new Array[Byte](6))
    for ((name, unpSize, fileCrc, seg, solid) <- entries) {
      val nameB = name.getBytes("ISO-8859-1")
      val hs = 32 + nameB.length
      val flags = 0x8000 | (if (solid) 0x10 else 0)
      out.write(le16(0)); out.write(0x74); out.write(le16(flags))
      out.write(le16(hs))
      out.write(le32(seg.length))
      out.write(le32(unpSize))
      out.write(0)
      out.write(le32(fileCrc)) // verified against the decoded member
      out.write(le32(0))
      out.write(29)
      out.write(0x35)
      out.write(le16(nameB.length))
      out.write(le32(0x20))
      out.write(nameB)
      out.write(seg)
    }
    out.write(le16(0)); out.write(0x7b); out.write(le16(0x4000)); out.write(le16(7))
    out.toByteArray
  }

  private def split(b: Array[Byte], at: Int): (Array[Byte], Array[Byte]) =
    (java.util.Arrays.copyOfRange(b, 0, at),
      java.util.Arrays.copyOfRange(b, at, b.length))

  test("solid LZ: second entry matches into the first entry's window") {
    val part1 = "the first file establishes the dictionary content. "
    val w = new Rar29Writer
    w.writeTables()
    w.text(part1)
    w.endFile(nextTables = false)
    val seg1 = w.cutSegment()
    // file 2's segment starts byte-aligned (per-member bit-input
    // reset), reuses the same tables, and copies file 1's opening
    // phrase from across the entry boundary — the shared WINDOW is the
    // solid property under test
    val copyLen = 24
    w.matchNew(part1.length, copyLen)
    w.text("plus new text")
    w.endFile(nextTables = false)
    val seg2 = w.cutSegment()
    val out2 = part1.substring(0, copyLen) + "plus new text"
    val a = RarUtil.parse(rar4Multi(Seq(
      ("one.txt", part1.length, crcOf(part1), seg1, false),
      ("two.txt", out2.length, crcOf(out2), seg2, true))))
    assert(a.entries.size == 2)
    assert(a.entries(0).stored.isDefined, "solid head entry")
    assert(new String(a.entries(0).stored.get) === part1)
    assert(a.entries(1).stored.isDefined, "solid continuation entry")
    assert(new String(a.entries(1).stored.get) === out2)
  }

  test("solid LZ with per-file table reload") {
    val part1 = "tables once. " * 10
    val part2 = "tables twice. " * 10
    val w = new Rar29Writer
    w.writeTables()
    w.text(part1)
    w.endFile(nextTables = true)
    val seg1 = w.cutSegment()
    w.writeTables()
    w.text(part2)
    w.endFile(nextTables = false)
    val seg2 = w.cutSegment()
    val a = RarUtil.parse(rar4Multi(Seq(
      ("a.txt", part1.length, crcOf(part1), seg1, false),
      ("b.txt", part2.length, crcOf(part2), seg2, true))))
    assert(a.entries.forall(_.stored.isDefined))
    assert(new String(a.entries(0).stored.get) === part1)
    assert(new String(a.entries(1).stored.get) === part2)
  }

  test("solid PPM: model and coder continue across the file boundary") {
    val part1 = "solid ppm first file contents, quite repetitive indeed. " * 20
    val part2 = "solid ppm second file reuses the statistics nicely. " * 20
    val out = new java.io.ByteArrayOutputStream
    out.write(0x80 | 0x40 | 0x20 | (10 - 1)) // PPM: reset, esc, order 10
    out.write(0) // 1 MB heap
    out.write(2) // escape char
    val enc = new PpmdH.Enc(out)
    val model = new PpmdH(1, 10)
    def emit(s: String): Unit = s.getBytes("ISO-8859-1").foreach { b =>
      if ((b & 0xff) == 2) { model.encodeChar(enc, 2); model.encodeChar(enc, 1) }
      else model.encodeChar(enc, b & 0xff)
    }
    emit(part1)
    model.encodeChar(enc, 2); model.encodeChar(enc, 2) // esc,2: file end
    emit(part2)
    model.encodeChar(enc, 2); model.encodeChar(enc, 2)
    enc.flush()
    val stream = out.toByteArray
    val (seg1, seg2) = split(stream, stream.length / 2)
    val a = RarUtil.parse(rar4Multi(Seq(
      ("p1.txt", part1.length, crcOf(part1), seg1, false),
      ("p2.txt", part2.length, crcOf(part2), seg2, true))))
    assert(a.entries.forall(_.stored.isDefined), "both ppm entries decode")
    assert(new String(a.entries(0).stored.get) === part1)
    assert(new String(a.entries(1).stored.get) === part2)
  }

  test("three-entry solid group with interleaved stored entry") {
    val p1 = "first solid file. " * 5
    val p2 = "second, copying: "
    val p3 = "third solid file continues. " * 3
    val w = new Rar29Writer
    w.writeTables()
    w.text(p1)
    w.endFile(nextTables = false)
    val seg1 = w.cutSegment()
    w.text(p2)
    w.matchNew(p1.length + p2.length, 12) // copy "first solid " across 2 files
    w.endFile(nextTables = false)
    val seg2 = w.cutSegment()
    w.text(p3)
    w.endFile(nextTables = false)
    val seg3 = w.cutSegment()
    val out2 = p2 + p1.substring(0, 12)
    // a stored (method 0x30) entry between solid members must not
    // break the chain — the walk keeps v29 jobs adjacent
    val storedData = "stored in the middle".getBytes
    val outBytes = new java.io.ByteArrayOutputStream
    val archive0 = rar4Multi(Seq(
      ("s1.txt", p1.length, crcOf(p1), seg1, false),
      ("s2.txt", out2.length, crcOf(out2), seg2, true),
      ("s3.txt", p3.length, crcOf(p3), seg3, true)))
    outBytes.write(archive0, 0, archive0.length - 7) // drop end-of-archive
    val nameB = "mid.txt".getBytes("ISO-8859-1")
    outBytes.write(le16(0)); outBytes.write(0x74); outBytes.write(le16(0x8000))
    outBytes.write(le16(32 + nameB.length))
    outBytes.write(le32(storedData.length)); outBytes.write(le32(storedData.length))
    outBytes.write(0); outBytes.write(le32(0)); outBytes.write(le32(0))
    outBytes.write(20); outBytes.write(0x30)
    outBytes.write(le16(nameB.length)); outBytes.write(le32(0x20))
    outBytes.write(nameB); outBytes.write(storedData)
    outBytes.write(le16(0)); outBytes.write(0x7b); outBytes.write(le16(0x4000))
    outBytes.write(le16(7))
    val a = RarUtil.parse(outBytes.toByteArray)
    assert(a.entries.size == 4)
    assert(new String(a.entries(0).stored.get) === p1)
    assert(new String(a.entries(1).stored.get) === out2)
    assert(new String(a.entries(2).stored.get) === p3)
    assert(new String(a.entries(3).stored.get) === "stored in the middle")
  }

  test("truncated solid group: later entries fail, earlier survive") {
    val p1 = "survives the cut. " * 4
    val p2 = "does not survive. " * 4
    val w = new Rar29Writer
    w.writeTables()
    w.text(p1)
    w.endFile(nextTables = false)
    w.text(p2)
    w.endFile(nextTables = false)
    val stream = w.bw.toBytes
    // segment 2 truncated to nothing: entry 1 decodes, entry 2 fails
    val a = RarUtil.parse(rar4Multi(Seq(
      ("ok.txt", p1.length, crcOf(p1), stream, false),
      ("cut.txt", p2.length + 1000, 0L, Array.emptyByteArray, true))))
    assert(a.entries(0).stored.isDefined)
    assert(new String(a.entries(0).stored.get) === p1)
    assert(a.entries(1).stored.isEmpty, "short continuation records unsupported")
  }

  test("solid first entry without a predecessor fails cleanly") {
    val w = new Rar29Writer
    w.writeTables()
    w.matchNew(50, 10) // reaches before the window start
    w.endFile(nextTables = false)
    val a = RarUtil.parse(rar4Multi(Seq(
      ("orphan.bin", 10, 0L, w.bw.toBytes, true))))
    assert(a.entries.size == 1)
    assert(a.entries.head.stored.isEmpty)
  }

  test("crc mismatch gates a decoded member (desync defense)") {
    val p1 = "crc gated content " * 6
    val w = new Rar29Writer
    w.writeTables()
    w.text(p1)
    w.endFile(nextTables = false)
    val a = RarUtil.parse(rar4Multi(Seq(
      ("bad.txt", p1.length, crcOf(p1) ^ 0xff, w.bw.toBytes, false))))
    assert(a.entries.head.stored.isEmpty, "crc mismatch must not surface")
  }

  test("an encrypted member breaks the solid chain for followers") {
    val p1 = "head of the chain " * 6
    val w = new Rar29Writer
    w.writeTables()
    w.text(p1)
    w.endFile(nextTables = false)
    val stream = w.bw.toBytes
    // entry 2 is an encrypted v29 member (FhdPassword): its plain
    // bytes are unavailable, so entry 3 (solid) must NOT decode from a
    // gapped stream — it is recorded unsupported instead
    val out = new java.io.ByteArrayOutputStream
    out.write(Array[Byte]('R', 'a', 'r', '!', 0x1a, 0x07, 0x00))
    out.write(le16(0)); out.write(0x73); out.write(le16(0)); out.write(le16(13))
    out.write(new Array[Byte](6))
    def fileHdr(name: String, unp: Int, crc: Long, seg: Array[Byte],
        flags: Int): Unit = {
      val nameB = name.getBytes("ISO-8859-1")
      out.write(le16(0)); out.write(0x74); out.write(le16(flags))
      out.write(le16(32 + nameB.length))
      out.write(le32(seg.length)); out.write(le32(unp))
      out.write(0); out.write(le32(crc)); out.write(le32(0))
      out.write(29); out.write(0x35)
      out.write(le16(nameB.length)); out.write(le32(0x20))
      out.write(nameB); out.write(seg)
    }
    fileHdr("head.txt", p1.length, crcOf(p1), stream, 0x8000)
    fileHdr("enc.bin", 100, 0L, new Array[Byte](64), 0x8000 | 0x04)
    fileHdr("tail.bin", 40, 0L, new Array[Byte](32), 0x8000 | 0x10)
    out.write(le16(0)); out.write(0x7b); out.write(le16(0x4000)); out.write(le16(7))
    val a = RarUtil.parse(out.toByteArray)
    assert(a.entries.size == 3)
    assert(a.entries(0).stored.isDefined, "pre-gap member decodes")
    assert(new String(a.entries(0).stored.get) === p1)
    assert(a.entries(1).stored.isEmpty && a.entries(1).encrypted)
    assert(a.entries(2).stored.isEmpty, "post-gap member must not decode")
  }

  test("encrypted solid group decrypts and chains (-p mode)") {
    // per-member segments (reference model), each 16-byte padded for
    // AES-CBC and encrypted with its own salt like WinRAR -p. The
    // up-to-15 bytes of AES padding at the end of member 1's segment
    // land mid-chain and are DISCARDED by the decoder's per-member
    // bit-input reset — exactly the desync hazard the reset fixes.
    val p1 = "encrypted solid head member. " * 8
    val p2 = "encrypted solid tail member, reusing: "
    val w = new Rar29Writer
    w.writeTables()
    w.text(p1)
    w.endFile(nextTables = false)
    val seg1raw = w.cutSegment()
    w.text(p2)
    w.matchNew(p1.length + p2.length, 16)
    w.endFile(nextTables = false)
    val seg2raw = w.cutSegment()
    val out2 = p2 + p1.substring(0, 16)
    def pad16(b: Array[Byte]): Array[Byte] =
      java.util.Arrays.copyOf(b, (b.length + 15) & ~15)
    val seg1 = pad16(seg1raw)
    val seg2 = pad16(seg2raw)
    val password = "sesame"
    val rnd = new java.util.Random(9)
    def encrypt(seg: Array[Byte]): (Array[Byte], Array[Byte]) = {
      val salt = new Array[Byte](8)
      rnd.nextBytes(salt)
      val (key, iv) = graft.pkgx.RarCrypto.deriveKeyIv(password, salt)
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      (c.doFinal(seg), salt)
    }
    val (enc1, salt1) = encrypt(seg1)
    val (enc2, salt2) = encrypt(seg2)
    val out = new java.io.ByteArrayOutputStream
    out.write(Array[Byte]('R', 'a', 'r', '!', 0x1a, 0x07, 0x00))
    out.write(le16(0)); out.write(0x73); out.write(le16(0)); out.write(le16(13))
    out.write(new Array[Byte](6))
    def encHdr(name: String, unp: Int, crc: Long, seg: Array[Byte],
        salt: Array[Byte], solid: Boolean): Unit = {
      val nameB = name.getBytes("ISO-8859-1")
      val flags = 0x8000 | 0x04 | 0x400 | (if (solid) 0x10 else 0)
      out.write(le16(0)); out.write(0x74); out.write(le16(flags))
      out.write(le16(32 + nameB.length + 8))
      out.write(le32(seg.length)); out.write(le32(unp))
      out.write(0); out.write(le32(crc)); out.write(le32(0))
      out.write(29); out.write(0x35)
      out.write(le16(nameB.length)); out.write(le32(0x20))
      out.write(nameB); out.write(salt); out.write(seg)
    }
    encHdr("e1.txt", p1.length, crcOf(p1), enc1, salt1, solid = false)
    encHdr("e2.txt", out2.length, crcOf(out2), enc2, salt2, solid = true)
    out.write(le16(0)); out.write(0x7b); out.write(le16(0x4000)); out.write(le16(7))
    val archive = out.toByteArray
    val a = RarUtil.parse(archive, Some(password))
    assert(a.entries.size == 2)
    assert(a.entries(0).stored.isDefined, "encrypted solid head decodes")
    assert(new String(a.entries(0).stored.get) === p1)
    assert(!a.entries(0).encrypted)
    assert(a.entries(1).stored.isDefined, "encrypted solid tail decodes")
    assert(new String(a.entries(1).stored.get) === out2)
    // wrong password: nothing surfaces, everything stays encrypted
    val bad = RarUtil.parse(archive, Some("wrong"))
    assert(bad.entries.forall(e => e.stored.isEmpty && e.encrypted))
    // no password: entries recorded encrypted
    val none = RarUtil.parse(archive, None)
    assert(none.entries.forall(e => e.stored.isEmpty && e.encrypted))
  }

  test("solid mutation sweep stays crash-free") {
    val p1 = "mutate the solid stream " * 10
    val p2 = "and the second entry too " * 10
    val w = new Rar29Writer
    w.writeTables()
    w.text(p1)
    w.endFile(nextTables = false)
    val seg1 = w.cutSegment()
    w.text(p2)
    w.endFile(nextTables = false)
    val seg2 = w.cutSegment()
    val archive = rar4Multi(Seq(
      ("m1.txt", p1.length, crcOf(p1), seg1, false),
      ("m2.txt", p2.length, crcOf(p2), seg2, true)))
    val rnd = new java.util.Random(4242)
    for (_ <- 0 until 300) {
      val m = archive.clone()
      for (_ <- 0 to rnd.nextInt(3))
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      try { RarUtil.parse(m); () }
      catch { case _: RarUtil.RarMalformed => () }
    }
  }

  test("one append per member: a second decodeNext after one append throws Malformed") {
    val part = "one member, one packed segment. " * 4
    val w = new Rar29Writer
    w.writeTables()
    w.text(part)
    w.endFile(nextTables = false)
    val seg = w.cutSegment()
    val s = new graft.pkgx.Rar29.Stream
    s.append(seg, 0, seg.length)
    assert(new String(s.decodeNext(part.length), "ISO-8859-1") === part)
    // no segment of its own left: fail instead of decoding on from
    // wherever the first member's bits ended
    val e = intercept[graft.pkgx.Rar29.Malformed](s.decodeNext(4))
    assert(e.getMessage.contains("without an appended segment"))
  }
}
