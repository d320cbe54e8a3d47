package graft

import java.nio.file.{Files, Path}
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** MS-PST extraction vs the reference's real fixtures. Assertions mirror
  * pst/OutlookPSTParserTest.java: folder names, message subjects/senders,
  * the nested message-in-message docx attachment, and the
  * winmail.dat/TNEF message body fixture. These tests double as the
  * known-plaintext validation of the permutative-encoding decode table
  * (every expected string below only appears if the byte substitution is
  * exact — the fixtures exercise all 256 encoded byte values).
  */
class PstSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testPST.pst: folders, messages, metadata, nested docx attachment") {
    val d = extract("testPST.pst")
    assert(d.mime == graft.mime.MimeDb.Pst)
    assert(d.status == Status.ParseSuccess)
    val t = text(d)
    // OutlookPSTParserTest.testAccuracyOfBasicAttributes expectations
    assert(t.contains("Re: Feature Generators"))
    assert(t.contains("Racine (pour la recherche)"))
    assert(t.contains("Gary Murphy commented on TIKA-1250:"))
    // the docx attachment recursed through the OOXML chain
    assert(t.contains("This is a docx attachment."))
    // reference metadataList.size == 10: container + 7 top-level
    // messages + the nested "First email.msg" + its attachment.docx
    assert(d.meta("pst:message_count").head.toInt == 7)
    val flat = d.meta.map { case (k, v) => s"$k=${v.mkString("|")}" }
      .mkString("\n")
    // per-message scoped email metadata (synthesized RFC 822 children)
    assert(flat.contains("Jörn Kottmann"))
    assert(flat.contains("kottmann@gmail.com"))
    assert(flat.contains("couchbase@couchbase.com"))
    assert(flat.contains("Re: Feature Generators"))
    // MAPI times surface under the mapi: namespace via the synthesized
    // headers (OutlookPSTParserTest: CREATION_TIME 2014-02-26T07:51:02Z)
    assert(flat.contains("mapi:creation-time"))
    assert(flat.contains("2014-02-26T07:51:02Z"))
  }

  test("testPST_variousBodyTypes.pst: winmail.dat TNEF recursion") {
    val d = extract("testPST_variousBodyTypes.pst")
    assert(d.status == Status.ParseSuccess)
    val t = text(d)
    // testOverrideDetector fixture: "FW: original email" with winmail.dat
    assert(t.contains("original email"))
    assert(d.meta("pst:message_count").head.toInt >= 1)
  }

  test("decode table permutation invariant holds at object init") {
    // the object initializer `require`s a 256-value byte permutation;
    // touching the object would have thrown otherwise
    assert(graft.pst.PstExtractor.getClass.getSimpleName.nonEmpty)
  }

  test("XBLOCK amplification (same bid referenced 1020x) is rejected") {
    // ~16 KB crafted file whose XBLOCK references one 4 KB data block
    // 1020 times — the aggregate data-tree budget must trip before the
    // 4 MB (or worse, at XXBLOCK level: GB) assembly happens
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = le16(v & 0xffff) ++ le16(v >>> 16)
    def le64(v: Long) = le32((v & 0xffffffffL).toInt) ++ le32((v >>> 32).toInt)
    val dataCb = 4096
    val xbCb = 8 + 8 * 1020
    val dataIb = 2048L
    val xbIb = dataIb + ((dataCb + 16 + 63) / 64) * 64
    val fileLen = (xbIb + ((xbCb + 16 + 63) / 64) * 64).toInt
    val f = new Array[Byte](fileLen)
    def put(off: Long, b: Array[Byte]): Unit =
      System.arraycopy(b, 0, f, off.toInt, b.length)
    put(0, "!BDN".getBytes("US-ASCII")); put(8, "SM".getBytes("US-ASCII"))
    put(10, le16(23))
    put(180 + 4, le64(fileLen))
    put(180 + 44, le64(1536L)); put(180 + 60, le64(1024L)) // NBT, BBT ibs
    f(0x200) = 0x80.toByte; f(0x201) = 0 // crypt none
    // BBT leaf: entries {bid=4 data, bid=6 XBLOCK}
    val bbt = new Array[Byte](512)
    put(1024, bbt) // zero page first
    def bbtEntry(o: Int, bid: Long, ib: Long, cb: Int): Unit = {
      put(1024 + o, le64(bid) ++ le64(ib) ++ le16(cb) ++ le16(1) ++ le32(0))
    }
    bbtEntry(0, 4L, dataIb, dataCb)
    bbtEntry(24, 6L, xbIb, xbCb)
    f(1024 + 488) = 2; f(1024 + 489) = (488 / 24).toByte
    f(1024 + 490) = 24; f(1024 + 491) = 0
    f(1024 + 496) = 0x80.toByte; f(1024 + 497) = 0x80.toByte
    // NBT leaf: one folder node with bidData = the XBLOCK
    put(1536 + 0, le64(0x122L) ++ le64(6L) ++ le64(0L) ++ le32(0x122) ++ le32(0))
    f(1536 + 488) = 1; f(1536 + 489) = (488 / 32).toByte
    f(1536 + 490) = 32; f(1536 + 491) = 0
    f(1536 + 496) = 0x81.toByte; f(1536 + 497) = 0x81.toByte
    // data block (zeros) + trailer
    put(dataIb + ((dataCb + 16 + 63) / 64) * 64 - 16,
      le16(dataCb) ++ le16(0) ++ le32(0) ++ le64(4L))
    // XBLOCK: btype 1, cLevel 1, cEnt 1020, all bids = 4
    val xb = new Array[Byte](xbCb)
    xb(0) = 1; xb(1) = 1
    System.arraycopy(le16(1020), 0, xb, 2, 2)
    (0 until 1020).foreach(i => System.arraycopy(le64(4L), 0, xb, 8 + 8 * i, 8))
    put(xbIb, xb)
    put(xbIb + ((xbCb + 16 + 63) / 64) * 64 - 16,
      le16(xbCb) ++ le16(0) ++ le32(0) ++ le64(6L))

    val ndb = new graft.pst.PstExtractor.Ndb(f)
    val e = intercept[graft.pst.PstExtractor.PstMalformed] {
      ndb.dataBlocks(6L)
    }
    assert(e.getMessage.contains("amplification"))
    // and through the engine: classified, not crashed
    val d = Extractor.extract(DocRow("amp.pst",
      Seq(Span("bytes", Corpus.b64(f), null, 0))))
    assert(d.status != null)
  }

  test("truncated files and structurally-invalid relabels fail cleanly") {
    val p = docs.resolve("testPST.pst")
    org.scalatest.Assertions.assume(Files.isRegularFile(p))
    val b = Files.readAllBytes(p)
    // truncated: parse_exception status, no crash
    val trunc = Extractor.extract(DocRow("t.pst",
      Seq(Span("bytes", Corpus.b64(java.util.Arrays.copyOf(b, 600)), null, 0))))
    assert(trunc.status != Status.ParseSuccess)
    // a Unicode file relabeled ANSI: the 32-bit ROOT offsets read
    // garbage, so it must fail structurally (ANSI itself is supported
    // since r5 — see PstAnsiSpec)
    val ansi = java.util.Arrays.copyOf(b, 1024)
    ansi(10) = 14; ansi(11) = 0
    val a = Extractor.extract(DocRow("a.pst",
      Seq(Span("bytes", Corpus.b64(ansi), null, 0))))
    assert(a.status != Status.ParseSuccess)
  }
}
