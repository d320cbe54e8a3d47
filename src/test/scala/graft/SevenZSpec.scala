package graft

import java.nio.file.{Files, Path}
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.pkgx.SevenZ
import org.scalatest.funsuite.AnyFunSuite

/** 7z container reader vs the reference's REAL archives (produced by the
  * actual 7-Zip/p7zip implementations — interop evidence, not a
  * round-trip against our own writer). Reference behavior mirrored:
  * pkg/SevenZParser.java member recursion + encrypted-archive failure.
  */
class SevenZSpec extends AnyFunSuite {

  private val pkgDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pkg-module/src/test/resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, pkgDocs)

  test("reads the reference's real LZMA 7z archive (encoded header)") {
    val entries = SevenZ.entries(fixture("test-documents.7z"))
    val names = entries.map(_.name)
    // the canonical tika test-document set (Seven7ParserTest.java)
    assert(names.contains("test-documents/testEXCEL.xls"))
    assert(names.contains("test-documents/testHTML.html"))
    assert(names.contains("test-documents/testPDF.pdf"))
    assert(names.contains("test-documents/testTXT.txt"))
    assert(entries.size >= 9)
    // member bytes really decoded: the txt member is the known fixture text
    val txt = entries.find(_.name.endsWith("testTXT.txt")).get
    val text = new String(txt.data, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(text.contains("Test d'indexation de Txt"))
    // and the binary members re-detect as their real types
    val xls = entries.find(_.name.endsWith("testEXCEL.xls")).get
    assert(graft.ole2.Ole2Detector.specialize(xls.data) ==
      graft.mime.MediaTypes.MsExcel)
  }

  test("encrypted 7z archives fail the parse, not the task") {
    // full_encrypted.7z: even the header is AES-coded
    val enc = fixture("full_encrypted.7z")
    intercept[SevenZ.SevenZMalformed] { SevenZ.entries(enc) }
    val out = Extractor.extract(DocRow("enc",
      Seq(Span("bytes", Corpus.b64(enc), null, 0))))
    assert(out.status == Status.ParseException)
  }

  test("7zAES: password Tika decrypts (Seven7ParserTest expectations)") {
    // the reference decrypts via SevenZFile + PasswordProvider; same
    // member name and content pins as Seven7ParserTest.testPasswordProtected
    val entries = SevenZ.entries(fixture("test7Z_protected_passTika.7z"),
      password = Some("Tika"))
    assert(entries.map(_.name).contains("text.txt"))
    val text = new String(entries.find(_.name == "text.txt").get.data,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(text.contains("TEST DATA FOR TIKA."))
    assert(text.contains("This is text inside an encrypted 7zip (7z) file."))
    assert(text.contains("It should be processed by Tika just fine!"))
    assert(text.contains("TIKA-1521"))
  }

  test("7zAES: engine end-to-end with Config.password") {
    val out = Extractor.extract(
      DocRow("p.7z", Seq(Span("bytes",
        Corpus.b64(fixture("test7Z_protected_passTika.7z")), null, 0))),
      Extractor.DefaultConfig.copy(password = Some("Tika")))
    assert(out.status == Status.ParseSuccess, out.status)
    val text = out.spans.filter(_.kind == Span.KindText).map(_.text).mkString
    assert(text.contains("TEST DATA FOR TIKA."))
  }

  test("7zAES: wrong or missing password still fails the document") {
    for (pw <- Seq(None, Some("wrong"))) {
      val out = Extractor.extract(
        DocRow("p.7z", Seq(Span("bytes",
          Corpus.b64(fixture("test7Z_protected_passTika.7z")), null, 0))),
        Extractor.DefaultConfig.copy(password = pw))
      assert(out.status == Status.ParseException, s"$pw -> ${out.status}")
    }
  }

  test("7zAES: header-encrypted archive decrypts its header with a password") {
    // full_encrypted.7z's password is not published in the reference
    // tests (only the no-password failure is pinned) — with SOME
    // password the header walk must fail cleanly, never crash
    for (pw <- Seq("Tika", "1234", "password")) {
      val out = Extractor.extract(
        DocRow("f.7z", Seq(Span("bytes",
          Corpus.b64(fixture("full_encrypted.7z")), null, 0))),
        Extractor.DefaultConfig.copy(password = Some(pw)))
      assert(out.status != null && out.mime != null)
    }
  }

  test("7z recurses through the engine with ordinal member paths") {
    val out = Extractor.extract(DocRow("sz",
      Seq(Span("bytes", Corpus.b64(fixture("test-documents.7z")), null, 0))),
      Extractor.DefaultConfig.copy(maxEmbedded = 200))
    assert(out.mime == graft.mime.MimeDb.SevenZ)
    assert(out.status == Status.ParseSuccess ||
      out.status == Status.ParseSuccessWithException)
    val paths = out.meta.getOrElse("embedded:path", Seq.empty)
    assert(paths.exists(_.contains("testHTML.html")))
    // the html member's text really extracted
    assert(out.spans.exists(s => s.kind == Span.KindText &&
      s.text.toLowerCase.contains("test indexation html")))
  }

  test("unpack walks 7z/ar/cpio/tar.Z members like the engine") {
    val blobs = graft.engine.Unpack.unpackDoc(DocRow("u",
      Seq(Span("bytes", Corpus.b64(fixture("test-documents.7z")), null, 0))),
      graft.engine.Unpack.Config(maxEmbedded = 200))
    assert(blobs.exists(_.name.endsWith("testHTML.html")))
    assert(blobs.forall(_.sha256.length == 64))

    val arDocs = java.nio.file.Path.of("/root/reference/tika-parsers/" +
      "tika-parsers-standard/tika-parsers-standard-modules/" +
      "tika-parser-pkg-module/src/test/resources/test-documents")
    val tarZ = java.nio.file.Files.readAllBytes(
      arDocs.resolve("test-documents.tar.Z"))
    val blobs2 = graft.engine.Unpack.unpackDoc(DocRow("z",
      Seq(Span("bytes", Corpus.b64(tarZ), null, 0))),
      graft.engine.Unpack.Config(maxEmbedded = 200))
    // .Z wrapper blob + the tar members inside it
    assert(blobs2.exists(_.name.endsWith("testTXT.txt")))
  }

  test("hostile input: truncated header and bad bounds throw cleanly") {
    val good = fixture("test-documents.7z")
    intercept[SevenZ.SevenZMalformed] {
      SevenZ.entries(java.util.Arrays.copyOf(good, 40))
    }
    val badOffset = good.clone()
    badOffset(12) = 0xff.toByte; badOffset(19) = 0x7f.toByte
    intercept[SevenZ.SevenZMalformed] { SevenZ.entries(badOffset) }
    intercept[SevenZ.SevenZMalformed] {
      SevenZ.entries("not a seven zip".getBytes)
    }
  }
}
