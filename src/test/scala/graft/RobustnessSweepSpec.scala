package graft

import java.nio.file.{Files, Path}
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Gaps surfaced by sweeping the reference's real Office/text fixtures. */
class RobustnessSweepSpec extends AnyFunSuite {

  private val ms = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")
  private val xmlDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-xml-module/src/test/resources/test-documents")
  private val txtDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-text-module/src/test/resources/test-documents")

  private def extract(dir: Path, name: String): graft.core.ExtractedDoc =
    RefFixture.extract(dir, name)

  test("password-protected OOXML records a parse failure, not unknown") {
    val d = extract(ms, "testWORD_protected_passtika.docx")
    assert(d.mime == graft.ole2.Ole2Detector.OoxmlProtected)
    assert(d.status == Status.ParseException)
    assert(d.meta.getOrElse("parse:exception", Seq.empty)
      .exists(_.contains("password-protected")))
  }

  test("WORKBOOK-in-capitals stream extracts (case-blind CFB names)") {
    val d = extract(ms, "testEXCEL_WORKBOOK_in_capitals.xls")
    assert(d.status == Status.ParseSuccess)
    assert(d.spans.exists(_.kind == Span.KindText))
  }

  test("XXE fixture parses without resolving the external DTD") {
    val d = extract(xmlDocs, "testXXE.xml")
    assert(d.status == Status.ParseSuccess)
  }

  test("data-descriptor zips read all entries via the CEN fallback") {
    val pkg = Path.of("/root/reference/tika-parsers/" +
      "tika-parsers-standard/tika-parsers-standard-modules/" +
      "tika-parser-pkg-module/src/test/resources/test-documents")
    org.scalatest.Assertions.assume(
      Files.isRegularFile(pkg.resolve("testZip_with_DataDescriptor.zip")),
      "reference fixtures not present")
    val b = Files.readAllBytes(pkg.resolve("testZip_with_DataDescriptor.zip"))
    val es = graft.zipx.ZipUtil.entries(b)
    // ZipParserTest.testZipUsingStoredWithDataDescriptor: en0..en4
    assert(es.map(_.name) == Vector("en0", "en1", "en2", "en3", "en4"))
    assert(es.forall(_.data.length == 4))
    // and the streaming-writer odt-shaped variant
    val b2 = Files.readAllBytes(pkg.resolve("testZip_with_DataDescriptor2.zip"))
    assert(graft.zipx.ZipUtil.entries(b2).map(_.name)
      .contains("META-INF/manifest.xml"))
  }

  test("stray-mimetype ODF and iWork '09 packages specialize") {
    val misc = Path.of("/root/reference/tika-parsers/" +
      "tika-parsers-standard/tika-parsers-standard-modules/" +
      "tika-parser-miscoffice-module/src/test/resources/test-documents")
    val apple = Path.of("/root/reference/tika-parsers/" +
      "tika-parsers-standard/tika-parsers-standard-modules/" +
      "tika-parser-apple-module/src/test/resources/test-documents")
    org.scalatest.Assertions.assume(Files.isDirectory(misc) &&
      Files.isDirectory(apple), "reference fixtures not present")
    // mimetype entry NOT first in the archive — still ODT
    val odt = extract(misc, "testODTStyles3.odt")
    assert(odt.mime == "application/vnd.oasis.opendocument.text")
    assert(odt.status == Status.ParseSuccess)
    val pages = extract(apple, "testPagesLayout.pages")
    assert(pages.mime == "application/vnd.apple.pages")
    assert(pages.spans.exists(_.kind == Span.KindText))
    val key = extract(apple, "testTables.key")
    assert(key.mime == "application/vnd.apple.keynote")
  }

  test("cp866 text decodes to Cyrillic through the statistical chain") {
    org.scalatest.Assertions.assume(
      Files.isRegularFile(txtDocs.resolve("russian.cp866.txt")),
      "reference fixtures not present")
    val b = Files.readAllBytes(txtDocs.resolve("russian.cp866.txt"))
    val s = graft.mime.EncodingDetector.decode(b)
    assert(s.exists(c => c >= 'А' && c <= 'я'))
    assert(!s.take(200).contains('�'))
  }

  test("Word 6/95 binary doc: fcMin..fcMac text + summary metadata") {
    val d = extract(ms, "testWORD6.doc")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.spans.filter(_.kind == Span.KindText).map(_.text).mkString
      .contains("The quick brown fox jumps over the lazy dog"))
    assert(d.meta.get("dc:title").exists(_.contains(
      "The quick brown fox jumps over the lazy dog")), d.meta.get("dc:title"))
    assert(d.meta.get("dc:creator").exists(_.contains("Nevin Nollop")))
  }
}
