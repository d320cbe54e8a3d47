package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** EMF / WMF metafile text extraction vs the reference's real fixtures.
  * Expectations mirror tika-parser-microsoft-module
  * EMFParserTest.java (icon-only metadata, zero-coords rect fallback,
  * no-space run merging) and WMFParserTest.java (font-charset decode).
  */
class MetafileSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testEMF_iconOnlyLongFilename.emf: icon-only marker and string") {
    val d = extract("testEMF_iconOnlyLongFilename.emf")
    assert(d.mime == graft.mime.MimeDb.Emf)
    assert(d.status == Status.ParseSuccess)
    // EMFParserTest.testIconOnly
    assert(d.meta.get("emf:icon-only").exists(_.contains("true")))
    assert(d.meta.get("emf:icon-string").exists(_.contains(
      "some word doc with a very long name that should be wrapped.docx")))
    val t = text(d)
    assert(t.contains("some word doc"))
    assert(t.contains("a very long name that should be wrapped.docx"))
  }

  test("testEMF_zero_coords.emf: EmrText-rectangle fallback drives rows") {
    val d = extract("testEMF_zero_coords.emf")
    assert(d.status == Status.ParseSuccess)
    val t = text(d)
    // EMFParserTest.testMissingCoords
    assert(!t.contains("title13At"), "y-change must flush the paragraph")
    assert(t.contains("Presentation title 13"))
    assert(t.contains("At Contoso"))
    assert(t.contains("next-generation"),
      "three same-row records must merge without interpolated spaces")
  }

  test("testEMF.emf parses cleanly") {
    val d = extract("testEMF.emf")
    assert(d.mime == graft.mime.MimeDb.Emf)
    assert(d.status == Status.ParseSuccess)
  }

  test("testWMF_charset.wmf: LOGFONT charset decodes Shift-JIS text") {
    val d = extract("testWMF_charset.wmf")
    assert(d.mime == graft.mime.MimeDb.Wmf)
    assert(d.status == Status.ParseSuccess)
    // WMFParserTest.testTextExtractionShiftJISencoding
    assert(text(d).contains("普林斯"))
  }

  test("testWMF.wmf parses cleanly") {
    val d = extract("testWMF.wmf")
    assert(d.mime == graft.mime.MimeDb.Wmf)
    assert(d.status == Status.ParseSuccess)
  }
}
