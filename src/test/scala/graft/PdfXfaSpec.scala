package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** PDF XFA form extraction vs the reference's real fixtures.
  * Expectations mirror tika-parser-pdf-module PDFParserTest
  * testXFAExtractionBasic / testMalformedXFADivBalanced.
  */
class PdfXfaSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pdf-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testPDF_XFA_govdocs1_258578.pdf: fields merged with data values") {
    val d = extract("testPDF_XFA_govdocs1_258578.pdf")
    assert(d.status == Status.ParseSuccess)
    assert(d.meta.get("pdf:hasXFA").exists(_.contains("true")))
    assert(d.meta.get("pdf:hasAcroFormFields").exists(_.contains("true")))
    val t = text(d)
    // PDFParserTest.testXFAExtractionBasic: page content AND xfa fields
    assert(t.contains("Mount Rushmore National Memorial"))
    assert(t.contains("School Name: my_school"), "field value from xfa:data")
    assert(t.contains("Room [1]: my_room1"), "toolTip-displayed field")
    // 27 field lines dumped (reference counts 27 <li fieldName=> items)
    val fieldLines = t.linesIterator.count(_.matches(".+: .*"))
    assert(fieldLines >= 27, s"expected >=27 field lines, got $fieldLines")
  }

  test("testPDF_malformedXFA.pdf: warning recorded, AcroForm fallback") {
    val d = extract("testPDF_malformedXFA.pdf")
    // malformed XFA must not fail the parse; warning recorded like the
    // reference's TIKA_META_EXCEPTION_WARNING containing "XFAExtractor"
    assert(d.status == Status.ParseSuccess ||
      d.status == Status.ParseSuccessWithException)
    assert(d.meta.get("pdf:xfa:warn").exists(_.exists(_.contains("XFAExtractor"))))
  }
}
