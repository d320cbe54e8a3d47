package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Works XLR spreadsheets, Works WPS word processor, and SolidWorks CAD
  * containers — detection + extraction parity with the reference:
  * ExcelParserTest.testWorksSpreadsheet70 (.xlr extracts through the
  * BIFF8 path), SolidworksParserTest (summary metadata, no body text),
  * and the "Works isn't supported" OfficeParser rule for .wps (detected,
  * recorded unsupported).
  */
class WorksSpec extends AnyFunSuite {

  private val msDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")
  private val intDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-integration-tests/" +
    "src/test/resources/test-documents")

  private def extract(dir: Path, name: String): graft.core.ExtractedDoc =
    RefFixture.extract(dir, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testWORKSSpreadsheet7.0.xlr: BIFF8 cells through the Excel path") {
    val d = extract(msDocs, "testWORKSSpreadsheet7.0.xlr")
    assert(d.mime == "application/x-tika-msworks-spreadsheet", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("Microsoft Works"), text(d).take(300))
  }

  test("solidworks part/assembly/drawing: type + summary metadata") {
    val d = extract(msDocs, "testsolidworksPart2013SP2.SLDPRT")
    assert(d.mime == "application/sldworks", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    // our Instant keeps millis where the reference truncates to seconds
    assert(d.meta.get("dcterms:created").flatMap(_.headOption)
      .exists(_.startsWith("2012-04-18T10:27:29")), d.meta.get("dcterms:created"))
    assert(d.meta.get("dcterms:modified").flatMap(_.headOption)
      .exists(_.startsWith("2013-09-06T08:12:12")), d.meta.get("dcterms:modified"))
    assert(d.meta.get("meta:last-author").flatMap(_.headOption)
      .contains("solidworks-dcom_dev"))
    for (n <- Seq("testsolidworksAssembly2013SP2.SLDASM",
        "testsolidworksDrawing2013SP2.SLDDRW")) {
      val dd = extract(msDocs, n)
      assert(dd.mime == "application/sldworks", s"$n: ${dd.mime}")
      assert(dd.status == Status.ParseSuccess, s"$n: ${dd.status}")
    }
  }

  test("testWORKS.wps: detected as ms-works, Quill text extracts (r5)") {
    // the round-4 pin asserted UnsupportedType (OfficeParser parity);
    // round 5 adds the WpsExtractor route — text now extracts via the
    // CHNKWKS Quill story bits (full coverage in LegacyFormatsSpec)
    val d = extract(intDocs, "testWORKS.wps")
    assert(d.mime == "application/vnd.ms-works", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.spans.exists(s => s.kind == Span.KindText &&
      s.text.contains("example")), d.spans.take(3))
  }
}
