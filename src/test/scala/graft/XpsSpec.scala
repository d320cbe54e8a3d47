package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** XPS / OpenXPS extraction vs the reference's real fixtures.
  * Expectations mirror tika-parser-microsoft-module
  * .../ooxml/xps/XPSParserTest.java (content, metadata, embedded images,
  * data-descriptor zips, RTL row ordering).
  */
class XpsSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  private def embeddedMimes(d: graft.core.ExtractedDoc): Seq[String] =
    d.meta.collect {
      case (k, vs) if k.startsWith("embedded:") && k != "embedded:path" &&
        vs.exists(_.contains("/")) => vs
    }.flatten.toSeq

  test("testPPT.xps: content, core properties, thumbnail child") {
    val d = extract("testPPT.xps")
    assert(d.mime == graft.mime.MediaTypes.Xps)
    assert(d.status == Status.ParseSuccess)
    val t = text(d)
    // XPSParserTest.testBasic
    assert(t.contains("Attachment Test"))
    assert(t.contains("Different"))
    assert(t.contains("tika content"))
    assert(d.meta.get("dc:title").exists(_.contains("Attachment Test")))
    assert(d.meta.get("dc:creator").exists(_.contains("Rajiv")))
    assert(d.meta.get("dcterms:created").exists(_.contains("2010-06-29T12:06:31Z")))
    assert(d.meta.get("dcterms:modified").exists(_.contains("2010-06-29T12:06:31Z")))
    assert(d.meta.exists { case (k, vs) =>
      k.startsWith("embedded:") && vs.contains("image/jpeg") })
  }

  test("testXPS_various.xps: RTL rows, mixed-direction rows, urls, images") {
    val d = extract("testXPS_various.xps")
    assert(d.status == Status.ParseSuccess)
    val t = text(d)
    // XPSParserTest.testVarious — the Arabic quick-brown-fox must come out
    // in logical order from an all-RTL row
    val thaLab = "لثعلب"   // fox
    val albani = "البني"   // brown
    val sari = "السريع" // quick
    assert(t.contains(s"$thaLab $albani $sari"), "all-RTL row")
    assert(t.contains(s"The $albani fox"), "mixed row")
    assert(t.contains(s"$thaLab brown $sari"), "mixed row 2")
    assert(t.contains("http://tika.apache.org/"), "NavigateUri url dump")
    assert(d.meta.get("dc:creator").exists(_.contains("Allison, Timothy B.")))
    assert(d.meta.get("dcterms:created").exists(_.contains("2017-12-12T11:15:38Z")))
    val kids = embeddedMimes(d)
    assert(kids.contains("image/png"), s"png child in $kids")
    assert(kids.contains("image/jpeg"), s"jpeg child in $kids")
  }

  test("testXPSWithDataDescriptor.xps: data-descriptor zip parses") {
    val d = extract("testXPSWithDataDescriptor.xps")
    assert(d.status == Status.ParseSuccess)
    assert(text(d).contains("This is my XPS document test"))
    assert(embeddedMimes(d).nonEmpty) // thumbnail
  }

  test("testXPSWithDataDescriptor2.xps: OpenXPS variant parses") {
    val d = extract("testXPSWithDataDescriptor2.xps")
    assert(d.status == Status.ParseSuccess)
    assert(text(d).contains("How was I supposed to know"))
  }

  test("testXLSX.xps: spreadsheet rows keep cell separation") {
    val t = text(extract("testXLSX.xps"))
    // XPSParserTest.testSpreadsheetXPS — cross-cell gaps > 0.3 em become
    // spaces, so in-cell phrases survive intact
    assert(t.contains("abcd efg"))
    assert(t.contains("foo bar baz"))
    assert(t.contains("spaced out"))
  }

  test("test_text.xps: multi-font text document") {
    val t = text(extract("test_text.xps"))
    // XPSParserTest.testTextDocumentXPS
    assert(t.contains("Rainbow"))
    assert(t.contains("Large font size"))
    assert(t.contains("Parts of this are in italics and bold."))
  }
}
