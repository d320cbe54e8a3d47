package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** Visio OOXML extraction vs the reference's real fixtures
  * (VSDXParserTest expectations).
  */
class VsdxSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testVISIO.vsdx: shape text as paragraphs") {
    val d = extract("testVISIO.vsdx")
    assert(d.mime == "application/vnd.ms-visio.drawing")
    assert(d.status == Status.ParseSuccess)
    val t = text(d)
    // VSDXParserTest.testBasic
    assert(t.contains("This is a test."))
    assert(t.contains("Nothing fancy."))
  }

  test("testVISIO_text.vsdx: all page texts in order") {
    val t = text(extract("testVISIO_text.vsdx"))
    // VSDXParserTest.testVisioTextExtraction
    assert(t.contains("Text here"))
    assert(t.contains("Text there"))
    assert(t.contains("Text, text, everywhere!"))
    assert(t.contains("Router here"))
  }

  test("testVISIO_60489.vsdx: multi-page document") {
    val t = text(extract("testVISIO_60489.vsdx"))
    // VSDXParserTest.testTika60489
    assert(t.contains("HousingConnections.ca"))
    assert(t.contains("Content Authors"))
    assert(t.contains("Submit Application"))
  }

  test("legacy .vsd detects as application/vnd.visio (root-entry name)") {
    // text extraction stays excluded (the reference reads VSD through
    // POI's external HDGF module, not in-tree); detection must work
    val d = extract("testVISIO.vsd")
    assert(d.mime == "application/vnd.visio")
  }

  test("macro-enabled and template variants detect as their subtypes") {
    val m = extract("testVISIO.vsdm")
    assert(m.mime == "application/vnd.ms-visio.drawing.macroenabled.12")
    assert(m.status == Status.ParseSuccess)
    val tpl = extract("testVISIO.vstx")
    assert(tpl.mime == "application/vnd.ms-visio.template")
    assert(tpl.status == Status.ParseSuccess)
  }

  test("OPC target resolution normalizes ../ and leading-/ segments") {
    import graft.ooxml.Opc.resolve
    assert(resolve("visio/document.xml", "../visio/pages/pages.xml") == "visio/pages/pages.xml")
    assert(resolve("visio/pages/pages.xml", "page1.xml") == "visio/pages/page1.xml")
    assert(resolve("visio/document.xml", "/visio/document.xml") == "visio/document.xml")
    assert(resolve("", "./visio/document.xml") == "visio/document.xml")
  }

  test("relative ../ rel targets still reach page text; foreign-ns Text excluded") {
    val visioNs = "http://schemas.microsoft.com/office/visio/2012/main"
    val vsdx = Corpus.zip(Seq(
      "[Content_Types].xml" ->
        """<Types xmlns="a"><Default Extension="xml" ContentType="application/vnd.ms-visio.drawing.main+xml"/></Types>""".getBytes("UTF-8"),
      "_rels/.rels" ->
        ("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
         """<Relationship Id="R1" Type="http://schemas.microsoft.com/visio/2010/relationships/document" Target="/visio/document.xml"/></Relationships>""").getBytes("UTF-8"),
      "visio/document.xml" -> "<VisioDocument/>".getBytes("UTF-8"),
      "visio/_rels/document.xml.rels" ->
        ("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
         """<Relationship Id="R1" Type="http://schemas.microsoft.com/visio/2010/relationships/pages" Target="../visio/pages/pages.xml"/></Relationships>""").getBytes("UTF-8"),
      "visio/pages/pages.xml" -> "<Pages/>".getBytes("UTF-8"),
      "visio/pages/_rels/pages.xml.rels" ->
        ("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
         """<Relationship Id="R1" Type="http://schemas.microsoft.com/visio/2010/relationships/page" Target="page1.xml"/></Relationships>""").getBytes("UTF-8"),
      "visio/pages/page1.xml" ->
        (s"""<PageContents xmlns="$visioNs" xmlns:d="urn:data-island">""" +
         """<Shape><Text>visible shape text</Text></Shape>""" +
         """<d:island><d:Text>FOREIGN PAYLOAD</d:Text></d:island>""" +
         """</PageContents>""").getBytes("UTF-8")))
    val d = Extractor.extract(DocRow("rel.vsdx",
      Seq(Span("bytes", Corpus.b64(vsdx), null, 0))))
    assert(d.mime == "application/vnd.ms-visio.drawing")
    val t = text(d)
    assert(t.contains("visible shape text"), t)
    assert(!t.contains("FOREIGN PAYLOAD"), t)
  }

  test("truncated .vsdx falls back to the filename glob") {
    // a corrupt zip can't content-specialize; the *.vsdx glob must
    // still name it (tika-mimetypes.xml glob parity)
    val d = Extractor.extract(DocRow("broken.vsdx",
      Seq(Span("bytes", Corpus.b64("PK\u0003\u0004garbage".getBytes("ISO-8859-1")), null, 0))))
    assert(d.mime == "application/vnd.ms-visio.drawing", d.mime)
  }
}
