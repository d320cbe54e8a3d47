package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** Word/Excel 2003 single-file XML formats vs the reference's real
  * fixtures (XML2003ParserTest expectations).
  */
class MsXml2003Spec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testEXCEL2003.xml: cells, dates, links, document properties") {
    val d = extract("testEXCEL2003.xml")
    assert(d.mime == "application/vnd.ms-spreadsheetml")
    assert(d.status == Status.ParseSuccess)
    // XML2003ParserTest.testBasicExcel
    assert(d.meta.get("dc:creator").exists(_.contains("Allison, Timothy B.")))
    assert(d.meta.get("cp:version").exists(_.contains("16.00")))
    val t = text(d).replaceAll("\\s+", " ")
    assert(t.contains("Col1 Col2 Col3 Col4"), t.take(200))
    assert(t.contains("string 1 1.10"), t.take(200))
    assert(t.contains("2016-04-27T00:00:00.000"))
    assert(t.contains("tika_hyperlink"))
    assert(t.contains("5.5"))
  }

  test("testWORD2003.xml: paragraphs, tables, properties") {
    val d = extract("testWORD2003.xml")
    assert(d.mime == "application/vnd.ms-wordml")
    assert(d.status == Status.ParseSuccess)
    assert(d.meta.get("dc:creator").exists(_.contains("Allison, Timothy B.")))
    val t = text(d)
    assert(t.contains("before"))
    assert(t.contains("R1 c1"))
    assert(t.contains("R2 c3"))
  }

  test("WordML hlink: display text dropped (reference IGNORE_CHARACTERS), dest recorded") {
    // WordMLParser.java:58-61 puts w:hlink in IGNORE_CHARACTERS — the
    // reference emits no display text for hyperlinks; we keep the URL
    // under the engine's `links` metadata convention.
    val xml =
      ("""<?xml version="1.0"?><?mso-application progid="Word.Document"?>""" +
       """<w:wordDocument xmlns:w="http://schemas.microsoft.com/office/word/2003/wordml">""" +
       """<w:body><w:p><w:r><w:t>before </w:t></w:r>""" +
       """<w:hlink w:dest="https://example.com/x"><w:r><w:t>CLICKME</w:t></w:r></w:hlink>""" +
       """<w:r><w:t> after</w:t></w:r></w:p></w:body></w:wordDocument>""").getBytes("UTF-8")
    val d = Extractor.extract(DocRow("h.xml",
      Seq(Span("bytes", Corpus.b64(xml), null, 0))))
    assert(d.mime == "application/vnd.ms-wordml")
    val t = text(d)
    assert(t.contains("before"), t)
    assert(t.contains("after"), t)
    assert(!t.contains("CLICKME"), t)
    assert(d.meta.get("links").exists(_.contains("https://example.com/x")))
  }

  test("SpreadsheetML: a Cell without Data still holds its column") {
    // SpreadsheetMLParser emits one td per CELL; '<Cell/><Cell><Data>X'
    // must keep X in column 2, not shift it left.
    val xml =
      ("""<?xml version="1.0"?><Workbook xmlns="urn:schemas-microsoft-com:office:spreadsheet" """ +
       """xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet"><Worksheet ss:Name="S1">""" +
       """<Table><Row><Cell/><Cell><Data ss:Type="String">X</Data></Cell></Row>""" +
       """<Row><Cell ss:HRef="https://example.com/l"><Data ss:Type="String">lnk</Data></Cell></Row>""" +
       """</Table></Worksheet></Workbook>""").getBytes("UTF-8")
    val d = Extractor.extract(DocRow("s.xml",
      Seq(Span("bytes", Corpus.b64(xml), null, 0))))
    assert(d.mime == "application/vnd.ms-spreadsheetml")
    val t = text(d)
    assert(t.contains("\tX"), t.replace("\t", "\\t"))
    assert(t.contains("lnk"), t)
    assert(d.meta.get("links").exists(_.contains("https://example.com/l")))
  }

  test("testWORDML_tableInsideParagraph.doc: WordML root beats .doc hint") {
    val d = extract("testWORDML_tableInsideParagraph.doc")
    // XML2003ParserTest.testTableInsideParagraph — the root-XML clause
    // is a requirement: the filename hint must not demote it to msword
    assert(d.mime == "application/vnd.ms-wordml")
    assert(d.status == Status.ParseSuccess)
    val t = text(d)
    assert(t.contains("First Page"))
    assert(t.contains("tic-tac-toe"), "CDATA cell text inside w:tbl-in-w:p")
  }
}
