package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.{Extractor, MetaSink}
import graft.ooxml.Opc
import graft.zipx.ZipUtil

/** The OPC package reader every OOXML, Visio and XPS extractor shares:
  * relationship parsing, target resolution, the sheet-target lookup rule
  * and core properties, over packages written here with `java.util.zip`.
  */
class OpcSpec extends AnyFunSuite {

  private def zip(entries: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    for ((name, text) <- entries) {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(text.getBytes(UTF_8))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  private def opc(entries: (String, String)*): Opc =
    new Opc(ZipUtil.entriesMap(zip(entries: _*), _ => true))

  private val RelNs = "http://schemas.openxmlformats.org/package/2006/relationships"
  private val OfficeRel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships/"

  private def rels(body: String): String =
    s"""<?xml version="1.0"?><Relationships xmlns="$RelNs">$body</Relationships>"""

  private def rel(id: String, tpe: String, target: String, extra: String = ""): String =
    s"""<Relationship Id="$id" Type="$OfficeRel$tpe" Target="$target"$extra/>"""

  test("resolve: absolute, relative, ./ and ../ targets") {
    import Opc.resolve
    assert(resolve("word/document.xml", "/customXml/item1.xml") == "customXml/item1.xml")
    assert(resolve("word/document.xml", "media/image1.png") == "word/media/image1.png")
    assert(resolve("word/document.xml", "./charts/chart1.xml") == "word/charts/chart1.xml")
    assert(resolve("xl/worksheets/sheet1.xml", "../drawings/drawing1.xml") ==
      "xl/drawings/drawing1.xml")
    assert(resolve("xl/worksheets/sheet1.xml", "../../../comments1.xml") == "comments1.xml")
    assert(resolve("ppt/slides/slide1.xml", "..//notesSlides/./notesSlide1.xml") ==
      "ppt/notesSlides/notesSlide1.xml")
    // a part in the package root, and the package itself
    assert(resolve("FixedDocSeq.fdseq", "Documents/1/FixedDoc.fdoc") ==
      "Documents/1/FixedDoc.fdoc")
    assert(resolve("", "./visio/document.xml") == "visio/document.xml")
  }

  test("rels: document order, prefixed element, External target, duplicate Id") {
    val p = opc(
      "word/document.xml" -> "<w:document/>",
      "word/media/image1.png" -> "",
      "word/_rels/document.xml.rels" ->
        (s"""<?xml version="1.0"?><pr:Relationships xmlns:pr="$RelNs">""" +
        """<pr:Relationship Id="rId1" Type="t/image" Target="media/image1.png"/>""" +
        """<pr:Relationship Id="rId2" Type="t/hyperlink" Target="http://example.com/x" TargetMode="External"/>""" +
        """<pr:Relationship Id="rId1" Type="t/image" Target="media/image2.png"/>""" +
        """<pr:Relationship Type="t/noId" Target="media/image1.png"/>""" +
        """</pr:Relationships>"""))
    val rs = p.rels("word/document.xml")
    assert(rs.map(r => (r.id, r.tpe, r.target, r.external)) == Vector(
      ("rId1", "t/image", "media/image1.png", false),
      ("rId2", "t/hyperlink", "http://example.com/x", true),
      ("rId1", "t/image", "media/image2.png", false)))
    // the External hyperlink keeps its raw target and names no part
    assert(p.part("word/document.xml", rs(1)).isEmpty)
    assert(p.part("word/document.xml", rs(0)).contains("word/media/image1.png"))
    assert(p.part("word/document.xml", rs(2)).isEmpty) // not in the package
    // a duplicate Id keeps the last relationship
    assert(p.byId("word/document.xml")("rId1").target == "media/image2.png")
    assert(p.byId("word/document.xml")("rId2").target == "http://example.com/x")
  }

  test("rels: package root, a root-level part, a missing rels part, one parse") {
    val p = opc(
      "_rels/.rels" -> rels(rel("R0", "officeDocument", "/FixedDocSeq.fdseq")),
      "FixedDocSeq.fdseq" -> "<FixedDocumentSequence/>",
      "_rels/FixedDocSeq.fdseq.rels" -> rels(rel("R1", "doc", "Documents/1/FixedDoc.fdoc")),
      "Documents/1/FixedDoc.fdoc" -> "<FixedDocument/>")
    assert(p.rels("").map(_.target) == Vector("/FixedDocSeq.fdseq"))
    val seq = p.part("", p.rels("").head)
    assert(seq.contains("FixedDocSeq.fdseq"))
    val docs = p.rels("FixedDocSeq.fdseq")
    assert(p.part("FixedDocSeq.fdseq", docs.head).contains("Documents/1/FixedDoc.fdoc"))
    assert(p.rels("Documents/1/FixedDoc.fdoc").isEmpty)
    assert(p.rels("no/such/part.xml").isEmpty)
    // each rels part is parsed once per package: the same collection back
    assert(p.rels("") eq p.rels(""))
  }

  test("rels: a malformed rels part throws") {
    val p = opc("xl/workbook.xml" -> "<workbook/>",
      "xl/_rels/workbook.xml.rels" -> "<Relationships><Relationship Id=")
    intercept[org.xml.sax.SAXException](p.rels("xl/workbook.xml"))
    intercept[org.xml.sax.SAXException](p.byId("xl/workbook.xml"))
  }

  test("part: a target written package-relative without its slash is found") {
    val p = opc(
      "xl/workbook.xml" -> "<workbook/>",
      "xl/worksheets/sheet1.xml" -> "<worksheet/>",
      "xl/_rels/workbook.xml.rels" -> rels(
        rel("rId1", "worksheet", "xl/worksheets/sheet1.xml") +
        rel("rId2", "worksheet", "worksheets/sheet1.xml") +
        rel("rId3", "worksheet", "worksheets/sheet9.xml")))
    val Vector(a, b, c) = p.rels("xl/workbook.xml")
    assert(Opc.resolve("xl/workbook.xml", a.target) == "xl/xl/worksheets/sheet1.xml")
    assert(p.part("xl/workbook.xml", a).contains("xl/worksheets/sheet1.xml"))
    assert(p.part("xl/workbook.xml", b).contains("xl/worksheets/sheet1.xml"))
    assert(p.part("xl/workbook.xml", c).isEmpty)
  }

  test("an XLSX whose workbook rels name the sheet package-relative extracts it") {
    val bytes = zip(
      "[Content_Types].xml" ->
        ("""<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/></Types>"""),
      "_rels/.rels" -> rels(rel("rId1", "officeDocument", "xl/workbook.xml")),
      "xl/workbook.xml" ->
        """<workbook xmlns:r="r"><sheets><sheet name="Only" sheetId="1" r:id="rId1"/></sheets></workbook>""",
      "xl/_rels/workbook.xml.rels" -> rels(rel("rId1", "worksheet", "xl/worksheets/sheet1.xml")),
      "xl/worksheets/sheet1.xml" ->
        """<worksheet><sheetData><row><c t="inlineStr"><is><t>fallback cell</t></is></c></row></sheetData></worksheet>""")
    val d = Extractor.extract(DocRow("wb.xlsx", Seq(Span("bytes", Corpus.b64(bytes), null, 0))))
    assert(d.status == Status.ParseSuccess)
    assert(d.spans.exists(_.text.contains("fallback cell")), d.spans)
    assert(d.meta.get("sheet:name").contains(Seq("Only")))
  }

  test("coreProps: Dublin Core fields, dates only when asked") {
    val p = opc("docProps/core.xml" ->
      ("""<cp:coreProperties xmlns:cp="c" xmlns:dc="d" xmlns:dcterms="t">""" +
      """<dcterms:created>2020-01-02T03:04:05Z</dcterms:created>""" +
      """<dc:title> A title </dc:title><dc:creator>Someone</dc:creator>""" +
      """<dcterms:modified>2021-01-02T03:04:05Z</dcterms:modified></cp:coreProperties>"""))
    val plain = new MetaSink()
    p.coreProps(plain)
    assert(plain.result() == Map("dc:title" -> Seq("A title"), "dc:creator" -> Seq("Someone")))
    val dated = new MetaSink()
    p.coreProps(dated, dates = true)
    assert(dated.result() == Map("dc:title" -> Seq("A title"), "dc:creator" -> Seq("Someone"),
      "dcterms:created" -> Seq("2020-01-02T03:04:05Z"),
      "dcterms:modified" -> Seq("2021-01-02T03:04:05Z")))
  }
}
