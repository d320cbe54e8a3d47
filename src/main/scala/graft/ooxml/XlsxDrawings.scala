package graft.ooxml

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import graft.engine.{MetaSink, SpanSink}
import graft.xmlx.NsSax

/** Shape/chart/diagram text reachable from a worksheet's drawing parts —
  * shared by XLSX and XLSB (the drawing/diagram/chart parts stay XML even
  * in binary workbooks).
  *
  * Reference semantics: XSSFExcelExtractorDecorator.processDrawings —
  * per drawing rel of the sheet: SAX the drawing for `txBody` shape text
  * (textboxes, WordArt) and `hlinkClick`/`hlinkHover` URLs resolved
  * through the drawing's own rels; then walk the drawing's diagram-data
  * and chart rels, scraping DrawingML `a:t` runs and chart `c:v` values
  * (OOXMLWordAndPowerPointTextHandler's chart mode).
  */
object XlsxDrawings {

  /** SAX the part at `partPath` through the chart/diagram run-text
    * scraper — shared by XLSX drawings, PPTX
    * slides, and DOCX's end-of-document chart/diagram dump (reference:
    * SXWPFWordExtractorDecorator:300-306 and
    * SXSLFPowerPointExtractorDecorator:258-265 route these parts through
    * OOXMLWordAndPowerPointTextHandler's chart mode).
    */
  private[ooxml] def scrapeRunText(parts: Map[String, Array[Byte]],
      partPath: String, sink: SpanSink): Unit =
    parts.get(partPath).foreach { xml =>
      try NsSax.parsePlain(xml, new RunTextHandler(sink))
      catch { case _: Exception => () } // aux-part text is best-effort
    }

  /** Process every drawing rel of `sheetPath`: shape text + links, then
    * the drawing's diagram-data and chart children.
    */
  def processSheet(opc: Opc, sheetPath: String,
      sink: SpanSink, meta: MetaSink): Unit =
    for (rel <- opc.rels(sheetPath) if rel.tpe.endsWith("/drawing");
         dPath <- opc.part(sheetPath, rel)) {
      val dRels = opc.rels(dPath)
      val links = dRels.filter(_.tpe.endsWith("/hyperlink"))
        .map(r => r.id -> r.target).toMap
      try NsSax.parsePlain(opc.parts(dPath), new ShapeHandler(sink, meta, links))
      catch { case _: Exception => () } // drawing text is best-effort
      for (child <- dRels
          if child.tpe.endsWith("/diagramData") || child.tpe.endsWith("/chart");
          cPath <- opc.part(dPath, child))
        scrapeRunText(opc.parts, cPath, sink)
    }

  /** Drawing XML: `a:t` runs inside `txBody` accumulate per shape
    * (paragraph breaks keep newlines); `hlinkClick`/`hlinkHover` r:id
    * resolves through the drawing rels into `links` metadata.
    */
  private final class ShapeHandler(sink: SpanSink, meta: MetaSink,
      links: Map[String, String]) extends DefaultHandler {
    private var inTxBody = false
    private var inT = false
    private val shape = new StringBuilder

    override def startElement(u: String, l: String, q: String,
        a: Attributes): Unit = NsSax.local(l, q) match {
      case "txBody" => inTxBody = true; shape.setLength(0)
      case "t" if inTxBody => inT = true
      case "hlinkClick" | "hlinkHover" =>
        var rid: String = null
        var i = 0
        while (i < a.getLength && rid == null) {
          if (a.getQName(i).endsWith(":id")) rid = a.getValue(i)
          i += 1
        }
        Option(rid).flatMap(links.get).foreach(t => meta.add("links", t))
      case _ => ()
    }

    override def characters(ch: Array[Char], s: Int, n: Int): Unit =
      if (inT) shape.appendAll(ch, s, n)

    override def endElement(u: String, l: String, q: String): Unit =
      NsSax.local(l, q) match {
        case "t" => inT = false
        case "p" if inTxBody && shape.nonEmpty => shape.append('\n')
        case "txBody" =>
          inTxBody = false
          val text = shape.toString.trim
          if (text.nonEmpty) { sink.chars(text); sink.newline() }
        case _ => ()
      }
  }

  /** Diagram/chart XML: DrawingML `a:t` runs and chart `c:v` cached
    * values, one line per paragraph/value group (the scraping mode of
    * OOXMLWordAndPowerPointTextHandler for non-document parts).
    */
  private final class RunTextHandler(sink: SpanSink) extends DefaultHandler {
    private var inT = false
    private var inV = false
    private val buf = new StringBuilder
    private var emitted = false

    override def startElement(u: String, l: String, q: String,
        a: Attributes): Unit = {
      if (q == "a:t") { inT = true; buf.setLength(0) }
      else if (q == "c:v") { inV = true; buf.setLength(0) }
    }

    override def characters(ch: Array[Char], s: Int, n: Int): Unit =
      if (inT || inV) buf.appendAll(ch, s, n)

    override def endElement(u: String, l: String, q: String): Unit = {
      if (q == "a:t" || q == "c:v") {
        val t = buf.toString
        if (t.nonEmpty) {
          if (emitted) sink.tab()
          sink.chars(t)
          emitted = true
        }
        inT = false; inV = false
      } else if (q == "a:p" && emitted) {
        sink.newline()
        emitted = false
      }
    }

    override def endDocument(): Unit = if (emitted) sink.newline()
  }
}
