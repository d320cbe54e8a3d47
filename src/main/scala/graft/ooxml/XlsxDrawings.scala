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

  private[ooxml] final case class Rel(id: String, tpe: String, target: String)

  private[ooxml] def relsOf(parts: Map[String, Array[Byte]],
      relsPath: String): Vector[Rel] = {
    parts.get(relsPath).map { bytes =>
      val out = Vector.newBuilder[Rel]
      NsSax.parsePlain(bytes, new DefaultHandler {
        override def startElement(u: String, l: String, q: String,
            a: Attributes): Unit =
          if (q.endsWith("Relationship")) {
            val id = Option(a.getValue("Id")).getOrElse("")
            val t = Option(a.getValue("Type")).getOrElse("")
            val tgt = Option(a.getValue("Target")).getOrElse("")
            if (id.nonEmpty && tgt.nonEmpty) out += Rel(id, t, tgt)
          }
      })
      out.result()
    }.getOrElse(Vector.empty)
  }

  private[ooxml] def relsPathFor(partPath: String): String = {
    val slash = partPath.lastIndexOf('/')
    partPath.substring(0, slash + 1) + "_rels/" +
      partPath.substring(slash + 1) + ".rels"
  }

  /** Resolve a (possibly ../-relative) rel target against the dir of
    * `fromPart` — "xl/worksheets/sheet1.bin" + "../drawings/drawing1.xml"
    * → "xl/drawings/drawing1.xml".
    */
  private[ooxml] def resolve(fromPart: String, target: String): String = {
    if (target.startsWith("/")) return target.substring(1)
    val dir = fromPart.substring(0, fromPart.lastIndexOf('/'))
      .split('/').toVector
    val segs = target.split('/').toVector
    val out = segs.foldLeft(dir) {
      case (acc, "..") => if (acc.nonEmpty) acc.init else acc
      case (acc, ".") => acc
      case (acc, s) => acc :+ s
    }
    out.mkString("/")
  }

  /** SAX the part at `target` (resolved against `fromPart`) through the
    * chart/diagram run-text scraper — shared by XLSX drawings, PPTX
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
  def processSheet(parts: Map[String, Array[Byte]], sheetPath: String,
      sink: SpanSink, meta: MetaSink): Unit = {
    val sheetRels = relsOf(parts, relsPathFor(sheetPath))
    for (rel <- sheetRels if rel.tpe.endsWith("/drawing")) {
      val dPath = resolve(sheetPath, rel.target)
      parts.get(dPath).foreach { xml =>
        val dRels = relsOf(parts, relsPathFor(dPath))
        val links = dRels.filter(_.tpe.endsWith("/hyperlink"))
          .map(r => r.id -> r.target).toMap
        try NsSax.parsePlain(xml, new ShapeHandler(sink, meta, links))
        catch { case _: Exception => () } // drawing text is best-effort
        for (child <- dRels
            if child.tpe.endsWith("/diagramData") || child.tpe.endsWith("/chart")) {
          val cPath = resolve(dPath, child.target)
          parts.get(cPath).foreach { cxml =>
            try NsSax.parsePlain(cxml, new RunTextHandler(sink))
            catch { case _: Exception => () }
          }
        }
      }
    }
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

    private def local(q: String): String = q.substring(q.indexOf(':') + 1)

    override def startElement(u: String, l: String, q: String,
        a: Attributes): Unit = local(q) match {
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
      local(q) match {
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
