package graft.ooxml

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import scala.collection.mutable.ArrayBuffer
import graft.engine.{MetaSink, SpanSink}
import graft.zipx.ZipUtil
import graft.xmlx.NsSax

/** Streaming XLSX text extraction.
  *
  * Reference semantics: tika-parsers .../ooxml/XSSFExcelExtractorDecorator
  * .java (1,376 LoC) + TikaSheetXMLHandler.java (398) — sharedStrings +
  * per-sheet SAX, sheet content rendered as table markup, which under the
  * XHTML serialization rules becomes tab-prefixed cells and newline-
  * terminated rows (XHTMLContentHandler INDENT/ENDLINE sets).
  * Sheets are processed in workbook order (xl/workbook.xml sheet list →
  * relationship targets).
  */
object XlsxExtractor {

  def extract(zipBytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => ()): Unit = {
    val opc = new Opc(ZipUtil.entriesMap(zipBytes,
      n => ZipUtil.XmlParts(n) || n.contains("/embeddings/")))
    val parts = opc.parts
    DocxExtractor.embeddedParts(parts, child)
    val shared = sharedStringsFrom(parts)
    val sheets = sheetsFrom(opc)
    val (xfs, customFmts) = XlsxNumFormat.stylesFrom(parts)
    opc.coreProps(meta)
    sheets.foreach { case (name, rel) =>
      meta.add("sheet:name", name)
      opc.part(Workbook, rel).foreach { path =>
        NsSax.parsePlain(parts(path), new SheetHandler(shared, xfs, customFmts, sink))
        // cell comments render after the table ("author: text" lines)
        for (rel <- opc.rels(path) if rel.tpe.endsWith("/comments");
             c <- opc.part(path, rel))
          XlsxComments.emit(XlsxComments.fromXml(parts(c)), sink)
        // shape/diagram/chart text from the sheet's drawing parts
        XlsxDrawings.processSheet(opc, path, sink, meta)
        sink.newline() // sheet (table) end
      }
    }
  }

  private val Workbook = "xl/workbook.xml"

  /** xl/sharedStrings.xml → indexed string pool. */
  def sharedStringsFrom(parts: Map[String, Array[Byte]]): Vector[String] = {
    parts.get("xl/sharedStrings.xml").map { bytes =>
      val out = new ArrayBuffer[String]()
      val buf = new StringBuilder
      var inSi = false
      var inT = false
      NsSax.parsePlain(bytes, new DefaultHandler {
        override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
          NsSax.local(l, q) match {
            case "si" => inSi = true; buf.setLength(0)
            case "t" => inT = true
            case _ => ()
          }
        override def characters(ch: Array[Char], s: Int, n: Int): Unit =
          if (inSi && inT) buf.appendAll(ch, s, n)
        override def endElement(u: String, l: String, q: String): Unit =
          NsSax.local(l, q) match {
            case "si" => inSi = false; out += buf.toString
            case "t" => inT = false
            case _ => ()
          }
      })
      out.toVector
    }.getOrElse(Vector.empty)
  }

  /** Workbook sheet order + workbook rels → (name, worksheet relationship). */
  private def sheetsFrom(opc: Opc): Vector[(String, Opc.Rel)] = {
    val rels = opc.byId(Workbook)
    opc.parts.get(Workbook).map { bytes =>
      val out = new ArrayBuffer[(String, Opc.Rel)]()
      NsSax.parsePlain(bytes, new DefaultHandler {
        override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
          if (NsSax.local(l, q) == "sheet") {
            val name = Option(a.getValue("name")).getOrElse("")
            var rid: String = null
            var i = 0
            while (i < a.getLength && rid == null) {
              if (a.getQName(i).endsWith("id")) rid = a.getValue(i)
              i += 1
            }
            Option(rid).flatMap(rels.get).foreach(r => out += ((name, r)))
          }
      })
      out.toVector
    }.getOrElse(Vector.empty)
  }

  /** Sheet XML → cells/rows (TikaSheetXMLHandler analog). Numeric cells
    * format through the style table like the reference's DataFormatter
    * route (XSSFExcelExtractorDecorator.java — round-3 verdict item #5).
    */
  private final class SheetHandler(shared: Vector[String], xfs: Vector[Int],
      customFmts: Map[Int, String], sink: SpanSink)
      extends DefaultHandler {
    private var cellType: String = null
    private var styleIdx = -1
    private var inV = false
    private var inIsT = false
    private val v = new StringBuilder

    override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
      NsSax.local(l, q) match {
        case "c" =>
          cellType = Option(a.getValue("t")).getOrElse("n")
          styleIdx = Option(a.getValue("s")).flatMap(_.toIntOption).getOrElse(-1)
        case "v" => inV = true; v.setLength(0)
        case "t" => if (cellType == "inlineStr") { inIsT = true; v.setLength(0) }
        case _ => ()
      }

    override def characters(ch: Array[Char], s: Int, n: Int): Unit =
      if (inV || inIsT) v.appendAll(ch, s, n)

    private def fmtCode: String = {
      val numFmtId = if (styleIdx >= 0 && styleIdx < xfs.length) xfs(styleIdx) else 0
      if (numFmtId == 0) "General"
      else customFmts.getOrElse(numFmtId,
        XlsxNumFormat.Builtin.getOrElse(numFmtId, "General"))
    }

    override def endElement(u: String, l: String, q: String): Unit =
      NsSax.local(l, q) match {
        case "v" | "t" if inV || inIsT =>
          val raw = v.toString
          val text = cellType match {
            case "s" => raw.toIntOption.flatMap(shared.lift).getOrElse(raw)
            case "b" => if (raw == "1") "TRUE" else "FALSE"
            case "n" => XlsxNumFormat.format(raw, fmtCode)
            case _ => raw
          }
          sink.tab()      // td INDENT
          sink.chars(text)
          inV = false; inIsT = false
        case "row" => sink.newline() // tr ENDLINE
        case _ => ()
      }
  }
}

/** Streaming PPTX text extraction.
  *
  * Reference: tika-parsers .../ooxml/SXSLFPowerPointExtractorDecorator —
  * slides in presentation order (ppt/presentation.xml sldIdLst →
  * relationship targets), DrawingML `a:t` runs, paragraph (`a:p`) end →
  * newline; slide end → newline. Per slide the reference then walks
  * (buildXHTML/handleSlidePart order): slideLayout (placeholder-skipped,
  * OfficeParserConfig.includeSlideMasterContent defaults true), notes,
  * notesMaster, comments (author names via commentAuthors.xml,
  * XSLFCommentsHandler), diagram-data, chart; after all slides the
  * slideMaster parts (placeholder-skipped) and handoutMaster.
  */
object PptxExtractor {

  def extract(zipBytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => ()): Unit = {
    val opc = new Opc(ZipUtil.entriesMap(zipBytes,
      n => ZipUtil.XmlParts(n) || n.contains("/embeddings/")))
    val parts = opc.parts
    DocxExtractor.embeddedParts(parts, child)
    opc.coreProps(meta)
    val presRels = opc.rels(Presentation)
    def presParts(suffix: String): Vector[String] =
      presRels.filter(_.tpe.endsWith(suffix)).flatMap(opc.part(Presentation, _))
    val authors = commentAuthorsFrom(parts, presParts("/commentAuthors"))
    slidesFrom(opc).foreach { path =>
      val rels = opc.rels(path)
      NsSax.parsePlain(parts(path), new SlideHandler(sink, opc.byId(path)))
      def each(suffix: String)(f: String => Unit): Unit =
        for (rel <- rels if rel.tpe.endsWith(suffix); p <- opc.part(path, rel))
          f(p)
      // layout text right after the slide's own (placeholder shapes
      // suppressed — "Click to edit…" boilerplate lives in <p:ph> shapes)
      each("/slideLayout")(p => NsSax.parsePlain(parts(p),
        new PlaceholderSkipHandler(new SlideHandler(sink))))
      // speaker notes follow (includeSlideNotes defaults true), then
      // the notes master when the slide links one directly
      each("/notesSlide")(p => NsSax.parsePlain(parts(p), new SlideHandler(sink)))
      each("/notesMaster")(p => NsSax.parsePlain(parts(p),
        new PlaceholderSkipHandler(new SlideHandler(sink))))
      each("/comments")(p => NsSax.parsePlain(parts(p), new CommentsHandler(sink, authors)))
      each("/diagramData")(p => XlsxDrawings.scrapeRunText(parts, p, sink))
      each("/chart")(p => XlsxDrawings.scrapeRunText(parts, p, sink))
      sink.newline() // slide end
    }
    // master text after all slides (reference buildXHTML:139-151);
    // handout master is NOT placeholder-skipped there
    presParts("/slideMaster").foreach(p => NsSax.parsePlain(parts(p),
      new PlaceholderSkipHandler(new SlideHandler(sink))))
    presParts("/handoutMaster").foreach(p => NsSax.parsePlain(parts(p), new SlideHandler(sink)))
  }

  private val Presentation = "ppt/presentation.xml"

  /** authorId → (name, initials) from ppt/commentAuthors.xml. */
  private def commentAuthorsFrom(parts: Map[String, Array[Byte]],
      authorParts: Vector[String]): Map[String, (String, String)] = {
    val out = Map.newBuilder[String, (String, String)]
    for (p <- authorParts)
      NsSax.parsePlain(parts(p), new DefaultHandler {
        override def startElement(u: String, l: String, q: String,
            a: Attributes): Unit =
          if (q.endsWith(":cmAuthor")) {
            val id = Option(a.getValue("id")).getOrElse("")
            if (id.nonEmpty) out += id ->
              (Option(a.getValue("name")).getOrElse(""),
                Option(a.getValue("initials")).getOrElse(""))
          }
      })
    out.result()
  }

  /** Slide comments: "<author> (<initials>)" then the comment text, one
    * line per `p:cm` (reference XSLFCommentsHandler's slide-comment
    * paragraph, flattened to the text face).
    */
  private final class CommentsHandler(sink: SpanSink,
      authors: Map[String, (String, String)]) extends DefaultHandler {
    private var inCm = false
    private var authorId = ""
    private val buf = new StringBuilder
    override def startElement(u: String, l: String, q: String,
        a: Attributes): Unit =
      if (q.endsWith(":cm")) {
        inCm = true
        authorId = Option(a.getValue("authorId")).getOrElse("")
        buf.setLength(0)
      }
    override def characters(ch: Array[Char], s: Int, n: Int): Unit =
      if (inCm) buf.appendAll(ch, s, n)
    override def endElement(u: String, l: String, q: String): Unit =
      if (q.endsWith(":cm") && inCm) {
        inCm = false
        authors.get(authorId).foreach { case (name, initials) =>
          val who =
            if (name.nonEmpty && initials.nonEmpty) s"$name ($initials)"
            else if (name.nonEmpty) name else initials
          if (who.nonEmpty) sink.chars(who)
        }
        sink.chars(buf.toString)
        sink.newline()
      }
  }

  /** Suppress text inside placeholder (`p:ph`) shapes of master/layout
    * parts — the reference's PlaceHolderSkipper: skip from `<p:ph>` until
    * the enclosing `p:sp` closes.
    */
  private final class PlaceholderSkipHandler(inner: DefaultHandler)
      extends DefaultHandler {
    private var inPh = false
    override def startElement(u: String, l: String, q: String,
        a: Attributes): Unit = {
      if (q.endsWith(":ph") || q == "ph") inPh = true
      if (!inPh) inner.startElement(u, l, q, a)
    }
    override def characters(ch: Array[Char], s: Int, n: Int): Unit =
      if (!inPh) inner.characters(ch, s, n)
    override def endElement(u: String, l: String, q: String): Unit = {
      if (!inPh) inner.endElement(u, l, q)
      if (q.endsWith(":sp") || q == "sp") inPh = false
    }
  }

  /** presentation.xml sldIdLst order + presentation rels → slide parts. */
  private def slidesFrom(opc: Opc): Vector[String] = {
    val rels = opc.byId(Presentation)
    opc.parts.get(Presentation).map { bytes =>
      val out = new ArrayBuffer[String]()
      NsSax.parsePlain(bytes, new org.xml.sax.helpers.DefaultHandler {
        override def startElement(u: String, l: String, q: String,
            a: Attributes): Unit =
          if (q.endsWith("sldId")) {
            var i = 0
            while (i < a.getLength) {
              if (a.getQName(i).endsWith(":id") &&
                  a.getQName(i).startsWith("r")) {
                rels.get(a.getValue(i)).flatMap(opc.part(Presentation, _))
                  .foreach(out += _)
              }
              i += 1
            }
          }
      })
      out.toVector
    }.getOrElse(Vector.empty)
  }

  private final class SlideHandler(sink: SpanSink,
      rels: Map[String, Opc.Rel] = Map.empty) extends DefaultHandler {
    private var inT = false
    private def mediaRef(a: Attributes, attr: String): Unit = {
      var rid: String = null
      var i = 0
      while (i < a.getLength && rid == null) {
        val q = a.getQName(i)
        if (q == s"r:$attr" || q.endsWith(s":$attr")) rid = a.getValue(i)
        i += 1
      }
      Option(rid).flatMap(rels.get).foreach(r =>
        sink.media("embedded:" + r.target.stripPrefix("../")))
    }
    override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
      if (q == "a:t") inT = true
      // pictures (a:blip r:embed) and linked audio/video (p:audioFile /
      // p:videoFile r:link) surface as media spans, same shape as DOCX
      else if (q.endsWith(":blip")) mediaRef(a, "embed")
      else if (q.endsWith(":audioFile") || q.endsWith(":videoFile"))
        mediaRef(a, "link")
    override def characters(ch: Array[Char], s: Int, n: Int): Unit =
      if (inT) sink.chars(new String(ch, s, n))
    override def endElement(u: String, l: String, q: String): Unit = {
      if (q == "a:t") inT = false
      else if (q == "a:p") sink.newline()
    }
  }
}
