package graft.ooxml

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import graft.engine.{MetaSink, SpanSink}
import graft.zipx.ZipUtil
import graft.xmlx.NsSax

/** XPS / OpenXPS fixed-document text extraction.
  *
  * Reference semantics (apache/tika):
  *  - package walk: tika-parsers .../microsoft/ooxml/xps/
  *    XPSExtractorDecorator.java:92-121 — `_rels/.rels` relationship of
  *    type `.../fixedrepresentation` → FixedDocSeq.fdseq, whose
  *    DocumentReference/@Source points at FixedDoc.fdoc parts, whose
  *    PageContent/@Source points at the .fpage parts (paths resolved
  *    against the .fdoc's directory, XPSExtractorDecorator.java:185-240);
  *  - page layout: XPSPageContentHandler.java:92-594 — Glyphs elements
  *    are buffered per canvas (Canvas/@Clip and VisualBrush/@Transform
  *    stack as the grouping key), grouped into rows when |Δy| <
  *    0.5·avg-em (ROW_COMBINE_THRESHOLD), runs split where a glyph
  *    advance exceeds 1.0 em (SPLIT_THRESHOLD), rows sorted LTR unless
  *    every non-blank run is RTL (odd BidiLevel), and a space inserted
  *    between runs more than 0.3 em apart (WHITESPACE_THRESHOLD);
  *  - FixedPage.NavigateUri urls are collected and dumped at the end of
  *    the page, ImageBrush/@ImageSource parts and the docProps thumbnail
  *    become embedded image documents (XPSPageContentHandler.java:283-303,
  *    XPSExtractorDecorator.java:110-120).
  */
object XpsExtractor {

  private val EstimateGlyphWidth = 0.5f
  private val WhitespaceThreshold = 0.3f
  private val SplitThreshold = 1.0f
  private val RowCombineThreshold = 0.5f

  private final case class GlyphRun(
      originX: Float, originY: Float, text: String, rtl: Boolean,
      advances: Array[Float], fontSize: Float) {
    def width: Float = {
      var w = 0.0f
      var i = 0
      while (i < advances.length) {
        if (advances(i) == 0.0f)
          w += (if (i == 0) EstimateGlyphWidth else w / i)
        else w += advances(i)
        i += 1
      }
      w * fontSize
    }
    def left: Float = if (rtl) originX - width else originX
    def right: Float = if (rtl) originX else originX + width
  }

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit): Unit = {
    val parts = ZipUtil.entriesMap(bytes, n =>
      n.endsWith(".fdseq") || n.endsWith(".fdoc") || n.endsWith(".fpage") ||
      n.endsWith(".rels") || n.endsWith(".xml"))
    corePropsWithDates(parts, meta)

    val fdseqPath = fixedRepresentationTarget(parts)
      .orElse(parts.keys.find(_.endsWith(".fdseq")))
    val images = scala.collection.mutable.LinkedHashSet[String]()

    fdseqPath.foreach { seq =>
      for (fdoc <- sourcesOf(parts.getOrElse(seq, Array.emptyByteArray),
                             "DocumentReference")) {
        val fdocPath = stripSlash(fdoc)
        val relativeRoot = {
          val i = fdocPath.lastIndexOf('/')
          if (i > 0) fdocPath.substring(0, i) else ""
        }
        for (page <- sourcesOf(parts.getOrElse(fdocPath, Array.emptyByteArray),
                               "PageContent")) {
          val pagePath = stripSlash(
            if (page.startsWith("/")) page else relativeRoot + "/" + page)
          // .fpage parts are already in the single-pass parts map —
          // re-walking the archive per page would be O(pages × size)
          parts.get(pagePath).foreach { fp =>
            extractPage(fp, sink, images)
          }
        }
      }
    }

    // Embedded images (ImageBrush sources in page order, then the package
    // thumbnail) become child documents, like the reference's
    // EmbeddedDocumentUtil.parseEmbedded calls.
    for (img <- images; data <- ZipUtil.entry(bytes, stripSlash(img)))
      child(img.substring(img.lastIndexOf('/') + 1), data)
    // package thumbnail: the OPC `relationships/metadata/thumbnail`
    // relationship (AbstractOOXMLExtractor's package-part walk surfaces
    // it as an embedded doc in the reference)
    for (thumb <- relTargets(parts, "/thumbnail").headOption;
         data <- ZipUtil.entry(bytes, stripSlash(thumb)))
      child(thumb.substring(thumb.lastIndexOf('/') + 1), data)
  }

  /** Targets of relationships whose Type ends with the given suffix,
    * across every .rels part.
    */
  private def relTargets(parts: Map[String, Array[Byte]],
      typeSuffix: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    for ((name, b) <- parts if name.endsWith(".rels"))
      NsSax.parsePlain(b, new DefaultHandler {
        override def startElement(u: String, l: String, q: String,
            a: Attributes): Unit =
          if (local(l, q) == "Relationship" &&
              Option(a.getValue("Type")).exists(_.endsWith(typeSuffix)))
            Option(a.getValue("Target")).foreach(out += _)
      })
    out.result()
  }

  /** OPC core properties incl. creation/modification dates
    * (XPS docProps/core.xml uses the same schema as OOXML).
    */
  private def corePropsWithDates(parts: Map[String, Array[Byte]],
      meta: MetaSink): Unit = {
    DocxExtractor.corePropsFrom(parts, meta)
    parts.get("docProps/core.xml").foreach { b =>
      val buf = new StringBuilder
      var field: String = null
      NsSax.parsePlain(b, new DefaultHandler {
        override def startElement(u: String, l: String, q: String,
            a: Attributes): Unit = {
          val n = local(l, q)
          if (n == "created" || n == "modified") { field = n; buf.setLength(0) }
        }
        override def characters(ch: Array[Char], s: Int, len: Int): Unit =
          if (field != null) buf.appendAll(ch, s, len)
        override def endElement(u: String, l: String, q: String): Unit = {
          if (local(l, q) == field) {
            meta.set("dcterms:" + field, buf.toString.trim)
            field = null
          }
        }
      })
    }
  }

  /** `_rels/.rels` Relationship of the XPS/OpenXPS fixedrepresentation
    * type → its Target (XPSExtractorDecorator.java:52-56,92-97).
    */
  private def fixedRepresentationTarget(
      parts: Map[String, Array[Byte]]): Option[String] = {
    var target: Option[String] = None
    parts.get("_rels/.rels").foreach { b =>
      NsSax.parsePlain(b, new DefaultHandler {
        override def startElement(u: String, l: String, q: String,
            a: Attributes): Unit =
          if (local(l, q) == "Relationship") {
            val t = Option(a.getValue("Type")).getOrElse("")
            if (t.endsWith("/fixedrepresentation") && target.isEmpty)
              target = Option(a.getValue("Target")).map(stripSlash)
          }
      })
    }
    target
  }

  /** All @Source values of the named element in a part. */
  private def sourcesOf(bytes: Array[Byte], element: String): Vector[String] = {
    if (bytes.isEmpty) return Vector.empty
    val out = Vector.newBuilder[String]
    NsSax.parsePlain(bytes, new DefaultHandler {
      override def startElement(u: String, l: String, q: String,
          a: Attributes): Unit =
        if (local(l, q) == element)
          Option(a.getValue("Source")).foreach(out += _)
    })
    out.result()
  }

  private def stripSlash(s: String): String =
    if (s.startsWith("/")) s.substring(1) else s

  private def local(l: String, q: String): String =
    if (l != null && l.nonEmpty) l else q.substring(q.indexOf(':') + 1)

  /** One .fpage: buffer glyph runs per canvas, lay out rows, dump urls. */
  private def extractPage(fpage: Array[Byte], sink: SpanSink,
      images: scala.collection.mutable.LinkedHashSet[String]): Unit = {
    val canvases =
      scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[GlyphRun]]()
    val urls = scala.collection.mutable.LinkedHashSet[String]()
    val canvasStack = scala.collection.mutable.Stack[String]()

    NsSax.parsePlain(fpage, new DefaultHandler {
      override def startElement(u: String, l: String, q: String,
          a: Attributes): Unit = local(l, q) match {
        case "Canvas" =>
          canvasStack.push(Option(a.getValue("Clip")).getOrElse("NULL_CLIP"))
        case "VisualBrush" =>
          canvasStack.push(Option(a.getValue("Transform")).getOrElse("NULL_CLIP"))
        case "Path" =>
          Option(a.getValue("FixedPage.NavigateUri")).foreach(urls += _)
        case "ImageBrush" =>
          Option(a.getValue("ImageSource"))
            .filterNot(_.startsWith("{")) // ColorConvertedBitmap syntax
            .foreach(images += _)
        case "Glyphs" =>
          val text = a.getValue("UnicodeString")
          if (text != null && text.nonEmpty) {
            val ox = num(a.getValue("OriginX")).getOrElse(Int.MinValue.toFloat)
            val oy = num(a.getValue("OriginY")).getOrElse(Int.MaxValue.toFloat)
            val rtl = Option(a.getValue("BidiLevel"))
              .flatMap(_.trim.toIntOption).exists(_ % 2 == 1)
            val fontSize = num(a.getValue("FontRenderingEmSize")).getOrElse(0f)
            val advances = parseIndices(a.getValue("Indices"))
            val key = canvasStack.reverseIterator.mkString(";")
            canvases.getOrElseUpdate(key,
              scala.collection.mutable.ArrayBuffer[GlyphRun]()) +=
              GlyphRun(ox, oy, text, rtl, advances, fontSize)
          }
        case _ => ()
      }
      override def endElement(u: String, l: String, q: String): Unit =
        // reference parity: only Canvas ends pop the stack — a
        // VisualBrush transform stays on it for the glyphs that follow
        // (XPSPageContentHandler.endElement:283-287 pops CANVAS only)
        if (local(l, q) == "Canvas") {
          if (canvasStack.nonEmpty) canvasStack.pop()
        }
    })

    for ((_, runs) <- canvases if runs.nonEmpty;
         row <- buildRows(runs.toVector))
      writeRow(row, sink)
    for (u <- urls) { sink.chars(u); sink.newline() }
  }

  private def num(s: String): Option[Float] =
    Option(s).map(_.trim).filter(_.nonEmpty).flatMap(_.toFloatOption)

  /** Indices attribute: `index,advance,uOffset,vOffset;...` — only the
    * advance (hundredths of an em) matters for layout
    * (XPSPageContentHandler.parseIndicesString).
    */
  private def parseIndices(s: String): Array[Float] =
    if (s == null || s.isEmpty) Array.emptyFloatArray
    else s.split(";", -1).map { part =>
      val fields = part.split(",", -1)
      if (fields.length < 2) 0.0f
      else fields(1).trim.toFloatOption.map(_ / 100.0f).getOrElse(0.0f)
    }

  /** Group runs into rows by vertical proximity to the nearest existing
    * row (XPSPageContentHandler.buildRows/findClosestRowVertically).
    */
  private def buildRows(runs: Vector[GlyphRun]): Vector[Vector[GlyphRun]] = {
    val rows = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[GlyphRun]]()
    var maxY = -1.0f
    for (run <- runs) {
      if (rows.isEmpty) rows += scala.collection.mutable.ArrayBuffer(run)
      else {
        // nearest row by the y of its most recent run, searched backwards
        var best: scala.collection.mutable.ArrayBuffer[GlyphRun] = null
        var bestD = Float.PositiveInfinity
        var i = rows.length - 1
        while (i >= 0 && bestD > 0f) {
          val d = math.abs(rows(i).last.originY - run.originY)
          if (d < bestD) { bestD = d; best = rows(i) }
          i -= 1
        }
        val avgEm = (run.fontSize + best.head.fontSize) / 2f
        if (math.abs(run.originY - best.head.originY) < avgEm * RowCombineThreshold)
          best += run
        else {
          rows += scala.collection.mutable.ArrayBuffer(run)
          if (maxY > -1.0f && run.originY < maxY)
            rows.sortInPlaceBy(_.head.originY)
        }
        if (run.originY > maxY) maxY = run.originY
      }
    }
    rows.map(_.toVector).toVector
  }

  /** One row → one text line: split runs at >1-em internal gaps, order
    * left-to-right (right-to-left when the whole row is RTL), and insert
    * a space between runs more than 0.3 em apart
    * (XPSPageContentHandler.writeRow/splitRow/sortRow).
    */
  private def writeRow(rowIn: Vector[GlyphRun], sink: SpanSink): Unit = {
    val row = rowIn.flatMap(splitRun)
    val allRtl = {
      val visible = row.filterNot(_.text.forall(_.isWhitespace))
      visible.nonEmpty && visible.forall(_.rtl)
    }
    val sorted = if (allRtl) row.sortBy(r => -r.left) else row.sortBy(_.left)
    var previous: GlyphRun = null
    for (run <- sorted) {
      if (previous != null) {
        val gap = run.left - previous.right
        val avgEm = (run.fontSize + previous.fontSize) / 2f
        if (gap > avgEm * WhitespaceThreshold) sink.chars(" ")
      }
      sink.chars(run.text)
      previous = run
    }
    sink.newline()
  }

  /** Split an LTR run wherever one glyph advance exceeds 1 em — text is
    * often visually interposed in such gaps and must read separately.
    */
  private def splitRun(runIn: GlyphRun): Vector[GlyphRun] = {
    if (runIn.rtl) return Vector(runIn)
    val out = Vector.newBuilder[GlyphRun]
    var run = runIn
    var width = 0.0f
    var i = 0
    while (i < run.advances.length - 1 && i < run.text.length - 1) {
      val adv = run.advances(i)
      width += (if (adv == 0.0f) { if (i == 0) EstimateGlyphWidth else width / i }
                else adv)
      if (adv > SplitThreshold) {
        val headAdv = run.advances.slice(0, i + 1); headAdv(i) = 0.0f
        out += run.copy(text = run.text.substring(0, i + 1), advances = headAdv)
        run = run.copy(originX = run.originX + width * run.fontSize,
          text = run.text.substring(i + 1),
          advances = run.advances.drop(i + 1))
        width = 0.0f
        i = 1 // reference resumes at index 1 (i=0 then the for-loop's i++)
      } else i += 1
    }
    out += run
    out.result()
  }
}
