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
  *    XPSExtractorDecorator.java:92-121 — the package relationship of
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
    val opc = new Opc(ZipUtil.entriesMap(bytes, n =>
      n.endsWith(".fdseq") || n.endsWith(".fdoc") || n.endsWith(".fpage") ||
      n.endsWith(".rels") || n.endsWith(".xml")))
    val parts = opc.parts
    opc.coreProps(meta, dates = true)
    // package relationships of type .../fixedrepresentation and
    // .../metadata/thumbnail, read package-absolute
    // (XPSExtractorDecorator.java:52-56,92-97)
    def packageTarget(typeSuffix: String): Option[String] =
      opc.rels("").find(r => r.tpe.endsWith(typeSuffix) && !r.external)
        .map(r => Opc.resolve("", r.target))

    val fdseqPath = packageTarget("/fixedrepresentation")
      .orElse(parts.keys.find(_.endsWith(".fdseq")))
    val images = scala.collection.mutable.LinkedHashSet[String]()

    fdseqPath.foreach { seq =>
      for (fdoc <- sourcesOf(parts.getOrElse(seq, Array.emptyByteArray),
                             "DocumentReference")) {
        val fdocPath = Opc.resolve("", fdoc)
        for (page <- sourcesOf(parts.getOrElse(fdocPath, Array.emptyByteArray),
                               "PageContent")) {
          val pagePath = Opc.resolve(fdocPath, page)
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
    for (img <- images; data <- ZipUtil.entry(bytes, Opc.resolve("", img)))
      child(img.substring(img.lastIndexOf('/') + 1), data)
    // package thumbnail: the package's `relationships/metadata/thumbnail`
    // relationship (AbstractOOXMLExtractor.handleThumbnail surfaces it as
    // an embedded doc in the reference)
    for (thumb <- packageTarget("/thumbnail"); data <- ZipUtil.entry(bytes, thumb))
      child(thumb.substring(thumb.lastIndexOf('/') + 1), data)
  }

  /** All @Source values of the named element in a part. */
  private def sourcesOf(bytes: Array[Byte], element: String): Vector[String] = {
    if (bytes.isEmpty) return Vector.empty
    val out = Vector.newBuilder[String]
    NsSax.parsePlain(bytes, new DefaultHandler {
      override def startElement(u: String, l: String, q: String,
          a: Attributes): Unit =
        if (NsSax.local(l, q) == element)
          Option(a.getValue("Source")).foreach(out += _)
    })
    out.result()
  }

  /** One .fpage: buffer glyph runs per canvas, lay out rows, dump urls. */
  private def extractPage(fpage: Array[Byte], sink: SpanSink,
      images: scala.collection.mutable.LinkedHashSet[String]): Unit = {
    val canvases =
      scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[GlyphRun]]()
    val urls = scala.collection.mutable.LinkedHashSet[String]()
    val canvasStack = scala.collection.mutable.Stack[String]()

    NsSax.parsePlain(fpage, new DefaultHandler {
      override def startElement(u: String, l: String, q: String,
          a: Attributes): Unit = NsSax.local(l, q) match {
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
        if (NsSax.local(l, q) == "Canvas") {
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
