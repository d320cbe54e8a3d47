package graft.ooxml

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import graft.engine.{MetaSink, SpanSink}
import graft.zipx.ZipUtil
import graft.xmlx.NsSax

/** Streaming DOCX text extraction over `word/document.xml`.
  *
  * Reference semantics (apache/tika):
  *  - element state machine: tika-parsers .../ooxml/
  *    OOXMLWordAndPowerPointTextHandler.java:49-696 — w:p/w:r/w:t runs,
  *    w:tab → tab, w:br|w:cr → newline, tables w:tbl/w:tr/w:tc,
  *    hyperlinks via r:id relationships (:116-124), tracked-change
  *    w:delText skipped (:107-111);
  *  - event → text mapping: OOXMLTikaBodyPartHandler.java:130-306 —
  *    paragraph end → newline, table cells tab-prefixed (XHTML INDENT td),
  *    row end → newline; pictures → media refs (:415-460);
  *  - streaming-not-DOM rationale: SXWPFWordExtractorDecorator.java:60-67.
  *
  * Implemented with the JDK SAX parser (no POI offline).
  */
object DocxExtractor {

  /** OOXML embedded objects (word/xl/ppt `embeddings/` parts): each
    * payload recurses as a child document — CFB parts route through
    * subtype detection, OPC parts through zip recursion
    * (SXWPFWordExtractorDecorator's embedded-part handling).
    */
  private[ooxml] def embeddedParts(parts: Map[String, Array[Byte]],
      child: (String, Array[Byte]) => Unit): Unit =
    parts.iterator
      .filter { case (n, d) => n.contains("/embeddings/") && d.nonEmpty }
      .toSeq.sortBy(_._1)
      .foreach { case (n, d) =>
        child(n.substring(n.lastIndexOf('/') + 1), d)
      }

  def extract(zipBytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => ()): Unit = {
    // one pass over the archive (xml/rels parts + embedded-object
    // payloads — media blobs are never read by text extraction and
    // must not be buffered)
    val opc = new Opc(ZipUtil.entriesMap(zipBytes,
      n => ZipUtil.XmlParts(n) || n.contains("/embeddings/")))
    val parts = opc.parts
    embeddedParts(parts, child)
    val doc = parts.getOrElse("word/document.xml",
      throw new IllegalArgumentException("no word/document.xml"))
    opc.coreProps(meta)
    // part order mirrors the reference's story walk
    // (SXWPFWordExtractorDecorator MAIN_PART_RELATIONS + aux parts,
    // :73-78): headers, main document, footnotes, endnotes, comments,
    // footers — each part's paragraphs newline-framed like the body's.
    // Numeric-aware name sort: header10 sorts after header2.
    def partNum(n: String): (String, Long) = {
      val m = java.util.regex.Pattern.compile("(\\d+)\\.xml$").matcher(n)
      if (m.find()) (n.substring(0, m.start(1)), m.group(1).toLong) else (n, 0L)
    }
    def named(prefix: String): Seq[String] =
      parts.keys.filter(n => n.startsWith("word/" + prefix) && n.endsWith(".xml"))
        .toSeq.sortBy(partNum)
    // one list manager for the whole document: numbered paragraphs
    // increment their list counters in story order (reference:
    // XWPFListManager shared across the decorator's part walk)
    val numbering = DocxNumbering.from(parts)
    // each part resolves its ids through its own rels — a footnote's or
    // header's hyperlinks never use the main document's
    def parsePart(name: String): Unit =
      parts.get(name).foreach(b =>
        NsSax.parsePlain(b, new DocumentHandler(sink, meta, opc.byId(name), numbering)))
    named("header").foreach(parsePart)
    NsSax.parsePlain(doc, new DocumentHandler(sink, meta,
      opc.byId("word/document.xml"), numbering))
    Seq("footnotes.xml", "endnotes.xml", "comments.xml")
      .map("word/" + _).foreach(parsePart)
    // end-of-document dump of diagram-data and chart parts (reference
    // SXWPFWordExtractorDecorator:300-306 walks DIAGRAM_DATA, CHART,
    // FOOTER rels after the main story)
    val docRels = opc.rels("word/document.xml")
    for (suffix <- Seq("/diagramData", "/chart"); rel <- docRels
        if rel.tpe.endsWith(suffix); p <- opc.part("word/document.xml", rel))
      XlsxDrawings.scrapeRunText(parts, p, sink)
    named("footer").foreach(parsePart)
    // altChunk imported sub-documents (`<w:altChunk r:id>` → relationship
    // Type `.../aFChunk`, HTML/MHT/RTF/XHTML) recurse as children: the
    // reference embeds EVERY aFChunk regardless of its content type
    // (OOXMLDocxSAXPackageTest.testAltFileHTMLChunk expects the chunk's
    // table text in metadataList[1]). XML/XHTML chunks are already in the
    // XmlParts map — recurse them from the in-memory bytes; the others
    // need a second targeted zip read of only those entries.
    val allAlt =
      try opc.rels("word/document.xml").collect {
        case r if r.tpe.endsWith("/aFChunk") && !r.external =>
          Opc.resolve("word/document.xml", r.target)
      } catch { case _: Exception => Nil }
    val (inMem, needFetch) = allAlt.partition(parts.contains)
    inMem.sorted.foreach { n =>
      val d = parts(n)
      if (d.nonEmpty) child(n.substring(n.lastIndexOf('/') + 1), d)
    }
    val altNames = needFetch.toSet
    if (altNames.nonEmpty)
      ZipUtil.entriesMap(zipBytes, altNames.contains)
        .toSeq.sortBy(_._1)
        .foreach { case (n, d) =>
          if (d.nonEmpty) child(n.substring(n.lastIndexOf('/') + 1), d) }
  }

  /** The WordprocessingML state machine. */
  private final class DocumentHandler(
      sink: SpanSink, meta: MetaSink, rels: Map[String, Opc.Rel],
      numbering: DocxNumbering.Manager = DocxNumbering.Empty
  ) extends DefaultHandler {
    private var inText = false        // inside w:t
    private var inDelText = false     // inside w:delText (tracked delete)
    private var inInstrText = false   // field code text
    private var tableDepth = 0
    private var skipNote = false      // separator/continuation footnotes
    private var inNumPr = false       // inside w:pPr/w:numPr
    private var numIlvl = -1
    private var numId = -1

    override def startElement(uri: String, local: String, qName: String,
        atts: Attributes): Unit = {
      NsSax.local(local, qName) match {
        case "footnote" | "endnote" =>
          // separator pseudo-notes carry no content (reference skips them)
          val t = attByLocal(atts, "type").getOrElse("")
          skipNote = t == "separator" || t == "continuationSeparator"
        case "numPr" => inNumPr = true; numIlvl = 0; numId = -1
        case "ilvl" if inNumPr =>
          numIlvl = attByLocal(atts, "val").flatMap(_.toIntOption).getOrElse(0)
        case "numId" if inNumPr =>
          numId = attByLocal(atts, "val").flatMap(_.toIntOption).getOrElse(-1)
        case "t" => inText = true
        case "delText" => inDelText = true
        case "instrText" => inInstrText = true
        case "tab" if !inText => if (!skipNote) sink.tab()
        case "br" | "cr" => if (!skipNote) sink.newline()
        case "tbl" => tableDepth += 1
        case "tc" => if (tableDepth > 0) sink.tab() // INDENT td rule
        case "hyperlink" =>
          val rid = Option(atts.getValue("r:id")).orElse(attByLocal(atts, "id"))
          rid.flatMap(rels.get).foreach(r => meta.add("links", r.target))
        case "blip" => // a:blip r:embed → picture relationship
          val rid = Option(atts.getValue("r:embed")).orElse(attByLocal(atts, "embed"))
          rid.flatMap(rels.get).foreach(r => sink.media("embedded:" + r.target))
        case _ => ()
      }
    }

    private def attByLocal(atts: Attributes, local: String): Option[String] = {
      var i = 0
      while (i < atts.getLength) {
        val q = atts.getQName(i)
        if (q == local || q.endsWith(":" + local)) return Option(atts.getValue(i))
        i += 1
      }
      None
    }

    override def characters(ch: Array[Char], start: Int, length: Int): Unit = {
      if (inText && !inDelText && !inInstrText && !skipNote) {
        sink.chars(new String(ch, start, length))
      }
    }

    override def endElement(uri: String, local: String, qName: String): Unit = {
      NsSax.local(local, qName) match {
        case "footnote" | "endnote" => skipNote = false
        case "numPr" =>
          // number prefix before the paragraph's first run, like the
          // reference's writeParagraphNumber (numPr closes inside pPr,
          // which precedes every w:r)
          inNumPr = false
          if (!skipNote && numId >= 0) {
            val n = numbering.formattedNumber(numId, numIlvl)
            if (n.nonEmpty) sink.chars(n)
          }
        case "t" => inText = false
        case "delText" => inDelText = false
        case "instrText" => inInstrText = false
        case "p" => if (!skipNote) sink.newline() // paragraph end → '\n'
        case "tr" => if (tableDepth > 0) sink.newline()
        case "tbl" => if (tableDepth > 0) { tableDepth -= 1; sink.newline() }
        case _ => ()
      }
    }
  }
}
