package graft.odf

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import graft.engine.{MetaSink, SpanSink}
import graft.zipx.ZipUtil
import graft.xmlx.NsSax

/** OpenDocument (ODT/ODS/ODP) text extraction over `content.xml`.
  *
  * Reference: tika-parsers miscoffice-module OpenDocumentParser
  * (SURVEY.md §2.7). SAX over the OpenDocument content stream:
  * `text:p`/`text:h` → newline-terminated paragraphs, `text:tab` → tab,
  * `text:line-break` → newline, `text:s` → expanded spaces, table cells
  * tab-prefixed; `meta.xml` dc:title/dc:creator → metadata.
  */
object OdtExtractor {

  def extract(zipBytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => (),
      extractMacros: Boolean = false): Unit = {
    val parts = ZipUtil.entriesMap(zipBytes, ZipUtil.XmlParts) // single pass, xml only
    parts.get("meta.xml").foreach { m =>
      NsSax.parsePlain(m, new MetaHandler(meta))
    }
    val content = parts.getOrElse("content.xml",
      throw new IllegalArgumentException("no content.xml"))
    NsSax.parsePlain(content, new ContentHandlerImpl(sink))
    // styles.xml rides the same content handler (OpenDocumentParser.java
    // :299-305): master-page text — ODP master footers, ODT headers and
    // footers — is body text (ODFParserTest.testODPMasterFooter)
    parts.get("styles.xml").foreach { st =>
      try NsSax.parsePlain(st, new ContentHandlerImpl(sink))
      catch { case _: Exception => () }
    }
    // StarBasic macro modules under Basic/ (OpenDocumentParser.java:
    // 345-399 — every Basic/ part except the script-lb.xml library
    // index holds script:module/source-code), opt-in like the reference
    if (extractMacros) {
      parts.iterator
        .filter { case (n, _) => n.contains("Basic/") && !n.endsWith("script-lb.xml") }
        .foreach { case (_, data) =>
          try NsSax.parsePlain(data, new MacroHandler(child))
          catch { case _: Exception => () }
        }
    }
  }

  /** Flat (single-XML) OpenDocument: same office:body structure as
    * content.xml plus inline office:meta and script modules —
    * FlatOpenDocumentParser.java + FlatOpenDocumentMacroHandler.java.
    * The `office:mimetype` root attribute carries the subtype.
    */
  def extractFlat(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => (),
      extractMacros: Boolean = false): Unit = {
    NsSax.parsePlain(bytes, new MetaHandler(meta) {
      override def startElement(u: String, l: String, q: String,
          a: Attributes): Unit = {
        if (q == "office:document") {
          val mt = a.getValue("office:mimetype")
          if (mt != null) meta.set("odf:mimetype", mt)
        }
        super.startElement(u, l, q, a)
      }
    })
    NsSax.parsePlain(bytes, new ContentHandlerImpl(sink))
    if (extractMacros)
      try NsSax.parsePlain(bytes, new MacroHandler(child))
      catch { case _: Exception => () }
  }

  /** `script:module` name + `source-code` text → one Basic child per
    * module (FlatOpenDocumentMacroHandler semantics, shared by the
    * flat path and the zipped Basic/ parts).
    */
  private final class MacroHandler(child: (String, Array[Byte]) => Unit)
      extends DefaultHandler {
    private var name: String = null
    private var inModule = false
    private var emitted = false
    private val buf = new StringBuilder

    private def emit(): Unit = {
      val src = buf.toString
      if (src.trim.nonEmpty) {
        try child((if (name != null) name else "macro") + ".bas",
          src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case _: Exception => () }
        emitted = true
      }
      buf.setLength(0)
    }

    override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
      NsSax.local(l, q) match {
        case "module" =>
          // zipped shape: <script:module script:name="..">SOURCE</..>
          inModule = true; emitted = false; buf.setLength(0)
          name = {
            val i = (0 until a.getLength).find(k =>
              a.getQName(k).endsWith(":name") || a.getQName(k) == "name")
            i.map(a.getValue).orNull
          }
        case "source-code" =>
          // flat shape: <ooo:module><ooo:source-code>SOURCE</..></..>
          buf.setLength(0)
        case _ => ()
      }

    override def characters(ch: Array[Char], s: Int, n: Int): Unit =
      if (inModule) buf.appendAll(ch, s, n)

    override def endElement(u: String, l: String, q: String): Unit =
      NsSax.local(l, q) match {
        case "source-code" => emit()
        case "module" =>
          if (!emitted) emit()
          inModule = false; name = null
        case _ => ()
      }
  }

  private class MetaHandler(meta: MetaSink) extends DefaultHandler {
    private var field: String = null
    private val buf = new StringBuilder
    override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
      if (q == "dc:title" || q == "dc:creator" || q == "dc:subject") {
        field = q; buf.setLength(0)
      }
    override def characters(ch: Array[Char], s: Int, n: Int): Unit =
      if (field != null) buf.appendAll(ch, s, n)
    override def endElement(u: String, l: String, q: String): Unit =
      if (q == field) { meta.set(field, buf.toString.trim); field = null }
  }

  private final class ContentHandlerImpl(sink: SpanSink) extends DefaultHandler {
    private var textDepth = 0  // inside office:text / office:spreadsheet / office:presentation
    private var tableDepth = 0

    override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
      q match {
        case "office:text" | "office:spreadsheet" | "office:presentation"
           | "office:master-styles" => // master pages carry header/footer text
          textDepth += 1
        case "text:tab" => if (textDepth > 0) sink.tab()
        case "text:line-break" => if (textDepth > 0) sink.newline()
        case "text:s" =>
          if (textDepth > 0) {
            val c = Option(a.getValue("text:c")).flatMap(_.toIntOption).getOrElse(1)
            sink.chars(" " * c)
          }
        case "table:table" => tableDepth += 1
        case "table:table-cell" => if (textDepth > 0 && tableDepth > 0) sink.tab()
        case _ => ()
      }

    override def characters(ch: Array[Char], s: Int, n: Int): Unit =
      if (textDepth > 0) sink.chars(new String(ch, s, n))

    override def endElement(u: String, l: String, q: String): Unit =
      q match {
        case "office:text" | "office:spreadsheet" | "office:presentation"
           | "office:master-styles" =>
          textDepth -= 1
        case "text:p" | "text:h" => if (textDepth > 0) sink.newline()
        case "table:table-row" => if (textDepth > 0) sink.newline()
        case "table:table" => if (tableDepth > 0) { tableDepth -= 1; sink.newline() }
        case _ => ()
      }
  }
}
