package graft.xmlx

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import graft.engine.{MetaSink, SpanSink}

/** Word 2006 ML — the single-file XML serialization of an OOXML package
  * (`pkg:package` of `pkg:part` elements with inline `pkg:xmlData` or
  * base64 `pkg:binaryData`).
  *
  * Reference: tika-parser-microsoft-module
  * `ooxml/xwpf/ml2006/Word2006MLParser.java` + the part handlers in the
  * same package — the main-document part streams through the
  * WordprocessingML text handler, core/extended property parts map to
  * metadata, binary parts decode and recurse as embedded documents
  * (Word2006MLParserTest expectations: title/creator/timestamps/
  * revision/word-count plus body text).
  */
object Word2006MlExtractor {

  val Mime = "application/vnd.ms-word2006ml"

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => ()): Unit = {
    // children recurse AFTER the SAX pass: recursing mid-parse would
    // re-enter the thread-local SAX parser (NsSax reuse contract)
    val pending = Vector.newBuilder[(String, Array[Byte])]
    NsSax.parsePlain(bytes,
      new Handler(sink, meta, (n, d) => { pending += ((n, d)); () }))
    pending.result().foreach { case (n, d) =>
      try child(n, d) catch { case _: Exception => () }
    }
  }

  private val CoreKeys = Map(
    "title" -> "dc:title", "creator" -> "dc:creator",
    "subject" -> "dc:subject", "created" -> "dcterms:created",
    "modified" -> "dcterms:modified", "revision" -> "cp:revision",
    "lastModifiedBy" -> "cp:last-modified-by")

  private val AppKeys = Map(
    "Words" -> "meta:word-count", "Paragraphs" -> "meta:paragraph-count",
    "Lines" -> "meta:line-count", "Pages" -> "meta:page-count",
    "CharactersWithSpaces" -> "meta:character-count-with-spaces",
    "Characters" -> "meta:character-count",
    "Application" -> "extended-properties:application",
    "AppVersion" -> "extended-properties:app-version",
    "DocSecurity" -> "extended-properties:doc-security",
    "Company" -> "extended-properties:company")

  private final class Handler(sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit) extends DefaultHandler {

    private var partName = ""
    private var inDoc = false       // main wordprocessingml document part
    private var inCore = false
    private var inApp = false
    private var inBinary = false
    private var field: String = null
    private val buf = new StringBuilder
    private val b64 = new StringBuilder
    private var cellOpen = false

    override def startElement(u: String, l: String, q: String, a: Attributes): Unit = {
      val name = NsSax.local(l, q)
      name match {
        case "part" =>
          partName = Option(a.getValue("pkg:name")).getOrElse(
            Option(a.getValue("name")).getOrElse(""))
          val ct = Option(a.getValue("pkg:contentType")).getOrElse(
            Option(a.getValue("contentType")).getOrElse(""))
          inDoc = ct.contains("wordprocessingml.document.main")
          inCore = ct.contains("core-properties")
          inApp = ct.contains("extended-properties")
        case "binaryData" =>
          inBinary = true; b64.setLength(0)
        // w:delText excluded like the default (deleted text is opt-in
        // in the reference via IncludeDeletedContent)
        case "t" if inDoc => field = "t"; ()
        case "tab" if inDoc => sink.tab()
        case "br" | "cr" if inDoc => sink.newline()
        case "tc" if inDoc => if (cellOpen) sink.tab() else cellOpen = true
        case "tr" if inDoc => cellOpen = false
        case k if inCore && CoreKeys.contains(k) => field = k; buf.setLength(0)
        case k if inApp && AppKeys.contains(k) => field = k; buf.setLength(0)
        case _ => ()
      }
    }

    override def characters(ch: Array[Char], s: Int, n: Int): Unit = {
      if (inBinary) b64.appendAll(ch, s, n)
      else if (field == "t") sink.chars(new String(ch, s, n))
      else if (field != null) buf.appendAll(ch, s, n)
    }

    override def endElement(u: String, l: String, q: String): Unit = {
      val name = NsSax.local(l, q)
      name match {
        case "part" => inDoc = false; inCore = false; inApp = false
        case "binaryData" =>
          inBinary = false
          try {
            val data = java.util.Base64.getMimeDecoder.decode(
              b64.toString.replaceAll("\\s", ""))
            if (data.nonEmpty) {
              val nm = graft.ole2.OleEmbedded.baseName(partName)
              child(if (nm.nonEmpty) nm else "part.bin", data)
            }
          } catch { case _: Exception => () }
          b64.setLength(0)
        case "t" => if (field == "t") field = null
        case "p" if inDoc => sink.newline()
        case "tr" if inDoc => sink.newline(); cellOpen = false
        case k if field == k =>
          val key = CoreKeys.get(k).orElse(AppKeys.get(k))
          key.foreach(meta.set(_, buf.toString.trim))
          field = null
        case _ => ()
      }
    }
  }
}
