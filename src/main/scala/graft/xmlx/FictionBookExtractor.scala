package graft.xmlx

import graft.engine.{MetaSink, SpanSink}
import org.xml.sax.Attributes

/** FictionBook (.fb2) e-books: body text plus base64 `<binary>`
  * members recursing as embedded documents.
  *
  * Reference behavior: tika-parsers .../xml/FictionBookParser.java —
  * character content streams through (XMLParser semantics) except
  * inside `<binary>` elements, whose base64 payload re-parses as an
  * embedded document named by its id attribute.
  */
object FictionBookExtractor {

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (Option[String], Array[Byte]) => Unit): Unit = {
    val handler = new org.xml.sax.helpers.DefaultHandler {
      private var binaryMode = false
      private var binaryName: Option[String] = None
      private val binaryData = new StringBuilder()
      private val text = new StringBuilder()
      private def flush(): Unit = {
        if (text.nonEmpty && text.exists(!_.isWhitespace)) {
          sink.chars(text.toString.trim)
          sink.newline()
        }
        text.setLength(0)
      }
      override def startElement(uri: String, ln: String, qName: String,
          atts: Attributes): Unit = {
        if (ln == "binary") {
          binaryMode = true
          binaryName = Option(atts.getValue("id"))
          binaryData.setLength(0)
        } else if (ln == "book-title") text.setLength(0)
        else if (ln == "p" || ln == "v" || ln == "subtitle" || ln == "title")
          flush()
      }
      override def characters(ch: Array[Char], start: Int, len: Int): Unit =
        if (binaryMode) binaryData.appendAll(ch, start, len)
        else text.appendAll(ch, start, len)
      override def endElement(uri: String, ln: String, qName: String): Unit = {
        if (ln == "binary") {
          binaryMode = false
          try {
            val data = java.util.Base64.getMimeDecoder
              .decode(binaryData.toString.trim)
            if (data.nonEmpty) child(binaryName, data)
          } catch { case _: IllegalArgumentException => () }
        } else if (ln == "book-title") {
          if (text.nonEmpty) meta.set("dc:title", text.toString.trim)
          flush()
        } else if (ln == "p" || ln == "v" || ln == "subtitle" ||
            ln == "title" || ln == "section") flush()
      }
      override def endDocument(): Unit = flush()
    }
    NsSax.parse(bytes, handler)
  }
}
