package graft.zipx

import graft.engine.{MetaSink, SpanSink}
import graft.xmlx.NsSax

/** Adobe InDesign IDML packages (zip of XML).
  *
  * Reference behavior: tika-parsers .../indesign/IDMLParser.java +
  * ContentAndMetadataExtractor.java — walk the archive in entry order:
  * `Spreads` and `MasterSpreads` members contribute their `PageCount`
  * attributes and `Content` element text; `Stories` members contribute
  * `Content` text; `META-INF/metadata.xml` carries the XMP packet.
  */
object IdmlExtractor {

  final class IdmlMalformed(msg: String) extends Exception(msg)

  /** Only the members text extraction reads — packaged media (links,
    * fonts, previews) must never be inflated or buffered. */
  private val TextParts: String => Boolean = n =>
    n == "META-INF/metadata.xml" || n.contains("MasterSpreads") ||
      n.contains("Spreads/Spread") || n.contains("Stories")

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (ZipUtil.entryNames(bytes).isEmpty)
      throw new IdmlMalformed("empty package")
    val entries = ZipUtil.entriesMap(bytes, TextParts)
      .map { case (n, d) => ZipUtil.Entry(n, d, d.length.toLong) }
    var spreadPages = 0
    var masterPages = 0

    def contentText(xml: Array[Byte]): Int = {
      var pageCount = 0
      val handler = new org.xml.sax.helpers.DefaultHandler {
        private var inContent = false
        private val buf = new StringBuilder()
        override def startElement(uri: String, localName: String, qName: String,
            atts: org.xml.sax.Attributes): Unit = {
          val name = if (localName.nonEmpty) localName else qName
          if (name == "Spread" || name == "MasterSpread") {
            val pc = atts.getValue("PageCount")
            if (pc != null && pc.forall(_.isDigit) && pc.nonEmpty)
              pageCount += pc.toInt
          }
          if (name == "Content") { inContent = true; buf.setLength(0) }
        }
        override def characters(ch: Array[Char], start: Int, len: Int): Unit =
          if (inContent) buf.appendAll(ch, start, len)
        override def endElement(uri: String, localName: String, qName: String): Unit = {
          val name = if (localName.nonEmpty) localName else qName
          if (name == "Content") {
            inContent = false
            if (buf.nonEmpty) { sink.chars(buf.toString); sink.newline() }
          }
        }
      }
      try NsSax.parse(xml, handler)
      catch { case _: org.xml.sax.SAXException => () } // bad member XML: skip
      pageCount
    }

    entries.foreach { e =>
      if (e.name == "META-INF/metadata.xml") {
        graft.media.MediaParser.xmpTags(e.data).foreach { case (k, v) =>
          meta.set(k, v)
        }
      } else if (e.name.contains("MasterSpreads")) {
        masterPages += contentText(e.data)
      } else if (e.name.contains("Spreads/Spread")) {
        spreadPages += contentText(e.data)
      } else if (e.name.contains("Stories")) {
        contentText(e.data)
      }
    }
    meta.set("meta:page-count", (spreadPages + masterPages).toString)
    meta.set("idml:spread-pages", spreadPages.toString)
    meta.set("idml:master-spread-pages", masterPages.toString)
  }
}
