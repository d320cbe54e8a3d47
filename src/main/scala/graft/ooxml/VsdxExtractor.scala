package graft.ooxml

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import graft.engine.{MetaSink, SpanSink}
import graft.zipx.ZipUtil

/** Visio OOXML (.vsdx/.vsdm/.vstx) text extraction.
  *
  * Reference semantics: tika-parser-microsoft-module
  * `ooxml/VSDXExtractorDecorator.java:44-174` — relationship walk
  * root → visio/document.xml (visio/2010/relationships/document) →
  * pages/pages.xml (…/pages) → pageN.xml (…/page), then each page's
  * `<Text>` elements (Visio 2012 main namespace) become one paragraph
  * each, trimmed, in storage order.
  */
object VsdxExtractor {

  private val DocumentRel = "http://schemas.microsoft.com/visio/2010/relationships/document"
  private val PagesRel = "http://schemas.microsoft.com/visio/2010/relationships/pages"
  private val PageRel = "http://schemas.microsoft.com/visio/2010/relationships/page"
  private val VisioNs = "http://schemas.microsoft.com/office/visio/2012/main"

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val opc = new Opc(ZipUtil.entriesMap(bytes, ZipUtil.XmlParts))
    opc.coreProps(meta)
    // targets of one relationship type, resolved against the source part
    // (some exporters emit `../visio/pages/pages.xml`)
    def targets(from: String, relType: String): Seq[String] =
      opc.rels(from).collect {
        case r if r.tpe == relType && !r.external => Opc.resolve(from, r.target)
      }
    val docPart = targets("", DocumentRel)
    val pagesPart = docPart.flatMap(doc => targets(doc, PagesRel).headOption)
    val pageParts = pagesPart.flatMap(pages => targets(pages, PageRel))
    for (page <- pageParts; b <- opc.parts.get(page))
      extractPage(b, sink)
  }

  /** One pageN.xml: every Shape `<Text>` element in the Visio 2012 main
    * namespace is one trimmed paragraph (VSDXExtractorDecorator
    * .VisioPageHandler requires VISIO_NS — a foreign-namespace data
    * island's `Text` must not leak into the output; an un-namespaced
    * `Text` is accepted for namespace-less producers).
    */
  private def extractPage(bytes: Array[Byte], sink: SpanSink): Unit = {
    graft.xmlx.NsSax.parse(bytes, new DefaultHandler {
      private var inText = false
      private val buf = new StringBuilder
      private def isVisioText(u: String, l: String, q: String): Boolean =
        (l == "Text" || (l.isEmpty && q == "Text")) &&
          (u == null || u.isEmpty || u == VisioNs)
      override def startElement(u: String, l: String, q: String,
          a: Attributes): Unit =
        if (isVisioText(u, l, q)) { inText = true; buf.setLength(0) }
      override def characters(ch: Array[Char], s: Int, len: Int): Unit =
        if (inText) buf.appendAll(ch, s, len)
      override def endElement(u: String, l: String, q: String): Unit =
        if (isVisioText(u, l, q)) {
          inText = false
          val t = buf.toString.trim
          if (t.nonEmpty) { sink.chars(t); sink.newline() }
        }
    })
  }
}
