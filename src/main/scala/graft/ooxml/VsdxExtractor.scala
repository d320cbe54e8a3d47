package graft.ooxml

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import graft.engine.{MetaSink, SpanSink}
import graft.zipx.ZipUtil
import graft.xmlx.NsSax

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
    val parts = ZipUtil.entriesMap(bytes, ZipUtil.XmlParts)
    DocxExtractor.corePropsFrom(parts, meta)

    val docPart = relTargets(parts, "_rels/.rels", DocumentRel, "")
    val pagesPart = docPart.flatMap { doc =>
      relTargets(parts, relsName(doc), PagesRel, dirOf(doc)).headOption.toSeq
    }
    val pageParts = pagesPart.flatMap { pages =>
      relTargets(parts, relsName(pages), PageRel, dirOf(pages))
    }
    for (page <- pageParts; b <- parts.get(page))
      extractPage(b, sink)
  }

  /** Targets of the given relationship type in one .rels part, resolved
    * against the source part's directory.
    */
  private def relTargets(parts: Map[String, Array[Byte]], relsPart: String,
      relType: String, baseDir: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    for (b <- parts.get(relsPart))
      NsSax.parsePlain(b, new DefaultHandler {
        override def startElement(u: String, l: String, q: String,
            a: Attributes): Unit =
          if (local(l, q) == "Relationship" &&
              Option(a.getValue("Type")).contains(relType))
            Option(a.getValue("Target")).foreach { t =>
              out += resolveTarget(baseDir, t)
            }
      })
    out.result()
  }

  /** OPC part-URI resolution (PackagingURIHelper semantics): package-
    * absolute targets drop the leading slash; relative targets resolve
    * against the source part's directory with `.`/`..` segments
    * normalized (some exporters emit `../visio/pages/pages.xml`).
    */
  private[graft] def resolveTarget(baseDir: String, target: String): String = {
    val joined =
      if (target.startsWith("/")) target.substring(1)
      else if (baseDir.isEmpty) target
      else s"$baseDir/$target"
    val stack = scala.collection.mutable.ArrayBuffer.empty[String]
    joined.split('/').foreach {
      case "" | "." => ()
      case ".." => if (stack.nonEmpty) stack.remove(stack.length - 1)
      case seg => stack += seg
    }
    stack.mkString("/")
  }

  private def relsName(part: String): String = {
    val i = part.lastIndexOf('/')
    if (i < 0) s"_rels/$part.rels"
    else s"${part.substring(0, i)}/_rels/${part.substring(i + 1)}.rels"
  }

  private def dirOf(part: String): String = {
    val i = part.lastIndexOf('/')
    if (i < 0) "" else part.substring(0, i)
  }

  private def local(l: String, q: String): String =
    if (l != null && l.nonEmpty) l else q.substring(q.indexOf(':') + 1)

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
