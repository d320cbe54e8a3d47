package graft.xmlx

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import graft.engine.{MetaSink, SpanSink}

/** RSS/Atom feed extraction.
  *
  * Reference: tika-parsers news-module FeedParser (SURVEY.md §2.7) —
  * feed title → metadata, each entry/item's title + summary/description
  * as newline-terminated text blocks, in document order.
  */
object FeedExtractor {

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit =
    NsSax.parsePlain(bytes, new FeedHandler(sink, meta))

  private final class FeedHandler(sink: SpanSink, meta: MetaSink)
      extends DefaultHandler {
    private var inEntry = false      // atom <entry> or rss <item>
    private var field: String = null // title | summary | description | link
    private val buf = new StringBuilder
    private var feedTitleSeen = false

    override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
      NsSax.local(l, q) match {
        case "entry" | "item" => inEntry = true
        case n @ ("title" | "summary" | "description" | "subtitle") =>
          field = n; buf.setLength(0)
        case "link" =>
          Option(a.getValue("href")).foreach(h => meta.add("links", h))
        case _ => ()
      }

    override def characters(ch: Array[Char], s: Int, n: Int): Unit =
      if (field != null) buf.appendAll(ch, s, n)

    override def endElement(u: String, l: String, q: String): Unit =
      NsSax.local(l, q) match {
        case "entry" | "item" => inEntry = false
        case "title" =>
          val t = buf.toString.trim
          if (!inEntry && !feedTitleSeen) { meta.set("title", t); feedTitleSeen = true }
          else if (inEntry && t.nonEmpty) { sink.chars(t); sink.newline() }
          field = null
        case "summary" | "description" | "subtitle" =>
          val t = buf.toString.trim
          if (t.nonEmpty) { sink.chars(t); sink.newline() }
          field = null
        case _ => ()
      }
  }
}
