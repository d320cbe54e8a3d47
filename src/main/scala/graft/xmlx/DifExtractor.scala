package graft.xmlx

import graft.engine.{MetaSink, SpanSink}

/** NASA GCMD Directory Interchange Format (.dif, application/dif+xml).
  *
  * Reference behavior: tika-parsers .../dif/DIFContentHandler.java —
  * every leaf element's text becomes metadata keyed by the
  * dash-joined element path (`DIF-Entry_ID`), `Entry_Title` renders as
  * "Title: …", and the four `Spatial_Coverage` lat/lon bounds render as
  * "Name : value" rows under a "Geographic Data:" heading.
  */
object DifExtractor {

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val GeoLeaves = Set("Southernmost_Latitude", "Northernmost_Latitude",
      "Westernmost_Longitude", "Easternmost_Longitude")

    val handler = new org.xml.sax.helpers.DefaultHandler {
      private val path = scala.collection.mutable.Stack[String]()
      private val text = new StringBuilder()
      private var isLeaf = false

      override def startElement(uri: String, localName: String, qName: String,
          atts: org.xml.sax.Attributes): Unit = {
        val name = if (localName.nonEmpty) localName else qName
        if (name == "Spatial_Coverage") {
          sink.chars("Geographic Data: ")
          sink.newline()
        }
        path.push(name)
        text.setLength(0)
        isLeaf = true
      }

      override def characters(ch: Array[Char], start: Int, length: Int): Unit =
        text.appendAll(ch, start, length)

      override def endElement(uri: String, localName: String, qName: String): Unit = {
        val value = text.toString
        if (isLeaf && value.trim.nonEmpty) {
          meta.add(path.toSeq.reverse.mkString("-"), value)
          val name = path.top
          if (name == "Entry_Title") {
            sink.chars("Title: " + value)
            sink.newline()
          } else if (GeoLeaves.contains(name)) {
            sink.chars(s"$name : $value")
            sink.newline()
          }
        }
        path.pop()
        text.setLength(0)
        isLeaf = false
      }
    }
    NsSax.parse(bytes, handler)
  }
}
