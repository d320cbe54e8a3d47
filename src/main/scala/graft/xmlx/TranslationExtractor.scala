package graft.xmlx

import graft.engine.{MetaSink, SpanSink}
import org.xml.sax.Attributes

/** Translation-memory formats: TMX and XLIFF 1.2 (+ the XLZ zip
  * wrapper around .xlf members).
  *
  * Reference behavior: tika-parsers .../tmx/TMXContentHandler.java and
  * .../xliff/{XLIFF12ContentHandler,XLZParser}.java — TMX: header
  * attributes to metadata, `<seg>` text per `<tuv>` with tu/tuv counts
  * and the non-source languages as target-language; XLIFF: per-`file`
  * source/target languages, `trans-unit` source+target text, file/tu
  * counts.
  */
object TranslationExtractor {

  def extractTmx(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    var tus = 0
    var tuvs = 0
    var sourceLang: String = null
    val targetLangs = scala.collection.mutable.LinkedHashSet[String]()
    val handler = new org.xml.sax.helpers.DefaultHandler {
      private var inSeg = false
      private val text = new StringBuilder()
      override def startElement(uri: String, ln: String, qName: String,
          atts: Attributes): Unit = ln match {
        case "header" =>
          meta.add("creation-tool", atts.getValue("creationtool"))
          meta.add("creation-tool-version", atts.getValue("creationtoolversion"))
          meta.add("segment-type", atts.getValue("segtype"))
          meta.add("original-format-type", atts.getValue("o-tmf"))
          meta.add("data-type", atts.getValue("datatype"))
          sourceLang = atts.getValue("srclang")
          meta.add("source-language", sourceLang)
          meta.add("admin-language", atts.getValue("adminlang"))
        case "tu" => tus += 1
        case "tuv" =>
          tuvs += 1
          val lang = atts.getValue("xml:lang")
          if (lang != null && (sourceLang == null ||
              !lang.equalsIgnoreCase(sourceLang)))
            targetLangs += lang
        case "seg" => inSeg = true; text.setLength(0)
        case _ => ()
      }
      override def characters(ch: Array[Char], start: Int, len: Int): Unit =
        if (inSeg) text.appendAll(ch, start, len)
      override def endElement(uri: String, ln: String, qName: String): Unit =
        if (ln == "seg") {
          inSeg = false
          if (text.nonEmpty) { sink.chars(text.toString); sink.newline() }
        }
    }
    NsSax.parse(bytes, handler)
    meta.set("tu-count", tus.toString)
    meta.set("tuv-count", tuvs.toString)
    targetLangs.foreach(meta.add("target-language", _))
  }

  def extractXliff(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    var files = 0
    var tus = 0
    val handler = new org.xml.sax.helpers.DefaultHandler {
      private var inTransUnit = false
      private val text = new StringBuilder()
      override def startElement(uri: String, ln: String, qName: String,
          atts: Attributes): Unit = ln match {
        case "file" =>
          files += 1
          Option(atts.getValue("original")).foreach { o =>
            sink.chars(o); sink.newline()
          }
          meta.add("source-language", atts.getValue("source-language"))
          Option(atts.getValue("target-language"))
            .foreach(meta.add("target-language", _))
        case "trans-unit" => inTransUnit = true
        case "source" | "target" if inTransUnit => text.setLength(0)
        case _ => ()
      }
      override def characters(ch: Array[Char], start: Int, len: Int): Unit =
        if (inTransUnit) text.appendAll(ch, start, len)
      override def endElement(uri: String, ln: String, qName: String): Unit =
        ln match {
          case "trans-unit" => inTransUnit = false; tus += 1
          case "source" | "target" =>
            if (inTransUnit && text.nonEmpty) {
              sink.chars(text.toString); sink.newline()
              text.setLength(0)
            }
          case _ => ()
        }
    }
    NsSax.parse(bytes, handler)
    meta.set("file-count", files.toString)
    meta.set("tu-count", tus.toString)
  }

  /** XLZ: a zip of .xlf documents (XLZParser). */
  def extractXlz(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit =
    // inflate only the .xlf members — skeleton/media siblings are skipped
    graft.zipx.ZipUtil.entriesMap(bytes,
      n => n.endsWith(".xlf") || n.endsWith(".xliff")).foreach {
      case (_, data) => extractXliff(data, sink, meta)
    }
}
