package graft.zipx

import graft.engine.{MetaSink, SpanSink}
import graft.xmlx.NsSax
import org.xml.sax.Attributes

/** iWork '09 packages (Keynote .key / Pages .pages / Numbers .numbers —
  * zip archives whose `index.apxl`/`index.xml` carries the document).
  *
  * Reference behavior: tika-parsers .../iwork/IWorkPackageParser.java +
  * {Keynote,Pages,Numbers}ContentHandler.java — slide/page/sheet
  * counting, `sf:text-body`/`sf:p` text, `sf:tabular-model` tables
  * (`sf:ct` string cells / `sf:n` number cells), publication metadata
  * (authors/title/created/modified/language primitives), ghost-text
  * skipping, and Numbers' proxied-cell menu-item indirection.
  */
object IworkExtractor {

  final class IworkMalformed(msg: String) extends Exception(msg)

  def extract(bytes: Array[Byte], mime: String, sink: SpanSink,
      meta: MetaSink): Unit = {
    // inflate ONLY the document part — .key/.pages packages are
    // dominated by preview JPEGs/media that text extraction never reads
    val contentNames =
      Seq("index.apxl", "index.xml", "presentation.apxl", "index.apxl.gz")
    val parts = ZipUtil.entriesMap(bytes, contentNames.contains)
    val (entryName, entryData) = contentNames.collectFirst {
      case n if parts.contains(n) => (n, parts(n))
    }.getOrElse(throw new IworkMalformed("no iWork content entry"))
    val xml =
      if (entryName.endsWith(".gz")) ZipUtil.gunzip(entryData)
      else entryData

    val handler = mime match {
      case "application/vnd.apple.keynote" => new KeynoteHandler(sink, meta)
      case "application/vnd.apple.numbers" => new NumbersHandler(sink, meta)
      case _ => new PagesHandler(sink, meta)
    }
    // qName-driven (non-NS parse), like the reference's handlers
    NsSax.parsePlain(xml, handler)
  }

  private def mapKey(parentQName: String, localFallback: String): String =
    parentQName match {
      case "sf:authors" => "dc:creator"
      case "sf:title" => "dc:title"
      case "sl:SLCreationDateProperty" => "dcterms:created"
      case "sl:SLLastModifiedDateProperty" => "dcterms:modified"
      case "sl:language" => "dc:language"
      case _ => "iwork:" + localFallback
    }

  private def primitiveValue(qName: String, atts: Attributes): Option[String] =
    qName match {
      case "sl:string" | "sf:string" => Option(atts.getValue("sfa:string"))
      case "sl:number" => Option(atts.getValue("sfa:number"))
      case "sl:date" => Option(atts.getValue("sf:val"))
      case _ => None
    }

  /** KeynoteContentHandler analog. */
  private final class KeynoteHandler(sink: SpanSink, meta: MetaSink)
      extends org.xml.sax.helpers.DefaultHandler {
    private var inSlide, inTheme, inParsable = false
    private var inMetadata, inMetaTitle, inMetaAuthors = false
    private var slides = 0
    private var tableOpen = false
    private var nCols = 0
    private var curCol = 0
    private val row = new StringBuilder()
    private val text = new StringBuilder()

    private def flushText(): Unit = {
      if (text.nonEmpty) { sink.chars(text.toString); sink.newline() }
      text.setLength(0)
    }
    private def cell(v: String): Unit = {
      if (curCol == 0) row.setLength(0) else row.append('\t')
      row.append(if (v == null) "" else v)
      curCol += 1
      if (nCols > 0 && curCol >= nCols) {
        sink.chars(row.toString); sink.newline(); curCol = 0
      }
    }

    override def startElement(uri: String, ln: String, qName: String,
        atts: Attributes): Unit = qName match {
      case "key:theme" => inTheme = true
      case "key:slide" => inSlide = true; slides += 1
      case "key:master-slide" => inSlide = true
      case "sf:text-body" => inParsable = true
      case "key:size" if !inTheme =>
        Option(atts.getValue("sfa:w")).foreach(meta.set("slides-width", _))
        Option(atts.getValue("sfa:h")).foreach(meta.set("slides-height", _))
      case "key:metadata" => inMetadata = true
      case "key:title" if inMetadata => inMetaTitle = true
      case "key:authors" if inMetadata => inMetaAuthors = true
      case "key:string" if inMetaTitle =>
        Option(atts.getValue("sfa:string")).foreach(meta.set("dc:title", _))
      case "key:string" if inMetaAuthors =>
        Option(atts.getValue("sfa:string")).foreach(meta.add("dc:creator", _))
      case "sf:tabular-model" if inSlide =>
        tableOpen = true; nCols = 0; curCol = 0
      case "sf:columns" if tableOpen =>
        nCols = Option(atts.getValue("sf:count")).flatMap(_.toIntOption).getOrElse(0)
        curCol = 0
      case "sf:ct" if tableOpen => cell(atts.getValue("sfa:s"))
      case "sf:n" if tableOpen => cell(atts.getValue("sf:v"))
      case _ => ()
    }

    override def characters(ch: Array[Char], start: Int, len: Int): Unit =
      if (inParsable && inSlide && len > 0) text.appendAll(ch, start, len)

    override def endElement(uri: String, ln: String, qName: String): Unit = qName match {
      case "key:theme" => inTheme = false
      case "key:slide" | "key:master-slide" => inSlide = false
      case "sf:p" if inParsable => flushText() // one paragraph per line
      case "sf:text-body" => inParsable = false; flushText()
      case "key:metadata" => inMetadata = false
      case "key:title" => inMetaTitle = false
      case "key:authors" => inMetaAuthors = false
      case "sf:tabular-model" if tableOpen =>
        if (curCol > 0) { sink.chars(row.toString); sink.newline() }
        tableOpen = false
      case _ => ()
    }

    override def endDocument(): Unit =
      meta.set("meta:slide-count", slides.toString)
  }

  /** PagesContentHandler analog (headers/footers/footnote inlining are
    * simplified: their text still reaches the body via the metadata
    * part-tracking below only when marked — the reference's
    * auto-page-number machinery is out of scope).
    */
  private final class PagesHandler(sink: SpanSink, meta: MetaSink)
      extends org.xml.sax.helpers.DefaultHandler {
    private var inMetadata = false
    private var inParsable = false
    private var ghost = false
    private var pages = 0
    private var slPages = 0
    private var metaLocal: String = null
    private var metaQ: String = null
    private var parseProperty = false
    private val text = new StringBuilder()
    // tabular attachments: captured under their ID, replayed at the ref
    private var activeTableId: String = null
    private val tableData =
      scala.collection.mutable.LinkedHashMap[String, Vector[Vector[String]]]()
    private var activeRow = Vector.empty[String]

    private def flushText(): Unit = {
      if (text.nonEmpty) { sink.chars(text.toString); sink.newline() }
      text.setLength(0)
    }

    override def startElement(uri: String, ln: String, qName: String,
        atts: Attributes): Unit = {
      if (parseProperty) {
        primitiveValue(qName, atts).foreach { v =>
          meta.add(mapKey(metaQ, if (metaLocal == null) qName else metaLocal), v)
        }
      }
      qName match {
        case "sl:publication-info" | "sf:metadata" => inMetadata = true
        case "sf:page-start" => pages += 1
        case "sl:page-group" => slPages += 1
        case "sf:p" if pages + slPages > 0 => inParsable = true
        case "sf:ghost-text" => ghost = true
        case "sf:attachment" =>
          if ("tabular-attachment" == atts.getValue("sf:kind")) {
            activeTableId = atts.getValue("sfa:ID")
            tableData(activeTableId) = Vector.empty
          }
        case "sf:attachment-ref" =>
          tableData.get(atts.getValue("sfa:IDREF")).foreach { rows =>
            rows.foreach { r => sink.chars(r.mkString("\t")); sink.newline() }
          }
        case "sf:ct" if activeTableId != null =>
          activeRow :+= Option(atts.getValue("sfa:s")).getOrElse("")
          if (activeRow.size >= 3) { // reference packs rows of 3
            tableData(activeTableId) = tableData(activeTableId) :+ activeRow
            activeRow = Vector.empty
          }
        case _ => ()
      }
      if (inMetadata) {
        metaLocal = ln
        metaQ = qName
        parseProperty = true
      }
    }

    override def characters(ch: Array[Char], start: Int, len: Int): Unit =
      if (inParsable && !ghost && len > 0) text.appendAll(ch, start, len)

    override def endElement(uri: String, ln: String, qName: String): Unit = {
      if (metaLocal != null && metaLocal == ln) {
        metaLocal = null
        parseProperty = false
      }
      qName match {
        case "sl:publication-info" | "sf:metadata" => inMetadata = false
        case "sf:p" => inParsable = false; flushText()
        case "sf:attachment" => activeTableId = null
        case "sf:ghost-text" => ghost = false
        case _ => ()
      }
    }

    override def endDocument(): Unit = {
      flushText()
      meta.set("meta:page-count", pages.toString)
    }
  }

  /** NumbersContentHandler analog. */
  private final class NumbersHandler(sink: SpanSink, meta: MetaSink)
      extends org.xml.sax.helpers.DefaultHandler {
    private var inSheet, inText, inTable, inMetadata = false
    private var sheets = 0
    private var nCols = -1
    private var curCol = 0
    private val row = new StringBuilder()
    private val text = new StringBuilder()
    private var metaLocal: String = null
    private var metaQ: String = null
    private val menuItems = scala.collection.mutable.HashMap[String, String]()
    private var currentMenuItemId: String = null

    private def cell(v: String): Unit = {
      if (nCols > 0 && curCol >= nCols) {
        sink.chars(row.toString); sink.newline()
        row.setLength(0); curCol = 0
      }
      if (curCol > 0) row.append('\t')
      row.append(if (v == null) "" else v)
      curCol += 1
    }

    override def startElement(uri: String, ln: String, qName: String,
        atts: Attributes): Unit = {
      qName match {
        case "ls:workspace" =>
          inSheet = true; sheets += 1
          Option(atts.getValue("ls:workspace-name"))
            .foreach(meta.add("numbers:sheetNames", _))
        case "sf:text" => inText = true
        case "sf:metadata" => inMetadata = true
        case "sf:string" if inMetadata && metaLocal != null =>
          Option(atts.getValue("sfa:string"))
            .foreach(v => meta.add(mapKey(metaQ, metaLocal), v))
        case "sf:tabular-model" if inSheet =>
          Option(atts.getValue("sf:name")).foreach { n =>
            sink.chars(n); sink.newline()
          }
          inTable = true; curCol = 0; row.setLength(0)
        case "sf:grid" if inTable =>
          nCols = Option(atts.getValue("sf:numcols")).flatMap(_.toIntOption)
            .getOrElse(-1)
        case "sf:t" => currentMenuItemId = atts.getValue("sfa:ID")
        case "sf:ct" =>
          if (currentMenuItemId != null)
            menuItems(currentMenuItemId) = Option(atts.getValue("sfa:s")).getOrElse("")
          if (inTable) cell(atts.getValue("sfa:s"))
        case "sf:n" | "sf:rn" if inTable => cell(atts.getValue("sf:v"))
        case "sf:proxied-cell-ref" if inTable =>
          cell(menuItems.getOrElse(atts.getValue("sfa:IDREF"), ""))
        case _ => ()
      }
      if (inMetadata && metaLocal == null && qName != "sf:metadata") {
        metaLocal = ln
        metaQ = qName
      }
    }

    override def characters(ch: Array[Char], start: Int, len: Int): Unit =
      if (inText && len > 0) text.appendAll(ch, start, len)

    override def endElement(uri: String, ln: String, qName: String): Unit = qName match {
      case "ls:workspace" => inSheet = false
      case "sf:text" =>
        inText = false
        if (text.nonEmpty) { sink.chars(text.toString); sink.newline() }
        text.setLength(0)
      case "sf:metadata" => inMetadata = false; metaLocal = null
      case "sf:tabular-model" if inTable =>
        if (row.nonEmpty) { sink.chars(row.toString); sink.newline() }
        inTable = false
      case s if metaLocal != null && metaLocal == ln => metaLocal = null
      case _ => ()
    }

    override def endDocument(): Unit =
      meta.set("meta:page-count", sheets.toString)
  }
}
