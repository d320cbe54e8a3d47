package graft.zipx

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import graft.engine.{MetaSink, SpanSink}
import graft.xmlx.NsSax

/** EPUB extraction with reference semantics — OPF metadata at the
  * document level and spine-ordered content merged into the parent
  * text, non-content resources as embedded children.
  *
  * Reference: tika-parser-miscoffice-module `epub/EpubParser.java` +
  * `epub/OPFParser.java` (a DcXMLParser): META-INF/container.xml names
  * the OPF rootfile; the OPF carries Dublin Core metadata, the package
  * version (Epub.VERSION), rendition layout (reflowable default,
  * pre-paginated via spine itemref properties or the rendition:layout
  * meta), and the manifest/spine that orders the XHTML content
  * documents; images and other resources are embedded documents
  * (EpubParserTest: the testEPUB.epub parse is parent + one jpeg).
  * A package without container.xml/OPF falls back to plain zip
  * recursion.
  */
object EpubExtractor {

  def extract(zipBytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit): Boolean = {
    val parts = ZipUtil.entriesMap(zipBytes, _ => true)
    val opfPath = parts.get("META-INF/container.xml").flatMap(rootfileOf)
      .orElse(parts.keysIterator.find(_.endsWith(".opf")))
      .filter(parts.contains)
    if (opfPath.isEmpty) return false
    val opfDir = {
      val i = opfPath.get.lastIndexOf('/')
      if (i >= 0) opfPath.get.substring(0, i + 1) else ""
    }

    val opf = new OpfHandler(meta)
    NsSax.parsePlain(parts(opfPath.get), opf)

    def resolve(href: String): String = {
      val clean = href.takeWhile(c => c != '#' && c != '?')
      val p = if (clean.startsWith("/")) clean.drop(1) else opfDir + clean
      // collapse ../ segments
      p.split('/').foldLeft(List.empty[String]) {
        case (acc, "..") => if (acc.nonEmpty) acc.tail else acc
        case (acc, ".") => acc
        case (acc, seg) => seg :: acc
      }.reverse.mkString("/")
    }

    // spine-ordered content documents into the parent text
    val contentNames = opf.spine.toVector.flatMap(opf.manifest.get)
    contentNames.foreach { case (href, mediaType) =>
      parts.get(resolve(href)).foreach { bytes =>
        try {
          if (mediaType.contains("html"))
            graft.html.HtmlExtractor.extract(
              graft.mime.EncodingDetector.decode(bytes), sink, meta)
          else if (mediaType.contains("xml"))
            graft.engine.XmlExtractor.extract(bytes, sink, meta)
        } catch { case _: Exception => () }
      }
    }

    // non-spine resources (images, fonts, media) recurse as children;
    // OPF/NCX/css and the already-merged content docs do not
    val spineHrefs = contentNames.map(c => resolve(c._1)).toSet
    opf.manifest.values.foreach { case (href, mediaType) =>
      val full = resolve(href)
      if (!spineHrefs.contains(full) && !mediaType.contains("xml") &&
          !mediaType.contains("css") && !mediaType.contains("html")) {
        parts.get(full).filter(_.nonEmpty).foreach { bytes =>
          try child(graft.ole2.OleEmbedded.baseName(full), bytes)
          catch { case _: Exception => () }
        }
      }
    }
    true
  }

  /** container.xml → first rootfile full-path. */
  private def rootfileOf(bytes: Array[Byte]): Option[String] = {
    var found: Option[String] = None
    try NsSax.parsePlain(bytes, new DefaultHandler {
      override def startElement(u: String, l: String, q: String,
          a: Attributes): Unit =
        if (found.isEmpty && (q.endsWith("rootfile") || l == "rootfile"))
          found = Option(a.getValue("full-path"))
    }) catch { case _: Exception => () }
    found
  }

  /** OPF: Dublin Core + version + rendition layout + manifest/spine. */
  private final class OpfHandler(meta: MetaSink) extends DefaultHandler {
    val manifest = scala.collection.mutable.LinkedHashMap[String, (String, String)]()
    val spine = scala.collection.mutable.ArrayBuffer[String]()
    private var dcField: String = null
    private val buf = new StringBuilder
    private var inRenditionLayout = false

    meta.set("epub:rendition-layout", "reflowable") // OPFParser default

    private val DcKeys = Map(
      "title" -> "dc:title", "creator" -> "dc:creator",
      "description" -> "dc:description", "publisher" -> "dc:publisher",
      "language" -> "dc:language", "identifier" -> "dc:identifier",
      "date" -> "dcterms:created", "subject" -> "dc:subject",
      "rights" -> "dc:rights", "contributor" -> "dc:contributor")

    override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
      NsSax.local(l, q) match {
        case "package" =>
          Option(a.getValue("version")).filter(_.nonEmpty)
            .foreach(meta.set("epub:version", _))
        case "item" =>
          val id = a.getValue("id"); val href = a.getValue("href")
          val mt = Option(a.getValue("media-type")).getOrElse("")
          if (id != null && href != null) manifest(id) = (href, mt)
        case "itemref" =>
          Option(a.getValue("idref")).foreach(spine += _)
          if (Option(a.getValue("properties"))
              .exists(_.contains("rendition:layout-pre-paginated")))
            meta.set("epub:rendition-layout", "pre-paginated")
        case "meta" if "rendition:layout" == a.getValue("property") =>
          inRenditionLayout = true; buf.setLength(0)
        case k if DcKeys.contains(k) => dcField = k; buf.setLength(0)
        case _ => ()
      }

    override def characters(ch: Array[Char], s: Int, n: Int): Unit =
      if (dcField != null || inRenditionLayout) buf.appendAll(ch, s, n)

    override def endElement(u: String, l: String, q: String): Unit = {
      val name = NsSax.local(l, q)
      if (name == "meta" && inRenditionLayout) {
        if (buf.toString.trim == "pre-paginated")
          meta.set("epub:rendition-layout", "pre-paginated")
        inRenditionLayout = false
      } else if (dcField == name) {
        val v = buf.toString.trim
        if (v.nonEmpty) meta.add(DcKeys(name), v)
        dcField = null
      }
    }
  }
}
