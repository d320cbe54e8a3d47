package graft.ooxml

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import graft.engine.SpanSink
import graft.xmlx.NsSax
import graft.core.Endian.leInt

/** Cell comments for XLSX (xl/comments*.xml) and XLSB (comments*.bin),
  * rendered after the sheet table as "author: text" paragraphs — the
  * reference's XSSFExcelExtractorDecorator comment shim and
  * TikaXSSFBCommentsTable.emitAllComments surface, ordered by cell
  * address like the reference's TreeMap<CellAddress>.
  */
object XlsxComments {

  /** (row, col, author, text) sorted by address, then emitted. */
  def emit(comments: Seq[(Int, Int, String, String)], sink: SpanSink): Unit =
    comments.sortBy(c => (c._1, c._2)).foreach { case (_, _, author, text) =>
      sink.chars(if (author.nonEmpty) s"$author: $text" else text)
      sink.newline()
    }

  /** Binary comments part: BrtCommentAuthor(632) author strings,
    * BrtBeginComment(635) authorId/row/col, BrtCommentText(637) RichStr.
    */
  def fromBin(data: Array[Byte]): Vector[(Int, Int, String, String)] = {
    val authors = scala.collection.mutable.ArrayBuffer[String]()
    var authorId = -1
    var row = -1
    var col = -1
    val out = Vector.newBuilder[(Int, Int, String, String)]
    def wide(b: Array[Byte], off: Int): String = {
      if (off + 4 > b.length) return ""
      val cch = leInt(b, off)
      if (cch < 0 || off + 4 + cch * 2 > b.length) return ""
      new String(b, off + 4, cch * 2, java.nio.charset.StandardCharsets.UTF_16LE)
    }
    XlsbExtractor.records(data) { (id, d) =>
      id match {
        case 632 => authors += wide(d, 0)
        case 635 if d.length >= 16 =>
          authorId = leInt(d, 0); row = leInt(d, 4); col = leInt(d, 12)
        case 637 if d.length >= 5 =>
          val text = wide(d, 1) // RichStr: flags byte then XLWideString
          val author =
            if (authorId >= 0 && authorId < authors.length)
              authors(authorId) else ""
          if (row >= 0) out += ((row, col, author, text))
          authorId = -1; row = -1; col = -1
        case _ => ()
      }
      true
    }
    out.result()
  }

  /** XML comments part: authors list + commentList with A1-style refs. */
  def fromXml(data: Array[Byte]): Vector[(Int, Int, String, String)] = {
    val authors = scala.collection.mutable.ArrayBuffer[String]()
    val out = Vector.newBuilder[(Int, Int, String, String)]
    val buf = new StringBuilder
    var inAuthor = false
    var inText = false
    var ref = ""
    var authorId = -1
    val text = new StringBuilder
    NsSax.parsePlain(data, new DefaultHandler {
      override def startElement(u: String, l: String, q: String,
          a: Attributes): Unit = NsSax.local(l, q) match {
        case "author" => inAuthor = true; buf.setLength(0)
        case "comment" =>
          ref = Option(a.getValue("ref")).getOrElse("")
          authorId = Option(a.getValue("authorId"))
            .flatMap(_.toIntOption).getOrElse(-1)
          text.setLength(0)
        case "t" => inText = true; buf.setLength(0)
        case _ => ()
      }
      override def characters(ch: Array[Char], s: Int, n: Int): Unit =
        if (inAuthor || inText) buf.appendAll(ch, s, n)
      override def endElement(u: String, l: String, q: String): Unit =
        NsSax.local(l, q) match {
          case "author" => inAuthor = false; authors += buf.toString; ()
          case "t" => if (inText) { text.append(buf); inText = false }
          case "comment" =>
            val author =
              if (authorId >= 0 && authorId < authors.length)
                authors(authorId) else ""
            val (r, c) = parseRef(ref)
            out += ((r, c, author, text.toString))
          case _ => ()
        }
    })
    out.result()
  }

  /** "BC23" → (22, 54): 0-based row/col from an A1-style reference. */
  private[graft] def parseRef(ref: String): (Int, Int) = {
    var col = 0
    var i = 0
    while (i < ref.length && ref(i).isLetter) {
      col = col * 26 + (ref(i).toUpper - 'A' + 1)
      i += 1
    }
    val row = ref.substring(i).toIntOption.getOrElse(0)
    (math.max(row - 1, 0), math.max(col - 1, 0))
  }
}
