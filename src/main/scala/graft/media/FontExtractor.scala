package graft.media

import java.nio.charset.StandardCharsets

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{be16, be32, be64}

/** Font metadata: TrueType/OpenType `name`+`head` tables and Adobe Font
  * Metrics (.afm) headers.
  *
  * Reference behavior: tika-parsers .../font/TrueTypeParser.java (via
  * PDFBox TrueTypeFont — family/subfamily/full/PS names, copyright,
  * trademark, created/modified; no body text) and
  * AdobeFontMetricParser.java (header keys to metadata, comments to the
  * body under a "Comments" heading).
  */
object FontExtractor {

  final class FontMalformed(msg: String) extends Exception(msg)

  // ---- TrueType ----------------------------------------------------------

  def extractTtf(b: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (b.length < 12) throw new FontMalformed("too short")
    val numTables = be16(b, 4)
    if (numTables <= 0 || numTables > 512) throw new FontMalformed("bad table count")
    var name = -1L; var nameLen = 0L
    var head = -1L
    var i = 0
    while (i < numTables) {
      val e = 12 + i * 16
      if (e + 16 > b.length) throw new FontMalformed("truncated directory")
      val tag = new String(b, e, 4, StandardCharsets.US_ASCII)
      if (tag == "name") { name = be32(b, e + 8); nameLen = be32(b, e + 12) }
      else if (tag == "head") head = be32(b, e + 8)
      i += 1
    }
    if (head >= 0 && head + 36 <= b.length) {
      // LONGDATETIME: seconds since 1904-01-01T00:00:00Z, BE64
      def longDate(o: Int): Option[String] = {
        val secs = be64(b, o)
        if (secs <= 0) None
        else Some(java.time.Instant.ofEpochSecond(secs - 2082844800L).toString)
      }
      longDate(head.toInt + 20).foreach(meta.set("dcterms:created", _))
      longDate(head.toInt + 28).foreach(meta.set("dcterms:modified", _))
    }
    if (name < 0 || name + 6 > b.length) return
    val n = name.toInt
    val count = be16(b, n + 2)
    val strOff = n + be16(b, n + 4)
    // prefer Windows/Unicode (platform 3, UTF-16BE); fall back to Mac
    val picked = scala.collection.mutable.HashMap[Int, (Int, String)]()
    var r = 0
    while (r < count) {
      val rec = n + 6 + r * 12
      if (rec + 12 <= b.length) {
        val platform = be16(b, rec)
        val nameId = be16(b, rec + 6)
        val len = be16(b, rec + 8)
        val off = strOff + be16(b, rec + 10)
        if (off + len <= b.length && len > 0 && (platform == 3 || platform == 1)) {
          val s =
            if (platform == 3) new String(b, off, len, StandardCharsets.UTF_16BE)
            else new String(b, off, len, StandardCharsets.ISO_8859_1)
          val prio = if (platform == 3) 2 else 1
          if (picked.get(nameId).forall(_._1 < prio)) picked(nameId) = (prio, s)
        }
      }
      r += 1
    }
    def nm(id: Int): Option[String] = picked.get(id).map(_._2).filter(_.nonEmpty)
    nm(4).foreach { full => meta.set("dc:title", full); meta.set("FontName", full) }
    nm(1).foreach(meta.set("FontFamilyName", _))
    nm(2).foreach(meta.set("FontSubFamilyName", _))
    nm(6).foreach(meta.set("PSName", _))
    nm(0).foreach(meta.set("dc:rights", _))
    nm(7).foreach(meta.set("Trademark", _))
    // TrueTypeParser extracts no body text
  }

  // ---- Adobe Font Metrics ------------------------------------------------

  def extractAfm(b: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val text = new String(b, StandardCharsets.ISO_8859_1)
    if (!text.startsWith("StartFontMetrics"))
      throw new FontMalformed("not an AFM file")
    val keyMap = Map(
      "FontName" -> "FontName", "FullName" -> "FontFullName",
      "FamilyName" -> "FontFamilyName", "Weight" -> "FontWeight",
      "Version" -> "FontVersion", "Notice" -> "FontNotice")
    val comments = Vector.newBuilder[String]
    text.linesIterator.takeWhile(!_.startsWith("StartCharMetrics")).foreach { line =>
      val sp = line.indexOf(' ')
      val (key, value) =
        if (sp < 0) (line.trim, "") else (line.substring(0, sp), line.substring(sp + 1).trim)
      if (key == "Comment") {
        if (value.startsWith("Creation Date:"))
          meta.set("dcterms:created", value.substring(14).trim)
        else comments += value
      } else if (key == "FullName") {
        meta.set("dc:title", value)
        meta.set("FontFullName", value)
      } else keyMap.get(key).foreach(k => if (value.nonEmpty) meta.set(k, value))
    }
    val cs = comments.result()
    if (cs.nonEmpty) {
      sink.chars("Comments")
      sink.newline()
      cs.foreach { c => sink.chars(c); sink.newline() }
    }
  }
}
