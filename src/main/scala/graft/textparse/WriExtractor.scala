package graft.textparse

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{le16, le32}

/** Microsoft Write (.wri) text — from scratch per the public Windows
  * 3.x Write format notes (wIdent 0xBE31/0xBE32, header paragraph at
  * page 0, text stream from byte 0x80 to fcMac, CP1252).
  *
  * The reference only glob-detects application/x-mswrite (the
  * OfficeParser explicitly excludes Write), so text extraction goes
  * beyond reference parity.
  */
object WriExtractor {

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (bytes.length < 0x80) return
    val wIdent = le16(bytes, 0)
    if (wIdent != 0xbe31 && wIdent != 0xbe32) return
    val fcMac = le32(bytes, 14)
    meta.set("wri:has-ole", (wIdent == 0xbe32).toString)
    val end = math.min(fcMac, bytes.length.toLong).toInt
    if (end <= 0x80) return
    val cp1252 =
      try java.nio.charset.Charset.forName("windows-1252")
      catch { case _: Exception => java.nio.charset.StandardCharsets.ISO_8859_1 }
    val text = new String(bytes, 0x80, end - 0x80, cp1252)
    var i = 0
    val sb = new StringBuilder
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '\r') {
        // CRLF paragraph breaks; lone CR treated the same
        sink.chars(sb.toString); sb.clear()
        sink.newline()
        if (i + 1 < text.length && text.charAt(i + 1) == '\n') i += 1
      } else if (c == '\n') {
        sink.chars(sb.toString); sb.clear()
        sink.newline()
      } else if (c == '\t') sb.append('\t')
      else if (c == 0x0c) { // page break
        sink.chars(sb.toString); sb.clear()
        sink.newline()
      } else if (c >= ' ') sb.append(c) // Char is unsigned: covers 0x80+
      // control chars 0x01-0x08 are picture/OLE anchors: dropped
      i += 1
    }
    if (sb.nonEmpty) { sink.chars(sb.toString); sink.newline() }
  }
}
