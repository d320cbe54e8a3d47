package graft.media

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian

/** CADKEY PRT drawing text extraction.
  *
  * Reference behavior: tika-parsers .../prt/PRTParser.java — 30-byte
  * header, 12-digit yyyymmddHHMM timestamp, 500-byte NUL-terminated
  * description, then a marker scan: 0xE0/0xE3/0xF0 followed by
  * 0x3F/0xBF introduces a length-prefixed CP437 string (view names
  * when the last 5 content bytes were 0x00, note text when they were
  * 0x33); phi maps to the diameter sign.
  */
object PrtExtractor {

  final class PrtMalformed(msg: String) extends Exception(msg)

  private val MaxTextLength = 0x0800

  def extract(b: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (b.length < 542) throw new PrtMalformed("too short")
    val cp437 =
      try java.nio.charset.Charset.forName("IBM437")
      catch { case _: Exception => java.nio.charset.StandardCharsets.ISO_8859_1 }
    def text(off: Int, len: Int, trim: Boolean): String = {
      var n = len - 1
      if (trim) {
        var i = 0
        var found = false
        while (!found && i < len) {
          if (b(off + i) == 0) { n = i; found = true }
          i += 1
        }
      }
      new String(b, off, math.max(0, n), cp437).replace('φ', 'Ø')
    }

    val dateStr = new String(b, 30, 12, java.nio.charset.StandardCharsets.US_ASCII)
    if ((dateStr.startsWith("19") || dateStr.startsWith("20")) &&
        dateStr.forall(_.isDigit)) {
      val f = s"${dateStr.substring(0, 4)}-${dateStr.substring(4, 6)}-" +
        s"${dateStr.substring(6, 8)}T${dateStr.substring(8, 10)}:" +
        s"${dateStr.substring(10, 12)}:00"
      meta.set("dcterms:created", f)
      meta.set("dcterms:modified", f)
    }
    val desc = text(42, 500, trim = true)
    if (desc.nonEmpty) meta.set("dc:description", desc)

    // last-5 recorded content bytes ring (markers are not recorded)
    val last5 = new Array[Byte](5)
    var pos = 0
    def record(v: Int): Unit = { last5(pos) = v.toByte; pos = (pos + 1) % 5 }
    def allAre(v: Byte): Boolean = last5.forall(_ == v)

    val c = new Endian.Cursor(b, 542)

    def emitText(len: Int): Unit = {
      if (c.pos + len <= b.length && len > 0 && b(c.pos + len - 1) == 0) {
        sink.chars(text(c.pos, len, trim = false))
        sink.newline()
      }
      c.pos += len
    }

    while (c.pos < b.length) {
      val read = c.u8()
      if (read == 0xe0 || read == 0xe3 || read == 0xf0) {
        if (c.pos >= b.length) return
        val nread = c.u8()
        if (nread == 0x3f || nread == 0xbf) {
          if (read == 0xe3 && nread == 0x3f) {
            if (allAre(0x33)) { // note text: 10 low nibbles, 0x1f, u16 len
              var ok = true
              var i = 0
              while (ok && i < 10 && c.pos < b.length) {
                val v = c.u8(); if (v > 0x0f) ok = false
                i += 1
              }
              if (ok && c.pos < b.length && c.u8() == 0x1f && c.pos + 2 <= b.length) {
                val len = c.le16()
                if (len <= MaxTextLength) emitText(len)
              }
            }
          } else if (allAre(0x00)) { // view name
            if (c.pos + 2 > b.length) return
            val maybeLen = c.le16()
            if (maybeLen == 0) {
              var ok = true
              var i = 0
              while (ok && i < 6 && c.pos < b.length) {
                val v = c.u8(); if (v > 0x0f) ok = false
                i += 1
              }
              if (ok && c.pos + 2 <= b.length) {
                val b0 = b(c.pos); val b1 = b(c.pos + 1)
                val len = c.le16()
                if (len > 1 && len <= MaxTextLength) emitText(len)
                else { record(b0); record(b1) }
              }
            } else if (maybeLen > 0 && maybeLen < MaxTextLength) emitText(maybeLen)
          }
        }
      } else record(read)
    }
  }
}
