package graft.media

import java.nio.charset.StandardCharsets

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian

/** AutoCAD DWG header-property extraction.
  *
  * Reference behavior: tika-parsers .../dwg/DWGParser.java — version tag
  * "AC10xx" at offset 0; AC1015 (2000) carries indexed DWGPROPS-COOKIE
  * records; AC1018 (2004) a property section (offset LE64 at 0x20) of
  * 8 length-prefixed CP1252 strings in fixed order (title, description,
  * creator, subject, comments, modifier, ?, hyperlink) then optional
  * custom name/value pairs; AC1021+ (2007/2010/2013/2018) the same
  * layout with UTF-16LE strings. Properties land in metadata and the
  * body text, exactly the reference's surface.
  */
object DwgExtractor {

  final class DwgMalformed(msg: String) extends Exception(msg)

  private val HeaderKeys: Array[String] = Array(
    "dc:title", "dc:description", "dc:creator", "dc:subject",
    "dc:description:comments", "meta:last-author", null, "dc:relation")

  /** 2000-format indexed properties (HEADER_2000_PROPERTIES_ENTRIES). */
  private val Keys2000: Array[String] = Array(
    null, "dc:relation", "dc:title", "dc:description", "dc:creator",
    null, "dc:description:comments", "dc:subject", "meta:last-author")

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (bytes.length < 128) throw new DwgMalformed("too short")
    val version = new String(bytes, 0, 6, StandardCharsets.US_ASCII)
    def le16(o: Int): Int =
      if (o + 2 > bytes.length) throw new DwgMalformed("truncated")
      else Endian.le16(bytes, o)
    def emit(idx: Int, value: String): Unit = {
      if (value != null && value.nonEmpty) {
        if (idx >= 0 && idx < HeaderKeys.length && HeaderKeys(idx) != null)
          meta.set(HeaderKeys(idx), value)
        sink.chars(value)
        sink.newline()
      }
    }

    version match {
      case "AC1015" => // 2000: scan for the DWGPROPS COOKIE marker
        val marker = "DWGPROPS COOKIE".getBytes(StandardCharsets.US_ASCII)
        var at = -1
        var i = 0
        while (at < 0 && i + marker.length <= bytes.length) {
          var j = 0
          while (j < marker.length && bytes(i + j) == marker(j)) j += 1
          if (j == marker.length) at = i + marker.length
          i += 1
        }
        if (at >= 0) {
          var p = at
          var n = 0
          var going = true
          while (going && n < 30 && p + 5 <= bytes.length) {
            val propIdx = le16(p)
            var len = le16(p + 2)
            val valueType = bytes(p + 4) & 0xff
            p += 5
            if (propIdx == 0x28) len = 0x19
            else if (propIdx == 90) going = false
            if (going) {
              if (len < 0 || p + len > bytes.length) going = false
              else {
                if (valueType == 0x1e) {
                  val v = new String(bytes, p, len, charset1252)
                  if (propIdx < Keys2000.length) {
                    if (Keys2000(propIdx) != null) meta.add(Keys2000(propIdx), v)
                    sink.chars(v); sink.newline()
                  } else if (propIdx == 0x012c) {
                    val eq = v.indexOf('=')
                    if (eq > -1)
                      meta.add("dwg-custom:" + v.substring(0, eq), v.substring(eq + 1))
                  }
                }
                p += len
                n += 1
              }
            }
          }
        }
      case "AC1018" => // 2004: CP1252 strings at the property section
        propSection(bytes, wide = false, le16, emit, meta)
      case "AC1021" | "AC1024" | "AC1027" | "AC1032" => // 2007+: UTF-16LE
        propSection(bytes, wide = true, le16, emit, meta)
      case v if v.startsWith("AC1") =>
        // recognized family, unsupported layout (pre-2000 R13/R14 etc.)
        throw new DwgMalformed(s"unsupported AutoCAD drawing version: $v")
      case v => throw new DwgMalformed(s"not a DWG header: $v")
    }
  }

  private val charset1252 = java.nio.charset.Charset.forName("windows-1252")

  private def propSection(bytes: Array[Byte], wide: Boolean,
      le16: Int => Int,
      emit: (Int, String) => Unit, meta: MetaSink): Unit = {
    val offset = Endian.le64(bytes, 0x20)
    if (offset <= 0 || offset > 0xa00000L || offset >= bytes.length) return
    var p = offset.toInt
    def readString(): String = {
      val n = le16(p)
      p += 2
      val byteLen = if (wide) n * 2 else n
      if (n < 0 || p + byteLen > bytes.length) throw new DwgMalformed("string overrun")
      var s =
        if (wide) new String(bytes, p, byteLen, StandardCharsets.UTF_16LE)
        else new String(bytes, p, byteLen, charset1252)
      p += byteLen
      if (s.nonEmpty && s.charAt(s.length - 1) == 0.toChar)
        s = s.substring(0, s.length - 1)
      s
    }
    try {
      var i = 0
      while (i < 8) { emit(i, readString()); i += 1 }
      // custom properties: 4 padding bytes (0s or 02 00 00 00), skip 20,
      // then a plausibility-checked u16 count of name/value pairs
      if (p + 4 <= bytes.length) {
        val pad = (bytes(p) & 0xff, bytes(p + 1) & 0xff, bytes(p + 2) & 0xff,
          bytes(p + 3) & 0xff)
        if (pad == ((0, 0, 0, 0)) || pad == ((2, 0, 0, 0))) {
          p += 4 + 20
          if (p + 2 <= bytes.length) {
            val count = le16(p)
            p += 2
            if (count > 0 && count < 0x7f) {
              var k = 0
              while (k < count) {
                val name = readString()
                val value = readString()
                if (name.nonEmpty && value.nonEmpty)
                  meta.add("dwg-custom:" + name, value)
                k += 1
              }
            }
          }
        }
      }
    } catch { case _: DwgMalformed => () } // truncated tail: keep what we have
  }
}
