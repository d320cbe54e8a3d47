package graft.textparse

import graft.engine.{MetaSink, SpanSink}
import graft.ole2.Cfb
import graft.core.Endian.{le16, le32, le64}

/** QuattroPro 9+ (.qpw) text extraction.
  *
  * Reference behavior: tika-parsers
  * .../wordperfect/QPWTextExtractor.java — the `NativeContent_MAIN` OLE
  * stream is a sequence of (u16 type, u16 length) records; text lives in
  * the string table (0x0407), sheet names/headers/footers, external
  * links, label cells (0x0c72), string formula values (0x0c02) and cell
  * comments (0x0c80). Strings are QSTR: u16 count, 1 string-type byte,
  * then count+1 single-byte chars.
  */
object QpwExtractor {

  final class QpwMalformed(msg: String) extends Exception(msg)

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val cfb = Cfb.parse(bytes)
    val data = cfb.stream("NativeContent_MAIN")
      .getOrElse(throw new QpwMalformed("no NativeContent_MAIN stream"))
    var p = 0

    // QSTR at offset o → (string, next offset)
    def qstr(o: Int): (String, Int) = {
      if (o + 3 > data.length) throw new QpwMalformed("qstr overrun")
      val count = le16(data, o)
      val start = o + 3
      if (start + count + 1 > data.length) throw new QpwMalformed("qstr overrun")
      val sb = new StringBuilder(count + 1)
      var i = 0
      while (i <= count) { sb.append((data(start + i) & 0xff).toChar); i += 1 }
      (sb.toString, start + count + 1)
    }
    def emit(s: String): Unit = {
      if (s.nonEmpty) { sink.chars(s); sink.newline() }
    }

    // The reference consumes parsed records field-by-field and resumes
    // the record scan wherever parsing ended (NOT at body+len) — string
    // tables can exceed the u16 record length; mirror that exactly.
    while (p + 4 <= data.length) {
      val typ = le16(data, p)
      val len = le16(data, p + 2)
      val body = p + 4
      if (body + len > data.length) return
      var next = body + len
      try {
        typ match {
          case 0x0001 => // BOF: id(4) version(2) build(2) saved(2) lowest(2) pages(2)
            if (len >= 14) {
              meta.set("qpw:version", le16(data, body + 4).toString)
              meta.set("meta:page-count", le16(data, body + 12).toString)
            }
          case 0x0005 => // USER: creator + modifier
            val (creator, n1) = qstr(body)
            val (modifier, n2) = qstr(n1)
            if (creator.nonEmpty) meta.set("dc:creator", creator)
            if (modifier.nonEmpty) meta.set("meta:last-author", modifier)
            next = n2
          case 0x0403 => // external link: idx(2) first(2) last(2) + name
            val (s, n1) = qstr(body + 6); emit(s); next = n1
          case 0x0407 => // string table: entries(4) used(4) saved(4), QSTRs
            val entries = le32(data, body)
            var q = body + 12
            var i = 0L
            while (i < entries && q < data.length) {
              val (s, nq) = qstr(q)
              emit(s); q = nq; i += 1
            }
            next = q
          case 0x0601 => // beginning of sheet: 18 fixed bytes then name
            val (s, n1) = qstr(body + 18); emit(s); next = n1
          case 0x0605 | 0x0606 => // sheet header/footer: flag(2) + text
            val (s, n1) = qstr(body + 2); emit(s); next = n1
          case 0x0c02 => // string formula value: col(2) row(4) + text
            val (s, n1) = qstr(body + 6); emit(s); next = n1
          case 0x0c72 => // generic label cell: col(2) row(4) fmt(2) + text
            val (s, n1) = qstr(body + 8); emit(s); next = n1
          case 0x0c80 => // cell comment: col(2) row(4) flag(4) + author + text
            val (author, n1) = qstr(body + 10)
            val (comment, n2) = qstr(n1)
            emit(author); emit(comment); next = n2
          case _ => // skipped record
        }
      } catch { case _: QpwMalformed => return }
      if (next <= p) return
      p = next
    }
  }

  /** QuattroPro 1-6 (.wq1/.wq2/.wb1/.wb2) — the Lotus-style flat record
    * stream QPWTextExtractor does NOT handle (the reference throws
    * UnsupportedFormatException for pre-v9 files; r5 beyond-reference).
    * Cell layouts by BOF version word:
    *  - 0x5120 (wq1): wk1 addressing [fmt1 col2 row2], labels are
    *    prefix + length-byte Pascal strings
    *  - 0x5121 (wq2): [col2 row2 attr2], labels prefix + length byte
    *  - 0x1001/0x1002 (wb1/wb2): [col2 row2 attr2], labels optional
    *    prefix then NUL-terminated
    * INTEGER 0x0D (i16) / NUMBER 0x0E (f64) / FORMULA 0x10 (f64 value)
    * share the address shape. Rendered row-major tab-separated like the
    * Lotus route.
    */
  def extractLegacy(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (bytes.length < 8) return
    def f64(o: Int): Double = java.lang.Double.longBitsToDouble(le64(bytes, o))
    val version = if (le16(bytes, 0) == 0 && le16(bytes, 2) == 2) le16(bytes, 4) else return
    val wk1Style = version == 0x5120
    val pascalLabel = version == 0x5120 || version == 0x5121
    meta.set("qpw:bof-version", f"0x$version%04x")
    val cp437 =
      try java.nio.charset.Charset.forName("IBM437")
      catch { case _: Exception => java.nio.charset.StandardCharsets.ISO_8859_1 }
    val cells = new scala.collection.mutable.ArrayBuffer[(Int, Int, String)]()
    def num(d: Double): String =
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    var off = 0
    var n = 0
    while (off + 4 <= bytes.length && n < 2000000) {
      val typ = le16(bytes, off)
      val len = le16(bytes, off + 2)
      val bo = off + 4
      if (bo + len > bytes.length) { off = bytes.length }
      else {
        // address: wk1-style has a leading format byte
        val ao = if (wk1Style) bo + 1 else bo
        def col = le16(bytes, ao)
        def row = le16(bytes, ao + 2)
        val vo = if (wk1Style) bo + 5 else bo + 6 // value offset past attr
        typ match {
          case 0x0D if bo + len >= vo + 2 =>
            cells += ((row, col, num(((le16(bytes, vo) << 16) >> 16).toDouble)))
          case 0x0E | 0x10 if bo + len >= vo + 8 =>
            cells += ((row, col, num(f64(vo))))
          case 0x0F if len > (vo - bo) =>
            var p = vo
            val end = bo + len
            if (p < end && "'^\"\\".indexOf((bytes(p) & 0xff).toChar) >= 0) p += 1
            else if (!pascalLabel && p < end && bytes(p) == 0) p += 1
            val s =
              if (pascalLabel) {
                if (p < end) {
                  val l = bytes(p) & 0xff
                  p += 1
                  new String(bytes, p, math.min(l, end - p), cp437)
                } else ""
              } else {
                var e = p
                while (e < end && bytes(e) != 0) e += 1
                new String(bytes, p, e - p, cp437)
              }
            if (s.nonEmpty) cells += ((row, col, s))
          case 0x01 => off = bytes.length // EOF record
          case _ => ()
        }
        if (off < bytes.length) off = bo + len
        n += 1
      }
    }
    meta.set("qpw:cells", cells.size.toString)
    val sorted = cells.sortBy(c => (c._1, c._2))
    var lastRow = -1
    var first = true
    for ((row, _, text) <- sorted) {
      if (!first && row != lastRow) sink.newline()
      else if (!first) sink.tab()
      sink.chars(text)
      lastRow = row; first = false
    }
    if (!first) sink.newline()
  }
}
