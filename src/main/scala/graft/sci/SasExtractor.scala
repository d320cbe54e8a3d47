package graft.sci

import java.nio.charset.Charset
import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian

/** SAS7BDAT dataset extraction — header metadata, column metadata, and
  * the row values rendered as a tab-separated table.
  *
  * Reference behavior: tika-parser-code-module
  * `sas/SAS7BDATParser.java:60-160` (title/created/modified, page and
  * column/row counts, encoding, server type, SAS release, architecture
  * bits, endianness, column names, then every row with column formats
  * applied). The reference reads the binary via the external parso
  * library; this is an original reader of the publicly documented
  * sas7bdat layout (alignment bytes at 32/35, endianness at 37,
  * encoding at 70, "SAS FILE" at 84, dataset name at 92, timestamps as
  * seconds-since-1960 doubles at 164+a1, page geometry at 196+a1;
  * pages with subheader pointers; row-size/column-size/column-text/
  * column-name/column-attrs/format-label subheaders keyed by their
  * 0xF7F7F7F7 / 0xF6F6F6F6 / 0xFFFFFFFD / 0xFFFFFFFF / 0xFFFFFFFC /
  * 0xFFFFFBFE signatures; mix (0x200) and data (0x100) pages carry
  * rows). SAS date/datetime formats (MMDDYY/DDMMYY/YYMMDD/DATE/MONYY/
  * JULIAN/DATETIME/TIME/PERCENT) render like parso's DataWriterUtil so
  * the reference test expectations hold (`01-01-1960`,
  * `01JAN1960:00:00:10.00`).
  */
object SasExtractor {

  private val SasEpochDate = java.time.LocalDate.of(1960, 1, 1)
  private val SasEpochDt = java.time.LocalDateTime.of(1960, 1, 1, 0, 0, 0)

  private val Encodings: Map[Int, String] = Map(
    20 -> "UTF-8", 28 -> "US-ASCII", 29 -> "ISO-8859-1", 30 -> "ISO-8859-2",
    31 -> "ISO-8859-3", 34 -> "ISO-8859-6", 35 -> "ISO-8859-7",
    36 -> "ISO-8859-8", 39 -> "ISO-8859-11", 40 -> "ISO-8859-9",
    60 -> "windows-1250", 61 -> "windows-1251", 62 -> "windows-1252",
    63 -> "windows-1253", 64 -> "windows-1254", 65 -> "windows-1255",
    66 -> "windows-1256", 67 -> "windows-1257", 118 -> "x-windows-950",
    119 -> "EUC-CN", 123 -> "Big5", 125 -> "GBK", 134 -> "EUC-JP",
    138 -> "Shift_JIS", 140 -> "EUC-KR")

  private final case class Col(name: String, label: String, format: String,
      offset: Int, width: Int, numeric: Boolean, decimals: Int)

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    require(bytes.length >= 1024, "sas7bdat too short")
    require(new String(bytes, 84, 8, Charset.forName("US-ASCII")) == "SAS FILE",
      "not a sas7bdat")
    val a2 = if (bytes(32) == 0x33) 4 else 0 // also the 64-bit marker
    val a1 = if (bytes(35) == 0x33) 4 else 0
    val u64 = a2 == 4
    val le = bytes(37) == 1
    val intLen = if (u64) 8 else 4

    def u16(o: Int): Int = if (le) Endian.le16(bytes, o) else Endian.be16(bytes, o)
    def i32(o: Int): Int = if (le) Endian.leInt(bytes, o) else Endian.beInt(bytes, o)
    def i64(o: Int): Long = if (le) Endian.le64(bytes, o) else Endian.be64(bytes, o)
    def iptr(o: Int): Long = if (u64) i64(o) else i32(o).toLong
    def dbl(o: Int): Double = java.lang.Double.longBitsToDouble(i64(o))

    val charset =
      try Charset.forName(Encodings.getOrElse(bytes(70) & 0xff, "windows-1252"))
      catch { case _: Exception => Charset.forName("windows-1252") }
    def str(o: Int, len: Int): String = {
      var end = o + len
      while (end > o && (bytes(end - 1) == 0 || bytes(end - 1) == ' ')) end -= 1
      new String(bytes, o, end - o, charset)
    }

    val name = str(92, 64)
    def sasInstant(secs: Double): String =
      SasEpochDt.plusSeconds(secs.toLong)
        .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME) + "Z"
    meta.set("dc:title", name)
    meta.set("dcterms:created", sasInstant(dbl(164 + a1)))
    meta.set("dcterms:modified", sasInstant(dbl(172 + a1)))
    val headerLen = i32(196 + a1)
    val pageSize = i32(200 + a1)
    val pageCount = (if (u64) i64(204 + a1) else i32(204 + a1).toLong)
      .min((bytes.length - headerLen).max(0).toLong /
        math.max(1, pageSize)).toInt
    meta.set("meta:page-count", pageCount.toString)
    meta.set("content-encoding", charset.name().toLowerCase match {
      case n if n.startsWith("windows") || n.startsWith("iso") => n
      case n => n
    })
    meta.set("sas:release", str(216 + a1 + a2, 8))
    meta.set("sas:server-type", str(224 + a1 + a2, 16))
    meta.set("architecture-bits", if (u64) "64" else "32")
    meta.set("endian", if (le) "Little" else "Big")

    // ---- subheader scan ------------------------------------------------
    val pageBitOffset = if (u64) 32 else 16
    val ptrSize = if (u64) 24 else 12
    var rowLen, mixRC, colCount = 0
    var rowCount = 0L
    val textPools = Vector.newBuilder[(Int, Int)] // (abs offset past size word, len)
    val nameEntries = Vector.newBuilder[(Int, Int, Int)] // tidx, off, len
    val attrEntries = Vector.newBuilder[(Int, Int, Int)] // offset, width, type
    val fmtEntries = Vector.newBuilder[(Int, Int, Int, Int, Int)] // fOff,fLen,lOff,lLen,dec

    def pageBase(pg: Int) = headerLen + pg * pageSize
    def eachPointer(pg: Int)(f: (Long, Long, Int) => Unit): Int = {
      val base = pageBase(pg)
      val sc = u16(base + pageBitOffset + 4)
      val ptrBase = base + pageBitOffset + 8
      var i = 0
      while (i < sc) {
        val p = ptrBase + i * ptrSize
        if (p + ptrSize <= bytes.length) {
          val off = iptr(p); val len = iptr(p + intLen)
          val comp = bytes(p + 2 * intLen) & 0xff
          if (len > 0) f(off, len, comp)
        }
        i += 1
      }
      sc
    }

    var pg = 0
    while (pg < pageCount) {
      val base = pageBase(pg)
      if (base + pageBitOffset + 8 <= bytes.length) {
        eachPointer(pg) { (offL, lenL, _) =>
          val off = base + offL.toInt
          val len = lenL.toInt
          if (off + len <= bytes.length && len >= intLen) {
            // low word of the signature keys the type for both widths
            val sig = i32(off) & 0xffffffffL
            sig match {
              case 0xf7f7f7f7L => // row size
                rowLen = iptr(off + 5 * intLen).toInt
                rowCount = iptr(off + 6 * intLen)
                mixRC = iptr(off + 15 * intLen).toInt
              case 0xf6f6f6f6L => // column size
                colCount = iptr(off + intLen).toInt
              case 0xfffffffdL => // column text
                textPools += ((off + intLen, len - intLen))
              case 0xffffffffL => // column names
                var p = off + intLen + 8
                while (p + 8 <= off + len - 8) {
                  nameEntries += ((u16(p), u16(p + 2), u16(p + 4)))
                  p += 8
                }
              case 0xfffffffcL => // column attributes
                val entry = intLen + 8
                var p = off + intLen + 8
                while (p + entry <= off + len - 8) {
                  attrEntries += ((iptr(p).toInt, i32(p + intLen),
                    (bytes(p + intLen + 6) & 0xff)))
                  p += entry
                }
              case 0xfffffbfeL => // column format + label
                // empirical 32-bit layout (validated on the reference
                // fixtures): u16 decimals at 14, format off/len at 36/38,
                // label off/len at 42/44; 64-bit shifts by 3*(intLen-4)
                val s = 3 * (intLen - 4)
                fmtEntries += ((u16(off + 36 + s), u16(off + 38 + s),
                  u16(off + 42 + s), u16(off + 44 + s), u16(off + 10 + s)))
              case _ => ()
            }
          }
        }
      }
      pg += 1
    }

    val pools = textPools.result()
    def fromPool(tidx: Int, off: Int, len: Int): String = {
      if (len == 0 || tidx >= pools.length) return ""
      val (poolOff, poolLen) = pools(tidx)
      if (off + len > poolLen) return ""
      str(poolOff + off, len)
    }

    // compression marker lives at the head of the first text pool
    val compression = pools.headOption.map { case (o, l) =>
      str(o, math.min(l, 20))
    }.filter(s => s.contains("SASYZCRL") || s.contains("SASYZCR2"))
    compression.foreach(c => meta.set("sas:compression",
      if (c.contains("SASYZCRL")) "CHAR" else "BINARY"))

    val names = nameEntries.result()
    val attrs = attrEntries.result()
    val fmts = fmtEntries.result()
    val cols = (0 until colCount).map { i =>
      val nm = if (i < names.length)
        fromPool(names(i)._1, names(i)._2, names(i)._3) else s"COL$i"
      val (fmt, lbl, dec) = if (i < fmts.length) {
        val (fo, fl, lo, ll, d) = fmts(i)
        (fromPool(0, fo, fl), fromPool(0, lo, ll), d)
      } else ("", "", 0)
      val (off, w, t) = if (i < attrs.length) attrs(i) else (0, 0, 1)
      Col(nm, lbl, fmt, off, w, t == 1, dec)
    }

    meta.set("database:column_count", colCount.toString)
    meta.set("database:row_count", rowCount.toString)
    cols.foreach { c =>
      meta.add("database:column_name", if (c.label.nonEmpty) c.label else c.name)
    }

    // ---- rows -----------------------------------------------------------
    sink.chars(name); sink.newline()
    cols.foreach { c =>
      sink.chars(if (c.label.nonEmpty) c.label else c.name); sink.tab()
    }
    sink.newline()

    def cell(rowOff: Int, c: Col): String = {
      if (c.offset + c.width > rowLen || c.width <= 0) return ""
      val o = rowOff + c.offset
      if (!c.numeric) return str(o, c.width)
      // short numerics store the high-order double bytes
      val v =
        if (c.width >= 8) dbl(o)
        else {
          val full = new Array[Byte](8)
          if (le) System.arraycopy(bytes, o, full, 8 - c.width, c.width)
          else System.arraycopy(bytes, o, full, 0, c.width)
          val bb = java.nio.ByteBuffer.wrap(full).order(
            if (le) java.nio.ByteOrder.LITTLE_ENDIAN
            else java.nio.ByteOrder.BIG_ENDIAN)
          bb.getDouble
        }
      formatNumeric(v, c)
    }

    if (compression.isEmpty && rowLen > 0) {
      var emitted = 0L
      var page = 0
      while (page < pageCount && emitted < rowCount) {
        val base = pageBase(page)
        if (base + pageBitOffset + 8 <= bytes.length) {
          val ptype = u16(base + pageBitOffset)
          val bc = u16(base + pageBitOffset + 2)
          val sc = u16(base + pageBitOffset + 4)
          val (rowBase, nRows) = (ptype & 0xf00) match {
            case 0x100 => (base + pageBitOffset + 8, bc.toLong)
            case 0x200 =>
              val rel = pageBitOffset + 8 + sc * ptrSize
              (base + ((rel + 7) / 8) * 8,
                math.min(mixRC.toLong, rowCount - emitted))
            case _ => (base, 0L)
          }
          var r = 0L
          while (r < nRows && emitted < rowCount) {
            val ro = rowBase + (r * rowLen).toInt
            if (ro + rowLen <= bytes.length) {
              cols.foreach { c => sink.chars(cell(ro, c)); sink.tab() }
              sink.newline()
              emitted += 1
            }
            r += 1
          }
        }
        page += 1
      }
    }
    sink.flushText()
  }

  // ---- SAS format rendering (parso DataWriterUtil semantics) ----------

  private def formatNumeric(v: Double, c: Col): String = {
    if (java.lang.Double.isNaN(v)) return ""
    try formatNumeric0(v, c)
    catch { case _: Exception => plainNumber(v) } // absurd date values
  }

  private def formatNumeric0(v: Double, c: Col): String = {
    val f = c.format.toUpperCase(java.util.Locale.ROOT)
    val base = f.stripSuffix("D").stripSuffix("S").stripSuffix("N")
      .stripSuffix("B").stripSuffix("C").stripSuffix("P")
    def sep = f.lastOption match {
      case Some('D') => "-"
      case Some('N') => ""
      case Some('B') => " "
      case Some('C') => ":"
      case Some('P') => "."
      case Some('S') => "/"
      case _ => "/"
    }
    def date = SasEpochDate.plusDays(v.toLong)
    def two(n: Int) = f"$n%02d"
    val Months = Array("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
      "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")
    base match {
      case "MMDDYY" =>
        s"${two(date.getMonthValue)}$sep${two(date.getDayOfMonth)}$sep${date.getYear}"
      case "DDMMYY" =>
        s"${two(date.getDayOfMonth)}$sep${two(date.getMonthValue)}$sep${date.getYear}"
      case "YYMMDD" =>
        s"${date.getYear}${if (sep == "/") "-" else sep}${two(date.getMonthValue)}${if (sep == "/") "-" else sep}${two(date.getDayOfMonth)}"
      case "DATE" =>
        s"${two(date.getDayOfMonth)}${Months(date.getMonthValue - 1)}${date.getYear}"
      case "MONYY" => s"${Months(date.getMonthValue - 1)}${date.getYear}"
      case "JULIAN" => s"${date.getYear}${f"${date.getDayOfYear}%03d"}"
      case "DATETIME" =>
        val secs = v.toLong
        val frac = math.rint((v - secs) * 100).toInt
        val dt = SasEpochDt.plusSeconds(secs)
        s"${two(dt.getDayOfMonth)}${Months(dt.getMonthValue - 1)}${dt.getYear}:" +
          s"${two(dt.getHour)}:${two(dt.getMinute)}:${two(dt.getSecond)}" +
          s".${f"$frac%02d"}"
      case "TIME" =>
        val secs = v.toLong
        f"${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d"
      case "PERCENT" =>
        val pct = v * 100
        if (c.decimals > 0) String.format(s"%.${c.decimals}f%%", Double.box(pct))
        else plainNumber(pct) + "%"
      case _ => plainNumber(v)
    }
  }

  private def plainNumber(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else {
      val s = v.toString
      if (s.endsWith(".0")) s.dropRight(2) else s
    }
}
