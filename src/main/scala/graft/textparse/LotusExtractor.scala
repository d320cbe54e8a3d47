package graft.textparse

import graft.engine.{MetaSink, SpanSink}
import scala.collection.mutable.ArrayBuffer
import graft.core.Endian.{le16, le64}

/** Lotus 1-2-3 worksheets (.wk1/.wk3/.wk4) — from scratch per the
  * public Lotus file-format notes (the same record stream the
  * reference's magic entries version-discriminate on, but tika has no
  * parser for any 1-2-3 version).
  *
  * Record stream: [type u16][len u16][body]. BOF (type 0) carries the
  * version word (0x0404/0x0406 = WK1/WKS family; 0x1000 = WK3,
  * 0x1002 = WK4/WK5). Cells:
  *  - WK1: INTEGER 0x0D [fmt1 col2 row2 i16], NUMBER 0x0E [.. f64],
  *    LABEL 0x0F [.. prefix+text NUL], FORMULA 0x10 [.. f64 value ..]
  *  - WK3/WK4: LABEL 0x16 [row2 sheet1 col1 prefix+text NUL],
  *    NUMBER 0x17 [row2 sheet1 col1 80-bit extended float]
  * Cells render row-major, tab-separated — the same shape our BIFF and
  * dBASE routes emit.
  */
object LotusExtractor {

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (bytes.length < 6) return
    val cells = new ArrayBuffer[(Int, Int, Int, String)]() // sheet,row,col,text
    var version = 0
    var off = 0
    var records = 0
    while (off + 4 <= bytes.length && records < 2000000) {
      val typ = le16(bytes, off)
      val len = le16(bytes, off + 2)
      val bo = off + 4
      if (bo + len > bytes.length) {
        off = bytes.length // truncated record: keep what we have
      } else {
        typ match {
          case 0x0000 if len >= 2 && records == 0 =>
            version = le16(bytes, bo)
          case 0x0001 => records = 2000000 // EOF record
          case 0x0D if len >= 7 && isWk1(version) =>
            cells += ((0, le16(bytes, bo + 3), le16(bytes, bo + 1),
              trimNum(le16(bytes, bo + 5).toShort.toDouble)))
          case 0x0E if len >= 13 && isWk1(version) =>
            cells += ((0, le16(bytes, bo + 3), le16(bytes, bo + 1),
              trimNum(java.lang.Double.longBitsToDouble(le64(bytes, bo + 5)))))
          case 0x0F if len >= 6 && isWk1(version) =>
            cells += ((0, le16(bytes, bo + 3), le16(bytes, bo + 1),
              label(bytes, bo + 5, len - 5)))
          case 0x10 if len >= 13 && isWk1(version) =>
            cells += ((0, le16(bytes, bo + 3), le16(bytes, bo + 1),
              trimNum(java.lang.Double.longBitsToDouble(le64(bytes, bo + 5)))))
          case 0x16 if len >= 5 && isWk3(version) =>
            cells += ((bytes(bo + 2) & 0xff, le16(bytes, bo),
              bytes(bo + 3) & 0xff, label(bytes, bo + 4, len - 4)))
          case 0x17 if len == 14 && isWk3(version) =>
            cells += ((bytes(bo + 2) & 0xff, le16(bytes, bo),
              bytes(bo + 3) & 0xff, trimNum(ext80(bytes, bo + 4))))
          case _ => ()
        }
        records += 1
        off = bo + len
      }
    }
    if (version != 0) meta.set("lotus:bof-version",
      f"0x$version%04x")
    meta.set("lotus:cells", cells.size.toString)
    // render row-major with tab separators, blank line between sheets
    val sorted = cells.sortBy(c => (c._1, c._2, c._3))
    var lastSheet = -1
    var lastRow = -1
    var first = true
    for ((sheet, row, _, text) <- sorted) {
      if (!first && (sheet != lastSheet || row != lastRow)) sink.newline()
      else if (!first) sink.tab()
      sink.chars(text)
      lastSheet = sheet; lastRow = row; first = false
    }
    if (!first) sink.newline()
  }

  private def isWk1(v: Int): Boolean = v >= 0x0400 && v <= 0x0409
  private def isWk3(v: Int): Boolean = v >= 0x1000 && v <= 0x100f

  /** Label cell: alignment prefix (' ^ " \) then NUL-terminated text. */
  private def label(b: Array[Byte], off: Int, len: Int): String = {
    var s = off
    val end = off + len
    if (s < end && "'^\"\\".indexOf(b(s).toChar) >= 0) s += 1
    var e = s
    while (e < end && b(e) != 0) e += 1
    new String(b, s, e - s, java.nio.charset.Charset.forName("windows-1252"))
  }

  /** 80-bit x87 extended float, little-endian (WK3/WK4 NUMBER cells). */
  private def ext80(b: Array[Byte], off: Int): Double = {
    val mant = le64(b, off)
    val se = le16(b, off + 8)
    val sign = if ((se & 0x8000) != 0) -1.0 else 1.0
    val exp = se & 0x7fff
    if (exp == 0 && mant == 0) return 0.0
    if (exp == 0x7fff) return if (sign < 0) Double.NegativeInfinity else Double.PositiveInfinity
    // explicit integer bit: value = mant * 2^(exp - 16383 - 63);
    // the mantissa's top bit is set for every normalized x87 value, so
    // convert as UNSIGNED 64-bit
    val m = if (mant >= 0) mant.toDouble
      else ((mant >>> 1).toDouble * 2.0) + (mant & 1L)
    sign * m * math.pow(2.0, exp - 16383 - 63)
  }

  private def trimNum(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
