package graft.sci

import java.nio.charset.StandardCharsets

import graft.engine.{MetaSink, SpanSink}
import graft.core.{Endian, OutBuf}

/** MATLAB Level-5 MAT-file extraction.
  *
  * Reference behavior: tika-parser-code-module .../mat/MatParser.java —
  * header text yields `fileType`/`platform`/`dcterms:created` metadata
  * plus the two-char `endian` indicator; the body lists each variable as
  * `name:[RxC  class array]` with struct fields expanded one per line
  * (MLArray.toString rendering, two spaces before the class name). The
  * reference reads via the JMatIO library; here the Level-5 container
  * (the public MAT-File Format spec: 128-byte text header, 8-byte
  * tagged elements, miCOMPRESSED zlib wrapping, miMATRIX subelement
  * layout) is walked directly. Only tags/dims/names are decoded — numeric
  * payloads are skipped by length, so cost is O(elements), and inflation
  * is budgeted to keep crafted zlib bombs from allocating past ~64 MB.
  */
object MatExtractor {

  final class MatMalformed(msg: String) extends Exception(msg)

  private val MaxInflated = 64L << 20
  private val MaxVars = 100000

  private val ClassNames: Map[Int, String] = Map(
    1 -> "cell", 2 -> "struct", 3 -> "object", 4 -> "char", 5 -> "sparse",
    6 -> "double", 7 -> "single", 8 -> "int8", 9 -> "uint8", 10 -> "int16",
    11 -> "uint16", 12 -> "int32", 13 -> "uint32", 14 -> "int64",
    15 -> "uint64", 16 -> "function_handle", 17 -> "opaque")

  private final case class Arr(name: String, dims: Seq[Int], clazz: Int,
      fields: Seq[Arr]) {
    /** JMatIO MLArray.toString: `[2x2  double array]`. */
    def render: String =
      dims.mkString("[", "x", "") + "  " +
        ClassNames.getOrElse(clazz, "unknown") + " array]"
  }

  private final class Rd(val b: Array[Byte], var p: Int, val end: Int,
      val le: Boolean) {
    def remaining: Int = end - p
    def need(n: Int): Unit =
      if (n < 0 || p + n > end) throw new MatMalformed("truncated element")
    def i32(o: Int): Int = {
      if (o + 4 > end) throw new MatMalformed("truncated word")
      if (le) Endian.leInt(b, o) else Endian.beInt(b, o)
    }
    /** Next tagged element: (miType, dataOffset, dataLen); advances past
      * the element including its 8-byte padding (4-byte for small). */
    def element(): (Int, Int, Int) = {
      need(8)
      val word = i32(p)
      if ((word & 0xffff0000) != 0) { // small data element
        val t = word & 0xffff
        val n = (word >>> 16) & 0xffff
        if (n > 4) throw new MatMalformed("small element too long")
        val off = p + 4
        p += 8
        (t, off, n)
      } else {
        val n = i32(p + 4)
        // the 8-byte tag is part of the element: data must fit in what
        // remains AFTER it, never bleed past `end` into sibling bytes
        if (n < 0 || n > remaining - 8)
          throw new MatMalformed("bad element length")
        val off = p + 8
        // trailing pad may be truncated at the end of the stream; clamp
        // instead of letting the DATA region overrun
        p = math.min(end, off + n + ((8 - (n & 7)) & 7))
        (word, off, n)
      }
    }
  }

  /** Parse one miMATRIX payload into its shape summary. `depth` bounds
    * struct/cell nesting. */
  private def matrix(r: Rd, depth: Int): Arr = {
    if (depth > 16) throw new MatMalformed("nesting too deep")
    // array flags: miUINT32 ×2
    val (ft, fo, fn) = r.element()
    if (ft != 6 || fn < 8) throw new MatMalformed("bad array flags")
    val clazz = r.i32(fo) & 0xff
    // dimensions: miINT32 array
    val (dt, dOff, dn) = r.element()
    if (dt != 5 || dn < 8 || dn > 1024) throw new MatMalformed("bad dims")
    val dims = (0 until dn / 4).map(i => r.i32(dOff + i * 4))
    if (dims.exists(d => d < 0 || d > Int.MaxValue / 4))
      throw new MatMalformed("bad dim")
    // name: miINT8
    val (nt, nOff, nn) = r.element()
    if (nt != 1 && nn != 0) throw new MatMalformed("bad name type")
    val name = new String(r.b, nOff, nn, StandardCharsets.US_ASCII)

    val fields: Seq[Arr] = clazz match {
      case 2 | 3 => // struct / object: [classname,] field-name-len, names, values
        if (clazz == 3) r.element() // object classname, skipped
        val (_, flOff, fln) = r.element()
        if (fln < 4) throw new MatMalformed("bad field-name length")
        val maxLen = r.i32(flOff)
        if (maxLen <= 0 || maxLen > 4096) throw new MatMalformed("bad field width")
        val (_, fnOff, fnLen) = r.element()
        val nFields = fnLen / maxLen
        if (nFields < 0 || nFields > 65535) throw new MatMalformed("bad field count")
        val nElems = math.max(1, dims.product)
        if (nElems.toLong * nFields > MaxVars)
          throw new MatMalformed("struct too wide")
        val _ = fnOff // field names unused: MatParser prints values only
        (0 until nElems * nFields).map { _ =>
          val (t, o, n) = r.element()
          if (t != 14) throw new MatMalformed("struct field not a matrix")
          matrix(new Rd(r.b, o, o + n, r.le), depth + 1)
        }
      case 1 => // cell: one miMATRIX per element (summarized, not printed)
        val nElems = math.max(0, dims.product)
        if (nElems > MaxVars) throw new MatMalformed("cell too wide")
        (0 until nElems).foreach { _ =>
          val (t, _, _) = r.element()
          if (t != 14) throw new MatMalformed("cell entry not a matrix")
        }
        Nil
      case _ => Nil // numeric/char/sparse payload elements are skipped by tag
    }
    Arr(name, dims, clazz, fields)
  }

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (bytes.length < 128) throw new MatMalformed("too short for MAT header")
    val desc = new String(bytes, 0, 116, StandardCharsets.ISO_8859_1).trim
    if (!desc.startsWith("MATLAB")) throw new MatMalformed("not a Level-5 MAT-file")
    val endian = new String(bytes, 126, 2, StandardCharsets.US_ASCII)
    val le = endian == "IM"
    if (!le && endian != "MI") throw new MatMalformed("bad endian indicator")

    // header description → metadata, split exactly like MatParser
    val parts = desc.split(",")
    if (parts.length > 0 && parts(0).contains("MATLAB"))
      meta.set("fileType", parts(0).trim)
    if (parts.length > 1 && parts(1).contains("Platform:"))
      meta.set("platform",
        parts(1).substring(parts(1).lastIndexOf("Platform:") + 9).trim)
    if (parts.length > 2 && parts(2).contains("Created")) {
      val i = parts(2).lastIndexOf("Created on:")
      meta.set("dcterms:created",
        parts(2).substring(i + "Created on:".length).trim)
    }
    meta.set("endian", endian)

    var inflatedBudget = MaxInflated
    var vars = 0

    def walk(r: Rd): Unit = {
      while (r.remaining >= 8) {
        vars += 1
        if (vars > MaxVars) throw new MatMalformed("too many elements")
        val (t, off, n) = r.element()
        t match {
          case 15 => // miCOMPRESSED: inflate, parse the single inner element
            val out = new OutBuf(inflatedBudget, math.min(n * 4, 1 << 20))
            val end =
              try out.inflate(r.b, off, n, raw = false)
              catch { case e: java.util.zip.DataFormatException =>
                throw new MatMalformed(s"bad zlib stream: ${e.getMessage}") }
            if (end == OutBuf.Capped) throw new MatMalformed("inflate budget exceeded")
            if (end == OutBuf.NeedsDict || end == OutBuf.NeedsInput && out.len == 0 && n > 0)
              throw new MatMalformed("zlib stall")
            inflatedBudget -= out.len
            walk(new Rd(out.result, 0, out.len, le))
          case 14 =>
            val a = matrix(new Rd(r.b, off, off + n, le), 0)
            emit(a, sink)
          case _ => () // other top-level types carry no listed variables
        }
      }
      // a final element's 8-byte padding may be absent (remaining < 0 is
      // fine); a sub-tag-size positive tail is a truncated element
      if (r.remaining > 0) throw new MatMalformed("truncated trailing element")
    }

    def emit(a: Arr, sink: SpanSink): Unit = {
      sink.chars(s"${a.name}:${a.render}")
      sink.newline()
      a.fields.foreach { f =>
        sink.chars(f.render)
        sink.newline()
        // embedded struct inside a struct field: one summary line, the
        // MatParser contentToString nesting
        f.fields.foreach { g => sink.chars(g.render); sink.newline() }
      }
    }

    walk(new Rd(bytes, 128, bytes.length, le))
  }
}
