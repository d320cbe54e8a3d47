package graft.sci

import java.nio.charset.StandardCharsets

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{be16, be32, be64, beInt}

/** NetCDF classic (CDF-1/CDF-2/CDF-5) header extraction.
  *
  * Reference behavior: tika-parsers-extended
  * .../netcdf/NetCDFParser.java — global attributes land in metadata
  * (`title` → dc:title, the ClimateForcast CF names bare, everything
  * else `netcdf:`-prefixed; numeric attributes as the first value's int),
  * body lists dimensions (`name = len`) then variables
  * (`type name(dim=len, …)` with per-variable attribute lines). The
  * reference reads through UCAR NetCDF-Java; here the classic on-disk
  * header (the public NetCDF classic-format spec: magic CDF\x01/02/05,
  * numrecs, dim/gatt/var lists, all big-endian) is walked directly —
  * only the header is touched, never variable data, so cost is O(header)
  * regardless of file size.
  */
object NetcdfExtractor {

  final class NcMalformed(msg: String) extends Exception(msg)

  /** ClimateForcast attribute names surface under their own key
    * (NetCDFParser.CF_GLOBAL_ATTRIBUTES). */
  private val CfNames = Set(
    "prg_ID", "cmd_ln", "history", "table_id", "institution", "source",
    "contact", "project_id", "Conventions", "references",
    "acknowledgement", "realization", "experiment_id", "comment",
    "model_name_english")

  private val MaxElems = 1 << 20 // dims/attrs/vars per list; header-bomb bound

  /** `wide` = CDF-5: every NON_NEG field in the spec grammar widens to
    * 64 bits (list counts, name lengths, attr counts, rank, sizes). */
  private final case class Rd(b: Array[Byte], var p: Int, wide: Boolean = false) {
    def need(n: Int): Unit =
      if (p < 0 || n < 0 || p + n > b.length) throw new NcMalformed("truncated header")
    def u32(): Long = { need(4); p += 4; be32(b, p - 4) }
    def i64(): Long = { val hi = u32(); val lo = u32(); (hi << 32) | lo }
    def nonNeg(): Long = if (wide) i64() else u32()
    def name(): String = {
      val len = nonNeg()
      if (len < 0 || len > MaxElems) throw new NcMalformed("bad name length")
      val n = len.toInt
      need(n)
      val s = new String(b, p, n, StandardCharsets.UTF_8)
      p += n + pad4(n)
      need(0)
      s
    }
  }

  private def pad4(n: Int): Int = (4 - (n & 3)) & 3

  private def typeName(t: Long): String = t match {
    case 1 => "byte"; case 2 => "char"; case 3 => "short"; case 4 => "int"
    case 5 => "float"; case 6 => "double"
    case 7 => "ubyte"; case 8 => "ushort"; case 9 => "uint"
    case 10 => "long"; case 11 => "ulong"
    case _ => throw new NcMalformed(s"unknown nc_type $t")
  }

  private def typeSize(t: Long): Int = t match {
    case 1 | 2 | 7 => 1; case 3 | 8 => 2; case 4 | 5 | 9 => 4
    case 6 | 10 | 11 => 8
    case _ => throw new NcMalformed(s"unknown nc_type $t")
  }

  /** One attribute: CDL-ish rendering of its values (strings quoted,
    * numerics comma-joined — `long_name = "Surface area"`).
    */
  private def readAttr(r: Rd): (String, String, Option[Int]) = {
    val name = r.name()
    val t = r.u32()
    val n = r.nonNeg()
    if (n < 0 || n > MaxElems) throw new NcMalformed("bad attr count")
    val count = n.toInt
    val width = typeSize(t)
    r.need(count * width + pad4(count * width))
    val b = r.b; val base = r.p
    val (text, firstInt): (String, Option[Int]) = t match {
      case 2 => // NC_CHAR: one string, trailing NULs trimmed
        var end = count
        while (end > 0 && b(base + end - 1) == 0) end -= 1
        ("\"" + new String(b, base, end, StandardCharsets.UTF_8) + "\"", None)
      case _ =>
        val vals = (0 until count).map { i =>
          val o = i * width
          t match {
            case 1 => b(base + o).toString + "b"
            case 7 => (b(base + o) & 0xff).toString + "ub"
            case 3 | 8 =>
              val v = be16(b, base + o)
              (if (t == 3) v.toShort.toInt else v).toString + "s"
            case 4 | 9 =>
              val v = be32(b, base + o)
              (if (t == 4) v.toInt.toLong else v).toString
            case 5 =>
              java.lang.Float.intBitsToFloat(beInt(b, base + o)).toString + "f"
            case 6 | 10 | 11 =>
              val v = be64(b, base + o)
              if (t == 6) java.lang.Double.longBitsToDouble(v).toString
              else v.toString
          }
        }
        val first: Option[Int] = if (count == 0) None else Some(t match {
          case 1 => b(base).toInt
          case 7 => b(base) & 0xff
          case 3 => be16(b, base).toShort.toInt
          case 8 => be16(b, base)
          case 5 => java.lang.Float.intBitsToFloat(beInt(b, base)).toInt
          case 6 => java.lang.Double.longBitsToDouble(be64(b, base)).toInt
          case _ => beInt(b, base)
        })
        (vals.mkString(", "), first)
    }
    r.p += count * width + pad4(count * width)
    (name, text, firstInt)
  }

  /** A tagged list header: (tag, nelems). ABSENT lists are tag 0 (with
    * nelems 0). */
  private def listHead(r: Rd, expectTag: Int): Int = {
    val tag = r.u32()
    val n = r.nonNeg()
    if (tag != 0 && tag != expectTag) throw new NcMalformed(s"bad list tag $tag")
    if (tag == 0 && n != 0) throw new NcMalformed("ABSENT list with nonzero count")
    if (n < 0 || n > MaxElems) throw new NcMalformed("bad list count")
    n.toInt
  }

  def isNetcdf(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'C' && b(1) == 'D' && b(2) == 'F' &&
      (b(3) == 1 || b(3) == 2 || b(3) == 5)

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (!isNetcdf(bytes)) throw new NcMalformed("not a classic NetCDF file")
    val version = bytes(3).toInt
    meta.set("netcdf:File-Type-Description",
      if (version == 5) "NetCDF-5/CDM" else "NetCDF-3/CDM")
    val r = Rd(bytes, 4, wide = version == 5)
    val numrecs = r.nonNeg()

    // --- dimension list
    val nDims = listHead(r, 0x0a)
    val dims = (0 until nDims).map { _ =>
      val n = r.name()
      val len = r.nonNeg()
      if (len < 0) throw new NcMalformed("negative dim length")
      // the record dimension is stored as 0; its live length is numrecs
      n -> (if (len == 0) numrecs else len)
    }

    // --- global attributes → metadata (NetCDFParser.addGlobalAttribute)
    val nGatts = listHead(r, 0x0c)
    (0 until nGatts).foreach { _ =>
      val (name, text, firstInt) = readAttr(r)
      val value =
        if (text.startsWith("\"")) text.substring(1, text.length - 1)
        else firstInt.map(_.toString).getOrElse(text)
      if (name == "title") meta.add("dc:title", value)
      else if (CfNames(name)) meta.add(name, value)
      else meta.add(s"netcdf:$name", value)
    }

    // --- body: dimensions, then variables with their attributes
    sink.chars("dimensions")
    sink.newline()
    dims.foreach { case (n, len) => sink.chars(s"$n = $len"); sink.newline() }

    sink.chars("variables")
    sink.newline()
    val nVars = listHead(r, 0x0b)
    (0 until nVars).foreach { _ =>
      val name = r.name()
      val nd = r.nonNeg()
      if (nd < 0 || nd > 1024) throw new NcMalformed("bad rank")
      val dimIds = (0 until nd.toInt).map { _ =>
        val id = r.nonNeg().toInt
        if (id < 0 || id >= dims.length) throw new NcMalformed("bad dim id")
        id
      }
      val vatts = {
        val n = listHead(r, 0x0c)
        (0 until n).map(_ => readAttr(r))
      }
      val t = r.u32()
      r.nonNeg() // vsize
      if (version >= 2) r.i64() else r.u32() // begin offset
      val dimStr =
        if (dimIds.isEmpty) ""
        else dimIds.map(i => s"${dims(i)._1}=${dims(i)._2}").mkString("(", ", ", ")")
      sink.chars(s"${typeName(t)} $name$dimStr")
      sink.newline()
      vatts.foreach { case (an, text, _) =>
        sink.chars(s"$an = $text")
        sink.newline()
      }
    }
  }
}
