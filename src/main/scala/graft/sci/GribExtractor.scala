package graft.sci

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{be16, be32, be64}

/** GRIB edition 1/2 metadata extraction (WMO FM 92).
  *
  * Reference behavior: tika-parsers-extended
  * .../grib/GribParser.java — delegates to UCAR NetCDF-Java and emits
  * global attributes into `grib:`-prefixed metadata plus a body listing
  * `dimensions:` and `variables:` (GribParserTest asserts both markers).
  * Here the GRIB message stream is walked directly from the public WMO
  * section layout: per message the edition, originating centre,
  * reference time and grid shape (Ni×Nj from GDS / section 3), and the
  * distinct parameter identifiers (PDS octet 9 / section 4
  * discipline.category.number). Only section headers are decoded — the
  * packed data section is skipped via section lengths, so cost is
  * O(messages), not O(bytes).
  */
object GribExtractor {

  final class GribMalformed(msg: String) extends Exception(msg)

  private val MaxMessages = 100000
  private val MaxVariableLines = 500

  /** WMO common table C-1, the handful of centres that dominate public
    * archives; anything else stays numeric. */
  private def centreName(c: Int): Option[String] = c match {
    case 7   => Some("NCEP")
    case 34  => Some("JMA Tokyo")
    case 54  => Some("Environment Canada")
    case 58  => Some("FNMOC Monterey")
    case 59  => Some("NOAA FSL")
    case 74  => Some("UK Met Office")
    case 78  => Some("DWD Offenbach")
    case 84  => Some("Meteo-France Toulouse")
    case 98  => Some("ECMWF")
    case _   => None
  }

  private def u24(b: Array[Byte], i: Int): Int = (be16(b, i) << 8) | (b(i + 2) & 0xff)

  private def need(b: Array[Byte], off: Int, n: Int): Unit =
    if (off < 0 || n < 0 || off.toLong + n > b.length)
      throw new GribMalformed("truncated message")

  private def isGrib(b: Array[Byte], off: Int): Boolean =
    off + 8 <= b.length && b(off) == 'G' && b(off + 1) == 'R' &&
      b(off + 2) == 'I' && b(off + 3) == 'B'

  /** True when the 4 bytes at `at` are the `7777` end-of-message marker. */
  private def ends7777(b: Array[Byte], at: Long): Boolean =
    at >= 0 && at + 4 <= b.length && b(at.toInt) == '7' &&
      b(at.toInt + 1) == '7' && b(at.toInt + 2) == '7' && b(at.toInt + 3) == '7'

  private final case class MsgInfo(
      edition: Int, centre: Int, refTime: Option[String],
      ni: Long, nj: Long, dataPoints: Long, params: Seq[String])

  /** GRIB1: fixed 8-byte indicator, then PDS (always), optional GDS.
    * Octet numbering below is the WMO 1-based convention per section. */
  private def parseGrib1(b: Array[Byte], off: Int, msgLen: Int): MsgInfo = {
    val pds = off + 8
    need(b, pds, 28)
    val pdsLen = u24(b, pds)
    if (pdsLen < 28 || pds + pdsLen > off + msgLen)
      throw new GribMalformed("bad PDS length")
    val table = b(pds + 3) & 0xff
    val centre = b(pds + 4) & 0xff
    val flags = b(pds + 7) & 0xff
    val param = b(pds + 8) & 0xff
    val levelType = b(pds + 9) & 0xff
    val yearC = b(pds + 12) & 0xff
    val month = b(pds + 13) & 0xff
    val day = b(pds + 14) & 0xff
    val hour = b(pds + 15) & 0xff
    val minute = b(pds + 16) & 0xff
    val century = b(pds + 24) & 0xff
    val refTime =
      if (month >= 1 && month <= 12 && day >= 1 && day <= 31 && hour <= 23 &&
        minute <= 59 && century >= 1) {
        val year = (century - 1) * 100 + yearC
        Some(f"$year%04d-$month%02d-$day%02d" + f"T$hour%02d:$minute%02dZ")
      } else None
    var ni = -1L; var nj = -1L
    if ((flags & 0x80) != 0) { // GDS present
      val gds = pds + pdsLen
      need(b, gds, 11)
      val gdsLen = u24(b, gds)
      if (gdsLen < 11 || gds + gdsLen > off + msgLen)
        throw new GribMalformed("bad GDS length")
      ni = be16(b, gds + 6)
      nj = be16(b, gds + 8)
      if (ni == 0xffff) ni = -1 // quasi-regular grids code Ni as missing
      if (nj == 0xffff) nj = -1
    }
    val pts = if (ni > 0 && nj > 0) ni * nj else -1L
    MsgInfo(1, centre, refTime, ni, nj, pts,
      Seq(s"parameter $param (table $table, level type $levelType)"))
  }

  /** GRIB2: 16-byte indicator, then self-describing numbered sections
    * (length u32 + number u8) until the 7777 end marker. */
  private def parseGrib2(b: Array[Byte], off: Int, msgLen: Long): MsgInfo = {
    val discipline = b(off + 6) & 0xff
    var centre = -1
    var refTime: Option[String] = None
    var ni = -1L; var nj = -1L; var dataPoints = -1L
    val params = scala.collection.mutable.LinkedHashSet.empty[String]
    var p = off + 16
    val end = off + msgLen
    var sections = 0
    while (p + 4 <= end && !(b(p) == '7' && b(p + 1) == '7' && b(p + 2) == '7' &&
      b(p + 3) == '7')) {
      need(b, p, 5)
      val sLen = be32(b, p)
      val sNum = b(p + 4) & 0xff
      if (sLen < 5 || p + sLen > end) throw new GribMalformed("bad section length")
      sections += 1
      if (sections > 10000) throw new GribMalformed("section bomb")
      sNum match {
        case 1 if sLen >= 21 =>
          centre = be16(b, p + 5)
          val year = be16(b, p + 12); val month = b(p + 14) & 0xff
          val day = b(p + 15) & 0xff; val hour = b(p + 16) & 0xff
          val minute = b(p + 17) & 0xff; val second = b(p + 18) & 0xff
          if (month >= 1 && month <= 12 && day >= 1 && day <= 31 && hour <= 23)
            refTime = Some(f"$year%04d-$month%02d-$day%02d" +
              f"T$hour%02d:$minute%02d:$second%02dZ")
        case 3 if sLen >= 14 =>
          dataPoints = be32(b, p + 6)
          val template = be16(b, p + 12)
          // lat/lon family (0-3) and rotated variants share Ni/Nj octets
          if (template <= 3 && sLen >= 38) {
            ni = be32(b, p + 30)
            nj = be32(b, p + 34)
          }
        case 4 if sLen >= 11 =>
          if (params.size < MaxVariableLines) {
            val category = b(p + 9) & 0xff
            val number = b(p + 10) & 0xff
            params += s"discipline $discipline category $category parameter $number"
          }
        case _ => ()
      }
      p += sLen.toInt
    }
    MsgInfo(2, centre, refTime, ni, nj, dataPoints, params.toSeq)
  }

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (!isGrib(bytes, 0)) throw new GribMalformed("not a GRIB stream")
    var off = 0
    var count = 0
    val editions = scala.collection.mutable.LinkedHashSet.empty[Int]
    val centres = scala.collection.mutable.LinkedHashSet.empty[Int]
    val params = scala.collection.mutable.LinkedHashSet.empty[String]
    var firstRef: Option[String] = None
    var ni = -1L; var nj = -1L; var dataPoints = -1L
    while (off + 8 <= bytes.length && isGrib(bytes, off)) {
      count += 1
      if (count > MaxMessages) throw new GribMalformed("message bomb")
      val edition = bytes(off + 7) & 0xff
      val msgLen: Long = edition match {
        case 1 =>
          val raw = u24(bytes, off + 4).toLong
          if (ends7777(bytes, off + raw - 4)) raw
          else if ((raw & 0x800000L) != 0) {
            // the >8 MB "large message" convention (wgrib/ECMWF): the
            // top length bit flags (len & 0x7fffff) × 120, padded — the
            // real 7777 end marker sits inside the final 120-byte slack
            val approx = (raw & 0x7fffffL) * 120
            val lo = math.max(8L, approx - 119)
            (approx to lo by -1L)
              .find(l => ends7777(bytes, off + l - 4))
              .getOrElse(approx)
          } else raw
        case 2 =>
          need(bytes, off, 16)
          be64(bytes, off + 8)
        case e => throw new GribMalformed(s"unknown GRIB edition $e")
      }
      if (msgLen < 16 || off + msgLen > bytes.length)
        throw new GribMalformed("bad message length")
      val info =
        if (edition == 1) parseGrib1(bytes, off, msgLen.toInt)
        else parseGrib2(bytes, off, msgLen)
      editions += info.edition
      if (info.centre >= 0) centres += info.centre
      if (firstRef.isEmpty) firstRef = info.refTime
      if (ni < 0) ni = info.ni
      if (nj < 0) nj = info.nj
      if (dataPoints < 0) dataPoints = info.dataPoints
      info.params.foreach { s => if (params.size < MaxVariableLines) params += s }
      off += msgLen.toInt
      // tolerate wrong lengths / trailing pad: resync on the next magic
      // (the UCAR scanner seeks for GRIB rather than trusting lengths)
      if (off + 8 <= bytes.length && !isGrib(bytes, off)) {
        var i = off
        var found = -1
        while (found < 0 && i + 8 <= bytes.length) {
          if (bytes(i) == 'G' && isGrib(bytes, i)) found = i
          i += 1
        }
        if (found >= 0) off = found
      }
    }
    if (count == 0) throw new GribMalformed("no GRIB messages")

    meta.set("grib:edition", editions.toSeq.sorted.mkString(","))
    centres.foreach { c =>
      meta.add("grib:originating_centre",
        centreName(c).map(n => s"$c ($n)").getOrElse(c.toString))
    }
    firstRef.foreach(t => meta.set("grib:reference_time", t))
    meta.set("grib:message_count", count.toString)
    if (dataPoints > 0) meta.set("grib:data_points", dataPoints.toString)

    sink.chars("dimensions:")
    sink.newline()
    if (ni > 0) { sink.chars(s"Ni = $ni"); sink.newline() }
    if (nj > 0) { sink.chars(s"Nj = $nj"); sink.newline() }
    sink.chars("variables:")
    sink.newline()
    params.foreach { s => sink.chars(s); sink.newline() }
  }
}
