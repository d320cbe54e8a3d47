package graft.textparse

import java.nio.charset.StandardCharsets

import graft.engine.{MetaSink, SpanSink}
import graft.mime.EncodingDetector
import graft.core.Endian

/** dBASE/FoxPro .dbf table extraction.
  *
  * Reference behavior: tika-parsers .../dbf/DBFReader.java +
  * DBFFileHeader.java — version byte gate, yy/mm/dd last-modified with
  * the 1900/2000 pivot, LE record counts, 32-byte column descriptors
  * read until the accounted field lengths cover the record, rows of
  * (deleted-flag byte + fixed-width cells; 0x1A terminator). Character
  * cells decode through the statistical charset chain over the first
  * rows' bytes (the reference buffers 10 rows for its detector); date
  * cells render mm/dd/yyyy; numerics pass through trimmed.
  */
object DbfExtractor {

  final class DbfMalformed(msg: String) extends Exception(msg)

  /** Known version ids → format names (DBFReader.Version). */
  private val Versions: Map[Int, String] = Map(
    0x02 -> "FoxBASE", 0x03 -> "FoxBASE_plus", 0x30 -> "Visual_FoxPro",
    0x31 -> "Visual_FoxPro", 0x32 -> "Visual_FoxPro",
    0x43 -> "dBASE_IV_SQL", 0x63 -> "dBASE_IV_SQL",
    0x83 -> "FoxBASE_plus", 0x8b -> "dBASE_IV", 0xcb -> "dBASE_IV_SQL",
    0xf5 -> "FoxPro_2.x", 0xe5 -> "HiPer-Siz", 0xfb -> "FoxBASE")

  private val MaxFieldLength = 66000

  private final case class Col(name: String, colType: Char, len: Int)

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (bytes.length < 33) throw new DbfMalformed("too short")
    val version = bytes(0) & 0xff
    val format = Versions.getOrElse(version,
      throw new DbfMalformed(f"unrecognized version byte 0x$version%02x"))
    meta.set("dbf:version", format)
    // last-modified yy/mm/dd with the reference's century pivot
    val yy = bytes(1) & 0xff; val mm = bytes(2) & 0xff; val dd = bytes(3) & 0xff
    val year = if (yy + 2000 > java.time.Year.now(java.time.ZoneOffset.UTC).getValue)
      yy + 1900 else yy + 2000
    if (mm >= 1 && mm <= 12 && dd >= 1 && dd <= 31)
      meta.set("dcterms:modified", f"$year%04d-$mm%02d-$dd%02dT00:00:00Z")

    val numRecords = Endian.le32(bytes, 4)
    val headerBytes = Endian.le16(bytes, 8)
    val recordBytes = Endian.le16(bytes, 10)
    if (recordBytes <= 0) throw new DbfMalformed("record size <= 0")

    // column descriptors: 32 bytes each until field lengths cover the record
    val cols = Vector.newBuilder[Col]
    var p = 32
    var accounted = 0
    var going = true
    while (going) {
      if (p + 32 > bytes.length) throw new DbfMalformed("truncated header")
      var nameEnd = p
      while (nameEnd < p + 10 && bytes(nameEnd) != 0) nameEnd += 1
      val name = new String(bytes, p, nameEnd - p, StandardCharsets.US_ASCII)
      val colType = (bytes(p + 11) & 0xff).toChar
      val len = bytes(p + 16) & 0xff
      if (len > MaxFieldLength) throw new DbfMalformed("field too long")
      cols += Col(name, colType, len)
      accounted += len
      p += 32
      if (accounted >= recordBytes - 1) going = false
      if (p > bytes.length) throw new DbfMalformed("runaway header")
    }
    if (p >= bytes.length || (bytes(p) & 0xff) != 13)
      throw new DbfMalformed("missing header terminator")
    val columns = cols.result()

    // rows
    var rp = math.max(headerBytes, p + 1)
    val rows = Vector.newBuilder[Vector[Array[Byte]]]
    var n = 0L
    var more = true
    while (more && rp < bytes.length && n < math.max(numRecords, 0) + 1000000L) {
      val flag = bytes(rp) & 0xff
      if (flag == 26) more = false // end-of-file marker
      else if (flag != 32 && flag != 42)
        throw new DbfMalformed(s"bad record flag $flag")
      else {
        rp += 1
        val cells = Vector.newBuilder[Array[Byte]]
        columns.foreach { c =>
          val take = math.min(c.len, math.max(0, bytes.length - rp))
          cells += java.util.Arrays.copyOfRange(bytes, rp, rp + take)
          rp += c.len
        }
        rows += cells.result()
        n += 1
      }
    }
    val allRows = rows.result()

    // charset from the first rows' character cells (statistical chain)
    val sampler = new java.io.ByteArrayOutputStream()
    allRows.take(10).foreach { r =>
      r.zip(columns).foreach { case (cell, c) =>
        if (c.colType == 'C' && sampler.size < 20000) sampler.write(cell)
      }
    }
    val charset =
      if (sampler.size > 20) EncodingDetector.detect(sampler.toByteArray)._1
      else StandardCharsets.US_ASCII
    meta.set("dbf:charset", charset.name)

    // header row then data rows, tab-separated (table framing)
    sink.chars(columns.map(_.name).mkString("\t"))
    sink.newline()
    allRows.foreach { r =>
      val rendered = r.zip(columns).map { case (cell, c) =>
        c.colType match {
          case 'C' => new String(cell, charset).trim
          case 'D' => formatDate(cell)
          case _ => new String(cell, StandardCharsets.US_ASCII).trim
        }
      }
      sink.chars(rendered.mkString("\t"))
      sink.newline()
    }
  }

  /** yyyymmdd cell → mm/dd/yyyy (DBFCell.getFormattedDate). */
  private def formatDate(cell: Array[Byte]): String = {
    if (cell.length < 8) return ""
    val s = new String(cell, 0, 8, StandardCharsets.US_ASCII)
    if (!s.forall(_.isDigit)) return ""
    s"${s.substring(4, 6)}/${s.substring(6, 8)}/${s.substring(0, 4)}"
  }
}
