package graft.corpus

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import scala.util.Random
import graft.ole2.CfbWriter
import graft.core.Endian.{le32Bytes, putLe16, putLe32}

/** Synthetic binary-Office rows for the corpus `msbin` kind (v19):
  * XLSB binary workbooks, Publisher Quill containers, and uncompressed
  * HDGF Visio documents — each deterministic in the row rng, exercising
  * XlsbExtractor / PubExtractor / VsdExtractor through the pipeline.
  */
object MsBinCorpus {

  // ---- XLSB ---------------------------------------------------------

  private def rec(out: ByteArrayOutputStream, id: Int,
      body: Array[Byte]): Unit = {
    if (id < 0x80) out.write(id)
    else { out.write((id & 0x7f) | 0x80); out.write((id >> 7) & 0x7f) }
    var len = body.length
    var more = true
    while (more) {
      val b = len & 0x7f
      len >>>= 7
      more = len > 0
      out.write(if (more) b | 0x80 else b)
    }
    out.write(body)
  }

  private def wide(s: String): Array[Byte] = {
    val chars = s.getBytes(StandardCharsets.UTF_16LE)
    val out = new Array[Byte](4 + chars.length)
    val n = s.length
    out(0) = n.toByte; out(1) = (n >> 8).toByte
    out(2) = (n >> 16).toByte; out(3) = (n >> 24).toByte
    System.arraycopy(chars, 0, out, 4, chars.length)
    out
  }

  def xlsbFile(r: Random): Array[Byte] = {
    val shared = (0 until 3 + r.nextInt(3))
      .map(_ => Corpus.Words(r.nextInt(Corpus.Words.length)))

    val wb = new ByteArrayOutputStream()
    rec(wb, 131, Array.emptyByteArray) // BrtBeginBook
    rec(wb, 156, le32Bytes(0) ++ le32Bytes(1) ++ wide("rId1") ++ wide("Sheet1"))
    rec(wb, 132, Array.emptyByteArray) // BrtEndBook

    val sst = new ByteArrayOutputStream()
    rec(sst, 159, le32Bytes(shared.length) ++ le32Bytes(shared.length))
    shared.foreach(s => rec(sst, 19, Array(0.toByte) ++ wide(s)))
    rec(sst, 160, Array.emptyByteArray)

    val sh = new ByteArrayOutputStream()
    rec(sh, 129, Array.emptyByteArray) // BrtBeginSheet
    rec(sh, 145, Array.emptyByteArray) // BrtBeginSheetData
    val nRows = 2 + r.nextInt(3)
    (0 until nRows).foreach { ri =>
      rec(sh, 0, le32Bytes(ri)) // BrtRowHdr
      // A: shared string, B: RK int, C: inline string
      rec(sh, 7, le32Bytes(0) ++ le32Bytes(0) ++ le32Bytes(r.nextInt(shared.length)))
      rec(sh, 2, le32Bytes(1) ++ le32Bytes(0) ++ le32Bytes((r.nextInt(100000).toLong << 2) | 2L))
      rec(sh, 6, le32Bytes(2) ++ le32Bytes(0) ++
        wide(Corpus.Words(r.nextInt(Corpus.Words.length))))
    }
    rec(sh, 146, Array.emptyByteArray) // BrtEndSheetData
    rec(sh, 130, Array.emptyByteArray) // BrtEndSheet

    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.bin"/>""" +
      """</Relationships>"""
    val cts =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="bin" ContentType="application/vnd.ms-excel.sheet.binary.macroEnabled.main"/>""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """</Types>"""
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.bin"/>""" +
      """</Relationships>"""
    Corpus.zip(Seq(
      "[Content_Types].xml" -> cts.getBytes(StandardCharsets.UTF_8),
      "_rels/.rels" -> rootRels.getBytes(StandardCharsets.UTF_8),
      "xl/workbook.bin" -> wb.toByteArray,
      "xl/_rels/workbook.bin.rels" -> rels.getBytes(StandardCharsets.UTF_8),
      "xl/sharedStrings.bin" -> sst.toByteArray,
      "xl/worksheets/sheet1.bin" -> sh.toByteArray))
  }

  // ---- Access (minimal Jet4) -------------------------------------------

  private val JetPage = 4096

  /** One Jet4 row: u16 colCount, fixed region, var data, trailing var
    * offset table + count + null mask (the layout AccessExtractor
    * cracks).
    */
  private def jetRow(nCols: Int, fixedLen: Int,
      fixed: Seq[(Int, Array[Byte])], vars: Seq[Array[Byte]],
      notNull: Seq[Int]): Array[Byte] = {
    val bmsz = (nCols + 7) / 8
    val varLen = vars.map(_.length).sum
    val total = 2 + fixedLen + varLen + 2 * (vars.length + 1) + 2 + bmsz
    val row = new Array[Byte](total)
    putLe16(row, 0, nCols)
    fixed.foreach { case (offF, d) =>
      System.arraycopy(d, 0, row, 2 + offF, d.length)
    }
    var vo = 2 + fixedLen
    val offs = new Array[Int](vars.length + 1)
    vars.zipWithIndex.foreach { case (d, i) =>
      offs(i) = vo
      System.arraycopy(d, 0, row, vo, d.length)
      vo += d.length
    }
    offs(vars.length) = vo
    // trailing tables: offs(i) at total-bmsz-4-2i, count at total-bmsz-2
    var i = 0
    while (i <= vars.length) {
      putLe16(row, total - bmsz - 4 - 2 * i, offs(i))
      i += 1
    }
    putLe16(row, total - bmsz - 2, vars.length)
    notNull.foreach { cn => row(total - bmsz + cn / 8) =
      (row(total - bmsz + cn / 8) | (1 << (cn % 8))).toByte }
    row
  }

  /** A Jet4 TDEF page: column definitions + UTF-16 names at 0x3f. */
  private def jetTdef(cols: Seq[(String, Int, Int, Int, Int, Boolean)])
      : Array[Byte] = {
    // (name, type, colnum, offV, offF/len source handled by caller)
    val pg = new Array[Byte](JetPage)
    pg(0) = 2; pg(1) = 1
    val nvar = cols.count(!_._6)
    putLe16(pg, 0x2b, nvar)
    putLe16(pg, 0x2d, cols.length)
    putLe32(pg, 0x33, 0) // no real indexes
    var off = 0x3f
    cols.foreach { case (_, tpe, colnum, offV, offF, fixed) =>
      pg(off) = tpe.toByte
      putLe16(pg, off + 5, colnum)
      putLe16(pg, off + 7, offV)
      pg(off + 15) = (if (fixed) 0x13 else 0x12).toByte
      putLe16(pg, off + 21, offF)
      putLe16(pg, off + 23, if (fixed) fixedWidth(tpe) else 0)
      off += 25
    }
    cols.foreach { case (name, _, _, _, _, _) =>
      val nb = name.getBytes(StandardCharsets.UTF_16LE)
      putLe16(pg, off, nb.length) // byte length of the UTF-16 name
      System.arraycopy(nb, 0, pg, off + 2, nb.length)
      off += 2 + nb.length
    }
    pg
  }

  private def fixedWidth(tpe: Int): Int = tpe match {
    case 3 => 2
    case 4 => 4
    case 8 => 8
    case _ => 4
  }

  /** A Jet4 data page holding `rows` for `tdefPg`, packed from the top. */
  private def jetDataPage(tdefPg: Int, rows: Seq[Array[Byte]]): Array[Byte] = {
    val pg = new Array[Byte](JetPage)
    pg(0) = 1; pg(1) = 1
    putLe32(pg, 4, tdefPg)
    putLe16(pg, 0x0c, rows.length)
    var end = JetPage
    rows.zipWithIndex.foreach { case (r, i) =>
      val start = end - r.length
      System.arraycopy(r, 0, pg, start, r.length)
      putLe16(pg, 0x0e + 2 * i, start)
      end = start
    }
    putLe16(pg, 2, end - (0x0e + 2 * rows.length)) // free space
    pg
  }

  /** Minimal Jet4 database: header page, MSysObjects catalog (TDEF page
    * 2 + its data page), one user table with int/text columns — enough
    * structure for the catalog walk and row cracking AccessExtractor
    * performs, deterministic in the rng.
    */
  def accessFile(r: Random): Array[Byte] = {
    // catalog columns: Id(4 long fixed @0), Type(3 short fixed @4),
    // Flags(4 long fixed @6), Name(10 text var 0)
    val catCols = Seq(
      ("Id", 4, 0, 0, 0, true),
      ("Type", 3, 1, 0, 4, true),
      ("Flags", 4, 2, 0, 6, true),
      ("Name", 10, 3, 0, 0, false))
    val catFixedLen = 10
    def catRow(id: Int, tpe: Int, flags: Int, name: String): Array[Byte] = {
      val idB = new Array[Byte](4); putLe32(idB, 0, id)
      val tB = new Array[Byte](2); putLe16(tB, 0, tpe)
      val fB = new Array[Byte](4); putLe32(fB, 0, flags)
      jetRow(4, catFixedLen,
        Seq((0, idB), (4, tB), (6, fB)),
        Seq(name.getBytes(StandardCharsets.UTF_16LE)),
        Seq(0, 1, 2, 3))
    }
    // user table columns: ID(long fixed @0), Score(long fixed @4),
    // Title(text var 0), Body(text var 1)
    val tblCols = Seq(
      ("ID", 4, 0, 0, 0, true),
      ("Score", 4, 1, 0, 4, true),
      ("Title", 10, 2, 0, 0, false),
      ("Body", 10, 3, 1, 0, false))
    val nRows = 2 + r.nextInt(3)
    val rows = (1 to nRows).map { i =>
      val idB = new Array[Byte](4); putLe32(idB, 0, i)
      val scB = new Array[Byte](4); putLe32(scB, 0, r.nextInt(100000))
      jetRow(4, 8,
        Seq((0, idB), (4, scB)),
        Seq(Corpus.Words(r.nextInt(Corpus.Words.length))
            .getBytes(StandardCharsets.UTF_16LE),
          Corpus.paragraph(r, 2).getBytes(StandardCharsets.UTF_16LE)),
        Seq(0, 1, 2, 3))
    }

    val out = new ByteArrayOutputStream()
    val p0 = new Array[Byte](JetPage)
    p0(0) = 0; p0(1) = 1
    "Standard Jet DB".getBytes(StandardCharsets.US_ASCII)
      .copyToArray(p0, 4)
    p0(0x14) = 1 // Jet4
    out.write(p0)
    out.write(new Array[Byte](JetPage)) // page 1 unused
    out.write(jetTdef(catCols)) // page 2: MSysObjects TDEF
    out.write(jetDataPage(2, Seq( // page 3: catalog rows
      catRow(2, 1, 0x80000000.toInt, "MSysObjects"),
      catRow(4, 1, 0, "Table1"))))
    out.write(jetTdef(tblCols)) // page 4: Table1 TDEF
    out.write(jetDataPage(4, rows)) // page 5: Table1 rows
    out.toByteArray
  }

  // ---- Publisher ------------------------------------------------------

  def pubFile(r: Random): Array[Byte] = {
    val story = (0 until 2 + r.nextInt(2))
      .map(_ => Corpus.paragraph(r, 2)).mkString("\r") + "\r"
    val text = story.getBytes(StandardCharsets.UTF_16LE)
    val from = 0x220
    val contents = new Array[Byte](from + text.length)
    "CHNKINK ".getBytes(StandardCharsets.US_ASCII)
      .copyToArray(contents, 0)
    // one TEXT bit descriptor at 0x20
    contents(0x20) = 0x18; contents(0x21) = 0x00
    "TEXT".getBytes(StandardCharsets.US_ASCII).copyToArray(contents, 0x22)
    "TEXT".getBytes(StandardCharsets.US_ASCII).copyToArray(contents, 0x2c)
    le32Bytes(from).copyToArray(contents, 0x30)
    le32Bytes(text.length).copyToArray(contents, 0x34)
    text.copyToArray(contents, from)
    CfbWriter.write(Seq(
      "Quill" -> Array[Byte](0),
      "CONTENTS" -> contents))
  }

  // ---- Visio (uncompressed HDGF) ---------------------------------------

  def vsdFile(r: Random): Array[Byte] = {
    val texts = (0 until 1 + r.nextInt(2)).map(_ => Corpus.paragraph(r, 2))
    val chunks = new ByteArrayOutputStream()
    texts.zipWithIndex.foreach { case (t, i) =>
      val payload = (t + "\n").getBytes(StandardCharsets.UTF_16LE)
      chunks.write(le32Bytes(0x0e)) // Text chunk
      chunks.write(le32Bytes(i + 1))
      chunks.write(le32Bytes(0))
      chunks.write(le32Bytes(8 + payload.length))
      chunks.write(Array(2.toByte, 0.toByte, 0x50.toByte)) // level, flag
      chunks.write(new Array[Byte](8))
      chunks.write(payload)
    }
    val chunkBytes = chunks.toByteArray

    val header = 0x40
    val trailerLen = 16 + 18
    val chunkOff = header + trailerLen
    val vd = new ByteArrayOutputStream()
    val head = new Array[Byte](header)
    "Visio (TM) Drawing\r\n".getBytes(StandardCharsets.US_ASCII)
      .copyToArray(head, 0)
    head(0x1a) = 11 // version
    // trailer pointer @0x24: type, address, offset, length, format
    le32Bytes(20).copyToArray(head, 0x24)
    le32Bytes(0).copyToArray(head, 0x28)
    le32Bytes(header).copyToArray(head, 0x2c)
    le32Bytes(trailerLen).copyToArray(head, 0x30)
    head(0x34) = 0x50; head(0x35) = 0 // uncompressed pointer stream
    vd.write(head)
    // trailer stream: u32 ptrOff=8, pad, count=1, unknown, one pointer
    vd.write(le32Bytes(8)); vd.write(le32Bytes(0))
    vd.write(le32Bytes(1)); vd.write(le32Bytes(0))
    vd.write(le32Bytes(0x15)); vd.write(le32Bytes(0)) // pointer: type, address
    vd.write(le32Bytes(chunkOff)); vd.write(le32Bytes(chunkBytes.length))
    vd.write(Array(0xd0.toByte, 0.toByte)) // chunk stream, uncompressed
    vd.write(chunkBytes)
    CfbWriter.write(Seq("VisioDocument" -> vd.toByteArray))
  }
}
