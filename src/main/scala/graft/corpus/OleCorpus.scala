package graft.corpus

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.{Charset, StandardCharsets}
import scala.util.Random

import graft.ole2.CfbWriter

/** Deterministic legacy-Office (OLE2/CFB) fixtures — synthesized to the
  * public MS-DOC / MS-XLS / MS-PPT / MS-OXMSG layouts since no binary
  * Office fixtures exist offline (FIXTURES.md). Each generator returns
  * container bytes plus the plain text the extractor must recover, so
  * golden tests can assert exact span sequences.
  */
object OleCorpus {

  // ---- .doc ------------------------------------------------------------
  /** Word 97 file: FIB + two-piece piece table (one CP1252-compressed
    * piece, one UTF-16 piece with a non-Latin-1 char), a tab cell line
    * and a field (instruction dropped, result kept).
    */
  def docFile(r: Random): Array[Byte] = {
    val paras = (1 to 2 + r.nextInt(3)).map(_ => Corpus.paragraph(r, 2))
    // piece 1: plain cp1252 paragraphs; piece 2: unicode content
    val piece1 = paras.mkString("\r") + "\r" + "Cell1\u0007Cell2\r"
    val piece2 = "Field: \u0013INSTR HYPERLINK\u0014" +
      Corpus.sentence(r, 3) + "\u0015\r" +
      "Unicode — dash é accent\r"
    docFromPieces(Seq(piece1 -> true, piece2 -> false))
  }

  /** Build the .doc container from explicit (text, fCompressed) pieces —
    * compressed pieces are stored CP1252 at fc/2, uncompressed UTF-16LE.
    */
  def docFromPieces(pieces: Seq[(String, Boolean)]): Array[Byte] = {
    val textStart = 1024
    val word = new java.io.ByteArrayOutputStream()
    val fib = ByteBuffer.allocate(textStart).order(ByteOrder.LITTLE_ENDIAN)
    fib.putShort(0, 0xA5EC.toShort)          // wIdent
    fib.putShort(2, 0x00C1.toShort)          // nFib (Word 97)
    fib.putShort(0x0A, 0x0200.toShort)       // fWhichTblStm → 1Table
    val ccpText = pieces.map(_._1.length).sum
    fib.putInt(0x4C, ccpText)                // FibRgLw97.ccpText

    // text payloads appended after the FIB block
    var off = textStart
    val pieceOffsets = pieces.map { case (txt, compressed) =>
      val bytes =
        if (compressed) txt.getBytes(Charset.forName("windows-1252"))
        else txt.getBytes(StandardCharsets.UTF_16LE)
      val fo = off
      off += bytes.length
      (fo, bytes, compressed)
    }

    // table stream: one Prc (exercises the skip) then Pcdt + PlcPcd
    val n = pieces.length
    val lcbPlc = (n + 1) * 4 + n * 8
    val prcBytes = Array[Byte](0x01, 0x02, 0x00, 0x42, 0x43) // clxt,cb=2,grpprl
    val clx = ByteBuffer.allocate(prcBytes.length + 5 + lcbPlc)
      .order(ByteOrder.LITTLE_ENDIAN)
    clx.put(prcBytes)
    clx.put(0x02.toByte)
    clx.putInt(lcbPlc)
    var cp = 0
    pieces.foreach { case (txt, _) => clx.putInt(cp); cp += txt.length }
    clx.putInt(cp)
    pieceOffsets.foreach { case (fo, _, compressed) =>
      clx.putShort(0) // PCD flags
      clx.putInt(if (compressed) (fo * 2) | 0x40000000 else fo)
      clx.putShort(0) // prm
    }
    val table = clx.array()

    word.write(fib.array())
    pieceOffsets.foreach { case (_, b, _) => word.write(b) }
    val wordBytes = word.toByteArray
    // patch fcClx/lcbClx (Clx sits at table-stream offset 0)
    val wb = ByteBuffer.wrap(wordBytes).order(ByteOrder.LITTLE_ENDIAN)
    wb.putInt(0x01A2, 0)
    wb.putInt(0x01A6, table.length)

    CfbWriter.write(Seq("WordDocument" -> wordBytes, "1Table" -> table))
  }

  // ---- .xls ------------------------------------------------------------
  /** BIFF8 workbook: globals substream (BOF, BoundSheet8, SST, EOF) +
    * one sheet substream with LabelSst / Number / RK cells.
    */
  def xlsFile(r: Random): Array[Byte] = {
    val sheetName = "Sheet" + (1 + r.nextInt(3))
    val strings = (0 until 3 + r.nextInt(3))
      .map(_ => Corpus.Words(r.nextInt(Corpus.Words.length))) :+ "café —"
    val out = new java.io.ByteArrayOutputStream()
    def rec(id: Int, body: Array[Byte]): Unit = {
      val h = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      h.putShort(0, id.toShort); h.putShort(2, body.length.toShort)
      out.write(h.array()); out.write(body)
    }
    def bof(dt: Int): Unit = {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(0, 0x0600.toShort); b.putShort(2, dt.toShort)
      rec(0x0809, b.array())
    }
    // globals
    bof(0x0005)
    locally { // BoundSheet8
      val nm = sheetName.getBytes(StandardCharsets.ISO_8859_1)
      val b = ByteBuffer.allocate(8 + nm.length).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(0, 0); b.putShort(4, 0)
      b.put(6, nm.length.toByte); b.put(7, 0.toByte)
      nm.indices.foreach(i => b.put(8 + i, nm(i)))
      rec(0x0085, b.array())
    }
    locally { // SST
      val body = new java.io.ByteArrayOutputStream()
      val h = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      h.putInt(0, strings.length); h.putInt(4, strings.length)
      body.write(h.array())
      strings.foreach { s =>
        val high = s.exists(_ > 0xFF)
        val chars = if (high) s.getBytes(StandardCharsets.UTF_16LE)
                    else s.getBytes(StandardCharsets.ISO_8859_1)
        val sh = ByteBuffer.allocate(3).order(ByteOrder.LITTLE_ENDIAN)
        sh.putShort(0, s.length.toShort)
        sh.put(2, (if (high) 1 else 0).toByte)
        body.write(sh.array()); body.write(chars)
      }
      rec(0x00FC, body.toByteArray)
    }
    rec(0x000A, Array.emptyByteArray) // EOF globals
    // sheet substream
    bof(0x0010)
    val nRows = 2 + r.nextInt(3)
    (0 until nRows).foreach { rw =>
      def cellHdr(col: Int, extra: Int): ByteBuffer = {
        val b = ByteBuffer.allocate(6 + extra).order(ByteOrder.LITTLE_ENDIAN)
        b.putShort(0, rw.toShort); b.putShort(2, col.toShort); b.putShort(4, 0)
        b
      }
      locally { // LabelSst in col 0
        val b = cellHdr(0, 4)
        b.putInt(6, r.nextInt(strings.length))
        rec(0x00FD, b.array())
      }
      locally { // Number in col 1
        val b = cellHdr(1, 8)
        b.putDouble(6, r.nextInt(10000).toDouble)
        rec(0x0203, b.array())
      }
      locally { // RK int in col 2
        val b = cellHdr(2, 4)
        b.putInt(6, (r.nextInt(5000) << 2) | 0x02)
        rec(0x027E, b.array())
      }
    }
    rec(0x000A, Array.emptyByteArray)
    CfbWriter.write(Seq("Workbook" -> out.toByteArray))
  }

  // ---- .ppt ------------------------------------------------------------
  /** PowerPoint 97 stream: Document container holding per-slide
    * containers of TextCharsAtom / TextBytesAtom records.
    */
  def pptFile(r: Random): Array[Byte] = {
    def record(verInst: Int, typ: Int, body: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + body.length).order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(0, verInst.toShort); b.putShort(2, typ.toShort)
      b.putInt(4, body.length)
      body.indices.foreach(i => b.put(8 + i, body(i)))
      b.array()
    }
    val slides = (1 to 1 + r.nextInt(3)).map { _ =>
      val title = Corpus.sentence(r, 3)
      val bodyText = (1 to 1 + r.nextInt(2)).map(_ => Corpus.sentence(r, 4))
        .mkString("\r")
      val atoms =
        record(0, PptTextChars, title.getBytes(StandardCharsets.UTF_16LE)) ++
        record(0, PptTextBytes, bodyText.getBytes(StandardCharsets.ISO_8859_1))
      record(0x000F, 0x03EE /* Slide */, atoms)
    }
    val doc = record(0x000F, 0x03E8 /* Document */, slides.flatten.toArray)
    CfbWriter.write(Seq("PowerPoint Document" -> doc,
      "Current User" -> Array[Byte](0, 0, 0, 0)))
  }
  private val PptTextChars = 0x0FA0
  private val PptTextBytes = 0x0FA8

  // ---- .msg ------------------------------------------------------------
  def msgFile(r: Random): Array[Byte] = {
    val subject = Corpus.sentence(r, 4).dropRight(1)
    val from = Corpus.Words(r.nextInt(Corpus.Words.length)) + " Sender"
    val to = "Recipient " + Corpus.Words(r.nextInt(Corpus.Words.length))
    val body = (1 to 2 + r.nextInt(2)).map(_ => Corpus.paragraph(r, 2))
      .mkString("\r\n")
    def utf16(s: String) = s.getBytes(StandardCharsets.UTF_16LE)
    CfbWriter.write(Seq(
      "__properties_version1.0" -> new Array[Byte](32),
      "__substg1.0_0037001F" -> utf16(subject),
      "__substg1.0_0C1A001F" -> utf16(from),
      "__substg1.0_0E04001F" -> utf16(to),
      "__substg1.0_1000001F" -> utf16(body)
    ))
  }
}
