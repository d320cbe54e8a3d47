package graft.ooxml

import graft.engine.{MetaSink, SpanSink}
import graft.zipx.ZipUtil
import graft.core.Endian

/** XLSB (Excel binary workbook) text extraction.
  *
  * Reference semantics: tika-parsers .../ooxml/XSSFBExcelExtractorDecorator
  * .java (sheet order from workbook.bin bundles, shared strings, styled
  * number formatting, hyperlinks, original-path metadata) over the
  * MS-XLSB record framing (record id 1-2 bytes / record length 1-4 bytes,
  * 7 bits per byte with a continuation flag). Only the workbook, shared
  * strings, styles and worksheet parts are binary — docProps stay XML, so
  * core properties reuse the XLSX path. The rendered surface matches our
  * [[XlsxExtractor]]: cells tab-prefixed, rows newline-terminated, sheet
  * names in `sheet:name` metadata, number/date formatting through
  * [[XlsxNumFormat]] (DataFormatter semantics).
  */
object XlsbExtractor {

  def extract(zipBytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val opc = new Opc(ZipUtil.entriesMap(zipBytes,
      n => n.endsWith(".bin") || n.endsWith(".xml") || n.endsWith(".rels")))
    val parts = opc.parts
    opc.coreProps(meta)
    val shared = sharedStringsFrom(parts)
    val (xfs, customFmts) = stylesFrom(parts)
    val rels = opc.byId(Workbook)
    val wb = parts.getOrElse(Workbook, return)
    // workbook.bin: sheet bundles in tab order + the AbsPath15 original dir
    val sheets = Vector.newBuilder[(String, Opc.Rel)]
    records(wb) { (id, data) =>
      id match {
        case BrtBundleSh =>
          // hsState + iTabID precede strRelID/strName, but real files vary
          // in header width (8 vs 12 bytes observed); locate the string
          // pair by validating both lengths against the record bounds
          bundleSheet(data).foreach { case (relId, name) =>
            rels.get(relId).foreach(r => sheets += ((name, r)))
          }
        case BrtAbsPath15 =>
          // XSSFBReader.getAbsPathMetadata → ORIGINAL_RESOURCE_NAME
          val p = new Reader(data).wideString()
          if (p.nonEmpty) meta.set("tk:orig_resource_name", p)
        case _ => ()
      }
      true
    }
    sheets.result().foreach { case (name, rel) =>
      meta.add("sheet:name", name)
      opc.part(Workbook, rel).foreach { path =>
        // hyperlink rel ids resolve through the sheet's own rels part
        sheetText(parts(path), shared, xfs, customFmts, opc.byId(path), sink, meta)
        // cell comments render after the table (TikaXSSFBCommentsTable)
        for (rel <- opc.rels(path) if rel.tpe.endsWith("/comments");
             c <- opc.part(path, rel))
          XlsxComments.emit(
            if (c.endsWith(".bin")) XlsxComments.fromBin(parts(c))
            else XlsxComments.fromXml(parts(c)), sink)
        // textboxes/WordArt/diagram/chart text hang off the drawing parts,
        // which stay XML even in binary workbooks
        XlsxDrawings.processSheet(opc, path, sink, meta)
        sink.newline() // sheet (table) end
      }
    }
  }

  private val Workbook = "xl/workbook.bin"

  // --- MS-XLSB record framing (spec §2.1.4) -------------------------------

  private[graft] def records(data: Array[Byte])(
      handle: (Int, Array[Byte]) => Boolean): Unit = {
    var pos = 0
    var go = true
    while (go && pos < data.length) {
      // record id: 7 bits per byte, high bit of byte 1 = a second byte follows
      var id = data(pos) & 0xff
      pos += 1
      if ((id & 0x80) != 0) {
        if (pos >= data.length) return
        id = (id & 0x7f) | ((data(pos) & 0x7f) << 7)
        pos += 1
      }
      // record length: up to 4 bytes, 7 bits each, high bit = continuation
      var len = 0
      var shift = 0
      var more = true
      while (more && shift < 28) {
        if (pos >= data.length) return
        val b = data(pos) & 0xff
        pos += 1
        len |= (b & 0x7f) << shift
        shift += 7
        more = (b & 0x80) != 0
      }
      if (len < 0 || pos + len > data.length) return
      val body = java.util.Arrays.copyOfRange(data, pos, pos + len)
      pos += len
      go = handle(id, body)
    }
  }

  /** Little-endian cursor over one record body. */
  private final class Reader(data: Array[Byte]) extends Endian.Cursor(data) {
    def remaining: Int = data.length - pos
    def skip(n: Int): Unit = pos += n
    def f64(): Double = java.lang.Double.longBitsToDouble(le64())
    /** XLWideString: cch (u32) + cch UTF-16LE code units. */
    def wideString(): String = {
      val cch = le32()
      if (cch < 0 || cch > remaining / 2) return ""
      val s = new String(data, pos, cch.toInt * 2,
        java.nio.charset.StandardCharsets.UTF_16LE)
      pos += cch.toInt * 2
      s
    }
    /** XLNullableWideString: cch == 0xFFFFFFFF means absent. */
    def nullableWideString(): Option[String] = {
      val cch = le32()
      if (cch == 0xffffffffL) None
      else {
        if (cch < 0 || cch > remaining / 2) return Some("")
        val s = new String(data, pos, cch.toInt * 2,
          java.nio.charset.StandardCharsets.UTF_16LE)
        pos += cch.toInt * 2
        Some(s)
      }
    }
  }

  // record ids used (MS-XLSB §2.3 record enumeration)
  private val BrtRowHdr = 0
  private val BrtCellRk = 2
  private val BrtCellError = 3
  private val BrtCellBool = 4
  private val BrtCellReal = 5
  private val BrtCellSt = 6
  private val BrtCellIsst = 7
  private val BrtFmlaString = 8
  private val BrtFmlaNum = 9
  private val BrtFmlaBool = 10
  private val BrtFmlaError = 11
  private val BrtSstItem = 19
  private val BrtFmt = 44
  private val BrtXF = 47
  private val BrtEndSheetData = 146
  private val BrtBundleSh = 156
  private val BrtBeginCellXFs = 617
  private val BrtEndCellXFs = 618
  private val BrtHLink = 494
  private val BrtBeginHeaderFooter = 479
  private val BrtAbsPath15 = 2071

  /** BrtBundleSh: find (strRelID, strName) after the fixed header whose
    * width varies in the wild — try 8/12/16-byte prefixes and accept the
    * first whose nullable-relId + name strings both fit the record.
    */
  private[graft] def bundleSheet(data: Array[Byte]): Option[(String, String)] = {
    for (hdr <- Seq(8, 12, 16)) {
      if (data.length >= hdr + 8) {
        val r = new Reader(data)
        r.skip(hdr)
        val cch = r.le32()
        val okRel = cch != 0xffffffffL && cch >= 0 && cch <= 255 &&
          cch * 2 <= r.remaining - 4
        if (okRel) {
          val relId = new String(data, r.pos, cch.toInt * 2,
            java.nio.charset.StandardCharsets.UTF_16LE)
          r.skip(cch.toInt * 2)
          val nch = r.le32()
          if (nch >= 0 && nch <= 255 && nch * 2 <= r.remaining &&
              relId.forall(c => c >= 0x20 && c < 0x7f)) {
            val name = new String(data, r.pos, nch.toInt * 2,
              java.nio.charset.StandardCharsets.UTF_16LE)
            return Some((relId, name))
          }
        }
      }
    }
    None
  }

  /** xl/sharedStrings.bin: BrtSstItem RichStr — flags byte then the plain
    * XLWideString (rich runs / phonetics follow and are ignored, like the
    * reference's TikaXSSFBSharedStringsTable.readXLWideString(data, 1)).
    */
  private[ooxml] def sharedStringsFrom(
      parts: Map[String, Array[Byte]]): Vector[String] = {
    parts.get("xl/sharedStrings.bin").map { bytes =>
      val out = Vector.newBuilder[String]
      records(bytes) { (id, data) =>
        if (id == BrtSstItem && data.length >= 5) {
          val r = new Reader(data)
          r.skip(1) // fRichStr/fExtStr flags
          out += r.wideString()
        }
        true
      }
      out.result()
    }.getOrElse(Vector.empty)
  }

  /** xl/styles.bin: custom number formats (BrtFmt: ifmt + code) and the
    * cell-XF table (BrtXF.iFmt inside the BeginCellXFs block) — the binary
    * equivalent of [[XlsxNumFormat.stylesFrom]].
    */
  private[ooxml] def stylesFrom(
      parts: Map[String, Array[Byte]]): (Vector[Int], Map[Int, String]) = {
    parts.get("xl/styles.bin").map { bytes =>
      val xfs = Vector.newBuilder[Int]
      val custom = Map.newBuilder[Int, String]
      var inCellXfs = false
      records(bytes) { (id, data) =>
        id match {
          case BrtFmt if data.length >= 6 =>
            val r = new Reader(data)
            val ifmt = r.le16()
            custom += ifmt -> r.wideString()
          case BrtBeginCellXFs => inCellXfs = true
          case BrtEndCellXFs => inCellXfs = false
          case BrtXF if inCellXfs && data.length >= 4 =>
            val r = new Reader(data)
            r.skip(2) // ixfeParent
            xfs += r.le16() // iFmt
          case _ => ()
        }
        true
      }
      (xfs.result(), custom.result())
    }.getOrElse((Vector.empty, Map.empty))
  }

  /** RkNumber (spec §2.5.122): bit0 = ×1/100, bit1 = 30-bit int vs the
    * top 30 bits of an IEEE double.
    */
  private[graft] def rkValue(v: Long): Double = {
    val fX100 = (v & 1L) != 0
    val fInt = (v & 2L) != 0
    val num =
      if (fInt) (v.toInt >> 2).toDouble
      else java.lang.Double.longBitsToDouble((v & 0xfffffffcL) << 32)
    if (fX100) num / 100 else num
  }

  private val ErrorNames = Map(
    0x00 -> "#NULL!", 0x07 -> "#DIV/0!", 0x0f -> "#VALUE!", 0x17 -> "#REF!",
    0x1d -> "#NAME?", 0x24 -> "#NUM!", 0x2a -> "#N/A", 0x2b -> "#GETTING_DATA")

  /** One worksheet .bin: cells tab-prefixed, rows newline-terminated
    * (the table markup rendering shared with the XLSX SheetHandler).
    * Hyperlink ranges land in `links` metadata like DOCX; header/footer
    * strings append after the sheet like the reference's decorator.
    */
  private def sheetText(bytes: Array[Byte], shared: Vector[String],
      xfs: Vector[Int], customFmts: Map[Int, String],
      sheetRels: Map[String, Opc.Rel], sink: SpanSink,
      meta: MetaSink): Unit = {
    var rowOpen = false
    val headerFooters = Vector.newBuilder[String]

    def fmtCode(styleRef: Int): String = {
      val numFmtId =
        if (styleRef >= 0 && styleRef < xfs.length) xfs(styleRef) else 0
      if (numFmtId == 0) "General"
      else customFmts.getOrElse(numFmtId,
        XlsxNumFormat.Builtin.getOrElse(numFmtId, "General"))
    }

    def cell(text: String): Unit = {
      sink.tab() // td INDENT
      sink.chars(text)
    }

    records(bytes) { (id, data) =>
      id match {
        case BrtRowHdr =>
          if (rowOpen) sink.newline() // tr ENDLINE
          rowOpen = true
        case BrtEndSheetData =>
          if (rowOpen) sink.newline()
          rowOpen = false
        case BrtCellRk | BrtCellError | BrtCellBool | BrtCellReal |
            BrtCellSt | BrtCellIsst | BrtFmlaString | BrtFmlaNum |
            BrtFmlaBool | BrtFmlaError if data.length >= 8 =>
          val r = new Reader(data)
          r.skip(4) // column
          val styleRef = (r.le32() & 0xffffffL).toInt // 24-bit iStyleRef + grbit
          id match {
            case BrtCellRk =>
              cell(XlsxNumFormat.format(
                XlsxNumFormat.general(rkValue(r.le32())), fmtCode(styleRef)))
            case BrtCellReal | BrtFmlaNum =>
              cell(XlsxNumFormat.format(r.f64().toString, fmtCode(styleRef)))
            case BrtCellBool | BrtFmlaBool =>
              cell(if (r.u8() != 0) "TRUE" else "FALSE")
            case BrtCellError | BrtFmlaError =>
              cell(ErrorNames.getOrElse(r.u8(), "#ERR"))
            case BrtCellSt | BrtFmlaString =>
              cell(r.wideString())
            case BrtCellIsst =>
              val isst = r.le32().toInt
              cell(shared.lift(isst).getOrElse(""))
            case _ => ()
          }
        case BrtHLink =>
          val r = new Reader(data)
          r.skip(16) // rwFirst rwLast colFirst colLast
          val relId = r.nullableWideString()
          val location = r.wideString()
          val target = relId.flatMap(sheetRels.get).map(_.target).getOrElse(location)
          if (target.nonEmpty) meta.add("links", target)
        case BrtBeginHeaderFooter =>
          val r = new Reader(data)
          r.skip(2) // flags
          var i = 0
          while (i < 6 && r.remaining >= 4) {
            r.nullableWideString().map(hfText).filter(_.nonEmpty)
              .foreach(headerFooters += _)
            i += 1
          }
        case _ => ()
      }
      true
    }
    if (rowOpen) sink.newline()
    headerFooters.result().foreach { hf =>
      sink.chars(hf)
      sink.newline()
    }
  }

  /** Header/footer string: &L/&C/&R section markers become single-space
    * separators; other &X control codes drop (HeaderFooterHelper
    * rendering: "&LLeft&CCenter&RRight" → "Left Center Right").
    */
  private[graft] def hfText(raw: String): String = {
    val sections = raw.split("&[LCR]").toVector
    sections
      .map(_.replaceAll("&\"[^\"]*\"", "").replaceAll("&[0-9]+", "")
        .replaceAll("&[A-Za-z]", "").trim)
      .filter(_.nonEmpty).mkString(" ")
  }
}
