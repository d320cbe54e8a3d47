package graft.ole2

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.{Charset, StandardCharsets}
import graft.engine.{MetaSink, SpanSink}
import graft.core.{Endian, OutBuf}

/** Legacy binary Office text extraction over [[Cfb]] containers.
  *
  * Reference semantics: tika-parsers microsoft-module OfficeParser.java
  * dispatches POIFS directory entries to WordExtractor / ExcelExtractor /
  * HSLFExtractor / OutlookExtractor; the stream layouts below follow the
  * public MS-DOC / MS-XLS (BIFF8) / MS-PPT / MS-OXMSG specifications that
  * POI itself implements.
  */

/** Embedded OLE objects inside legacy Office containers: each child
  * storage (Word `ObjectPool/_NNN`, Excel `MBDxxxxxxxx`) is re-wrapped
  * as a standalone CFB from its direct streams and handed to container
  * recursion, where subtype detection routes it (WordDocument /
  * Workbook / PowerPoint Document markers, `Package` OPC carriers,
  * `CONTENTS` PDFs) — the POIFS-extractor embedded-office rule.
  */
private[ole2] object EmbeddedCfb {
  def recurse(cfb: Cfb.Doc, prefix: String,
      child: (String, Array[Byte]) => Unit): Unit = {
    val storages = cfb.entries
      .filter(e => e.objType == 1 && e.path == prefix)
      .filter(e => prefix.nonEmpty || e.name.startsWith("MBD") ||
        e.name.startsWith("_"))
    storages.take(64).foreach { st =>
      val sp = st.path + st.name + "/"
      val streams = cfb.entries
        .filter(e => e.objType == 2 && e.path == sp)
        .map(e => e.name -> cfb.readStream(e))
      if (streams.nonEmpty) {
        try child(st.name, CfbWriter.write(streams.take(100)))
        catch { case _: Exception => () }
      }
    }
  }
}

object DocExtractor {

  /** MS-DOC: FIB in the `WordDocument` stream; piece table (Clx→Pcdt→
    * PlcPcd) in `0Table`/`1Table` (picked by FIB flag fWhichTblStm);
    * each piece is CP1252 (fc bit 30 set, offset fc/2) or UTF-16LE.
    * Mirrors POI WordExtractor's text-piece walk.
    */
  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => (),
      password: Option[String] = None): Unit = {
    val cfb = Cfb.parse(bytes)
    OleProps.fromCfb(cfb, meta)
    // embedded OLE objects live under the ObjectPool storage
    EmbeddedCfb.recurse(cfb, "ObjectPool/", child)
    var word = cfb.stream("WordDocument")
      .getOrElse(throw new IllegalArgumentException("no WordDocument stream"))
    var buf = ByteBuffer.wrap(word).order(ByteOrder.LITTLE_ENDIAN)
    val wIdent = buf.getShort(0) & 0xffff
    if (wIdent == 0xA5DC) {
      // Word 6/95: no piece table — the text simply spans [fcMin, fcMac)
      // of the WordDocument stream in the ANSI codepage (POI
      // Word6Extractor semantics)
      val fcMin = buf.getInt(24)
      val fcMac = buf.getInt(28)
      require(fcMin >= 0 && fcMac >= fcMin && fcMac <= word.length,
        "word6 text range out of bounds")
      val text = new String(word, fcMin, fcMac - fcMin,
        Charset.forName("windows-1252"))
      emitWordText(text, sink)
      return
    }
    require(wIdent == 0xA5EC, "bad FIB wIdent")
    val flags = buf.getShort(0x0A).toInt
    val whichTbl = (flags & 0x0200) != 0
    val tableName = if (whichTbl) "1Table" else "0Table"
    var table = cfb.stream(tableName)
      .orElse(cfb.stream(if (whichTbl) "0Table" else "1Table"))
      .getOrElse(throw new IllegalArgumentException("no table stream"))
    if ((flags & 0x0100) != 0) {
      // FIB base fEncrypted. With a supplied password, decrypt the
      // binary-RC4 variant in place (reference: POI Word RC4 through
      // Biff8EncryptionKey — Tika only sets a key when a
      // PasswordProvider is present, so no password means the
      // EncryptedDocumentException path; XOR obfuscation and CryptoAPI
      // stay failures).
      val fObfuscation = (flags & 0x8000) != 0
      val dec =
        if (fObfuscation) None
        else password.flatMap(pw =>
          graft.crypto.OfficeCrypto.decryptDocStreams(word, table, pw))
      dec match {
        case Some((w, t)) =>
          word = w
          table = t
          buf = ByteBuffer.wrap(word).order(ByteOrder.LITTLE_ENDIAN)
          meta.set("msoffice:encrypted", "true")
        case None =>
          throw new IllegalArgumentException("encrypted word document")
      }
    }
    val fcClx = buf.getInt(0x01A2)
    val lcbClx = buf.getInt(0x01A6)
    require(fcClx >= 0 && lcbClx > 0 && fcClx + lcbClx <= table.length,
      "clx out of range")

    // Clx = Prc* then Pcdt(0x02); PlcPcd = (n+1) CPs + n PCDs(8 bytes)
    val tbuf = ByteBuffer.wrap(table).order(ByteOrder.LITTLE_ENDIAN)
    var p = fcClx
    while (p < fcClx + lcbClx && (table(p) & 0xff) == 0x01)
      p += 3 + (tbuf.getShort(p + 1) & 0xffff) // skip Prc
    require((table(p) & 0xff) == 0x02, "no Pcdt in Clx")
    val lcbPlc = tbuf.getInt(p + 1)
    val plc = p + 5
    val nPieces = (lcbPlc - 4) / 12
    val text = new StringBuilder
    var i = 0
    while (i < nPieces) {
      val cpStart = tbuf.getInt(plc + i * 4)
      val cpEnd = tbuf.getInt(plc + (i + 1) * 4)
      val pcdOff = plc + (nPieces + 1) * 4 + i * 8
      val fcRaw = tbuf.getInt(pcdOff + 2)
      val compressed = (fcRaw & 0x40000000) != 0
      val fc = fcRaw & 0x3FFFFFFF
      val nChars = cpEnd - cpStart
      if (compressed) {
        val off = fc / 2
        text.append(new String(word, off, nChars, Charset.forName("windows-1252")))
      } else {
        text.append(new String(word, fc, nChars * 2, StandardCharsets.UTF_16LE))
      }
      i += 1
    }
    emitWordText(text.toString, sink)
  }

  /** Word control characters → span framing: 0x0D paragraph mark,
    * 0x07 cell mark (tab), 0x0B line break, 0x13/0x14/0x15 field chars.
    * Field semantics follow WordExtractor.handleSpecialCharacterRuns
    * (:482-560): `0x13 instr 0x14 result 0x15` keeps the RESULT and
    * drops the instruction; a field with NO 0x14 separator (e.g. the EQ
    * phonetic-guide fields of testWORD_phonetic.doc) emits its
    * INSTRUCTION text (`texts = controls` when !has14). Fields nest.
    */
  private[ole2] def emitWordText(text: String, sink: SpanSink): Unit = {
    val para = new StringBuilder
    // open fields, innermost last: (sawSeparator, instruction buffer)
    val fields = scala.collection.mutable.Stack[(Boolean, StringBuilder)]()
    def inInstr: Boolean = fields.nonEmpty && !fields.top._1
    def out(c: Char): Unit =
      if (inInstr) fields.top._2.append(c) else para.append(c)
    def flushPara(): Unit = {
      sink.chars(para.toString)
      sink.newline()
      para.setLength(0)
    }
    text.foreach {
      case 0x13 => fields.push((false, new StringBuilder))
      case 0x14 => if (fields.nonEmpty) {
        val (_, buf) = fields.pop(); fields.push((true, buf))
      }
      case 0x15 => if (fields.nonEmpty) {
        val (sawSep, buf) = fields.pop()
        // no separator → the instruction is the visible text
        if (!sawSep) buf.foreach(out)
      }
      case 0x0D if !inInstr => flushPara()
      case 0x07 => out('\t') // cell/row mark
      case 0x0B => out('\n')
      case 0x0C if !inInstr => flushPara() // page break
      case c if c >= 0x20 || c == '\t' => out(c)
      case c if inInstr && (c == 0x0D || c == 0x0C) => out('\n')
      case _ => // other control chars dropped (SafeContentHandler analog)
    }
    if (para.nonEmpty) flushPara()
  }
}

object XlsExtractor {

  /** MS-XLS BIFF8: `Workbook` stream of (id, len, payload) records.
    * Handles BoundSheet8 names, the SST (continued strings are not split
    * across Continue records in our fixtures), LabelSst, Label, Number
    * and RK cells — ExcelExtractor's text surface. Cells are emitted
    * row-major, tab-separated, one sheet per block (same table framing
    * as the XLSX decorator).
    */
  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => (),
      password: Option[String] = None): Unit = {
    // pre-OLE2 Excel (BIFF2-4) ships the record stream RAW, no CFB
    // wrapper (reference: vnd.ms-excel.sheet.2/3/4 in tika-mimetypes)
    val rawBiff = bytes.length >= 8 && (bytes(0) & 0xff) == 0x09 &&
      ((bytes(1) & 0xff) == 0x00 || (bytes(1) & 0xff) == 0x02 ||
        (bytes(1) & 0xff) == 0x04)
    val wb =
      if (rawBiff) bytes
      else {
        val cfb = Cfb.parse(bytes)
        OleProps.fromCfb(cfb, meta)
        // embedded OLE objects sit in root MBDxxxxxxxx storages
        EmbeddedCfb.recurse(cfb, "", child)
        val raw = cfb.stream("Workbook").orElse(cfb.stream("Book"))
          .getOrElse(throw new IllegalArgumentException("no Workbook stream"))
        if (hasFilePass(raw)) {
          // FILEPASS: decrypt with the supplied password, else Excel's
          // VelvetSweatshop default (POI Decryptor.DEFAULT_PASSWORD is
          // what the reference tries without a provider); a failed
          // verifier is the EncryptedDocumentException path
          val pw = password.getOrElse(
            graft.crypto.OfficeCrypto.DefaultPassword)
          graft.crypto.OfficeCrypto.decryptXlsWorkbook(raw, pw) match {
            case Some(dec) =>
              meta.set("msoffice:encrypted", "true")
              dec
            case None =>
              throw new IllegalArgumentException("encrypted excel document")
          }
        } else raw
      }
    val buf = ByteBuffer.wrap(wb).order(ByteOrder.LITTLE_ENDIAN)
    var biff8 = true

    val sheetNames = scala.collection.mutable.ArrayBuffer[String]()
    val sst = scala.collection.mutable.ArrayBuffer[String]()
    // per sheet: (row, col) -> text, kept sorted for deterministic emit
    val sheets = scala.collection.mutable.ArrayBuffer[
      scala.collection.mutable.TreeMap[(Int, Int), String]]()
    var current: scala.collection.mutable.TreeMap[(Int, Int), String] = null
    var sawGlobals = false

    def readXlUnicode(off: Int): (String, Int) = {
      // XLUnicodeRichExtendedString: cch(2) flags(1) [cRun 2] [cbExt 4]
      val cch = buf.getShort(off) & 0xffff
      val fl = wb(off + 2) & 0xff
      val fHigh = (fl & 0x01) != 0
      val fExt = (fl & 0x04) != 0
      val fRich = (fl & 0x08) != 0
      var p = off + 3
      val cRun = if (fRich) { val r = buf.getShort(p) & 0xffff; p += 2; r } else 0
      val cbExt = if (fExt) { val e = buf.getInt(p); p += 4; e } else 0
      val s =
        if (fHigh) { val r = new String(wb, p, cch * 2, StandardCharsets.UTF_16LE); p += cch * 2; r }
        else { val r = new String(wb, p, cch, StandardCharsets.ISO_8859_1); p += cch; r }
      p += cRun * 4 + cbExt
      (s, p)
    }

    var p = 0
    while (p + 4 <= wb.length) {
      val id = buf.getShort(p) & 0xffff
      val len = buf.getShort(p + 2) & 0xffff
      val body = p + 4
      id match {
        case 0x0809 => // BOF (BIFF5/8; vers distinguishes)
          biff8 = (buf.getShort(body) & 0xffff) >= 0x0600
          val dt = buf.getShort(body + 2) & 0xffff
          if (dt == 0x0005) sawGlobals = true
          else if (dt == 0x0010) {
            current = scala.collection.mutable.TreeMap.empty
            sheets += current
          }
        case 0x0009 | 0x0209 | 0x0409 => // BIFF2/3/4 BOF: one raw sheet
          biff8 = false
          current = scala.collection.mutable.TreeMap.empty
          sheets += current
        case 0x0085 => // BoundSheet8
          val cch = wb(body + 6) & 0xff
          val fHigh = (wb(body + 7) & 0x01) != 0
          sheetNames += (if (fHigh)
            new String(wb, body + 8, cch * 2, StandardCharsets.UTF_16LE)
          else new String(wb, body + 8, cch, StandardCharsets.ISO_8859_1))
        case 0x00FC => // SST
          val cstUnique = buf.getInt(body + 4)
          var q = body + 8
          var k = 0
          while (k < cstUnique && q < body + len) {
            val (s, np) = readXlUnicode(q)
            sst += s; q = np; k += 1
          }
        case 0x00FD => // LabelSst
          if (current != null) {
            val rw = buf.getShort(body) & 0xffff
            val cl = buf.getShort(body + 2) & 0xffff
            val isst = buf.getInt(body + 6)
            if (isst >= 0 && isst < sst.length) current((rw, cl)) = sst(isst)
          }
        case 0x0204 => // Label (inline string)
          if (current != null) {
            val rw = buf.getShort(body) & 0xffff
            val cl = buf.getShort(body + 2) & 0xffff
            if (biff8) {
              val (s, _) = readXlUnicode(body + 6)
              current((rw, cl)) = s
            } else {
              // BIFF3-5 layout: rw col ixfe cch(2) ANSI chars
              val cch = buf.getShort(body + 6) & 0xffff
              if (body + 8 + cch <= wb.length)
                current((rw, cl)) =
                  new String(wb, body + 8, cch, StandardCharsets.ISO_8859_1)
            }
          }
        case 0x0203 => // Number
          if (current != null) {
            val rw = buf.getShort(body) & 0xffff
            val cl = buf.getShort(body + 2) & 0xffff
            current((rw, cl)) = formatNum(buf.getDouble(body + 6))
          }
        case 0x0004 => // BIFF2 LABEL: rw(2) col(2) attrs(3) cch(1) ANSI
          if (current != null) {
            val rw = buf.getShort(body) & 0xffff
            val cl = buf.getShort(body + 2) & 0xffff
            val cch = wb(body + 7) & 0xff
            if (body + 8 + cch <= wb.length)
              current((rw, cl)) =
                new String(wb, body + 8, cch, StandardCharsets.ISO_8859_1)
          }
        case 0x0003 => // BIFF2 NUMBER: rw(2) col(2) attrs(3) xnum(8)
          if (current != null) {
            val rw = buf.getShort(body) & 0xffff
            val cl = buf.getShort(body + 2) & 0xffff
            current((rw, cl)) = formatNum(buf.getDouble(body + 7))
          }
        case 0x0002 => // BIFF2 INTEGER: rw(2) col(2) attrs(3) int(2)
          if (current != null) {
            val rw = buf.getShort(body) & 0xffff
            val cl = buf.getShort(body + 2) & 0xffff
            current((rw, cl)) = formatNum((buf.getShort(body + 7) & 0xffff).toDouble)
          }
        case 0x027E => // RK
          if (current != null) {
            val rw = buf.getShort(body) & 0xffff
            val cl = buf.getShort(body + 2) & 0xffff
            current((rw, cl)) = formatNum(decodeRk(buf.getInt(body + 6)))
          }
        case _ => // skipped record
      }
      p = body + len
    }

    sheets.zipWithIndex.foreach { case (cells, si) =>
      if (si < sheetNames.length) { sink.chars(sheetNames(si)); sink.newline() }
      var lastRow = -1
      var first = true
      cells.foreach { case ((rw, _), v) =>
        if (rw != lastRow) {
          if (!first) sink.newline()
          lastRow = rw; first = false
        } else sink.chars("\t")
        sink.chars(v)
      }
      if (!first) sink.newline()
    }
  }

  /** True when the BIFF record walk reaches a FILEPASS (0x002F) record
    * in the workbook globals (scan stops at the first sheet BOF).
    */
  private def hasFilePass(wb: Array[Byte]): Boolean = {
    var p = 0
    var bofs = 0
    while (p + 4 <= wb.length && bofs < 2) {
      val id = Endian.le16(wb, p)
      val len = Endian.le16(wb, p + 2)
      if (id == 0x002f) return true
      if (id == 0x0809) bofs += 1
      p += 4 + len
    }
    false
  }

  def decodeRk(rk: Int): Double = {
    val x100 = (rk & 0x01) != 0
    val isInt = (rk & 0x02) != 0
    val v =
      if (isInt) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
    if (x100) v / 100.0 else v
  }

  private def formatNum(d: Double): String =
    if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString else d.toString
}

object PptExtractor {

  /** MS-PPT: the `PowerPoint Document` stream is a record tree (8-byte
    * headers: verInstance(2) type(2) len(4)); containers have recVer 0xF.
    * Text lives in TextCharsAtom (0x0FA0, UTF-16LE) and TextBytesAtom
    * (0x0FA8, Latin-1) — HSLFExtractor walks the same atoms in stream
    * order.
    */
  val TextCharsAtom = 0x0FA0
  val TextBytesAtom = 0x0FA8

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => (),
      password: Option[String] = None): Unit = {
    val cfb = Cfb.parse(bytes)
    OleProps.fromCfb(cfb, meta)
    // CurrentUserAtom headerToken 0xF3D1C4DF marks an encrypted deck
    // (MS-PPT §2.3.2): decrypt the persist objects with the supplied
    // password or the VelvetSweatshop default (POI HSLFSlideShowEncrypted
    // behavior); a failed verifier is the reference's
    // EncryptedPowerPointFileException path
    var encrypted = false
    var curEdit = -1
    cfb.stream("Current User").foreach { cu =>
      // the token sits at offset 12 — detect it from 16 bytes on, so a
      // truncated encrypted atom still fails encrypted (not plaintext
      // garbage); offsetToCurrentEdit needs the full 20 bytes
      if (cu.length >= 16) {
        val b = ByteBuffer.wrap(cu).order(ByteOrder.LITTLE_ENDIAN)
        if (b.getInt(12) == 0xF3D1C4DF) {
          encrypted = true
          curEdit = if (cu.length >= 20) b.getInt(16) else -1
        }
      }
    }
    var ppt = cfb.stream("PowerPoint Document")
      .getOrElse(throw new IllegalArgumentException("no PowerPoint Document stream"))
    if (encrypted) {
      val pw = password.getOrElse(graft.crypto.OfficeCrypto.DefaultPassword)
      graft.crypto.OfficeCrypto.decryptPpt(ppt, curEdit, pw) match {
        case Some(dec) =>
          ppt = dec
          meta.set("msoffice:encrypted", "true")
        case None =>
          throw new IllegalArgumentException("encrypted powerpoint document")
      }
    }
    walk(ppt, 0, ppt.length, sink, 0)
    cfb.stream("Pictures").foreach(pics => pictures(pics, child))
    exOleObjects(ppt, child)
  }

  /** ExOleObjStg atoms (type 0x1011) hold embedded OLE objects as
    * zlib-compressed CFB payloads (u32 decompressed size + deflate
    * stream when the instance nibble is 1, raw otherwise) — HSLF's
    * ExOleObjStg surface; each recurses as a child document.
    */
  private def exOleObjects(d: Array[Byte],
      child: (String, Array[Byte]) => Unit): Unit = {
    val buf = ByteBuffer.wrap(d).order(ByteOrder.LITTLE_ENDIAN)
    var p = 0
    var n = 0
    while (p + 8 <= d.length && n < 64) {
      val verInst = buf.getShort(p) & 0xffff
      val typ = buf.getShort(p + 2) & 0xffff
      val len = buf.getInt(p + 4)
      if (len < 0 || p + 8 + len > d.length) return
      if (typ == 0x1011 && len > 4) {
        n += 1
        try {
          val payload =
            if ((verInst >> 4) == 1) { // compressed: u32 size + zlib
              val out = new OutBuf(64 << 20, len * 4)
              val end = out.inflate(d, p + 12, len - 4, raw = false)
              if (end == OutBuf.NeedsDict || end == OutBuf.NeedsInput && out.len == 0)
                throw new IllegalArgumentException("stall")
              out.result
            } else java.util.Arrays.copyOfRange(d, p + 8, p + 8 + len)
          if (payload.length > 8) child(s"ole-object-$n", payload)
        } catch { case _: Exception => () } // best-effort, like pictures
      }
      if ((verInst & 0x000f) == 0x000f && typ != 0x1011) {
        // container: descend (embedded storages sit in ExObjList trees)
        p += 8
      } else p += 8 + len
    }
  }

  /** `Pictures` stream: escher BSE blip records — JPEG (0xF01D/0xF02A),
    * PNG (0xF01E) and DIB/metafile blips. Image bytes start after the
    * 8-byte record header and one or two 16-byte UIDs (+34-byte header
    * for metafiles); the start is located by magic-byte probe, which is
    * robust across the single/double-UID variants.
    */
  private def pictures(d: Array[Byte], child: (String, Array[Byte]) => Unit): Unit = {
    val buf = ByteBuffer.wrap(d).order(ByteOrder.LITTLE_ENDIAN)
    var p = 0
    var n = 0
    while (p + 8 <= d.length && n < 256) {
      val typ = buf.getShort(p + 2) & 0xffff
      val len = buf.getInt(p + 4)
      if (len <= 0 || p + 8 + len > d.length) return
      if (typ >= 0xf018 && typ <= 0xf117) {
        val body = p + 8
        // probe the blip payload start for a known image signature
        val candidates = Seq(body + 17, body + 16, body + 33, body + 32,
          body + 24)
        val img = candidates.find { o =>
          o + 4 <= p + 8 + len &&
            (((d(o) & 0xff) == 0x89 && d(o + 1) == 'P') || // png
              ((d(o) & 0xff) == 0xff && (d(o + 1) & 0xff) == 0xd8)) // jpeg
        }
        img.foreach { o =>
          n += 1
          val ext = if ((d(o) & 0xff) == 0x89) "png" else "jpg"
          child(s"image-$n.$ext",
            java.util.Arrays.copyOfRange(d, o, p + 8 + len))
        }
      }
      p += 8 + len
    }
  }

  private def walk(d: Array[Byte], from: Int, to: Int, sink: SpanSink,
      depth: Int): Unit = {
    if (depth > 32) return
    val buf = ByteBuffer.wrap(d).order(ByteOrder.LITTLE_ENDIAN)
    var p = from
    while (p + 8 <= to) {
      val verInst = buf.getShort(p) & 0xffff
      val typ = buf.getShort(p + 2) & 0xffff
      val len = buf.getInt(p + 4)
      if (len < 0 || p + 8 + len > to || (verInst == 0 && typ == 0)) return
      if ((verInst & 0x000F) == 0x000F) {
        walk(d, p + 8, p + 8 + len, sink, depth + 1) // container
      } else if (typ == TextCharsAtom) {
        emit(new String(d, p + 8, len, StandardCharsets.UTF_16LE), sink)
      } else if (typ == TextBytesAtom) {
        emit(new String(d, p + 8, len, StandardCharsets.ISO_8859_1), sink)
      }
      p += 8 + len
    }
  }

  private def emit(text: String, sink: SpanSink): Unit = {
    // \r separates lines within a text atom
    text.split('\r').foreach { line =>
      sink.chars(line)
      sink.newline()
    }
  }
}

object MsgExtractor {

  /** MS-OXMSG: property streams named `__substg1.0_TTTTYYYY` (TTTT =
    * property id, YYYY = 001F UTF-16LE / 001E ANSI / 0102 binary).
    * Subject 0x0037, sender name 0x0C1A, display-to 0x0E04, body 0x1000
    * (falling back to the 0x1009 MS-OXRTFCP compressed-RTF body) — the
    * fields tika's OutlookExtractor surfaces. Attachments live under
    * `__attach_version1.0_#N` storages: binary payloads (0x3701 type
    * 0102) recurse as embedded documents under their long filename
    * (0x3707, else 0x3704); embedded-message attachments (0x3701 type
    * 000D) are re-wrapped as standalone .msg children named after their
    * subject, the OutlookParserTest.testEmbeddedPath shape.
    */
  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => ()): Unit = {
    val cfb = Cfb.parse(bytes)
    def propAt(prefix: String, tag: String): Option[String] =
      cfb.entries.find(e => e.objType == 2 && e.path == prefix &&
          e.name == s"__substg1.0_${tag}001F")
        .map(e => new String(cfb.readStream(e), StandardCharsets.UTF_16LE))
        .orElse(cfb.entries.find(e => e.objType == 2 && e.path == prefix &&
            e.name == s"__substg1.0_${tag}001E")
          .map(e => new String(cfb.readStream(e),
            Charset.forName("windows-1252"))))
    def prop(tag: String): Option[String] = propAt("", tag)

    val subject = prop("0037")
    val from = prop("0C1A")
    val to = prop("0E04")
    subject.foreach { s => meta.set("subject", s); meta.set("dc:title", s) }
    from.foreach(meta.set("message:from", _))
    to.foreach(meta.set("message:to", _))
    subject.foreach { s => sink.chars(s); sink.newline() }
    prop("1000") match {
      case Some(body) =>
        body.split("\r\n|\r|\n").foreach { line =>
          sink.chars(line)
          sink.newline()
        }
      case None =>
        // compressed-RTF body (PidTagRtfCompressed) through the shared
        // MS-OXRTFCP codec and the RTF extractor
        cfb.entries.find(e => e.objType == 2 && e.path == "" &&
            e.name == "__substg1.0_10090102").foreach { e =>
          try {
            val rtf = graft.mail.TnefExtractor.decompressRtf(cfb.readStream(e))
            meta.set("rtf:encapsulated", "true")
            graft.textparse.RtfExtractor.extract(rtf, sink, meta)
          } catch { case _: Exception => () }
        }
    }

    // attachments, storage order
    val attachStorages = cfb.entries
      .filter(e => e.objType == 1 && e.name.startsWith("__attach_version1.0_"))
      .sortBy(_.name)
    attachStorages.foreach { st =>
      val ap = st.path + st.name + "/"
      val data = cfb.entries.find(e => e.objType == 2 && e.path == ap &&
        e.name == "__substg1.0_37010102").map(cfb.readStream)
      data match {
        case Some(d) =>
          val name = propAt(ap, "3707").orElse(propAt(ap, "3704"))
            .getOrElse("attachment")
          child(name, d)
        case None =>
          // embedded message: re-wrap the nested storage's direct
          // property streams as a standalone .msg container
          val np = ap + "__substg1.0_3701000D/"
          val streams = cfb.entries
            .filter(e => e.objType == 2 && e.path == np)
            .map(e => e.name -> cfb.readStream(e))
          if (streams.nonEmpty) {
            val nm = propAt(np, "0037").map(_ + ".msg")
              .getOrElse("attachment.msg")
            child(nm, CfbWriter.write(streams.take(100)))
          }
      }
    }
  }
}
