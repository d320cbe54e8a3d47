package graft.textparse

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian

/** RTF text extraction.
  *
  * Reference: tika-parsers RTFParser (JFlex-generated lexers; SURVEY.md
  * §2.7). This is an original recursive-descent reader over the RTF
  * token grammar: control words (`\word[N]`), control symbols, groups
  * `{...}`, destination groups (font/color/stylesheet/info tables —
  * skipped), `\'hh` hex escapes (cp1252), `\uN` unicode with skip-count,
  * `\par`/`\line` → newline, `\tab` → tab, `\cell`/`\row` table framing.
  *
  * Embedded objects (rtf/RTFEmbObjHandler.java + RTFObjDataParser.java):
  * `{\*\objdata <hex>}` holds an OLE 1.0 object — formatId 2 = embedded;
  * class `Package` unwraps to (filename, payload); other classes hand
  * the raw payload (often a CFB) to container recursion. `{\pict <hex>}`
  * images extract as `embedded-N.<ext>` (`thumbnail-N.<ext>` inside an
  * object group, RTFMetadata.THUMBNAIL semantics); `\binN` switches the
  * payload to N raw bytes.
  */
object RtfExtractor {

  // `pict`/`objdata` are captured (not skipped) and `object` groups emit
  // their `\result` text, matching TextExtractor.java:1283-1296.
  // NOT skipped: `header`/`footer` destinations — the reference emits
  // their text inline (RTFParserTest.testBoldPlain expects the
  // {\header} content), and `info`, which becomes metadata below.
  private val SkipDestinations = Set(
    "fonttbl", "colortbl", "stylesheet",
    "datastore", "themedata", "colorschememapping",
    "latentstyles", "listtable", "listoverridetable", "rsidtbl",
    "generator", "xmlnstbl", "wgrffmtfilter")

  // {\info{\author X}{\title Y}...} fields → metadata, never body text
  // (TextExtractor.java:1142-1163 nextMetaData mapping)
  private val InfoMeta = Map(
    "author" -> "dc:creator", "title" -> "dc:title",
    "subject" -> "dc:subject", "keywords" -> "keywords",
    "category" -> "category", "comment" -> "comments",
    "doccomm" -> "comments", "company" -> "company",
    "manager" -> "manager", "operator" -> "last_author")

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => ()): Unit = {
    val s = new String(bytes, Cp1252)
    var i = 0
    val n = s.length
    var skipDepth = 0        // >0 while inside a skipped destination group
    var depth = 0
    var uc = 1               // \ucN: bytes to skip after \u
    var pendingSkip = 0
    var atGroupStart = false // true immediately after `{` (for \*)
    var infoDepth = -1       // depth of the enclosing {\info}
    var metaKey: String = null          // active info field
    var metaDepth = 0                   // group depth the field opened at
    var metaBuf: StringBuilder = null

    // --- embedded-object capture (objdata / pict) ---------------------
    var capKind: String = null          // "objdata" | "pict"
    var capDepth = 0                    // group depth the capture opened at
    var capBuf: java.io.ByteArrayOutputStream = null
    var capHi = -1                      // pending high hex nibble
    var objectDepth = -1                // depth of the enclosing {\object}
    var embCount = 0
    var thumbCount = 0

    def capHex(c: Char): Unit = {
      val v = Character.digit(c, 16)
      if (v >= 0) {
        if (capHi < 0) capHi = v
        else { capBuf.write((capHi << 4) | v); capHi = -1 }
      } // non-hex (whitespace) is ignored, like the reference
    }

    def startCapture(kind: String): Unit = {
      capKind = kind; capDepth = depth
      capBuf = new java.io.ByteArrayOutputStream(256); capHi = -1
      // the capture consumes this destination even when it was opened
      // as an optional `\*` group ({\*\objdata ...}); nested `\*` groups
      // inside the capture (e.g. {\*\blipuid <hex>}) set skipDepth anew
      // and their content stays out of the payload
      skipDepth = 0
    }

    def finishCapture(): Unit = {
      val data = capBuf.toByteArray
      val inObject = objectDepth >= 0
      capKind match {
        case "objdata" => RtfObjData.handle(data, meta, child, () => {
          val nm = s"embedded-$embCount"; embCount += 1; nm
        })
        case "pict" if data.length > 8 =>
          val ext = graft.ole2.OleEmbedded.extFor(data)
          val name =
            if (inObject) { val nm = s"thumbnail-$thumbCount$ext"; thumbCount += 1; nm }
            else { val nm = s"embedded-$embCount$ext"; embCount += 1; nm }
          try child(name, data) catch { case _: Exception => () }
        case _ => ()
      }
      capKind = null; capBuf = null
    }

    def emit(c: Char): Unit = {
      if (pendingSkip > 0) pendingSkip -= 1
      else if (skipDepth == 0) {
        if (metaKey != null) metaBuf.append(c)
        else if (infoDepth < 0) sink.chars(c.toString)
        // inside {\info} but outside a known field: dropped (the
        // reference never emits info content as body text)
      }
    }

    while (i < n) {
      val c = s.charAt(i)
      val wasGroupStart = atGroupStart
      atGroupStart = false
      c match {
        case '{' => depth += 1; if (skipDepth > 0) skipDepth += 1
          atGroupStart = true; i += 1
        case '}' =>
          depth -= 1
          if (capKind != null && depth < capDepth) finishCapture()
          if (objectDepth >= 0 && depth < objectDepth) objectDepth = -1
          if (metaKey != null && depth < metaDepth) {
            val v = metaBuf.toString.trim
            if (v.nonEmpty) meta.add(metaKey, v)
            metaKey = null; metaBuf = null
          }
          if (infoDepth >= 0 && depth < infoDepth) infoDepth = -1
          if (skipDepth > 0) skipDepth -= 1
          i += 1
        case '\\' =>
          if (i + 1 >= n) i = n
          else {
            val c1 = s.charAt(i + 1)
            if (c1 == '\'') { // \'hh
              if (i + 3 < n) {
                try {
                  val v = Integer.parseInt(s.substring(i + 2, i + 4), 16)
                  if (capKind != null) { if (skipDepth == 0) capBuf.write(v) }
                  else emit(v.toChar)
                } catch { case _: NumberFormatException => () }
                i += 4
              } else i = n
            } else if (c1 == '\\' || c1 == '{' || c1 == '}') { emit(c1); i += 2 }
            else if (c1 == '~') { emit(' '); i += 2 } // non-breaking space
            else if (c1 == '*') {
              // \* marks an optional destination ONLY as the first token
              // of a group ({\* ...}, TextExtractor.processGroupStart
              // :1464-1476); mid-group \* is a no-op control symbol
              // (processControlSymbol:808-812 — testRTFIgnoredControlWord).
              // The skip is lifted when the destination turns out to be
              // one we capture (objdata/pict).
              if (wasGroupStart && skipDepth == 0) skipDepth = 1
              i += 2
            } else if (Character.isLetter(c1)) {
              // control word
              var j = i + 1
              while (j < n && Character.isLetter(s.charAt(j))) j += 1
              val word = s.substring(i + 1, j)
              var param = ""
              if (j < n && (s.charAt(j) == '-' || Character.isDigit(s.charAt(j)))) {
                val pStart = j
                j += 1
                while (j < n && Character.isDigit(s.charAt(j))) j += 1
                param = s.substring(pStart, j)
              }
              if (j < n && s.charAt(j) == ' ') j += 1 // delimiter space consumed
              word match {
                case "objdata" => startCapture("objdata")
                case "pict" => startCapture("pict")
                case "object" => if (objectDepth < 0) objectDepth = depth
                case "bin" if capKind != null =>
                  // \binN: the next N characters are raw payload bytes
                  val len = math.max(0, param.toIntOption.getOrElse(0))
                  val end = math.min(n, j + len)
                  capBuf.write(s.substring(j, end).getBytes(Cp1252))
                  j = end
                case "par" | "line" | "row" =>
                  if (skipDepth == 0) {
                    if (metaKey != null) metaBuf.append(' ')
                    else if (infoDepth < 0) sink.newline()
                  }
                case "tab" | "cell" =>
                  if (skipDepth == 0) {
                    if (metaKey != null) metaBuf.append(' ')
                    else if (infoDepth < 0) sink.tab()
                  }
                case "uc" => uc = param.toIntOption.getOrElse(1)
                case "u" =>
                  if (skipDepth == 0) {
                    param.toIntOption.foreach { code =>
                      val ch = if (code < 0) (code + 65536).toChar else code.toChar
                      if (metaKey != null) metaBuf.append(ch)
                      else if (infoDepth < 0) sink.chars(ch.toString)
                    }
                    pendingSkip = uc
                  }
                case "info" => if (skipDepth == 0 && infoDepth < 0) infoDepth = depth
                case w if infoDepth >= 0 && skipDepth == 0 &&
                    metaKey == null && InfoMeta.contains(w) =>
                  metaKey = InfoMeta(w); metaDepth = depth
                  metaBuf = new StringBuilder
                case "emdash" => emit('—')
                case "endash" => emit('–')
                case "lquote" => emit('‘')
                case "rquote" => emit('’')
                case "ldblquote" => emit('“')
                case "rdblquote" => emit('”')
                case "bullet" => emit('•')
                case w if SkipDestinations.contains(w) =>
                  if (skipDepth == 0) skipDepth = 1
                case _ => () // formatting control word: no text
              }
              i = j
            } else i += 2 // unknown control symbol
          }
        case '\r' | '\n' => i += 1 // raw newlines are not content in RTF
        case other =>
          if (capKind != null) { if (skipDepth == 0) capHex(other) }
          else emit(other)
          i += 1
      }
    }
    if (capKind != null) finishCapture()
    sink.flushText()
  }

}

/** OLE 1.0 `\objdata` payload (RTFObjDataParser.java:86-137).
  * Layout: u32 OLEVersion, u32 formatId (2 = embedded, 1 = link),
  * three u32-length-prefixed ANSI strings (class, topic, item),
  * u32 dataSize, payload. Class `Package` wraps a packager record
  * (:229-281): u16, asciiz displayName, asciiz iconPath, u16BE
  * iconIndex, u16 type (3 = embedded), u32 pathLen, asciiz path,
  * u32 len + bytes, optional u32 len + UTF-16LE path.
  */
private object RtfObjData {

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  def handle(b: Array[Byte], meta: MetaSink,
      child: (String, Array[Byte]) => Unit, nextName: () => String): Unit = {
    try parse(b, meta, child, nextName) catch { case _: Exception => () }
  }

  private def parse(b: Array[Byte], meta: MetaSink,
      child: (String, Array[Byte]) => Unit, nextName: () => String): Unit = {
    val c = new Endian.Cursor(b)
    def lenAnsi(): String = {
      val len = c.le32()
      if (len < 0 || len > b.length - c.pos) throw new IllegalArgumentException("len")
      val s = new String(b, c.pos, len.toInt, Cp1252).takeWhile(_ != 0.toChar).trim
      c.pos += len.toInt; s
    }
    def bytesOf(len: Long): Array[Byte] = {
      if (len < 0 || len > b.length - c.pos) throw new IllegalArgumentException("sz")
      val r = java.util.Arrays.copyOfRange(b, c.pos, c.pos + len.toInt); c.pos += len.toInt; r
    }

    if (b.length < 8) return
    val version = c.le32()
    meta.add("rtf:emb_app_version", version.toString)
    val formatId = c.le32()
    if (formatId != 2L) return // 1 = linked object: nothing embedded
    val className = lenAnsi()
    val topicName = lenAnsi()
    val itemName = lenAnsi()
    if (className.nonEmpty) meta.add("rtf:emb_class", className)
    if (topicName.nonEmpty) meta.add("rtf:emb_topic", topicName)
    if (itemName.nonEmpty) meta.add("rtf:emb_item", itemName)
    val data = bytesOf(c.le32())

    val lower = className.toLowerCase(java.util.Locale.ROOT)
    if (lower == "package") handlePackage(data, meta, child, nextName)
    else {
      // raw bitmap (PBrush) or an OLE2 carrier; container recursion
      // re-detects and the CFB carrier path unwraps Package/Ole10Native
      val ext = detectExt(data)
      child(nextName() + ext, data)
    }
  }

  private def handlePackage(pkg: Array[Byte], meta: MetaSink,
      child: (String, Array[Byte]) => Unit, nextName: () => String): Unit = {
    val c = new Endian.Cursor(pkg)
    def asciiz(): String = {
      val start = c.pos
      while (c.pos < pkg.length && pkg(c.pos) != 0) c.pos += 1
      val s = new String(pkg, start, c.pos - start, Cp1252)
      c.pos += 1; s
    }
    if (pkg.length < 8) return
    c.pos += 2 // stream header
    val displayName = asciiz()
    asciiz() // icon file path
    c.be16()  // icon index
    val typ = c.le16()
    if (typ != 3) return // 1 = link
    c.le32() // file path length (redundant with the asciiz)
    val ansiPath = asciiz()
    val dataLen = c.le32()
    if (dataLen < 0 || dataLen > pkg.length - c.pos) return
    val data = java.util.Arrays.copyOfRange(pkg, c.pos, c.pos + dataLen.toInt)
    c.pos += dataLen.toInt
    // optional UTF-16LE long path after the payload
    var unicodePath = ""
    if (c.pos + 4 <= pkg.length) {
      val uLen = c.le32()
      if (uLen > 0 && uLen * 2 <= pkg.length - c.pos) {
        val sb = new StringBuilder
        var k = 0
        while (k < uLen) {
          sb.append(Endian.le16(pkg, c.pos + 2 * k).toChar)
          k += 1
        }
        unicodePath = sb.toString
      }
    }
    val fullPath =
      if (unicodePath.nonEmpty) unicodePath
      else if (displayName.nonEmpty) displayName else ansiPath
    meta.add("rtf:emb_original_path",
      if (unicodePath.nonEmpty) unicodePath else ansiPath)
    val name =
      if (fullPath.nonEmpty) graft.ole2.OleEmbedded.baseName(fullPath)
      else nextName() + detectExt(data)
    child(name, data)
  }

  private def detectExt(b: Array[Byte]): String = graft.ole2.OleEmbedded.extFor(b)
}
