package graft.media

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{le16, le32, leInt}

/** Windows metafile (EMF / WMF) text extraction.
  *
  * Reference semantics (apache/tika, tika-parser-microsoft-module):
  *  - EMF: `microsoft/EMFParser.java:104-183` — walk EMR records in
  *    storage order; EMR_EXTTEXTOUTW/A text runs are merged into lines
  *    (a y-change flushes the paragraph, an x-gap wider than a 10-unit
  *    fudge factor inserts one space, EMFParser.java:155-170); records
  *    whose Bounds are all zero fall back to the EmrText rectangle
  *    (TIKA-4432, EMFParser.java:178-204); EMR_COMMENT carries the
  *    IconOnly marker + display string (→ `emf:icon-only`/
  *    `emf:icon-string`), embedded WMF data, and multiformats payloads
  *    that become embedded documents (EMFParser.java:206-253).
  *  - WMF: `microsoft/WMFParser.java:59-110` — one paragraph per
  *    META_EXTTEXTOUT / META_TEXTOUT record, decoded with the charset
  *    of the last META_CREATEFONTINDIRECT font (LOGFONT CharSet byte;
  *    the Shift-JIS fixture depends on this).
  *
  * Record layouts re-expressed from the public MS-EMF/MS-WMF specs.
  */
object MetafileExtractor {

  // ---------------------------------------------------------------- EMF

  private val EmrExtTextOutA = 83
  private val EmrExtTextOutW = 84
  private val EmrComment = 70

  def emf(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit): Unit = {
    // header record must lead: type 1 (EMR_HEADER), " EMF" sig at 40
    if (bytes.length < 48 || leInt(bytes, 0) != 1) return
    var p = 0
    val buffer = new StringBuilder
    // lastRect = (minX, minY, maxX); y < 0 marks unset
    var lastMinX = -1.0; var lastMinY = -1.0; var lastMaxX = -1.0
    var hitIconOnly = false
    var lastWasIconOnly = false
    var iconOnlyString: String = null
    var children = 0
    var records = 0

    def flush(): Unit = if (buffer.nonEmpty) {
      sink.chars(buffer.toString); sink.newline(); buffer.setLength(0)
    }

    while (p + 8 <= bytes.length && records < 500000) {
      records += 1
      val recType = leInt(bytes, p)
      val size = leInt(bytes, p + 4)
      if (size < 8 || size % 4 != 0 || p + size > bytes.length ||
          recType < 1 || recType > 125) {
        p = bytes.length // malformed tail: keep what we have
      } else {
        var isIconOnly = false
        recType match {
          case EmrExtTextOutW | EmrExtTextOutA if size >= 76 =>
            val wide = recType == EmrExtTextOutW
            // Bounds, else the EmrText rectangle when Bounds is 0,0,0,0
            var l = leInt(bytes, p + 8); var t = leInt(bytes, p + 12)
            var r = leInt(bytes, p + 16); var b = leInt(bytes, p + 20)
            if (l == 0 && t == 0 && r == 0 && b == 0) {
              l = leInt(bytes, p + 56); t = leInt(bytes, p + 60)
              r = leInt(bytes, p + 64); b = leInt(bytes, p + 68)
            }
            val minX = math.min(l, r).toDouble
            val minY = math.min(t, b).toDouble
            val maxX = math.max(l, r).toDouble
            // Long math: nChars/offString are attacker-controlled u32s
            // and must not wrap the bounds checks
            val nChars = le32(bytes, p + 44)
            val offString = le32(bytes, p + 48)
            val byteLen = if (wide) nChars * 2 else nChars
            if (nChars > 0 && byteLen <= 4L * 1024 * 1024 &&
                p + offString + byteLen <= bytes.length) {
              val txt = new String(bytes, (p + offString).toInt, byteLen.toInt,
                if (wide) java.nio.charset.StandardCharsets.UTF_16LE
                else java.nio.charset.StandardCharsets.UTF_8)
              if (lastMinY > -1 && math.abs(lastMinY - minY) > 0.0001) flush()
              else if (lastMinX > -1 && math.abs(minX - lastMaxX) > 10.0)
                buffer.append(' ')
              buffer.append(txt)
              lastMinX = minX; lastMinY = minY; lastMaxX = maxX
            }
          case EmrComment if size >= 16 =>
            val dataSize = leInt(bytes, p + 8)
            val dataOff = p + 12
            val avail = math.min(dataSize, bytes.length - dataOff)
            if (avail >= 4 && bytes(dataOff) == 'G' && bytes(dataOff + 1) == 'D' &&
                bytes(dataOff + 2) == 'I' && bytes(dataOff + 3) == 'C') {
              val pubId = le32(bytes, dataOff + 4)
              if (pubId == 0x80000001L) {
                // EMR_COMMENT_WINDOWS_METAFILE: locate the WMF payload by
                // its own magic inside the comment data
                val wmfStart = (dataOff + 8 until dataOff + avail - 4).find { i =>
                  (bytes(i) == 0xd7.toByte && bytes(i + 1) == 0xcd.toByte &&
                   bytes(i + 2) == 0xc6.toByte && bytes(i + 3) == 0x9a.toByte) ||
                  (bytes(i) == 1 && bytes(i + 1) == 0 && bytes(i + 2) == 9 &&
                   bytes(i + 3) == 0)
                }
                wmfStart.foreach { s =>
                  children += 1
                  child(s"comment-$children.wmf",
                    java.util.Arrays.copyOfRange(bytes, s, dataOff + avail))
                }
              } else if (pubId == 0x40000004L && avail >= 28) {
                // EMR_COMMENT_MULTIFORMATS: CountFormats EmrFormat entries
                // {Signature, Version, SizeData, offData(from GDIC)}
                val count = leInt(bytes, dataOff + 24)
                var i = 0
                var fp = dataOff + 28
                while (i < math.min(count, 64) && fp + 16 <= dataOff + avail) {
                  val sizeData = le32(bytes, fp + 8)
                  val offData = le32(bytes, fp + 12)
                  if (sizeData > 0 && offData + sizeData <= avail.toLong) {
                    children += 1
                    child(s"comment-$children",
                      java.util.Arrays.copyOfRange(bytes,
                        (dataOff + offData).toInt,
                        (dataOff + offData + sizeData).toInt))
                  }
                  i += 1; fp += 16
                }
              }
            } else if (avail >= 2) {
              // private comment data: UTF-16LE 0-terminated probe drives
              // the IconOnly → icon-string state machine
              val s = readUnicodeLE0(bytes, dataOff, avail)
              if (s == "IconOnly" && !hitIconOnly) {
                hitIconOnly = true; isIconOnly = true
              } else if (lastWasIconOnly && iconOnlyString == null && s != null) {
                iconOnlyString = s
              }
            }
          case _ => ()
        }
        lastWasIconOnly = isIconOnly
        p += size
      }
    }
    flush()
    if (iconOnlyString != null) {
      meta.set("emf:icon-only", "true")
      meta.set("emf:icon-string", iconOnlyString)
    }
  }

  /** Null-terminated UTF-16LE read (EMFParser.tryToReadAsString). */
  private def readUnicodeLE0(b: Array[Byte], off: Int, avail: Int): String = {
    val maxChars = (avail - 2) / 2
    if (maxChars <= 0) return null
    val sb = new StringBuilder
    var i = 0
    while (i < maxChars) {
      val c = le16(b, off + 2 * i).toChar
      if (c == '\u0000') return sb.toString
      sb.append(c)
      i += 1
    }
    sb.toString
  }

  // ---------------------------------------------------------------- WMF

  private val MetaExtTextOut = 0x0a32
  private val MetaTextOut = 0x0521
  private val MetaCreateFontIndirect = 0x02fb

  def wmf(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    var p = 0
    // placeable header (Aldus): 22 bytes before META_HEADER
    if (bytes.length >= 22 && bytes(0) == 0xd7.toByte && bytes(1) == 0xcd.toByte &&
        bytes(2) == 0xc6.toByte && bytes(3) == 0x9a.toByte) p = 22
    if (p + 18 > bytes.length) return
    val headerWords = le16(bytes, p + 2)
    p += headerWords * 2 // normally 9 words = 18 bytes
    var charset: java.nio.charset.Charset = ansi(0)
    var records = 0
    while (p + 6 <= bytes.length && records < 500000) {
      records += 1
      val sizeWords = le32(bytes, p)
      val fn = le16(bytes, p + 4)
      val sizeBytes = sizeWords * 2
      if (fn == 0 || sizeWords < 3 || p + sizeBytes > bytes.length) {
        p = bytes.length
      } else {
        val params = p + 6
        fn match {
          case MetaCreateFontIndirect if sizeBytes >= 6 + 14 =>
            charset = ansi(bytes(params + 13) & 0xff)
          case MetaExtTextOut if sizeBytes >= 6 + 8 =>
            val n = le16(bytes, params + 4)
            val opts = le16(bytes, params + 6)
            // ETO_OPAQUE / ETO_CLIPPED add an 8-byte rectangle
            val strOff = params + 8 + (if ((opts & 0x0006) != 0) 8 else 0)
            if (n > 0 && strOff + n <= p + sizeBytes.toInt) {
              sink.chars(new String(bytes, strOff, n, charset)); sink.newline()
            }
          case MetaTextOut if sizeBytes >= 6 + 2 =>
            val n = le16(bytes, params)
            if (n > 0 && params + 2 + n <= p + sizeBytes.toInt) {
              sink.chars(new String(bytes, params + 2, n, charset)); sink.newline()
            }
          case _ => ()
        }
        p += sizeBytes.toInt
      }
    }
  }

  /** LOGFONT CharSet byte → Java charset (POI HwmfFont/FontCharset). */
  private def ansi(cs: Int): java.nio.charset.Charset = {
    val name = cs match {
      case 128 => "Shift_JIS"      // SHIFTJIS_CHARSET
      case 129 => "x-windows-949"  // HANGUL_CHARSET
      case 130 => "x-Johab"        // JOHAB_CHARSET
      case 134 => "GBK"            // GB2312_CHARSET
      case 136 => "Big5"           // CHINESEBIG5_CHARSET
      case 161 => "windows-1253"   // GREEK_CHARSET
      case 162 => "windows-1254"   // TURKISH_CHARSET
      case 163 => "windows-1258"   // VIETNAMESE_CHARSET
      case 177 => "windows-1255"   // HEBREW_CHARSET
      case 178 => "windows-1256"   // ARABIC_CHARSET
      case 186 => "windows-1257"   // BALTIC_CHARSET
      case 204 => "windows-1251"   // RUSSIAN_CHARSET
      case 222 => "x-windows-874"  // THAI_CHARSET
      case 238 => "windows-1250"   // EASTEUROPE_CHARSET
      case 255 => "IBM437"         // OEM_CHARSET
      case _ => "windows-1252"     // ANSI/DEFAULT/SYMBOL
    }
    try java.nio.charset.Charset.forName(name)
    catch { case _: Exception =>
      java.nio.charset.Charset.forName("windows-1252") }
  }
}
