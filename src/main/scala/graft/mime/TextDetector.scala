package graft.mime

/** text/plain vs binary sniff — control-byte histogram over the first 512
  * bytes, accepted when mostly-ASCII or UTF-8-shaped.
  *
  * Reference semantics: tika-core detect/TextDetector.java:51-141 +
  * detect/TextStatistics.java (histogram, isMostlyAscii, looksLikeUTF8).
  */
object TextDetector {
  val SniffBytes = 512

  def isText(data: Array[Byte]): Boolean = {
    if (data.isEmpty) return false
    val n = math.min(SniffBytes, data.length)
    val counts = new Array[Int](256)
    var i = 0
    while (i < n) { counts(data(i) & 0xff) += 1; i += 1 }
    mostlyAscii(counts, n) || looksLikeUTF8(counts, n)
  }

  /** TextStatistics.isMostlyAscii: no unsafe control chars, and printable
    * ASCII dominates (> 90% of non-whitespace).
    */
  private def mostlyAscii(c: Array[Int], n: Int): Boolean = {
    val control = countControl(c)
    var ascii = 0
    var i = 0x20
    while (i < 0x80) { ascii += c(i); i += 1 }
    val safeWs = c('\t') + c('\n') + c('\f') + c('\r') + c(0x1b)
    control == 0 && (ascii + safeWs) * 100 >= n * 90
  }

  /** TextStatistics.looksLikeUTF8: valid-ish UTF-8 continuation structure. */
  private def looksLikeUTF8(c: Array[Int], n: Int): Boolean = {
    val control = countControl(c)
    var utf8 = 0
    var i = 0x20
    while (i < 0x80) { utf8 += c(i); i += 1 }
    var expectedContinuation = 0
    val leading = Array(0, 0, 0)
    i = 0xc0
    while (i < 0xe0) { expectedContinuation += c(i); leading(0) += c(i); i += 1 }
    while (i < 0xf0) { expectedContinuation += 2 * c(i); leading(1) += c(i); i += 1 }
    while (i < 0xf8) { expectedContinuation += 3 * c(i); leading(2) += c(i); i += 1 }
    var continuation = 0
    i = 0x80
    while (i < 0xc0) { continuation += c(i); i += 1 }
    utf8 += leading(0) + leading(1) + leading(2) + continuation
    control == 0 &&
    continuation <= expectedContinuation &&
    expectedContinuation <= continuation + leading(0) + leading(1) + leading(2) &&
    utf8 * 100 >= n * 90
  }

  /** "Unsafe" control characters: C0 minus tab/newline/ff/cr/esc. */
  private def countControl(c: Array[Int]): Int = {
    var control = 0
    var i = 0
    while (i < 0x20) {
      if (i != '\t' && i != '\n' && i != '\f' && i != '\r' && i != 0x1b) control += c(i)
      i += 1
    }
    control + c(0x7f)
  }
}

/** Pull the first root element QName from an XML prefix to refine
  * application/xml → a more specific type.
  *
  * Reference: tika-core detect/XmlRootExtractor.java (111 LoC) and the
  * root-XML refinement step in mime/MimeTypes.java:253-289. Hand-rolled
  * scanner: skip BOM / XML decl / comments / PIs / doctype, read the first
  * start-tag name.
  */
object XmlRootExtractor {
  def rootElement(data: Array[Byte]): Option[String] = {
    val s = EncodingDetector.decodePrefix(data, 4096)
    var i = 0
    val n = s.length
    def skipWs(): Unit = while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
    while (i < n) {
      skipWs()
      if (i >= n || s.charAt(i) != '<') return None
      if (s.startsWith("<?", i)) {
        val e = s.indexOf("?>", i); if (e < 0) return None; i = e + 2
      } else if (s.startsWith("<!--", i)) {
        val e = s.indexOf("-->", i); if (e < 0) return None; i = e + 3
      } else if (s.startsWith("<!", i)) {
        val e = s.indexOf('>', i); if (e < 0) return None; i = e + 1
      } else {
        i += 1
        val start = i
        while (i < n && !Character.isWhitespace(s.charAt(i)) && s.charAt(i) != '>' &&
               s.charAt(i) != '/') i += 1
        if (i <= start) return None
        val qname = s.substring(start, i)
        // strip namespace prefix
        val local = qname.substring(qname.indexOf(':') + 1)
        return Some(local)
      }
    }
    None
  }
}

/** BOM + <meta charset> + XML-decl encoding detection, bounded scan.
  *
  * Reference chain: tika-core detect/BOMDetector.java:48,
  * detect/MetaEncodingDetector (html <meta charset>), wrapped by
  * CompositeEncodingDetector. We implement the subset the north rule
  * needs (HTML/XML/plain text).
  */
object EncodingDetector {
  import java.nio.charset.{Charset, StandardCharsets}

  /** (charset, bomLength) */
  def detectBom(data: Array[Byte]): Option[(Charset, Int)] = {
    if (data.length >= 3 && (data(0) & 0xff) == 0xef && (data(1) & 0xff) == 0xbb &&
        (data(2) & 0xff) == 0xbf) Some((StandardCharsets.UTF_8, 3))
    else if (data.length >= 2 && (data(0) & 0xff) == 0xfe && (data(1) & 0xff) == 0xff)
      Some((StandardCharsets.UTF_16BE, 2))
    else if (data.length >= 2 && (data(0) & 0xff) == 0xff && (data(1) & 0xff) == 0xfe)
      Some((StandardCharsets.UTF_16LE, 2))
    else None
  }

  private val MetaCharset =
    java.util.regex.Pattern.compile(
      """(?i)<meta[^>]*charset\s*=\s*["']?\s*([\w.:-]+)""")
  private val XmlDeclEncoding =
    java.util.regex.Pattern.compile("""(?i)<\?xml[^>]*encoding\s*=\s*["']([\w.:-]+)["']""")

  /** Full chain: BOM → meta/xml-decl declared charset → UTF-8 validity →
    * ISO-8859-1 fallback. Returns (charset, bomLen).
    */
  def detect(data: Array[Byte]): (Charset, Int) = {
    detectBom(data) match {
      case Some((cs, bom)) => (cs, bom)
      case None =>
        val asciiPrefix =
          new String(data, 0, math.min(data.length, 4096), StandardCharsets.ISO_8859_1)
        val m = MetaCharset.matcher(asciiPrefix)
        val x = XmlDeclEncoding.matcher(asciiPrefix)
        val declared =
          if (m.find()) Some(m.group(1))
          else if (x.find()) Some(x.group(1))
          else None
        declared.flatMap { name =>
          try Some(Charset.forName(name)) catch { case _: Exception => None }
        } match {
          case Some(cs) => (cs, 0)
          case None => (statistical(data), 0)
        }
    }
  }

  /** Statistical fallback when BOM and declared charset are both absent
    * (reference chain: detect/CompositeEncodingDetector.java over the
    * icu4j/universalchardet modules — this is the compact heuristic
    * subset):
    *  - valid UTF-8 multibyte structure → UTF-8;
    *  - NUL bytes concentrated on one parity → BOM-less UTF-16 (LE when
    *    the high bytes sit at odd offsets);
    *  - any C1 byte (0x80-0x9F: smart quotes, €, em-dash) → windows-1252,
    *    where those are printable — the browsers' latin-1 superset rule;
    *  - else ISO-8859-1.
    */
  def statistical(data: Array[Byte]): Charset = {
    // NUL-parity first: NUL is technically valid UTF-8, so BOM-less
    // UTF-16 would otherwise slip through the UTF-8 validity test
    val n = math.min(data.length, 8192)
    var nulEven, nulOdd, c1 = 0
    var i = 0
    while (i < n) {
      val b = data(i) & 0xff
      if (b == 0) { if ((i & 1) == 0) nulEven += 1 else nulOdd += 1 }
      else if (b >= 0x80 && b <= 0x9f) c1 += 1
      i += 1
    }
    val half = n / 2
    // the "other parity is (near) NUL-free" bound must allow 0 for short
    // inputs: half/10 is 0 below 20 bytes and `< 0` can never hold
    val parityBound = math.max(half / 10, 1)
    if (half > 4 && nulOdd > half * 2 / 5 && nulEven < parityBound)
      StandardCharsets.UTF_16LE
    else if (half > 4 && nulEven > half * 2 / 5 && nulOdd < parityBound)
      StandardCharsets.UTF_16BE
    // ISO-2022-JP rides on ESC sequences inside pure-ASCII bytes, so it
    // must be recognized BEFORE the UTF-8 validity shortcut
    else if (MbCharsets.looksIso2022Jp(data, n)) Charset.forName("ISO-2022-JP")
    else if (validUtf8(data)) StandardCharsets.UTF_8
    else MbCharsets.detect(data, n) match {
      case Some(cs) => cs
      case None =>
        if (c1 > 0) Charset.forName("windows-1252")
        else StandardCharsets.ISO_8859_1
    }
  }

  def decode(data: Array[Byte]): String = {
    val (cs, bom) = detect(data)
    new String(data, bom, data.length - bom, cs)
  }

  def decodePrefix(data: Array[Byte], maxBytes: Int): String = {
    val (cs, bom) = detect(data)
    val n = math.min(data.length, maxBytes)
    if (n <= bom) "" else new String(data, bom, n - bom, cs)
  }

  def validUtf8(data: Array[Byte]): Boolean = {
    var i = 0
    val n = data.length
    while (i < n) {
      val b = data(i) & 0xff
      val len =
        if (b < 0x80) 1
        else if (b >= 0xc2 && b < 0xe0) 2
        else if (b >= 0xe0 && b < 0xf0) 3
        else if (b >= 0xf0 && b < 0xf5) 4
        else return false
      if (i + len > n) return false
      var j = 1
      while (j < len) {
        if ((data(i + j) & 0xc0) != 0x80) return false
        j += 1
      }
      i += len
    }
    true
  }
}

/** East-Asian / Cyrillic legacy-charset recognition — the compact
  * equivalent of the reference's icu4j CharsetDetector recognizers
  * (tika-encoding-detectors; icu's CharsetRecog_mbcs/CharsetRecog_sbcs
  * algorithmic shape): per-charset structure validation plus a
  * frequency score against that language's most common characters.
  * The common-code sets are DERIVED at class load from the same public
  * per-language word lists that power language ID
  * ([[graft.ops.LangProfiles.CommonWords]]) encoded through the JDK's
  * own codecs, so no extra model data ships.
  */
object MbCharsets {
  import java.nio.charset.Charset

  private def codesOf(lang: String, charsetName: String): java.util.HashSet[Int] = {
    val set = new java.util.HashSet[Int]()
    val cs = Charset.forName(charsetName)
    graft.ops.LangProfiles.CommonWords(lang).foreach { w0 =>
      // profiles may carry decomposed text (Korean ships as conjoining
      // jamo); legacy charsets only encode precomposed forms
      val w = java.text.Normalizer.normalize(w0, java.text.Normalizer.Form.NFC)
      w.foreach { ch =>
        if (ch > 0x7f) {
          val b = String.valueOf(ch).getBytes(cs)
          if (b.length == 2)
            set.add(graft.core.Endian.be16(b, 0))
          else if (b.length == 1 && (b(0) & 0xff) > 0x7f)
            set.add(b(0) & 0xff)
        }
      }
    }
    set
  }

  private lazy val sjisCodes = codesOf("ja", "Shift_JIS")
  private lazy val eucJpCodes = codesOf("ja", "EUC-JP")
  private lazy val big5Codes = codesOf("zh", "Big5")
  private lazy val gbkCodes = codesOf("zh", "GBK")
  private lazy val koi8Codes = codesOf("ru", "KOI8-R")
  private lazy val cp1251Codes = codesOf("ru", "windows-1251")
  private lazy val cp866Codes = codesOf("ru", "IBM866")
  private lazy val eucKrCodes = codesOf("ko", "EUC-KR")

  def looksIso2022Jp(data: Array[Byte], n0: Int): Boolean = {
    val n = math.min(n0, data.length)
    var i = 0
    while (i + 2 < n) {
      if (data(i) == 0x1b && data(i + 1) == '$' &&
          (data(i + 2) == 'B' || data(i + 2) == '@')) return true
      i += 1
    }
    false
  }

  /** (units, invalid, hits) for one double-byte charset's structure. */
  private def scanMb(data: Array[Byte], n: Int, charset: String,
      codes: java.util.HashSet[Int]): (Int, Int, Int) = {
    var units, invalid, hits = 0
    var i = 0
    while (i < n) {
      val b = data(i) & 0xff
      if (b < 0x80) i += 1
      else charset match {
        case "sjis" =>
          if (b >= 0xa1 && b <= 0xdf) { units += 1; i += 1 } // half-width kana
          else if ((b >= 0x81 && b <= 0x9f) || (b >= 0xe0 && b <= 0xfc)) {
            if (i + 1 < n) {
              val t = data(i + 1) & 0xff
              if (t >= 0x40 && t <= 0xfc && t != 0x7f) {
                units += 1
                if (codes.contains((b << 8) | t)) hits += 1
              } else invalid += 1
              i += 2
            } else { invalid += 1; i += 1 }
          } else { invalid += 1; i += 1 }
        case "eucjp" =>
          if (b == 0x8e) { // half-width kana: 0x8E + A1-DF
            if (i + 1 < n && (data(i + 1) & 0xff) >= 0xa1 &&
                (data(i + 1) & 0xff) <= 0xdf) units += 1 else invalid += 1
            i += 2
          } else if (b >= 0xa1 && b <= 0xfe) {
            if (i + 1 < n) {
              val t = data(i + 1) & 0xff
              if (t >= 0xa1 && t <= 0xfe) {
                units += 1
                if (codes.contains((b << 8) | t)) hits += 1
              } else invalid += 1
              i += 2
            } else { invalid += 1; i += 1 }
          } else { invalid += 1; i += 1 }
        case "euckr" =>
          // KS X 1001 in EUC-KR: both bytes in A1-FE
          if (b >= 0xa1 && b <= 0xfe) {
            if (i + 1 < n) {
              val t = data(i + 1) & 0xff
              if (t >= 0xa1 && t <= 0xfe) {
                units += 1
                if (codes.contains((b << 8) | t)) hits += 1
              } else invalid += 1
              i += 2
            } else { invalid += 1; i += 1 }
          } else { invalid += 1; i += 1 }
        case "big5" =>
          if (b >= 0xa1 && b <= 0xf9) {
            if (i + 1 < n) {
              val t = data(i + 1) & 0xff
              if ((t >= 0x40 && t <= 0x7e) || (t >= 0xa1 && t <= 0xfe)) {
                units += 1
                if (codes.contains((b << 8) | t)) hits += 1
              } else invalid += 1
              i += 2
            } else { invalid += 1; i += 1 }
          } else { invalid += 1; i += 1 }
        case _ => // gbk
          if (b >= 0x81 && b <= 0xfe) {
            if (i + 1 < n) {
              val t = data(i + 1) & 0xff
              if (t >= 0x40 && t <= 0xfe && t != 0x7f) {
                units += 1
                if (codes.contains((b << 8) | t)) hits += 1
              } else invalid += 1
              i += 2
            } else { invalid += 1; i += 1 }
          } else { invalid += 1; i += 1 }
      }
    }
    (units, invalid, hits)
  }

  /** Statistical pick among SJIS/EUC-JP/Big5/GBK/EUC-KR/KOI8-R/cp1251/cp866 —
    * None when nothing scores convincingly (caller falls back to the
    * cp1252/latin-1 rules). Runs only on non-UTF-8 8-bit data.
    */
  def detect(data: Array[Byte], n0: Int): Option[Charset] = {
    val n = math.min(n0, data.length)
    val mb = Seq(
      ("Shift_JIS", scanMb(data, n, "sjis", sjisCodes)),
      ("EUC-JP", scanMb(data, n, "eucjp", eucJpCodes)),
      ("Big5", scanMb(data, n, "big5", big5Codes)),
      ("EUC-KR", scanMb(data, n, "euckr", eucKrCodes)),
      ("GBK", scanMb(data, n, "gbk", gbkCodes)))
    val best = mb.flatMap { case (name, (units, invalid, hits)) =>
      // structure must be near-clean and the common-char rate material:
      // icu's recognizers use the same two signals (doubleByteCharCount
      // + commonChar hits vs badCharCount)
      if (units >= 4 && invalid * 50 <= units && hits * 10 >= units)
        Some((name, hits.toDouble / units))
      else None
    }.sortBy(-_._2).headOption
    best match {
      case Some((name, _)) => Some(Charset.forName(name))
      case None =>
        // single-byte Cyrillic: score high bytes against the alphabets
        var hi, koi, c1251, c866 = 0
        var i = 0
        while (i < n) {
          val b = data(i) & 0xff
          if (b > 0x7f) {
            hi += 1
            if (koi8Codes.contains(b)) koi += 1
            if (cp1251Codes.contains(b)) c1251 += 1
            if (cp866Codes.contains(b)) c866 += 1
          }
          i += 1
        }
        if (hi >= 8 && koi * 5 >= hi * 4 && koi > c1251 && koi > c866)
          Some(Charset.forName("KOI8-R"))
        else if (hi >= 8 && c1251 * 5 >= hi * 4 && c1251 > koi && c1251 >= c866)
          Some(Charset.forName("windows-1251"))
        else if (hi >= 8 && c866 * 5 >= hi * 4 && c866 > koi && c866 > c1251)
          Some(Charset.forName("IBM866")) // DOS Cyrillic (cp866)
        else None
    }
  }
}
