package graft.pdf

import graft.core.OutBuf
import scala.collection.mutable.ArrayBuffer

/** PDF object model + lexer, from scratch on the JDK.
  *
  * Scope per SURVEY.md §2.5 / §7: xref tables + object scan fallback,
  * FlateDecode, dictionaries/arrays/strings/names/refs, page tree walk.
  * Reference behavior being re-expressed: tika-parsers .../pdf/
  * PDFParser.java:164-251 (xref/incremental-update scan :299-349) — the
  * heavy lifting there is PDFBox; this is our own minimal equivalent.
  */
sealed trait PdfObj
case object PNull extends PdfObj
final case class PBool(v: Boolean) extends PdfObj
final case class PNum(v: Double) extends PdfObj { def toInt: Int = v.toInt }
final case class PStr(bytes: Array[Byte]) extends PdfObj
final case class PName(name: String) extends PdfObj
final case class PArr(items: Vector[PdfObj]) extends PdfObj
final case class PDict(entries: Map[String, PdfObj]) extends PdfObj {
  def get(key: String): Option[PdfObj] = entries.get(key)
}
final case class PRef(num: Int, gen: Int) extends PdfObj
final case class PStream(dict: PDict, raw: Array[Byte]) extends PdfObj

final class PdfParseException(msg: String) extends Exception(msg)

/** Byte-level lexer/parser for the PDF COS syntax. */
final class PdfLexer(data: Array[Byte]) {
  var pos = 0
  def length: Int = data.length

  /** Container-nesting depth guard: malicious '[[[[…' payloads would
    * otherwise drive parseArray/parseObject recursion into a
    * StackOverflowError, which is an Error and escapes the engine's
    * per-document exception handling.
    */
  private var depth = 0
  private val MaxDepth = 64
  private def enter(): Unit = {
    depth += 1
    if (depth > MaxDepth) throw new PdfParseException(s"nesting deeper than $MaxDepth")
  }
  private def leave(): Unit = depth -= 1

  @inline def peek: Int = if (pos < data.length) data(pos) & 0xff else -1
  @inline def at(i: Int): Int = if (i < data.length && i >= 0) data(i) & 0xff else -1

  def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
    c == '{' || c == '}' || c == '/' || c == '%'

  def skipWs(): Unit = {
    var going = true
    while (going) {
      while (pos < data.length && isWs(peek)) pos += 1
      if (peek == '%') { // comment to EOL
        while (pos < data.length && peek != '\n' && peek != '\r') pos += 1
      } else going = false
    }
  }

  def startsWith(s: String): Boolean = {
    if (pos + s.length > data.length) return false
    var i = 0
    while (i < s.length) {
      if ((data(pos + i) & 0xff) != s.charAt(i)) return false
      i += 1
    }
    true
  }

  def expect(s: String): Unit = {
    if (!startsWith(s)) throw new PdfParseException(s"expected '$s' at $pos")
    pos += s.length
  }

  def readToken(): String = {
    skipWs()
    val b = new StringBuilder
    while (pos < data.length && !isWs(peek) && !isDelim(peek)) {
      b.append(peek.toChar); pos += 1
    }
    b.toString
  }

  /** Parse one object at current position (after skipWs). */
  def parseObject(): PdfObj = {
    skipWs()
    peek match {
      case '/' => parseName()
      case '(' => parseLiteralString()
      case '[' => parseArray()
      case '<' =>
        if (at(pos + 1) == '<') parseDictOrStream() else parseHexString()
      case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
        parseNumberOrRef()
      case 't' | 'f' =>
        val t = readToken()
        if (t == "true") PBool(true)
        else if (t == "false") PBool(false)
        else throw new PdfParseException(s"bad token '$t' at $pos")
      case 'n' =>
        val t = readToken()
        if (t == "null") PNull else throw new PdfParseException(s"bad token '$t' at $pos")
      case c => throw new PdfParseException(s"unexpected byte $c at $pos")
    }
  }

  def parseName(): PName = {
    expect("/")
    val b = new StringBuilder
    while (pos < data.length && !isWs(peek) && !isDelim(peek)) {
      if (peek == '#' && pos + 2 < data.length) {
        val hex = "" + at(pos + 1).toChar + at(pos + 2).toChar
        try { b.append(Integer.parseInt(hex, 16).toChar); pos += 3 }
        catch { case _: NumberFormatException => b.append(peek.toChar); pos += 1 }
      } else { b.append(peek.toChar); pos += 1 }
    }
    PName(b.toString)
  }

  def parseLiteralString(): PStr = {
    expect("(")
    val out = new java.io.ByteArrayOutputStream()
    var depth = 1
    while (pos < data.length && depth > 0) {
      val c = peek
      if (c == '\\') {
        pos += 1
        val e = peek
        e match {
          case 'n' => out.write('\n'); pos += 1
          case 'r' => out.write('\r'); pos += 1
          case 't' => out.write('\t'); pos += 1
          case 'b' => out.write('\b'); pos += 1
          case 'f' => out.write('\f'); pos += 1
          case '(' => out.write('('); pos += 1
          case ')' => out.write(')'); pos += 1
          case '\\' => out.write('\\'); pos += 1
          case '\r' => pos += 1; if (peek == '\n') pos += 1 // line continuation
          case '\n' => pos += 1
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0
            while (k < 3 && peek >= '0' && peek <= '7') { v = v * 8 + (peek - '0'); pos += 1; k += 1 }
            out.write(v & 0xff)
          case _ => out.write(e); pos += 1
        }
      } else if (c == '(') { depth += 1; out.write(c); pos += 1 }
      else if (c == ')') { depth -= 1; if (depth > 0) out.write(c); pos += 1 }
      else { out.write(c); pos += 1 }
    }
    PStr(out.toByteArray)
  }

  def parseHexString(): PStr = {
    expect("<")
    val out = new java.io.ByteArrayOutputStream()
    var hi = -1
    while (pos < data.length && peek != '>') {
      val c = peek
      val v = Character.digit(c, 16)
      if (v >= 0) {
        if (hi < 0) hi = v else { out.write(hi * 16 + v); hi = -1 }
      }
      pos += 1
    }
    if (hi >= 0) out.write(hi * 16)
    if (peek == '>') pos += 1
    PStr(out.toByteArray)
  }

  def parseArray(): PArr = {
    expect("[")
    enter()
    val items = new ArrayBuffer[PdfObj]()
    skipWs()
    while (pos < data.length && peek != ']') {
      items += parseObject()
      skipWs()
    }
    if (peek == ']') pos += 1
    leave()
    PArr(items.toVector)
  }

  def parseDictOrStream(): PdfObj = {
    expect("<<")
    enter()
    val entries = scala.collection.mutable.LinkedHashMap[String, PdfObj]()
    skipWs()
    while (pos < data.length && !startsWith(">>")) {
      val key = parseName().name
      val value = parseObject()
      entries(key) = value
      skipWs()
    }
    expect(">>")
    leave()
    val dict = PDict(entries.toMap)
    // stream keyword?
    val save = pos
    skipWs()
    if (startsWith("stream")) {
      pos += "stream".length
      if (peek == '\r') pos += 1
      if (peek == '\n') pos += 1
      // length may be an indirect ref — resolved by the caller (PdfDoc);
      // here we locate 'endstream' if Length is inline, else scan.
      dict.get("Length") match {
        case Some(PNum(len)) =>
          val n = len.toInt
          val raw = java.util.Arrays.copyOfRange(data, pos, math.min(pos + n, data.length))
          pos = math.min(pos + n, data.length)
          skipWs()
          if (startsWith("endstream")) pos += "endstream".length
          else { // Length lied: rescan
            val idx = indexOf("endstream", save)
            if (idx >= 0) pos = idx + "endstream".length
          }
          PStream(dict, raw)
        case _ =>
          val idx = indexOf("endstream", pos)
          if (idx < 0) throw new PdfParseException("unterminated stream")
          var end = idx
          // strip the EOL that precedes endstream
          if (end > pos && at(end - 1) == '\n') end -= 1
          if (end > pos && at(end - 1) == '\r') end -= 1
          val raw = java.util.Arrays.copyOfRange(data, pos, end)
          pos = idx + "endstream".length
          PStream(dict, raw)
      }
    } else {
      pos = save
      dict
    }
  }

  def parseNumberOrRef(): PdfObj = {
    val n1 = readNumber()
    if (n1.isWhole && n1 >= 0) {
      val save = pos
      skipWs()
      if (peek >= '0' && peek <= '9') {
        val genStart = pos
        val n2 = readNumber()
        skipWs()
        if (peek == 'R' && (isWs(at(pos + 1)) || isDelim(at(pos + 1)) || at(pos + 1) == -1)) {
          pos += 1
          return PRef(n1.toInt, n2.toInt)
        }
        pos = genStart // not a ref: rewind the second number
        return PNum(n1)
      }
      pos = save
    }
    PNum(n1)
  }

  def readNumber(): Double = {
    skipWs()
    val b = new StringBuilder
    if (peek == '+' || peek == '-') { b.append(peek.toChar); pos += 1 }
    while (pos < data.length && ((peek >= '0' && peek <= '9') || peek == '.')) {
      b.append(peek.toChar); pos += 1
    }
    if (b.isEmpty || b.toString == "-" || b.toString == "+")
      throw new PdfParseException(s"bad number at $pos")
    b.toString.toDouble
  }

  def indexOf(s: String, from: Int): Int = {
    var i = math.max(from, 0)
    val n = data.length - s.length
    while (i <= n) {
      var j = 0
      var ok = true
      while (ok && j < s.length) {
        if ((data(i + j) & 0xff) != s.charAt(j)) ok = false
        j += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }

  def lastIndexOf(s: String): Int = {
    var i = data.length - s.length
    while (i >= 0) {
      var j = 0
      var ok = true
      while (ok && j < s.length) {
        if ((data(i + j) & 0xff) != s.charAt(j)) ok = false
        j += 1
      }
      if (ok) return i
      i -= 1
    }
    -1
  }
}

/** A parsed PDF document: object table + page list. `password` is the
  * PasswordProvider analog (PDFParser.java:176-198 passes the provider's
  * password, or "" without one, to PDFBox): tried as the user password
  * and then as the owner password after the default empty attempt.
  */
final class PdfDoc(data: Array[Byte], password: Option[String] = None) {
  private val objects = scala.collection.mutable.Map[Int, PdfObj]()
  private val gens = scala.collection.mutable.Map[Int, Int]()
  private var trailer: PDict = PDict(Map.empty)
  /** True when the doc was encrypted and opened with the empty password. */
  var wasDecrypted: Boolean = false
  // declared BEFORE the constructor statements below: class-body vals
  // initialize in order, and expandObjectStreams() inflates at
  // construction time — a later declaration would still read 0 here
  private val ZipBudget = 64 * 1024 * 1024
  parseAll()
  decryptIfNeeded()
  // after decryption: ObjStm payloads are stream-encrypted as a whole,
  // member strings carry no per-object encryption of their own (§7.5.7)
  expandObjectStreams()
  resolveTrailerFallback()

  /** Scan-based object table build: robust to broken xref (the reference
    * also rescans for incremental updates, PDFParser.java:299-349). We
    * locate every `N G obj` header and parse the object there.
    */
  private def lastIndexOfBefore(d: Array[Byte], s: String, before: Int): Int = {
    var i = math.min(before, d.length) - s.length
    while (i >= 0) {
      var j = 0
      var ok = true
      while (ok && j < s.length) {
        if ((d(i + j) & 0xff) != s.charAt(j)) ok = false
        j += 1
      }
      if (ok) return i
      i -= 1
    }
    -1
  }

  private def parseAll(): Unit = {
    val lex = new PdfLexer(data)
    var i = 0
    while (i >= 0 && i < data.length) {
      val idx = lex.indexOf(" obj", i)
      if (idx < 0) i = -1
      else {
        // backtrack over "N G" before " obj"
        var j = idx - 1
        while (j >= 0 && (data(j) & 0xff) >= '0' && (data(j) & 0xff) <= '9') j -= 1
        while (j >= 0 && lex.isWs(data(j) & 0xff)) j -= 1
        while (j >= 0 && (data(j) & 0xff) >= '0' && (data(j) & 0xff) <= '9') j -= 1
        val headerStart = j + 1
        val header = new String(data, headerStart, idx - headerStart,
          java.nio.charset.StandardCharsets.ISO_8859_1).trim.split("\\s+")
        var next = idx + 4
        if (header.length == 2 && header(0).nonEmpty && header(0).forall(_.isDigit)) {
          val num = header(0).toInt
          val l2 = new PdfLexer(data)
          l2.pos = idx + 4
          try {
            val obj = l2.parseObject()
            // later objects (incremental updates) override earlier ones
            objects(num) = obj
            gens(num) = if (header(1).forall(_.isDigit)) header(1).toInt else 0
            // resume the scan AFTER this object so ' obj'-shaped byte
            // runs inside its (compressed) stream payload cannot be
            // mistaken for real object headers
            next = math.max(next, l2.pos)
          } catch { case _: Exception => () }
        }
        i = next
      }
    }
    // trailer dicts: walk occurrences from the last backwards, MERGING
    // entries (newest wins). Linearized / incrementally-updated files
    // split the keys across several trailers — the final one may carry
    // only /Size /Prev /ID while /Root lives in an earlier section.
    var searchEnd = data.length
    var done = false
    while (!done) {
      val t = lastIndexOfBefore(data, "trailer", searchEnd)
      if (t < 0) done = true
      else {
        val l2 = new PdfLexer(data)
        l2.pos = t + "trailer".length
        try {
          l2.parseObject() match {
            case d: PDict =>
              trailer = PDict(d.entries ++ trailer.entries) // existing wins
              if (trailer.get("Root").isDefined) done = true
              else searchEnd = t
            case _ => searchEnd = t
          }
        } catch { case _: Exception => searchEnd = t }
      }
    }
  }

  /** xref-stream PDFs without a classic `trailer` keyword: find the
    * catalog by type scan — runs AFTER ObjStm expansion so a catalog
    * living inside a compressed object stream is still found.
    */
  private def resolveTrailerFallback(): Unit = {
    // trigger whenever /Root is missing, not only on a fully absent
    // trailer — a merged trailer chain can still lack the catalog ref
    if (trailer.get("Root").isEmpty) {
      objects.collectFirst {
        case (num, d: PDict) if d.get("Type").contains(PName("Catalog")) =>
          trailer = PDict(trailer.entries + ("Root" -> PRef(num, 0)))
      }
    }
  }

  /** Compressed object streams (/Type /ObjStm, PDF 32000-1:2008 §7.5.7):
    * decoded payload = N (objnum, offset) integer pairs then the objects
    * themselves from /First. The reference reads these through PDFBox's
    * xref-stream machinery; our scan finds the ObjStm containers and
    * expands their members. Direct objects win over stream members (a
    * direct object in a later incremental update supersedes).
    */
  private def expandObjectStreams(): Unit = {
    val streams = objects.collect {
      case (_, s @ PStream(d, _)) if d.get("Type").contains(PName("ObjStm")) => s
    }.toVector
    streams.foreach { s =>
      try {
        val data = decodeStream(s)
        val n = resolve(s.dict.get("N").getOrElse(PNull)) match {
          case PNum(v) => v.toInt; case _ => 0
        }
        val first = resolve(s.dict.get("First").getOrElse(PNull)) match {
          case PNum(v) => v.toInt; case _ => 0
        }
        if (n > 0 && first > 0 && first <= data.length) {
          val header = new PdfLexer(data)
          val pairs = (0 until n).flatMap { _ =>
            val numTok = header.readToken()
            val offTok = header.readToken()
            (numTok.toIntOption, offTok.toIntOption) match {
              case (Some(num), Some(off)) => Some((num, off))
              case _ => None
            }
          }
          pairs.foreach { case (num, off) =>
            if (!objects.contains(num) && first + off < data.length) {
              val lex = new PdfLexer(data)
              lex.pos = first + off
              try {
                objects(num) = lex.parseObject()
                gens(num) = 0
              } catch { case _: Exception => () }
            }
          }
        }
      } catch { case _: Exception => () }
    }
  }

  /** Standard-security-handler decrypt with the empty user password —
    * the reference's default attempt (PDFParser.java:176-188). RC4
    * /V 1-2, /R 2-3; AES and non-Standard filters raise (the document
    * fails as a recorded parse exception, not a crash). All strings and
    * stream payloads are rewritten in place with their per-object keys,
    * so every downstream reader (Info, content, embedded files) sees
    * plaintext.
    */
  private def decryptIfNeeded(): Unit = {
    // Classic PDFs carry /Encrypt in the `trailer` dict; xref-stream
    // PDFs (PDF 1.5+, no trailer keyword — the common modern layout)
    // carry it in the /Type /XRef stream dict. Mirror the
    // resolveTrailerFallback catalog scan: adopt the xref dict's
    // trailer-equivalent entries (/ID is required for key derivation,
    // /Root for the catalog) so such files take the decrypt path instead
    // of failing downstream with misleading inflate errors.
    val encRef = trailer.get("Encrypt").orElse {
      objects.values.collectFirst {
        case PStream(d, _) if d.get("Type").contains(PName("XRef")) &&
            d.get("Encrypt").isDefined =>
          trailer = PDict(d.entries.filter { case (k, _) =>
            k == "Encrypt" || k == "ID" || k == "Root" || k == "Info"
          } ++ trailer.entries)
          d.get("Encrypt").get
      }
    }.getOrElse(return)
    val encNum = encRef match { case PRef(n, _) => n; case _ => -1 }
    val enc = dict(encRef).getOrElse(return)
    def name(k: String) = resolve(enc.get(k).getOrElse(PNull)) match {
      case PName(n) => n; case _ => ""
    }
    def num(k: String, dflt: Int) = resolve(enc.get(k).getOrElse(PNull)) match {
      case PNum(n) => n.toLong; case _ => dflt.toLong
    }
    def str(k: String) = resolve(enc.get(k).getOrElse(PNull)) match {
      case PStr(b) => b; case _ => Array.emptyByteArray
    }
    if (name("Filter") != "Standard")
      throw new PdfParseException(s"unsupported encryption filter ${name("Filter")}")
    val v = num("V", 0).toInt
    val r = num("R", 2).toInt
    // /V 4-5 delegate to a crypt filter: AESV2 (AES-128-CBC) and AESV3
    // (AES-256, the R5/R6 SHA-2 handler, ISO 32000-2 §7.6.4) are
    // supported; V2-in-CF degenerates to RC4.
    val cfm: String =
      if (v != 4 && v != 5) ""
      else (for {
        cf <- dict(enc.get("CF").getOrElse(PNull))
        std <- dict(cf.get("StdCF").getOrElse(PNull))
      } yield std.get("CFM").map(resolve) match {
        case Some(PName(n)) => n
        case _ => ""
      }).getOrElse("")
    val aes256 = v == 5 && cfm == "AESV3" && (r == 5 || r == 6)
    val aes = cfm == "AESV2" || aes256
    if (!(v == 1 || v == 2 || (v == 4 && (aes || cfm == "V2")) || aes256))
      throw new PdfParseException(s"unsupported encryption V=$v R=$r CFM=$cfm")
    // /Length defaults to 40 bits (PDF 32000-1 §7.6.1, table 20); only
    // /V 4 crypt-filter dictionaries conventionally default to 128.
    val keyLen =
      if (v == 1) 5
      else (num("Length", if (v == 4) 128 else 40) / 8).toInt
    val id0 = resolve(trailer.get("ID").getOrElse(PNull)) match {
      case PArr(items) => resolve(items.head) match {
        case PStr(b) => b; case _ => Array.emptyByteArray
      }
      case _ => Array.emptyByteArray
    }
    val o = str("O"); val u = str("U"); val p = num("P", -1)
    // password attempt order mirrors PDFBox's StandardSecurityHandler:
    // supplied-as-user, supplied-as-owner, then the default empty user
    // password (the reference's no-provider behavior). R≤4 passwords
    // are PDFDocEncoding — latin-1 bytes cover the printable subset —
    // R5/R6 take UTF-8 (SASLprep omitted; ASCII passwords unaffected).
    // A supplied non-empty password that matches neither /U nor /O is a
    // hard failure even when the empty password would have worked — the
    // reference throws EncryptedDocumentException for a wrong password
    // on a default-password PDF (PDFParserTest.testProtectedPDF).
    val supplied = password.filter(_.nonEmpty)
    val fileKey: Array[Byte] =
      if (aes256) supplied match {
        case Some(s) =>
          val pw = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (PdfCrypto.userPasswordWorksR6(u, r, pw))
            PdfCrypto.fileKeyR6(u, str("UE"), r, pw)
          else if (PdfCrypto.ownerPasswordWorksR6(o, u, r, pw))
            PdfCrypto.fileKeyR6Owner(o, u, str("OE"), r, pw)
          else throw new PdfParseException("wrong password")
        case None =>
          if (!PdfCrypto.emptyPasswordWorksR6(u, r))
            throw new PdfParseException("encrypted with a non-empty password")
          PdfCrypto.fileKeyR6(u, str("UE"), r)
      } else supplied match {
        case Some(s) =>
          val pw = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          if (PdfCrypto.userPasswordWorks(o, u, p, id0, r, keyLen, pw))
            PdfCrypto.fileKey(o, p, id0, r, keyLen, pw)
          else {
            val rec = PdfCrypto.ownerToUser(o, r, keyLen, pw)
            if (PdfCrypto.userPasswordWorks(o, u, p, id0, r, keyLen, rec))
              PdfCrypto.fileKey(o, p, id0, r, keyLen, rec)
            else throw new PdfParseException("wrong password")
          }
        case None =>
          if (!PdfCrypto.emptyPasswordWorks(o, u, p, id0, r, keyLen))
            throw new PdfParseException("encrypted with a non-empty password")
          PdfCrypto.fileKey(o, p, id0, r, keyLen)
      }

    def decryptBytes(key: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (aes) PdfCrypto.aesDecrypt(key, b) else PdfCrypto.rc4(key, b)
    def transform(obj: PdfObj, key: Array[Byte]): PdfObj = obj match {
      case PStr(b) => PStr(decryptBytes(key, b))
      case PStream(d, raw) =>
        PStream(transform(d, key).asInstanceOf[PDict], decryptBytes(key, raw))
      case PArr(items) => PArr(items.map(transform(_, key)))
      case PDict(e) => PDict(e.map { case (k2, v2) => k2 -> transform(v2, key) })
      case other => other
    }
    def isXrefStream(o: PdfObj): Boolean = o match {
      case PStream(d, _) => d.get("Type").contains(PName("XRef"))
      case _ => false
    }
    objects.keys.toVector.foreach { n =>
      // the cross-reference stream is never encrypted (§7.5.8.2)
      if (n != encNum && !isXrefStream(objects(n))) {
        val gen = gens.getOrElse(n, 0)
        // V5 uses the file key for every object; V1-4 derive per-object
        val key =
          if (aes256) fileKey
          else if (aes) PdfCrypto.objectKeyAes(fileKey, n, gen)
          else PdfCrypto.objectKey(fileKey, n, gen)
        objects(n) = transform(objects(n), key)
      }
    }
    wasDecrypted = true
  }

  def resolve(o: PdfObj): PdfObj = o match {
    case PRef(n, _) => objects.get(n).map(resolve).getOrElse(PNull)
    case other => other
  }

  def dict(o: PdfObj): Option[PDict] = resolve(o) match {
    case d: PDict => Some(d)
    case PStream(d, _) => Some(d)
    case _ => None
  }

  def catalog: Option[PDict] = trailer.get("Root").flatMap(dict)

  /** Trailer /Info dict (document metadata), when present. */
  def info: Option[PDict] = trailer.get("Info").flatMap(dict)

  /** Depth-first page-tree walk (Catalog → /Pages → /Kids → /Page). */
  def pages: Vector[PDict] = pagesWithRefs.map(_._2)

  /** Page-tree walk that keeps each page's OBJECT NUMBER alongside its
    * dict — the structure tree's /Pg entries and marked-content MCIDs
    * are keyed by page object ref (PDFMarkedContent2XHTML's pageRefs).
    * Pages reached through a non-ref inline dict get number -1.
    */
  def pagesWithRefs: Vector[(Int, PDict)] = {
    val out = new ArrayBuffer[(Int, PDict)]()
    def walk(ref: Int, node: PDict, depth: Int): Unit = {
      if (depth > 32) return
      resolve(node.get("Type").getOrElse(PNull)) match {
        case PName("Page") => out += ((ref, node))
        case _ =>
          node.get("Kids").map(resolve) match {
            case Some(PArr(kids)) =>
              kids.foreach {
                case r @ PRef(n, _) =>
                  dict(r).foreach(walk(n, _, depth + 1))
                case other =>
                  dict(other).foreach(walk(-1, _, depth + 1))
              }
            case _ => ()
          }
      }
    }
    catalog.foreach { c =>
      c.get("Pages") match {
        case Some(r @ PRef(n, _)) => dict(r).foreach(walk(n, _, 0))
        case Some(other) => dict(other).foreach(walk(-1, _, 0))
        case None => ()
      }
    }
    out.toVector
  }

  /** Concatenated decoded content streams of a page. */
  def pageContent(page: PDict): Array[Byte] = {
    val streams: Vector[PStream] = resolve(page.get("Contents").getOrElse(PNull)) match {
      case s: PStream => Vector(s)
      case PArr(items) => items.flatMap(i => resolve(i) match {
        case s: PStream => Some(s); case _ => None
      })
      case _ => Vector.empty
    }
    val out = new java.io.ByteArrayOutputStream()
    streams.foreach { s => out.write(decodeStream(s)); out.write('\n') }
    out.toByteArray
  }

  /** Resources dict of a page (walking up via /Parent if inherited). */
  def pageResources(page: PDict): PDict = {
    var cur: Option[PDict] = Some(page)
    var depth = 0
    while (cur.isDefined && depth < 32) {
      cur.get.get("Resources").flatMap(dict) match {
        case Some(r) => return r
        case None => cur = cur.get.get("Parent").flatMap(dict); depth += 1
      }
    }
    PDict(Map.empty)
  }

  /** Apply the /Filter chain (PDF 32000 §7.4): Flate, LZW, ASCIIHex,
    * ASCII85 and RunLength decode with /DecodeParms predictors; image
    * codecs (DCT/JPX/CCITT/JBIG2) carry no text and yield empty.
    */
  def decodeStream(s: PStream): Array[Byte] = {
    val realLen = resolve(s.dict.get("Length").getOrElse(PNull)) match {
      case PNum(n) if n.toInt <= s.raw.length && n.toInt >= 0 => n.toInt
      case _ => s.raw.length
    }
    val raw = if (realLen == s.raw.length) s.raw else java.util.Arrays.copyOf(s.raw, realLen)
    val filters: List[String] = resolve(s.dict.get("Filter").getOrElse(PNull)) match {
      case PName(n) => List(n)
      case PArr(fs) => fs.toList.map(resolve).collect { case PName(n) => n }
      case _ => Nil
    }
    val parmsList: List[Option[PDict]] =
      resolve(s.dict.get("DecodeParms").orElse(s.dict.get("DP")).getOrElse(PNull)) match {
        case d: PDict => List(Some(d))
        case PArr(ps) => ps.toList.map(resolve).map {
          case d: PDict => Some(d); case _ => None
        }
        case _ => Nil
      }
    var data = raw
    var i = 0
    while (i < filters.length) {
      val parms = parmsList.lift(i).flatten
      data = filters(i) match {
        case "FlateDecode" | "Fl" => unpredict(parms, inflate(data))
        case "LZWDecode" | "LZW" => unpredict(parms, pdfLzw(data, parms))
        case "ASCIIHexDecode" | "AHx" => asciiHex(data)
        case "ASCII85Decode" | "A85" => ascii85(data)
        case "RunLengthDecode" | "RL" => runLength(data)
        case "Crypt" => data // identity crypt filter
        case _ => return Array.emptyByteArray // image codecs: no text
      }
      i += 1
    }
    data
  }

  private def parmInt(parms: Option[PDict], key: String, dflt: Int): Int =
    parms.flatMap(_.get(key)).map(resolve) match {
      case Some(PNum(n)) => n.toInt
      case _ => dflt
    }

  /** Undo /Predictor (PNG 10-15 per-row filters; TIFF 2 byte-diff). */
  private def unpredict(parms: Option[PDict], data: Array[Byte]): Array[Byte] = {
    val predictor = parmInt(parms, "Predictor", 1)
    if (predictor <= 1) return data
    val colors = parmInt(parms, "Colors", 1)
    val bpc = parmInt(parms, "BitsPerComponent", 8)
    val columns = parmInt(parms, "Columns", 1)
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (colors * bpc * columns + 7) / 8
    if (predictor == 2) {
      // TIFF: horizontal byte differencing (8-bit components)
      if (bpc != 8) return data
      val out = data.clone()
      var r = 0
      while (r + rowLen <= out.length) {
        var i = r + bpp
        while (i < r + rowLen) { out(i) = (out(i) + out(i - bpp)).toByte; i += 1 }
        r += rowLen
      }
      return out
    }
    // PNG predictors: each row = filter-type byte + rowLen bytes
    val stride = rowLen + 1
    val nRows = data.length / stride
    val out = new Array[Byte](nRows * rowLen)
    var row = 0
    while (row < nRows) {
      val ft = data(row * stride) & 0xff
      val src = row * stride + 1
      val dst = row * rowLen
      var i = 0
      while (i < rowLen) {
        val x = data(src + i) & 0xff
        val a = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
        val b = if (row > 0) out(dst - rowLen + i) & 0xff else 0
        val c = if (row > 0 && i >= bpp) out(dst - rowLen + i - bpp) & 0xff else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + ((a + b) >> 1)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => x
        }
        out(dst + i) = v.toByte
        i += 1
      }
      row += 1
    }
    out
  }

  /** PDF LZW (§7.4.4): MSB-first variable codes 9-12 bits, 256=clear,
    * 257=EOD, EarlyChange widens one code early (default 1).
    */
  private def pdfLzw(data: Array[Byte], parms: Option[PDict]): Array[Byte] = {
    val early = parmInt(parms, "EarlyChange", 1)
    val out = new OutBuf(ZipBudget, data.length * 3)
    val dict = new Array[Array[Byte]](4096)
    var dictSize = 258
    var width = 9
    var prev: Array[Byte] = null
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    var done = false
    while (!done && (pos < data.length || bitCnt >= width)) {
      while (bitCnt < width && pos < data.length) {
        bitBuf = (bitBuf << 8) | (data(pos) & 0xffL); pos += 1; bitCnt += 8
      }
      if (bitCnt < width) done = true
      else {
        val code = ((bitBuf >> (bitCnt - width)) & ((1 << width) - 1)).toInt
        bitCnt -= width
        if (code == 256) {
          dictSize = 258; width = 9; prev = null
        } else if (code == 257) done = true
        else {
          val entry: Array[Byte] =
            if (code < 256) Array(code.toByte)
            else if (code < dictSize && dict(code) != null) dict(code)
            else if (prev != null) prev :+ prev(0)
            else throw new PdfParseException("corrupt lzw stream")
          out.write(entry, 0, entry.length)
          if (prev != null && dictSize < 4096) {
            dict(dictSize) = prev :+ entry(0)
            dictSize += 1
          }
          if (dictSize + early >= (1 << width) && width < 12) width += 1
          prev = entry
        }
      }
    }
    out.result
  }

  private def asciiHex(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2)
    var hi = -1
    var i = 0
    var done = false
    while (!done && i < data.length) {
      val c = data(i).toChar
      if (c == '>') done = true
      else {
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d
          else { out.write((hi << 4) | d); hi = -1 }
        }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4) // odd final digit = high nibble
    out.toByteArray
  }

  private def ascii85(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length)
    var tuple = 0L
    var n = 0
    var i = 0
    var done = false
    while (!done && i < data.length) {
      val c = data(i).toChar
      if (c == '~') done = true
      else if (c == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        tuple = tuple * 85 + (c - '!')
        n += 1
        if (n == 5) {
          out.write(((tuple >> 24) & 0xff).toInt); out.write(((tuple >> 16) & 0xff).toInt)
          out.write(((tuple >> 8) & 0xff).toInt); out.write((tuple & 0xff).toInt)
          tuple = 0; n = 0
        }
      }
      i += 1
    }
    if (n > 1) { // partial group: pad with 'u', emit n-1 bytes
      var k = n
      while (k < 5) { tuple = tuple * 85 + 84; k += 1 }
      val bs = Array(((tuple >> 24) & 0xff).toByte, ((tuple >> 16) & 0xff).toByte,
        ((tuple >> 8) & 0xff).toByte, (tuple & 0xff).toByte)
      out.write(bs, 0, n - 1)
    }
    out.toByteArray
  }

  private def runLength(data: Array[Byte]): Array[Byte] = {
    val out = new OutBuf(ZipBudget, data.length * 2)
    var i = 0
    var done = false
    while (!done && i < data.length) {
      val l = data(i) & 0xff
      i += 1
      if (l == 128) done = true
      else if (l < 128) {
        val n = math.min(l + 1, data.length - i)
        out.write(data, i, n); i += n
      } else if (i < data.length) {
        val b = data(i); i += 1
        var k = 0
        while (k < 257 - l) { out.put(b); k += 1 }
      }
    }
    out.result
  }

  /** A truncated or corrupt stream keeps what inflated. */
  private def inflate(data: Array[Byte]): Array[Byte] = {
    val out = new OutBuf(ZipBudget, data.length * 4)
    try if (out.inflate(data, 0, data.length, raw = false) == OutBuf.Capped)
      throw new graft.engine.ZipBombDetected
    catch { case _: java.util.zip.DataFormatException => }
    out.result
  }

  def objectCount: Int = objects.size
}
