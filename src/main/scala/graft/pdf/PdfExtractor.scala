package graft.pdf

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian

/** Standard-14 Helvetica advance widths (1/1000 em), codes 32..126.
  * Public Adobe Core14 AFM data — needed for the word-separator heuristic.
  */
object Helvetica {
  private val w: Array[Int] = Array(
    278, 278, 355, 556, 556, 889, 667, 191, 333, 333, 389, 584, 278, 333,
    278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556, 278, 278,
    584, 584, 584, 556, 1015, 667, 667, 722, 722, 667, 611, 778, 722, 278,
    500, 667, 556, 833, 722, 778, 667, 778, 722, 667, 611, 722, 667, 944,
    667, 667, 611, 278, 278, 278, 469, 556, 333, 556, 556, 500, 556, 556,
    278, 556, 556, 222, 222, 500, 222, 833, 556, 556, 556, 556, 333, 500,
    278, 556, 500, 722, 500, 500, 500, 334, 260, 334, 584
  )
  def width(code: Int): Int =
    if (code >= 32 && code <= 126) w(code - 32) else 556
}

/** PDF text extraction: content-stream interpretation + the reference's
  * layout heuristics.
  *
  * Reference contract (SURVEY.md §2.5 Appendix):
  *  - event mapping: tika-parsers .../pdf/PDF2XHTML.java:91-372 — page →
  *    `<div class="page"><p>`, writeString → characters, line separator →
  *    '\n', page end closes p+div (two ENDLINE newlines);
  *  - layout constants applied by Tika (pdf/PDFParserConfig.java:197-215):
  *    sortByPosition=false (content order), spacingTolerance=0.5 (word
  *    separator when gap > 0.5×space width), dropThreshold=2.5 (vertical
  *    jump → line break), enableAutoSpace=true.
  *
  * The stripper itself lives in PDFBox upstream; this is an original
  * text-matrix interpreter for the operator subset BT/ET Tf Td TD Tm T*
  * TL Tc Tw Tz Tj TJ ' " plus image XObject Do → media spans.
  * Fonts: standard-14/WinAnsi (cp1252) per the v1 fixture scope.
  */
object PdfExtractor {

  val SpacingTolerance = 0.5 // ×space width (PDFParserConfig.java:110)
  val DropThreshold = 2.5    // vertical pts ~ superscript guard (:114)

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      onEmbedded: (Option[String], Array[Byte]) => Unit = (_, _) => (),
      password: Option[String] = None,
      markedContent: Boolean = false): Unit = {
    val doc = new PdfDoc(bytes, password)
    extractInfo(doc, meta)
    // XMP packet (the spec keeps metadata streams uncompressed precisely
    // so packet scanners find them — tika-parser-xmp-commons surface)
    graft.media.MediaParser.xmpTags(bytes).foreach { case (k, v) =>
      meta.set(k, v)
    }
    if (doc.wasDecrypted) meta.set("pdf:encrypted", "true")
    val pages = doc.pages
    if (pages.isEmpty)
      // no page tree resolvable: broken/bomb PDF — surface as a parse
      // failure (the reference throws from PDFParser on unusable docs)
      throw new PdfParseException(s"no pages (objects=${doc.objectCount})")
    meta.set("xmpTPg:NPages", pages.length.toString)
    // tagged-PDF logical order when requested AND the document carries a
    // usable structure tree; otherwise classic positional extraction
    // (reference: PDFParser routes to PDFMarkedContent2XHTML only under
    // config.isExtractMarkedContent; we additionally fall back on
    // missing/broken trees instead of failing the doc)
    val usedMarked = markedContent && MarkedContentExtractor.extract(doc, sink)
    if (usedMarked) {
      // Step-6 analog: per-page annotation handling still runs
      pages.foreach { page =>
        extractAnnotations(doc, page, sink, meta)
        sink.chars("\n")
        sink.newline()
      }
    } else pages.foreach { page =>
      val content = doc.pageContent(page)
      val resources = doc.pageResources(page)
      interpretPage(doc, content, resources, sink)
      extractAnnotations(doc, page, sink, meta)
      // endPage: </p></div> → "\n" + span flush ("page-separated spans")
      sink.chars("\n")
      sink.newline()
    }
    // form flags mirror PDFParser's metadata checks (PDF.HAS_XFA /
    // HAS_ACROFORM_FIELDS), set whether or not either path emits text
    for {
      cat <- doc.catalog
      form <- doc.dict(cat.get("AcroForm").getOrElse(PNull))
    } doc.resolve(form.get("Fields").getOrElse(PNull)) match {
      case PArr(fs) if fs.nonEmpty => meta.set("pdf:hasAcroFormFields", "true")
      case _ => ()
    }
    // XFA wins when present and well-formed; classic AcroForm fields are
    // the fallback (AbstractPDF2XHTML.extractAcroForm:1310-1340)
    if (!extractXfa(doc, sink, meta)) extractAcroForm(doc, sink)
    extractBookmarks(doc, sink)
    extractEmbeddedFiles(doc, onEmbedded)
  }

  /** Page /Annots: URI link actions and text-annotation /Contents become
    * spans (AbstractPDF2XHTML annotations section, :862-897).
    */
  private def extractAnnotations(doc: PdfDoc, page: PDict, sink: SpanSink,
      meta: MetaSink): Unit = {
    doc.resolve(page.get("Annots").getOrElse(PNull)) match {
      case PArr(items) => items.foreach { a =>
        doc.dict(a).foreach { ann =>
          doc.dict(ann.get("A").getOrElse(PNull)).foreach { action =>
            doc.resolve(action.get("URI").getOrElse(PNull)) match {
              case PStr(b) =>
                meta.add("pdf:annotation:uri",
                  new String(b, java.nio.charset.StandardCharsets.ISO_8859_1))
              case _ => ()
            }
          }
          doc.resolve(ann.get("Contents").getOrElse(PNull)) match {
            case PStr(b) if b.nonEmpty =>
              sink.chars(pdfText(b)); sink.newline()
            case _ => ()
          }
        }
      }
      case _ => ()
    }
  }

  /** Catalog /AcroForm /XFA: assemble the packet (single stream, or the
    * name/stream pair array concatenated like PDXFAResource.getBytes)
    * and run the XFA field/data walk. Returns false — caller falls back
    * to classic AcroForm — when absent or malformed (the reference
    * records the XMLStreamException as a warning and falls through).
    */
  private def extractXfa(doc: PdfDoc, sink: SpanSink, meta: MetaSink): Boolean = {
    val xfa = for {
      cat <- doc.catalog
      form <- doc.dict(cat.get("AcroForm").getOrElse(PNull))
      x <- form.get("XFA")
    } yield doc.resolve(x)
    val packet: Option[Array[Byte]] = xfa match {
      case Some(s: PStream) => Some(doc.decodeStream(s))
      case Some(PArr(items)) =>
        val bos = new java.io.ByteArrayOutputStream()
        items.foreach { it =>
          doc.resolve(it) match {
            case s: PStream => bos.write(doc.decodeStream(s))
            case _ => () // the interleaved packet-name strings
          }
        }
        Some(bos.toByteArray)
      case _ => None
    }
    packet match {
      case None => false
      case Some(xml) =>
        meta.set("pdf:hasXFA", "true")
        try { XfaExtractor.extract(xml, sink); true }
        catch {
          case w: graft.engine.WriteLimitReached => throw w
          case t: graft.engine.DocTimeout => throw t
          case e: Exception =>
            meta.add("pdf:xfa:warn",
              s"XFAExtractor: ${e.getClass.getSimpleName}")
            false
        }
    }
  }

  /** Catalog /AcroForm /Fields: field name + value text
    * (AbstractPDF2XHTML acroform section, :1355-1365).
    */
  private def extractAcroForm(doc: PdfDoc, sink: SpanSink): Unit = {
    for {
      cat <- doc.catalog
      form <- doc.dict(cat.get("AcroForm").getOrElse(PNull))
    } doc.resolve(form.get("Fields").getOrElse(PNull)) match {
      case PArr(fields) => fields.foreach { f =>
        doc.dict(f).foreach { fd =>
          val nameS = doc.resolve(fd.get("T").getOrElse(PNull)) match {
            case PStr(b) => pdfText(b); case _ => ""
          }
          val valueS = doc.resolve(fd.get("V").getOrElse(PNull)) match {
            case PStr(b) => pdfText(b)
            case PName(n) => n
            case _ => ""
          }
          if (nameS.nonEmpty || valueS.nonEmpty) {
            sink.chars(if (valueS.isEmpty) nameS else s"$nameS:\t$valueS")
            sink.newline()
          }
        }
      }
      case _ => ()
    }
  }

  /** Catalog /Outlines chain: bookmark titles in order (bounded walk). */
  private def extractBookmarks(doc: PdfDoc, sink: SpanSink): Unit = {
    def walk(node: Option[PDict], depth: Int, budget: Int): Int = {
      var left = budget
      var cur = node
      while (cur.isDefined && left > 0 && depth < 16) {
        val d = cur.get
        doc.resolve(d.get("Title").getOrElse(PNull)) match {
          case PStr(b) => sink.chars(pdfText(b)); sink.newline()
          case _ => ()
        }
        left = walk(doc.dict(d.get("First").getOrElse(PNull)), depth + 1, left - 1)
        cur = doc.dict(d.get("Next").getOrElse(PNull))
      }
      left
    }
    for {
      cat <- doc.catalog
      outlines <- doc.dict(cat.get("Outlines").getOrElse(PNull))
    } walk(doc.dict(outlines.get("First").getOrElse(PNull)), 0, 256)
  }

  /** Catalog /Names /EmbeddedFiles name tree → FILESPEC /EF /F streams
    * recursed as embedded documents (AbstractPDF2XHTML
    * extractEmbeddedDocuments, :357-369).
    */
  private def extractEmbeddedFiles(doc: PdfDoc,
      onEmbedded: (Option[String], Array[Byte]) => Unit): Unit = {
    def filespec(fs: PDict, fallbackName: Option[String]): Unit = {
      val name = doc.resolve(fs.get("F").getOrElse(PNull)) match {
        case PStr(b) => Some(pdfText(b))
        case _ => fallbackName
      }
      for {
        ef <- doc.dict(fs.get("EF").getOrElse(PNull))
        fObj = doc.resolve(ef.get("F").getOrElse(PNull))
      } fObj match {
        case s: PStream => onEmbedded(name, doc.decodeStream(s))
        case _ => ()
      }
    }
    def nameTree(node: PDict, depth: Int): Unit = {
      if (depth > 16) return
      doc.resolve(node.get("Names").getOrElse(PNull)) match {
        case PArr(items) =>
          items.grouped(2).foreach {
            case Vector(k, v) =>
              val nm = doc.resolve(k) match {
                case PStr(b) => Some(pdfText(b)); case _ => None
              }
              doc.dict(v).foreach(filespec(_, nm))
            case _ => ()
          }
        case _ => ()
      }
      doc.resolve(node.get("Kids").getOrElse(PNull)) match {
        case PArr(kids) => kids.foreach(k => doc.dict(k).foreach(nameTree(_, depth + 1)))
        case _ => ()
      }
    }
    for {
      cat <- doc.catalog
      names <- doc.dict(cat.get("Names").getOrElse(PNull))
      ef <- doc.dict(names.get("EmbeddedFiles").getOrElse(PNull))
    } nameTree(ef, 0)
  }

  /** PDF text string: UTF-16 (either BOM) or UTF-8 BOM, else
    * PDFDocEncoding≈cp1252. Additionally repairs the broken-producer
    * case the reference's PDFEncodedStringDecoder exists for
    * (pdf/PDFEncodedStringDecoder.java): a string whose OCTAL ESCAPES
    * leaked through un-decoded, i.e. literally starting with
    * "\376\377" / "\377\376" / "\357\273\277" — those escapes are
    * re-parsed to bytes and the string re-decoded through its BOM.
    */
  def pdfText(b: Array[Byte]): String = {
    if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
      new String(b, 2, b.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xfe)
      new String(b, 2, b.length - 2, java.nio.charset.StandardCharsets.UTF_16LE)
    else if (b.length >= 3 && (b(0) & 0xff) == 0xef && (b(1) & 0xff) == 0xbb &&
        (b(2) & 0xff) == 0xbf)
      new String(b, 3, b.length - 3, java.nio.charset.StandardCharsets.UTF_8)
    else {
      val s = new String(b, java.nio.charset.Charset.forName("windows-1252"))
      if (s.startsWith("\\376\\377") || s.startsWith("\\377\\376") ||
          s.startsWith("\\357\\273\\277")) {
        val repaired = decodeOctalEscapes(s)
        if (repaired ne null) pdfText(repaired) else s
      } else s
    }
  }

  /** "\DDD"-escape sequences → bytes; null when the string is not fully
    * octal-escape shaped (keep the original then).
    */
  private def decodeOctalEscapes(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(s.length / 4 + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 3 < s.length + 1) {
        var v = 0
        var k = 0
        var j = i + 1
        while (k < 3 && j < s.length && s.charAt(j) >= '0' && s.charAt(j) <= '7') {
          v = v * 8 + (s.charAt(j) - '0'); k += 1; j += 1
        }
        if (k == 0) return null // stray backslash: not escape-shaped
        out.write(v)
        i = j
      } else if (c < 0x80) { out.write(c); i += 1 }
      else return null // high chars mixed in: not the leaked-escape case
    }
    out.toByteArray
  }

  /** Trailer /Info → title/author/subject metadata (the reference's
    * PDFParser metadata step, PDFParser.java:208-210). PDF text strings
    * are PDFDocEncoding or UTF-16BE with BOM.
    */
  private def extractInfo(doc: PdfDoc, meta: MetaSink): Unit = {
    doc.info.foreach { d =>
      def str(key: String, metaKey: String): Unit =
        doc.resolve(d.get(key).getOrElse(PNull)) match {
          case PStr(b) => meta.set(metaKey, pdfText(b))
          case _ => ()
        }
      str("Title", "dc:title")
      str("Author", "dc:creator")
      str("Subject", "dc:subject")
      str("Producer", "pdf:producer")
    }
  }

  private final case class TextState(
      var fontSize: Double = 0,
      var charSpacing: Double = 0,
      var wordSpacing: Double = 0,
      var leading: Double = 0,
      var hScale: Double = 1.0,
      var font: FontInfo = FontInfo.Default,
      // text matrix (a b c d e f) and line matrix
      var tm: Array[Double] = Array(1, 0, 0, 1, 0, 0),
      var tlm: Array[Double] = Array(1, 0, 0, 1, 0, 0)
  )

  /** Per-font decode + metrics: explicit /Widths (FirstChar-indexed) with
    * Helvetica fallback; /ToUnicode CMap (bfchar/bfrange) for subset
    * fonts, windows-1252 otherwise (the reference's PDFBox path:
    * ToUnicode first, then the font encoding).
    */
  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  /** `twoByte` marks Type0 (composite/CID) fonts: show-string bytes pair
    * into big-endian 16-bit codes (Identity-H: code == CID), widths come
    * from the descendant font's /W map with /DW default — the layout of
    * virtually every PDF with an embedded subset CJK/unicode font.
    */
  final case class FontInfo(
      firstChar: Int,
      widths: Array[Double],          // advance in 1/1000 em, by code-firstChar
      toUnicode: Map[Int, String],
      twoByte: Boolean = false,
      cidWidths: Map[Int, Double] = Map.empty,
      defaultWidth: Double = 1000.0) {
    def widthOf(code: Int): Double = {
      if (twoByte) cidWidths.getOrElse(code, defaultWidth)
      else {
        val idx = code - firstChar
        if (widths != null && idx >= 0 && idx < widths.length && widths(idx) > 0)
          widths(idx)
        else Helvetica.width(code).toDouble
      }
    }
    def decode(code: Int): String =
      toUnicode.getOrElse(code,
        if (twoByte) new String(Character.toChars(code))
        else new String(Array(code.toByte), Cp1252))
    /** Bulk decode: 1-byte fonts without a CMap take one cp1252 pass. */
    def decodeAll(s: Array[Byte]): String =
      if (twoByte) {
        val b = new StringBuilder(s.length / 2 + 1)
        var i = 0
        while (i + 1 < s.length) {
          b.append(decode(Endian.be16(s, i)))
          i += 2
        }
        b.toString
      } else if (toUnicode.isEmpty) new String(s, Cp1252)
      else {
        val b = new StringBuilder(s.length)
        var i = 0
        while (i < s.length) { b.append(decode(s(i) & 0xff)); i += 1 }
        b.toString
      }
    /** Codes of a show string (1- or 2-byte) for the advance loop. */
    def codesOf(s: Array[Byte]): Array[Int] =
      if (twoByte) {
        val out = new Array[Int](s.length / 2)
        var i = 0
        while (i + 1 < s.length) { out(i / 2) = Endian.be16(s, i); i += 2 }
        out
      } else {
        val out = new Array[Int](s.length)
        var i = 0
        while (i < s.length) { out(i) = s(i) & 0xff; i += 1 }
        out
      }
  }

  object FontInfo {
    val Default: FontInfo = FontInfo(0, null, Map.empty)

    def fromDict(doc: PdfDoc, d: PDict): FontInfo = {
      val toUni = doc.resolve(d.get("ToUnicode").getOrElse(PNull)) match {
        case s: PStream => parseToUnicode(doc.decodeStream(s))
        case _ => Map.empty[Int, String]
      }
      val isType0 =
        doc.resolve(d.get("Subtype").getOrElse(PNull)) == PName("Type0")
      if (isType0) {
        val descendant = doc.resolve(d.get("DescendantFonts").getOrElse(PNull)) match {
          case PArr(items) if items.nonEmpty => doc.dict(items.head)
          case _ => None
        }
        val dw = descendant.flatMap(_.get("DW")).map(doc.resolve) match {
          case Some(PNum(v)) => v; case _ => 1000.0
        }
        val w = descendant.flatMap(_.get("W")).map(doc.resolve) match {
          case Some(PArr(items)) => parseCidWidths(doc, items)
          case _ => Map.empty[Int, Double]
        }
        FontInfo(0, null, toUni, twoByte = true, cidWidths = w, defaultWidth = dw)
      } else {
        val firstChar = doc.resolve(d.get("FirstChar").getOrElse(PNull)) match {
          case PNum(v) => v.toInt; case _ => 0
        }
        val widths = doc.resolve(d.get("Widths").getOrElse(PNull)) match {
          case PArr(items) => items.map(i => doc.resolve(i) match {
            case PNum(v) => v; case _ => 0.0
          }).toArray
          case _ => null
        }
        FontInfo(firstChar, widths, toUni)
      }
    }

    /** /W array: `c [w1 w2 …]` runs and `cFirst cLast w` ranges (PDF 32000
      * §9.7.4.3).
      */
    def parseCidWidths(doc: PdfDoc, items: Vector[PdfObj]): Map[Int, Double] = {
      val out = scala.collection.mutable.Map[Int, Double]()
      var i = 0
      while (i < items.length) {
        (doc.resolve(items(i)), items.lift(i + 1).map(doc.resolve)) match {
          case (PNum(c), Some(PArr(ws))) =>
            ws.zipWithIndex.foreach {
              case (PNum(w), k) => out(c.toInt + k) = w
              case _ => ()
            }
            i += 2
          case (PNum(cFirst), Some(PNum(cLast))) if i + 2 < items.length =>
            doc.resolve(items(i + 2)) match {
              case PNum(w) =>
                var c = cFirst.toInt
                while (c <= cLast.toInt && c - cFirst.toInt < 65536) { out(c) = w; c += 1 }
              case _ => ()
            }
            i += 3
          case _ => i += 1
        }
      }
      out.toMap
    }

    /** Minimal bfchar/bfrange CMap reader (public CMap syntax). */
    def parseToUnicode(bytes: Array[Byte]): Map[Int, String] = {
      val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      val out = scala.collection.mutable.Map[Int, String]()
      def hexToString(hex: String): String = {
        val codeUnits = hex.grouped(4).flatMap(h =>
          try Some(Integer.parseInt(h, 16).toChar) catch { case _: Exception => None })
        codeUnits.mkString
      }
      // source codes are at most 4 hex bytes; destinations may be
      // SEVERAL UTF-16 code units (surrogate pairs like <D835DC36> for
      // mathematical alphanumerics) — parse as units, never as one int
      def parseCode(hex: String): Option[Int] =
        try {
          val v = java.lang.Long.parseLong(hex, 16)
          if (v >= 0 && v <= Int.MaxValue) Some(v.toInt) else None
        } catch { case _: NumberFormatException => None }
      val bfchar = """(?s)beginbfchar(.*?)endbfchar""".r
      val pair = """<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>""".r
      bfchar.findAllMatchIn(s).foreach { blk =>
        pair.findAllMatchIn(blk.group(1)).foreach { m =>
          parseCode(m.group(1)).foreach(out(_) = hexToString(m.group(2)))
        }
      }
      val bfrange = """(?s)beginbfrange(.*?)endbfrange""".r
      val triple = """<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>""".r
      bfrange.findAllMatchIn(s).foreach { blk =>
        triple.findAllMatchIn(blk.group(1)).foreach { m =>
          for {
            lo <- parseCode(m.group(1))
            hi <- parseCode(m.group(2))
          } {
            val dstHex = m.group(3)
            var c = lo
            if (dstHex.length <= 5) {
              // single code point: increments span planes if needed
              parseCode(dstHex).foreach { dst =>
                while (c <= hi && c - lo < 65536) {
                  out(c) = new String(Character.toChars(dst + (c - lo)))
                  c += 1
                }
              }
            } else {
              // multi-code-unit destination (e.g. a surrogate pair):
              // CMap semantics increment the LAST code unit per step
              val base = hexToString(dstHex)
              if (base.nonEmpty) {
                // a lone high surrogate in the last slot means the hex
                // was a surrogate PAIR — step the full code point instead
                val isPair = base.length >= 2 &&
                  Character.isHighSurrogate(base.charAt(base.length - 2)) &&
                  Character.isLowSurrogate(base.charAt(base.length - 1))
                while (c <= hi && c - lo < 65536) {
                  val d = c - lo
                  out(c) =
                    if (isPair) {
                      val cp = Character.toCodePoint(
                        base.charAt(base.length - 2),
                        base.charAt(base.length - 1)) + d
                      base.substring(0, base.length - 2) +
                        new String(Character.toChars(cp))
                    } else {
                      base.substring(0, base.length - 1) +
                        (base.last + d).toChar
                    }
                  c += 1
                }
              }
            }
          }
        }
      }
      out.toMap
    }
  }

  private[pdf] def interpretPage(
      doc: PdfDoc, content: Array[Byte], resources: PDict, sink: SpanSink,
      formDepth: Int = 0, mc: McCollector = null): Unit = {
    val lex = new PdfLexer(content)
    val st = TextState()
    val operands = scala.collection.mutable.ArrayBuffer[PdfObj]()
    var lastEndX = Double.NaN
    var lastY = Double.NaN
    var lineHasText = false
    var pageHasText = false

    val xobjects: Map[String, PdfObj] =
      resources.get("XObject").flatMap(doc.dict).map(_.entries).getOrElse(Map.empty)
    val fonts: Map[String, FontInfo] =
      resources.get("Font").flatMap(doc.dict).map(_.entries).getOrElse(Map.empty)
        .flatMap { case (name, obj) =>
          doc.dict(obj).map(d => name -> FontInfo.fromDict(doc, d))
        }

    def num(o: PdfObj): Double = o match { case PNum(v) => v; case _ => 0.0 }

    def setTd(tx: Double, ty: Double): Unit = {
      // Tlm = [1 0 0 1 tx ty] × Tlm ; Tm = Tlm
      val m = st.tlm
      val e = tx * m(0) + ty * m(2) + m(4)
      val f = tx * m(1) + ty * m(3) + m(5)
      st.tlm = Array(m(0), m(1), m(2), m(3), e, f)
      st.tm = st.tlm.clone()
    }

    def spaceWidthPts: Double = st.font.widthOf(32) / 1000.0 * st.fontSize

    def showString(s: Array[Byte]): Unit = {
      if (s.isEmpty) return
      if (mc != null) {
        // marked-content collection pass: raw per-glyph unicode
        // concatenation grouped by the innermost MCID, no spacing
        // heuristics — PDFMarkedContent2XHTML.loadTextByMCID appends
        // TextPosition.getUnicode directly (its spacing TODO is open)
        mc.append(st.font.decodeAll(s))
        return
      }
      // Project onto the text matrix's writing direction so the spacing
      // and line-break heuristics survive rotated text (a 90°-rotated
      // page draws glyph runs that advance in device-Y): u = along-line
      // coordinate, v = cross-line. For the identity matrix u = x and
      // v = y — byte-identical to the axis-aligned behavior.
      val ma = st.tm(0); val mb = st.tm(1)
      val scale = math.max(math.hypot(ma, mb), 1e-9)
      val ux = ma / scale; val uy = mb / scale
      val u0 = st.tm(4) * ux + st.tm(5) * uy
      val v0 = -st.tm(4) * uy + st.tm(5) * ux
      if (!lastY.isNaN) {
        val dv = math.abs(v0 - lastY)
        if (dv > DropThreshold) {
          sink.chars("\n") // line separator (PDF2XHTML.java:260-267)
          lineHasText = false
        } else if (!lastEndX.isNaN && lineHasText &&
                   u0 - lastEndX > SpacingTolerance * spaceWidthPts * scale) {
          sink.chars(" ") // word separator (PDF2XHTML.java:251-258)
        }
      }
      sink.chars(st.font.decodeAll(s))
      pageHasText = true
      lineHasText = true
      // advance per glyph in text space (word spacing applies to
      // single-byte code 32 only — PDF 32000 §9.3.3), then apply the
      // matrix: device delta = adv × (a, b)
      val codes = st.font.codesOf(s)
      var adv = 0.0
      var i = 0
      while (i < codes.length) {
        val code = codes(i)
        var g = st.font.widthOf(code) / 1000.0 * st.fontSize + st.charSpacing
        if (code == 32 && !st.font.twoByte) g += st.wordSpacing
        adv += g * st.hScale
        i += 1
      }
      st.tm(4) += adv * ma
      st.tm(5) += adv * mb
      lastEndX = u0 + adv * scale
      lastY = v0
    }

    var guard = 0
    while (lex.pos < content.length && guard < 2000000) {
      guard += 1
      lex.skipWs()
      if (lex.pos >= content.length) return
      val c = lex.peek
      if (c == '/' || c == '(' || c == '<' || c == '[' ||
          c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        try operands += lex.parseObject()
        catch { case _: PdfParseException => lex.pos += 1 }
      } else {
        val op = lex.readToken()
        if (op.isEmpty) lex.pos += 1
        else {
          op match {
            case "BT" =>
              st.tm = Array(1, 0, 0, 1, 0, 0); st.tlm = Array(1, 0, 0, 1, 0, 0)
            case "ET" => ()
            case "Tf" =>
              if (operands.length >= 2) {
                st.fontSize = num(operands.last)
                operands(operands.length - 2) match {
                  case PName(fn) => st.font = fonts.getOrElse(fn, FontInfo.Default)
                  case _ => ()
                }
              }
            case "Td" =>
              if (operands.length >= 2)
                setTd(num(operands(operands.length - 2)), num(operands.last))
            case "TD" =>
              if (operands.length >= 2) {
                st.leading = -num(operands.last)
                setTd(num(operands(operands.length - 2)), num(operands.last))
              }
            case "Tm" =>
              if (operands.length >= 6) {
                val o = operands.takeRight(6).map(num).toArray
                st.tm = o.clone(); st.tlm = o.clone()
              }
            case "T*" => setTd(0, -st.leading)
            case "TL" => if (operands.nonEmpty) st.leading = num(operands.last)
            case "Tc" => if (operands.nonEmpty) st.charSpacing = num(operands.last)
            case "Tw" => if (operands.nonEmpty) st.wordSpacing = num(operands.last)
            case "Tz" => if (operands.nonEmpty) st.hScale = num(operands.last) / 100.0
            case "Tj" =>
              operands.lastOption match {
                case Some(PStr(b)) => showString(b)
                case _ => ()
              }
            case "'" =>
              setTd(0, -st.leading)
              operands.lastOption match {
                case Some(PStr(b)) => showString(b)
                case _ => ()
              }
            case "\"" =>
              if (operands.length >= 3) {
                st.wordSpacing = num(operands(operands.length - 3))
                st.charSpacing = num(operands(operands.length - 2))
                setTd(0, -st.leading)
                operands.last match { case PStr(b) => showString(b); case _ => () }
              }
            case "TJ" =>
              operands.lastOption match {
                case Some(PArr(items)) =>
                  items.foreach {
                    case PStr(b) => showString(b)
                    case PNum(adj) =>
                      // kerning: negative adj moves right-to-left? No:
                      // tx = -adj/1000 × fontSize × hScale, applied
                      // through the matrix direction like glyph advances
                      val tx = -adj / 1000.0 * st.fontSize * st.hScale
                      st.tm(4) += tx * st.tm(0)
                      st.tm(5) += tx * st.tm(1)
                    case _ => ()
                  }
                case _ => ()
              }
            case "Do" =>
              operands.lastOption match {
                case Some(PName(name)) =>
                  xobjects.get(name).map(doc.resolve) match {
                    case Some(s @ PStream(xd, _))
                        if xd.get("Subtype").contains(PName("Form")) =>
                      // Form XObject: execute its content stream with its
                      // own /Resources (falling back to the page's), like
                      // PDFBox's processStream — linearized/rotated pages
                      // often draw ALL text through one form
                      if (formDepth < 8) {
                        val formRes = xd.get("Resources").flatMap(doc.dict)
                          .getOrElse(resources)
                        try interpretPage(doc, doc.decodeStream(s), formRes,
                          sink, formDepth + 1, mc)
                        catch { case _: PdfParseException => () }
                      }
                    case Some(PStream(xd, _))
                        if xd.get("Subtype").contains(PName("Image")) =>
                      if (mc == null) sink.media("embedded:" + name)
                    case _ => ()
                  }
                case _ => ()
              }
            case "BDC" if mc != null =>
              // /Tag <<props>> BDC or /Tag /PropsName BDC — the MCID
              // (when present) keys the text for the structure tree
              val tag = operands.dropRight(1).lastOption match {
                case Some(PName(t)) => t
                case _ => ""
              }
              val props: Option[PDict] = operands.lastOption.flatMap {
                case d: PDict => Some(d)
                case PName(pn) => for {
                  propsRes <- resources.get("Properties").flatMap(doc.dict)
                  d <- doc.dict(propsRes.get(pn).getOrElse(PNull))
                } yield d
                case _ => None
              }
              val mcid = props.flatMap(p =>
                doc.resolve(p.get("MCID").getOrElse(PNull)) match {
                  case PNum(n) => Some(n.toInt)
                  case _ => None
                }).getOrElse(-1)
              mc.begin(tag, mcid)
            case "BMC" if mc != null =>
              val tag = operands.lastOption match {
                case Some(PName(t)) => t
                case _ => ""
              }
              mc.begin(tag, -1)
            case "EMC" if mc != null =>
              mc.end()
            case _ => () // path/graphics ops ignored
          }
          operands.clear()
        }
      }
    }
  }
}
