package graft.corpus

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.zip.{Deflater, GZIPOutputStream, ZipEntry, ZipOutputStream}
import scala.util.Random

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{DocRow, Span}
import graft.core.Endian.{le16Bytes, le32Bytes}

/** Deterministic synthetic corpus — FIXTURES.md §2.
  *
  * Every document is a pure function of (seed, index): both scaling runs,
  * any resume, and the DuckDB-side oracle see identical bytes. Mirrors the
  * reference's fixture families (tika test-documents for HTML / PDF /
  * OOXML / ZIP / text; SURVEY.md §5) without copying any fixture bytes.
  *
  * Per-1000-row mix: see [[kindOf]] and FIXTURES.md §2 (html-heavy with
  * every supported format represented), plus oversized rows (skew) and
  * high-compression rows (zip-bomb guard).
  */
object Corpus {

  val Seed = 42L

  private[corpus] val Words: Array[String] = (
    "the quick brown fox jumps over lazy dog analytics spark engine " +
    "document extraction pipeline content metadata signal harvest " +
    "partition shuffle broadcast skew lineage resume span sequence " +
    "boilerplate navigation footer header article paragraph table row " +
    "cell quality language token fingerprint corpus training data scale"
  ).split(" ")

  def rng(index: Long): Random = new Random(Seed * 1000003L + index * 7919L)

  def sentence(r: Random, nWords: Int): String = {
    val b = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) b.append(' ')
      b.append(Words(r.nextInt(Words.length)))
      i += 1
    }
    b.append('.')
    b.setCharAt(0, b.charAt(0).toUpper)
    b.toString
  }

  def paragraph(r: Random, nSentences: Int): String =
    (1 to nSentences).map(_ => sentence(r, 4 + r.nextInt(12))).mkString(" ")

  def docId(index: Long): String = f"doc-$index%012d"

  /** Kind of document at `index` (mix per FIXTURES.md). The block index is
    * permuted by a coprime multiplier so every window of indexes sees an
    * interleaved mix (not 400 consecutive html rows).
    */
  def kindOf(index: Long): String = {
    val m = ((index % 1000) * 379 % 1000).toInt
    if (m < 348) "html"
    else if (m < 360) "msbin" // xlsb/pub/vsd rotation (r4f)
    else if (m < 370) "warc"
    else if (m < 460) "docx"
    else if (m < 485) "xlsx"
    else if (m < 510) "pptx"
    else if (m < 595) "pdf"
    else if (m < 655) "zip"
    else if (m < 668) "archive" // 7z / ar / cpio rotation
    else if (m < 675) "onenote"
    else if (m < 685) "tar"
    else if (m < 730) "text"
    else if (m < 760) "csv"
    else if (m < 800) "xml"
    else if (m < 820) "rtf"
    else if (m < 840) "eml"
    else if (m < 860) "odt"
    else if (m < 885) "doc"
    else if (m < 905) "xls"
    else if (m < 920) "ppt"
    else if (m < 926) "msg"
    else if (m < 930) "pst" // r4c: synthetic Unicode PST mailboxes
    else if (m < 960) "media"
    else if (m < 965) "sci" // mat/nc/envi/grib rotation (r4d, v21)
    else if (m < 985) "legacy" // wpd/qpw/dbf/dif/tmx/fb2/plist/tnef rotation (r4)
    else if (m < 990) "fixed" // xps/emf/wmf fixed-layout rotation (r4d)
    else "junk"
  }

  /** Corpus content version — bump when any generator changes so cached
    * bench corpora are regenerated.
    */
  val Version = 23

  /** Oversized (×scale payload) rows to exercise skew salting. */
  def isOversized(index: Long): Boolean = kindOf(index) == "html" && index % 97 == 0
  /** High-compression-ratio rows to exercise the bomb guard path. */
  def isBombShaped(index: Long): Boolean = kindOf(index) == "zip" && index % 31 == 0

  def row(index: Long): DocRow = {
    val r = rng(index)
    val id = docId(index)
    val spans: Seq[Span] = kindOf(index) match {
      case "html" =>
        val scale = if (isOversized(index)) 100 else 1
        val html = htmlDoc(r, index, scale)
        if (index % 10 == 3) // interleaved text + media doc
          Seq(Span("html", html, null, 0),
              Span(Span.KindMedia, "", s"blob://${sha8(id)}", 1),
              Span("html", htmlFragment(r), null, 2))
        else Seq(Span("html", html, null, 0))
      case "docx" => Seq(Span("docx", b64(docxDoc(r)), null, 0))
      case "xlsx" => Seq(Span("bytes", b64(xlsxDoc(r)), null, 0))
      case "pptx" => Seq(Span("bytes", b64(pptxDoc(r)), null, 0))
      case "csv" => Seq(Span("bytes", b64(csvDoc(r)), null, 0))
      case "rtf" => Seq(Span("bytes", b64(rtfDoc(r, index)), null, 0))
      case "eml" => Seq(Span("bytes", b64(emlDoc(r)), null, 0))
      case "odt" =>
        // every fifth row ships as a flat single-XML document (v21)
        val bytes = if (index % 5 == 4) fodtDoc(r) else odtDoc(r)
        Seq(Span("bytes", b64(bytes), null, 0))
      case "doc" => Seq(Span("bytes", b64(OleCorpus.docFile(r)), null, 0))
      case "xls" => Seq(Span("bytes", b64(OleCorpus.xlsFile(r)), null, 0))
      case "ppt" => Seq(Span("bytes", b64(OleCorpus.pptFile(r)), null, 0))
      case "msg" => Seq(Span("bytes", b64(OleCorpus.msgFile(r)), null, 0))
      case "pst" => Seq(Span("bytes", b64(PstCorpus.pstFile(r)), null, 0))
      case "pdf" => Seq(Span("pdf", b64(pdfDoc(r, index)), null, 0))
      case "zip" =>
        val bytes = if (isBombShaped(index)) bombZip(r) else zipDoc(r)
        Seq(Span("zip", b64(bytes), null, 0))
      case "archive" =>
        // the round-3 container formats, same member mix as tar
        val entries = (1 to 2 + r.nextInt(2)).map { i =>
          r.nextInt(3) match {
            case 0 => s"member$i.txt" -> paragraph(r, 3).getBytes(StandardCharsets.UTF_8)
            case 1 => s"member$i.html" -> htmlFragment(r).getBytes(StandardCharsets.UTF_8)
            case _ => s"notes/member$i.xml" -> xmlDoc(r).getBytes(StandardCharsets.UTF_8)
          }
        }
        val bytes = (index % 4) match {
          case 0 => graft.pkgx.SevenZ.write(entries)
          case 1 => graft.pkgx.ArCpio.writeAr(entries)
          case 2 => graft.pkgx.ArCpio.writeCpio(entries)
          case _ => graft.pkgx.RarUtil.write(entries) // v22: stored rar4
        }
        Seq(Span("bytes", b64(bytes), null, 0))
      case "onenote" =>
        Seq(Span("bytes", b64(OneCorpus.oneFile(r)), null, 0))
      case "msbin" =>
        val bytes = (index % 4) match {
          case 0 => MsBinCorpus.xlsbFile(r)
          case 1 => MsBinCorpus.pubFile(r)
          case 2 => MsBinCorpus.vsdFile(r)
          case _ => MsBinCorpus.accessFile(r) // v20
        }
        Seq(Span("bytes", b64(bytes), null, 0))
      case "warc" =>
        // web-archive rows: 2-3 response records (html + text members);
        // every other row ships gzip-wrapped (.warc.gz path)
        val responses = (1 to 2 + r.nextInt(2)).map { i =>
          if (r.nextInt(3) == 0)
            (s"http://corpus.example/$id/notes$i.txt", "text/plain",
              paragraph(r, 3).getBytes(StandardCharsets.UTF_8))
          else
            (s"http://corpus.example/$id/page$i.html", "text/html",
              htmlFragment(r).getBytes(StandardCharsets.UTF_8))
        }
        val warcBytes = graft.warc.WarcExtractor.write(responses)
        val payload = if (index % 2 == 0) warcBytes else gzipBytes(warcBytes)
        Seq(Span("bytes", b64(payload), null, 0))
      case "sci" =>
        val bytes = (index % 4) match {
          case 0 => SciCorpus.mat(r)
          case 1 => SciCorpus.nc(r)
          case 2 => enviDoc(r) // v21
          case _ => SciCorpus.grib(r)
        }
        Seq(Span("bytes", b64(bytes), null, 0))
      case "fixed" =>
        val bytes = (index % 3) match {
          case 0 => FixedCorpus.xps(r)
          case 1 => FixedCorpus.emf(r)
          case _ => FixedCorpus.wmf(r)
        }
        Seq(Span("bytes", b64(bytes), null, 0))
      case "legacy" =>
        val bytes = (index % 8) match {
          case 0 => LegacyCorpus.wpd(r)
          case 1 => LegacyCorpus.qpw(r)
          case 2 => LegacyCorpus.dbf(r)
          case 3 => LegacyCorpus.dif(r)
          case 4 => LegacyCorpus.tmx(r)
          case 5 => LegacyCorpus.fb2(r)
          case 6 => LegacyCorpus.plist(r)
          case _ => LegacyCorpus.tnef(r)
        }
        Seq(Span("bytes", b64(bytes), null, 0))
      case "text" => Seq(Span("text", b64(textDoc(r, index)), null, 0))
      case "xml" => Seq(Span("xml", xmlDoc(r), null, 0))
      case "tar" =>
        val entries = (1 to 2 + r.nextInt(2)).map { i =>
          r.nextInt(3) match {
            case 0 => s"member$i.txt" -> paragraph(r, 3).getBytes(StandardCharsets.UTF_8)
            case 1 => s"member$i.html" -> htmlFragment(r).getBytes(StandardCharsets.UTF_8)
            case _ => s"dir/member$i.xml" -> xmlDoc(r).getBytes(StandardCharsets.UTF_8)
          }
        }
        val tarBytes = graft.pkgx.TarUtil.write(entries)
        // rotate the wrapper: plain tar / tar.gz / tar.bz2 recursion paths
        val payload = (index % 3) match {
          case 0 => tarBytes
          case 1 => gzipBytes(tarBytes)
          case _ => graft.pkgx.Bzip2.compress(tarBytes)
        }
        Seq(Span("bytes", b64(payload), null, 0))
      case "media" =>
        // real container payloads (metadata-recoverable) in 7 of 8 rows;
        // the 8th stays a payload-less blob:// reference (stub path)
        (index % 8) match {
          case 0 => Seq(Span(Span.KindMedia, "", s"blob://${sha8(id)}", 0))
          case 1 => Seq(Span("bytes", b64(MediaCorpus.png(r)), null, 0))
          case 2 => Seq(Span("bytes", b64(MediaCorpus.jpeg(r)), null, 0))
          case 3 => Seq(Span("bytes", b64(MediaCorpus.gif(r)), null, 0))
          case 4 => Seq(Span("bytes", b64(MediaCorpus.bmp(r)), null, 0))
          case 5 => Seq(Span("bytes", b64(MediaCorpus.wav(r)), null, 0))
          case 6 => Seq(Span("bytes", b64(MediaCorpus.mp3(r)), null, 0))
          case _ => Seq(Span("bytes", b64(MediaCorpus.mp4(r)), null, 0))
        }
      case _ => // junk
        val junk = new Array[Byte](256 + r.nextInt(512))
        r.nextBytes(junk)
        // ensure it doesn't accidentally look like text
        junk(0) = 0x01; junk(1) = 0x02
        Seq(Span("junk", b64(junk), null, 0))
    }
    // dBASE has no content magic (glob-only in the reference's mime db
    // too): legacy-dbf rows carry the extension on the row id, which the
    // engine passes through as the resource-name hint
    val rowId =
      if (kindOf(index) == "legacy" && index % 8 == 2) s"$id.dbf" else id
    DocRow(rowId, spans)
  }

  def b64(bytes: Array[Byte]): String = Base64.getEncoder.encodeToString(bytes)

  private def sha8(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    graft.core.Hex.encode(d.take(4))
  }

  // ---- HTML ----------------------------------------------------------
  def htmlDoc(r: Random, index: Long, scale: Int = 1): String = {
    val title = sentence(r, 3).dropRight(1)
    val author = Words(r.nextInt(Words.length)) + " " + Words(r.nextInt(Words.length))
    val lat = (r.nextInt(18000) - 9000) / 100.0
    val lon = (r.nextInt(36000) - 18000) / 100.0
    val nav = (1 to 5).map(i => s"""<a href="/nav$i">${Words(r.nextInt(Words.length))}</a>""")
      .mkString(" | ")
    val paras = (1 to (3 + r.nextInt(4)) * scale)
      .map(_ => s"<p>${paragraph(r, 2 + r.nextInt(3))}</p>").mkString("\n")
    val listItems = (1 to 3).map(_ => s"<li>${sentence(r, 3 + r.nextInt(4))}</li>").mkString
    val tableRows = (1 to 2).map(_ =>
      s"<tr><td>${Words(r.nextInt(Words.length))}</td><td>${r.nextInt(1000)}</td></tr>").mkString
    s"""<!DOCTYPE html>
<html>
<head>
<meta charset="utf-8">
<title>$title</title>
<meta name="author" content="$author">
<meta name="keywords" content="${Words(r.nextInt(Words.length))},${Words(r.nextInt(Words.length))}">
<meta name="ICBM" content="$lat, $lon">
<base href="http://example.com/a/b/">
<style>body { margin: 0; } .nav { color: red; }</style>
<script>var tracker = "${Words(r.nextInt(Words.length))}"; function f() { return 1; }</script>
</head>
<body>
<div class="nav">$nav</div>
<h1>$title</h1>
$paras
<ul>$listItems</ul>
<table>$tableRows</table>
<p>See <a href="../details.html">details</a> and <img src="images/fig1.png" alt="">.</p>
<div class="footer">Copyright &copy; 2026 | <a href="/terms">Terms</a> | <a href="/privacy">Privacy</a></div>
</body>
</html>"""
  }

  def htmlFragment(r: Random): String =
    s"<html><body><p>${paragraph(r, 2)}</p></body></html>"

  // ---- XML -----------------------------------------------------------
  def xmlDoc(r: Random): String = {
    val title = sentence(r, 3).dropRight(1)
    s"""<?xml version="1.0" encoding="UTF-8"?>
<record xmlns:dc="http://purl.org/dc/elements/1.1/">
  <dc:title>$title</dc:title>
  <dc:creator>${Words(r.nextInt(Words.length))}</dc:creator>
  <body>${paragraph(r, 3)}</body>
</record>"""
  }

  // ---- text (mixed charsets; accents make the statistical charset
  // fallback observable — pure-ASCII latin-1 is indistinguishable) ----
  def textDoc(r: Random, index: Long): Array[Byte] = {
    val content = paragraph(r, 4 + r.nextInt(6))
    (index % 4) match {
      case 0 => (content + " café naïve").getBytes(StandardCharsets.UTF_8)
      case 1 => // ISO-8859-1 accents, no C1 bytes, no BOM/meta
        (content + " café résumé").getBytes(StandardCharsets.ISO_8859_1)
      case 2 => // UTF-16LE with BOM
        val bom = Array(0xff.toByte, 0xfe.toByte)
        bom ++ content.getBytes(StandardCharsets.UTF_16LE)
      case _ => // windows-1252: C1 bytes (em-dash 0x97, euro 0x80)
        (content + " price — 5 €").getBytes(
          java.nio.charset.Charset.forName("windows-1252"))
    }
  }

  // ---- DOCX ----------------------------------------------------------
  def docxDoc(r: Random): Array[Byte] = {
    val title = sentence(r, 3).dropRight(1)
    val author = Words(r.nextInt(Words.length))
    val paras = (1 to 2 + r.nextInt(3)).map { _ =>
      s"<w:p><w:r><w:t>${xmlEscape(paragraph(r, 2 + r.nextInt(2)))}</w:t></w:r></w:p>"
    }.mkString
    val tabPara = s"<w:p><w:r><w:t>Col1</w:t></w:r><w:r><w:tab/></w:r>" +
      s"<w:r><w:t>${xmlEscape(sentence(r, 2))}</w:t></w:r></w:p>"
    val table = "<w:tbl>" + (1 to 2).map { _ =>
      "<w:tr>" + (1 to 2).map(_ =>
        s"<w:tc><w:p><w:r><w:t>${Words(r.nextInt(Words.length))}</w:t></w:r></w:p></w:tc>"
      ).mkString + "</w:tr>"
    }.mkString + "</w:tbl>"
    val link = s"""<w:p><w:hyperlink r:id="rId4"><w:r><w:t>link text</w:t></w:r>""" +
      "</w:hyperlink></w:p>"
    // numbered + bulleted list block (round-3: list numbering per
    // OOXMLTikaBodyPartHandler.writeParagraphNumber)
    val listItems = (1 to 2 + r.nextInt(2)).map { _ =>
      s"""<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="1"/></w:numPr></w:pPr>""" +
      s"""<w:r><w:t>${xmlEscape(sentence(r, 3 + r.nextInt(3)))}</w:t></w:r></w:p>"""
    }.mkString
    val nested =
      s"""<w:p><w:pPr><w:numPr><w:ilvl w:val="1"/><w:numId w:val="1"/></w:numPr></w:pPr>""" +
      s"""<w:r><w:t>${xmlEscape(sentence(r, 3))}</w:t></w:r></w:p>"""
    val bullets =
      s"""<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="2"/></w:numPr></w:pPr>""" +
      s"""<w:r><w:t>${xmlEscape(sentence(r, 3))}</w:t></w:r></w:p>"""
    val listBlock = listItems + nested + bullets
    val documentXml =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<w:body>$paras$tabPara$table$link$listBlock</w:body>
</w:document>"""
    val numberingXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<w:numbering xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
      """<w:abstractNum w:abstractNumId="0">""" +
      """<w:lvl w:ilvl="0"><w:start w:val="1"/><w:numFmt w:val="decimal"/><w:lvlText w:val="%1."/></w:lvl>""" +
      """<w:lvl w:ilvl="1"><w:start w:val="1"/><w:numFmt w:val="lowerLetter"/><w:lvlText w:val="%1.%2."/></w:lvl>""" +
      """</w:abstractNum>""" +
      """<w:abstractNum w:abstractNumId="1">""" +
      """<w:lvl w:ilvl="0"><w:start w:val="1"/><w:numFmt w:val="bullet"/><w:lvlText w:val="·"/></w:lvl>""" +
      """</w:abstractNum>""" +
      """<w:num w:numId="1"><w:abstractNumId w:val="0"/></w:num>""" +
      """<w:num w:numId="2"><w:abstractNumId w:val="1"/></w:num>""" +
      """</w:numbering>"""
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
<Override PartName="/docProps/core.xml" ContentType="application/vnd.openxmlformats-package.core-properties+xml"/>
</Types>"""
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
</Relationships>"""
    val docRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId4" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/hyperlink" Target="http://example.com/linked" TargetMode="External"/>
</Relationships>"""
    val core =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/">
<dc:title>${xmlEscape(title)}</dc:title>
<dc:creator>$author</dc:creator>
</cp:coreProperties>"""
    val aux = scala.collection.mutable.ArrayBuffer[(String, Array[Byte])]()
    if (r.nextInt(2) == 0) {
      val footnote =
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<w:footnotes xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
        """<w:footnote w:type="separator" w:id="-1"><w:p><w:r><w:separator/></w:r></w:p></w:footnote>""" +
        s"""<w:footnote w:id="1"><w:p><w:r><w:t>${xmlEscape(sentence(r, 4))}</w:t></w:r></w:p></w:footnote>""" +
        "</w:footnotes>"
      aux += "word/footnotes.xml" -> footnote.getBytes(StandardCharsets.UTF_8)
    }
    if (r.nextInt(2) == 0) {
      val header =
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<w:hdr xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
        s"""<w:p><w:r><w:t>${xmlEscape(sentence(r, 3))}</w:t></w:r></w:p></w:hdr>"""
      aux += "word/header1.xml" -> header.getBytes(StandardCharsets.UTF_8)
    }
    zip(Seq(
      "[Content_Types].xml" -> contentTypes.getBytes(StandardCharsets.UTF_8),
      "_rels/.rels" -> rootRels.getBytes(StandardCharsets.UTF_8),
      "word/document.xml" -> documentXml.getBytes(StandardCharsets.UTF_8),
      "word/numbering.xml" -> numberingXml.getBytes(StandardCharsets.UTF_8),
      "word/_rels/document.xml.rels" -> docRels.getBytes(StandardCharsets.UTF_8),
      "docProps/core.xml" -> core.getBytes(StandardCharsets.UTF_8)
    ) ++ aux)
  }

  def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  // ---- XLSX ----------------------------------------------------------
  def xlsxDoc(r: Random): Array[Byte] = {
    val nShared = 4 + r.nextInt(4)
    val sharedVals = (0 until nShared).map(_ => Words(r.nextInt(Words.length)))
    val sst =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="$nShared" uniqueCount="$nShared">""" +
      sharedVals.map(v => s"<si><t>$v</t></si>").mkString + "</sst>"
    val nRows = 2 + r.nextInt(4)
    val rows = (1 to nRows).map { ri =>
      val c1 = s"""<c r="A$ri" t="s"><v>${r.nextInt(nShared)}</v></c>"""
      val c2 = s"""<c r="B$ri"><v>${r.nextInt(10000)}</v></c>"""
      val c3 = s"""<c r="C$ri" t="inlineStr"><is><t>${Words(r.nextInt(Words.length))}</t></is></c>"""
      // styled cells (round-3: DataFormatter semantics) — a date serial
      // (custom yyyy-mm-dd), a 2-decimal grouped number, a percent
      val serial = 40000 + r.nextInt(8000)
      val c4 = s"""<c r="D$ri" s="1"><v>$serial</v></c>"""
      val c5 = s"""<c r="E$ri" s="2"><v>${r.nextInt(100000)}.${r.nextInt(1000)}</v></c>"""
      val c6 = s"""<c r="F$ri" s="3"><v>0.${r.nextInt(100)}</v></c>"""
      s"""<row r="$ri">$c1$c2$c3$c4$c5$c6</row>"""
    }.mkString
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      s"<sheetData>$rows</sheetData></worksheet>"
    val stylesXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      """<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy-mm-dd"/></numFmts>""" +
      """<cellXfs count="4"><xf numFmtId="0"/><xf numFmtId="164"/>""" +
      """<xf numFmtId="4"/><xf numFmtId="9"/></cellXfs></styleSheet>"""
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val wbRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
      """</Relationships>"""
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      """</Types>"""
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
      """</Relationships>"""
    zip(Seq(
      "[Content_Types].xml" -> contentTypes.getBytes(StandardCharsets.UTF_8),
      "_rels/.rels" -> rootRels.getBytes(StandardCharsets.UTF_8),
      "xl/workbook.xml" -> workbook.getBytes(StandardCharsets.UTF_8),
      "xl/_rels/workbook.xml.rels" -> wbRels.getBytes(StandardCharsets.UTF_8),
      "xl/sharedStrings.xml" -> sst.getBytes(StandardCharsets.UTF_8),
      "xl/styles.xml" -> stylesXml.getBytes(StandardCharsets.UTF_8),
      "xl/worksheets/sheet1.xml" -> sheet.getBytes(StandardCharsets.UTF_8)
    ))
  }

  // ---- PPTX ----------------------------------------------------------
  def pptxDoc(r: Random): Array[Byte] = {
    val nSlides = 1 + r.nextInt(3)
    val slides = (1 to nSlides).map { i =>
      val paras = (1 to 2 + r.nextInt(2)).map(_ =>
        s"<a:p><a:r><a:t>${xmlEscape(sentence(r, 3 + r.nextInt(5)))}</a:t></a:r></a:p>").mkString
      s"slide$i.xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
         """<p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main">""" +
         s"<p:cSld><p:spTree><p:sp><p:txBody>$paras</p:txBody></p:sp></p:spTree></p:cSld></p:sld>")
    }
    val sldIds = (1 to nSlides).map(i =>
      s"""<p:sldId id="${255 + i}" r:id="rId$i"/>""").mkString
    val pres =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<p:presentation xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      s"<p:sldIdLst>$sldIds</p:sldIdLst></p:presentation>"
    val presRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      (1 to nSlides).map(i =>
        s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide" Target="slides/slide$i.xml"/>""").mkString +
      """</Relationships>"""
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>""" +
      """</Types>"""
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="ppt/presentation.xml"/>""" +
      """</Relationships>"""
    zip(Seq(
      "[Content_Types].xml" -> contentTypes.getBytes(StandardCharsets.UTF_8),
      "_rels/.rels" -> rootRels.getBytes(StandardCharsets.UTF_8),
      "ppt/presentation.xml" -> pres.getBytes(StandardCharsets.UTF_8),
      "ppt/_rels/presentation.xml.rels" -> presRels.getBytes(StandardCharsets.UTF_8)
    ) ++ slides.map { case (n, c) => s"ppt/slides/$n" -> c.getBytes(StandardCharsets.UTF_8) })
  }

  // ---- CSV -----------------------------------------------------------
  def csvDoc(r: Random): Array[Byte] = {
    val delim = Seq(',', '\t', ';')(r.nextInt(3))
    val nCols = 3 + r.nextInt(3)
    val nRows = 4 + r.nextInt(8)
    val header = (1 to nCols).map(i => s"col$i").mkString(delim.toString)
    val rows = (1 to nRows).map { _ =>
      (1 to nCols).map(_ => r.nextInt(2) match {
        case 0 => Words(r.nextInt(Words.length))
        case _ => r.nextInt(100000).toString
      }).mkString(delim.toString)
    }
    (header +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8)
  }

  // ---- RTF -----------------------------------------------------------
  def rtfDoc(r: Random, index: Long = 0): Array[Byte] = {
    val paras = (1 to 2 + r.nextInt(3))
      .map(_ => s"${paragraph(r, 2)}\\par").mkString("\n")
    // v21: some rows carry embedded content — a \pict image and/or an
    // \objdata OLE 1.0 Package (exercises the RTF embedded-object path)
    def hex(b: Array[Byte]) = graft.core.Hex.encode(b)
    val pict =
      if (index % 4 == 1)
        "{\\pict\\pngblip\\picw8\\pich8 " + hex(MediaCorpus.png(r)) + "}\\par\n"
      else ""
    val objdata =
      if (index % 8 == 5) {
        val payload = paragraph(r, 2).getBytes(StandardCharsets.UTF_8)
        "{\\object\\objemb{\\*\\objdata " +
          hex(ole1Package(s"att$index.txt", payload)) + "}}\\par\n"
      } else ""
    val doc =
      s"""{\\rtf1\\ansi\\deff0
{\\fonttbl{\\f0 Times New Roman;}}
{\\colortbl;\\red0\\green0\\blue0;}
{\\info{\\title ${sentence(r, 3).dropRight(1)}}}
\\f0\\fs24
$paras
$pict${objdata}Col1\\tab Col2\\par
Unicode: \\u8212? dash and \\'e9 accent\\par
}"""
    doc.getBytes(StandardCharsets.ISO_8859_1)
  }

  /** OLE 1.0 embedded Package record (the `\objdata` payload shape). */
  private def ole1Package(name: String, data: Array[Byte]): Array[Byte] = {
    def asciiz(s: String) = s.getBytes(StandardCharsets.US_ASCII) :+ 0.toByte
    def lenAnsi(s: String) = le32Bytes(s.length + 1) ++ asciiz(s)
    val pkg = le16Bytes(2) ++ asciiz(name) ++ asciiz("") ++ Array[Byte](0, 0) ++
      le16Bytes(3) ++ le32Bytes(name.length + 1) ++ asciiz(s"C:\\data\\$name") ++
      le32Bytes(data.length) ++ data ++ le32Bytes(0)
    le32Bytes(1) ++ le32Bytes(2) ++ lenAnsi("Package") ++ lenAnsi("") ++ lenAnsi("") ++
      le32Bytes(pkg.length) ++ pkg
  }

  /** Flat single-XML OpenDocument text (fodt). */
  def fodtDoc(r: Random): Array[Byte] = {
    val paras = (1 to 2 + r.nextInt(3))
      .map(_ => s"<text:p>${xmlEscape(paragraph(r, 2))}</text:p>").mkString("\n")
    val doc =
      s"""<?xml version="1.0" encoding="UTF-8"?>
<office:document xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
 xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
 xmlns:dc="http://purl.org/dc/elements/1.1/"
 office:version="1.2" office:mimetype="application/vnd.oasis.opendocument.text">
 <office:meta><dc:title>${xmlEscape(sentence(r, 3).dropRight(1))}</dc:title></office:meta>
 <office:body><office:text>
$paras
 </office:text></office:body>
</office:document>"""
    doc.getBytes(StandardCharsets.UTF_8)
  }

  /** ENVI image header (detected by the leading ENVI line). */
  def enviDoc(r: Random): Array[Byte] = {
    val samples = 100 + r.nextInt(4000)
    val lines = 100 + r.nextInt(4000)
    val zone = 1 + r.nextInt(60)
    val doc =
      s"""ENVI
description = {
  Synthetic corpus raster [graft v21]}
samples = $samples
lines   = $lines
bands   = ${1 + r.nextInt(7)}
header offset = 0
file type = ENVI Standard
data type = 2
interleave = bsq
byte order = 0
map info = {UTM, 1.000, 1.000, ${400000 + r.nextInt(200000)}.0, ${r.nextInt(9000000)}.0, 30.0, 30.0, $zone, North, WGS-84, units=Meters}
wavelength units = Unknown
"""
    doc.getBytes(StandardCharsets.UTF_8)
  }

  // ---- EML -----------------------------------------------------------
  def emlDoc(r: Random): Array[Byte] = {
    val subject = sentence(r, 4).dropRight(1)
    val from = s"${Words(r.nextInt(Words.length))}@example.com"
    val plain = paragraph(r, 3)
    val html = s"<html><body><p>${paragraph(r, 2)}</p></body></html>"
    val attachment = b64grouped(paragraph(r, 2).getBytes(StandardCharsets.UTF_8))
    val boundary = "----=_graft_boundary_42"
    val msg =
      s"""Received: from mx.example.com by mail.example.org
From: $from
To: recipient@example.org
Subject: $subject
Date: Thu, 01 Jan 2026 10:00:00 +0000
MIME-Version: 1.0
Content-Type: multipart/mixed; boundary="$boundary"

--$boundary
Content-Type: text/plain; charset=utf-8

$plain

--$boundary
Content-Type: text/html; charset=utf-8

$html

--$boundary
Content-Type: text/plain; name="notes.txt"
Content-Disposition: attachment; filename="notes.txt"
Content-Transfer-Encoding: base64

$attachment
--$boundary--
""".replace("\n", "\r\n")
    msg.getBytes(StandardCharsets.UTF_8)
  }

  private def b64grouped(data: Array[Byte]): String =
    Base64.getEncoder.encodeToString(data).grouped(72).mkString("\r\n")

  // ---- ODT -----------------------------------------------------------
  def odtDoc(r: Random): Array[Byte] = {
    val title = sentence(r, 3).dropRight(1)
    val paras = (1 to 2 + r.nextInt(3))
      .map(_ => s"<text:p>${xmlEscape(paragraph(r, 2))}</text:p>").mkString
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
      """<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0">""" +
      "<office:body><office:text>" + paras +
      "<text:p>With<text:tab/>tab and<text:line-break/>break</text:p>" +
      "</office:text></office:body></office:document-content>"
    val metaXml =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
      """<office:document-meta xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:dc="http://purl.org/dc/elements/1.1/">""" +
      s"<office:meta><dc:title>${xmlEscape(title)}</dc:title>" +
      s"<dc:creator>${Words(r.nextInt(Words.length))}</dc:creator></office:meta>" +
      "</office:document-meta>"
    zip(Seq(
      "mimetype" -> "application/vnd.oasis.opendocument.text"
        .getBytes(StandardCharsets.US_ASCII),
      "content.xml" -> content.getBytes(StandardCharsets.UTF_8),
      "meta.xml" -> metaXml.getBytes(StandardCharsets.UTF_8)
    ))
  }

  // ---- PDF -----------------------------------------------------------
  /** Minimal valid PDF: xref table, page tree, Helvetica, per-page content
    * streams of `BT /F1 12 Tf x y Td (..) Tj .. ET`, with line advances
    * via `0 -14 Td` and occasional TJ kerning gaps (mirrors
    * testExtraSpaces.pdf territory). index parity picks FlateDecode.
    */
  def pdfDoc(r: Random, index: Long): Array[Byte] = {
    if (index % 11 == 3) return encryptedPdf(r)
    if (index % 11 == 7 && index % 13 != 4) return encryptedPdfR6(r)
    if (index % 13 == 4) return featuredPdf(r)
    if (index % 7 == 2) return type0Pdf(r)
    if (index % 5 == 1) return subsetFontPdf(r)
    val nPages = 1 + r.nextInt(2)
    val flate = index % 2 == 0
    val pageContents: Seq[Array[Byte]] = (1 to nPages).map { _ =>
      val nLines = 3 + r.nextInt(4)
      val sb = new StringBuilder
      sb.append("BT\n/F1 12 Tf\n72 712 Td\n")
      var i = 0
      while (i < nLines) {
        val line = sentence(r, 3 + r.nextInt(6))
        if (i > 0) sb.append("0 -14 Td\n")
        if (r.nextInt(4) == 0 && line.length > 10) {
          // TJ with a kerning gap wide enough to read as a space
          val cut = line.length / 2
          val a = pdfEscape(line.substring(0, cut).trim)
          val b = pdfEscape(line.substring(cut).trim)
          sb.append(s"[($a) -600 ($b)] TJ\n")
        } else {
          sb.append(s"(${pdfEscape(line)}) Tj\n")
        }
        i += 1
      }
      sb.append("ET\n")
      sb.toString.getBytes(StandardCharsets.ISO_8859_1)
    }
    val info = (sentence(r, 3).dropRight(1), Words(r.nextInt(Words.length)))
    buildPdf(pageContents, flate, Some(info))
  }

  /** A one-page PDF using a subset font: codes 1..n assigned to the
    * text's distinct chars, decoded through a /ToUnicode bfchar CMap,
    * with explicit /Widths — the modern-PDF path (subset embedded fonts)
    * that plain WinAnsi fixtures do not exercise.
    */
  def subsetFontPdf(r: Random): Array[Byte] = {
    val lines = (1 to 2 + r.nextInt(3)).map(_ => sentence(r, 3 + r.nextInt(4)))
    val distinct = lines.mkString("\n").toSet.filter(_ != '\n').toSeq.sorted
    val codeOf = distinct.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
    val bfchars = distinct.map(c => f"<${codeOf(c)}%02X> <${c.toInt}%04X>").mkString("\n")
    val cmap =
      s"""/CIDInit /ProcSet findresource begin
begincmap
${distinct.size} beginbfchar
$bfchars
endbfchar
endcmap
end"""
    val widths = distinct.indices.map(_ => 500 + r.nextInt(200)).mkString(" ")
    val content = {
      val sb = new StringBuilder("BT\n/F1 12 Tf\n72 712 Td\n")
      lines.zipWithIndex.foreach { case (line, i) =>
        if (i > 0) sb.append("0 -14 Td\n")
        sb.append("<").append(line.map(c => f"${codeOf(c)}%02X").mkString).append("> Tj\n")
      }
      sb.append("ET\n")
      sb.toString
    }
    val pdf = new StringBuilder
    pdf.append("%PDF-1.7\n")
    pdf.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    pdf.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    pdf.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 4 0 R >> >> /Contents 6 0 R >>\nendobj\n")
    pdf.append("4 0 obj\n<< /Type /Font /Subtype /TrueType /BaseFont /GRAFTA+Sub " +
      s"/FirstChar 1 /LastChar ${distinct.size} /Widths [$widths] " +
      "/ToUnicode 5 0 R >>\nendobj\n")
    pdf.append(s"5 0 obj\n<< /Length ${cmap.length} >>\nstream\n$cmap\nendstream\nendobj\n")
    pdf.append(s"6 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
    pdf.append("trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    pdf.toString.getBytes(StandardCharsets.ISO_8859_1)
  }

  /** A one-page Type0/Identity-H (CID) PDF: 2-byte codes mapped to the
    * text's distinct chars via a 2-byte ToUnicode CMap, descendant-font
    * /W widths — the embedded-unicode-font path.
    */
  def type0Pdf(r: Random): Array[Byte] = {
    val lines = (1 to 2 + r.nextInt(2)).map(_ => sentence(r, 3 + r.nextInt(3)))
    val distinct = lines.mkString("\n").toSet.filter(_ != '\n').toSeq.sorted
    val codeOf = distinct.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
    val bfchars = distinct.map(c => f"<${codeOf(c)}%04X> <${c.toInt}%04X>").mkString("\n")
    val cmap =
      s"""/CIDInit /ProcSet findresource begin
begincmap
${distinct.size} beginbfchar
$bfchars
endbfchar
endcmap
end"""
    val wArr = s"1 [${distinct.indices.map(_ => 500 + r.nextInt(200)).mkString(" ")}]"
    val content = {
      val sb = new StringBuilder("BT\n/F0 12 Tf\n72 712 Td\n")
      lines.zipWithIndex.foreach { case (line, i) =>
        if (i > 0) sb.append("0 -14 Td\n")
        sb.append("<").append(line.map(c => f"${codeOf(c)}%04X").mkString).append("> Tj\n")
      }
      sb.append("ET\n")
      sb.toString
    }
    val pdf = new StringBuilder
    pdf.append("%PDF-1.7\n")
    pdf.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    pdf.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    pdf.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F0 4 0 R >> >> /Contents 7 0 R >>\nendobj\n")
    pdf.append("4 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /GRAFT+CID " +
      "/Encoding /Identity-H /DescendantFonts [5 0 R] /ToUnicode 6 0 R >>\nendobj\n")
    pdf.append("5 0 obj\n<< /Type /Font /Subtype /CIDFontType2 /BaseFont /GRAFT+CID " +
      s"/DW 500 /W [$wArr] >>\nendobj\n")
    pdf.append(s"6 0 obj\n<< /Length ${cmap.length} >>\nstream\n$cmap\nendstream\nendobj\n")
    pdf.append(s"7 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
    pdf.append("trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    pdf.toString.getBytes(StandardCharsets.ISO_8859_1)
  }

  def pdfEscape(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  /** RC4-encrypted one-page PDF (standard security handler R3/V2,
    * 128-bit, empty user+owner password) — the empty-password decrypt
    * path the reference exercises (PDFParser.java:176-188).
    */
  def encryptedPdf(r: Random): Array[Byte] = {
    import graft.pdf.PdfCrypto
    val lines = (1 to 2 + r.nextInt(3)).map(_ => sentence(r, 3 + r.nextInt(4)))
    val content = {
      val sb = new StringBuilder("BT\n/F1 12 Tf\n72 712 Td\n")
      lines.zipWithIndex.foreach { case (l, i) =>
        if (i > 0) sb.append("0 -14 Td\n")
        sb.append(s"(${pdfEscape(l)}) Tj\n")
      }
      sb.append("ET\n").toString.getBytes(StandardCharsets.ISO_8859_1)
    }
    val title = sentence(r, 3).dropRight(1)
    val id0 = Array.tabulate[Byte](16)(i => (r.nextInt(256) ^ i).toByte)
    val p = -44L & 0xFFFFFFFFL
    val keyLen = 16
    val o = PdfCrypto.computeO(Array.emptyByteArray, Array.emptyByteArray, 3, keyLen)
    val key = PdfCrypto.fileKey(o, p, id0, 3, keyLen)
    val u = PdfCrypto.computeU(key, id0, 3)
    def hex(b: Array[Byte]) = graft.core.Hex.encode(b)
    def encFor(num: Int) = PdfCrypto.objectKey(key, num, 0)
    val encContent = PdfCrypto.rc4(encFor(5), content)
    val encTitle = PdfCrypto.rc4(encFor(6), title.getBytes(StandardCharsets.ISO_8859_1))

    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.6\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    w("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>\nendobj\n")
    w("4 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding /WinAnsiEncoding >>\nendobj\n")
    w(s"5 0 obj\n<< /Length ${encContent.length} >>\nstream\n")
    out.write(encContent)
    w("\nendstream\nendobj\n")
    w(s"6 0 obj\n<< /Title <${hex(encTitle)}> >>\nendobj\n")
    w(s"7 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 " +
      s"/P -44 /O <${hex(o)}> /U <${hex(u)}> >>\nendobj\n")
    w(s"trailer\n<< /Root 1 0 R /Info 6 0 R /Encrypt 7 0 R " +
      s"/ID [<${hex(id0)}> <${hex(id0)}>] >>\n%%EOF\n")
    out.toByteArray
  }

  /** AES-256 (/V 5 /R 6 AESV3, ISO 32000-2) empty-password variant:
    * the modern encryption layout a 100 TB crawl actually contains.
    */
  def encryptedPdfR6(r: Random): Array[Byte] = {
    import graft.pdf.PdfCrypto
    val lines = (1 to 2 + r.nextInt(3)).map(_ => sentence(r, 3 + r.nextInt(4)))
    val content = {
      val sb = new StringBuilder("BT\n/F1 12 Tf\n72 712 Td\n")
      lines.zipWithIndex.foreach { case (l, i) =>
        if (i > 0) sb.append("0 -14 Td\n")
        sb.append(s"(${pdfEscape(l)}) Tj\n")
      }
      sb.append("ET\n").toString.getBytes(StandardCharsets.ISO_8859_1)
    }
    val title = sentence(r, 3).dropRight(1)
    val fileKey = Array.tabulate[Byte](32)(_ => r.nextInt(256).toByte)
    val salts = Array.tabulate[Byte](32)(_ => r.nextInt(256).toByte)
    val p = -44L
    val (u, ue, o, oe, perms) = PdfCrypto.computeR6Entries(fileKey, salts, p)
    def hex(b: Array[Byte]) = graft.core.Hex.encode(b)
    val iv = Array.tabulate[Byte](16)(_ => r.nextInt(256).toByte)
    val encContent = PdfCrypto.aesEncrypt(fileKey, iv, content)
    val encTitle = PdfCrypto.aesEncrypt(fileKey, iv,
      title.getBytes(StandardCharsets.ISO_8859_1))
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-2.0\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    w("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>\nendobj\n")
    w("4 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding /WinAnsiEncoding >>\nendobj\n")
    w(s"5 0 obj\n<< /Length ${encContent.length} >>\nstream\n")
    out.write(encContent)
    w("\nendstream\nendobj\n")
    w(s"6 0 obj\n<< /Title <${hex(encTitle)}> >>\nendobj\n")
    w("7 0 obj\n<< /Filter /Standard /V 5 /R 6 /Length 256 /P -44 " +
      "/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF " +
      s"/O <${hex(o)}> /U <${hex(u)}> /OE <${hex(oe)}> /UE <${hex(ue)}> " +
      s"/Perms <${hex(perms)}> >>\nendobj\n")
    w("trailer\n<< /Root 1 0 R /Info 6 0 R /Encrypt 7 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  /** One-page PDF with the AbstractPDF2XHTML extras: an embedded file
    * (Names/EmbeddedFiles FILESPEC), a URI + text annotation, an
    * AcroForm field and outline bookmarks.
    */
  def featuredPdf(r: Random): Array[Byte] = {
    val body = sentence(r, 4 + r.nextInt(4))
    val content = s"BT\n/F1 12 Tf\n72 712 Td\n(${pdfEscape(body)}) Tj\nET\n"
    val attachment = paragraph(r, 2).getBytes(StandardCharsets.UTF_8)
    val annotText = sentence(r, 3)
    val fieldVal = Words(r.nextInt(Words.length))
    val bm1 = sentence(r, 2).dropRight(1)
    val bm2 = sentence(r, 2).dropRight(1)
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.6\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R " +
      "/Names << /EmbeddedFiles << /Names [(notes.txt) 8 0 R] >> >> " +
      "/AcroForm << /Fields [10 0 R] >> /Outlines 11 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    w("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R " +
      "/Annots [6 0 R] >>\nendobj\n")
    w("4 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding /WinAnsiEncoding >>\nendobj\n")
    w(s"5 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
    w(s"6 0 obj\n<< /Type /Annot /Subtype /Link /Rect [72 700 200 712] " +
      s"/Contents (${pdfEscape(annotText)}) " +
      "/A << /S /URI /URI (http://example.com/ref) >> >>\nendobj\n")
    w(s"8 0 obj\n<< /Type /Filespec /F (notes.txt) /EF << /F 9 0 R >> >>\nendobj\n")
    w(s"9 0 obj\n<< /Type /EmbeddedFile /Length ${attachment.length} >>\nstream\n")
    out.write(attachment)
    w("\nendstream\nendobj\n")
    w(s"10 0 obj\n<< /T (comment) /V (${pdfEscape(fieldVal)}) >>\nendobj\n")
    w("11 0 obj\n<< /Type /Outlines /First 12 0 R >>\nendobj\n")
    w(s"12 0 obj\n<< /Title (${pdfEscape(bm1)}) /Next 13 0 R >>\nendobj\n")
    w(s"13 0 obj\n<< /Title (${pdfEscape(bm2)}) >>\nendobj\n")
    w("trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  def buildPdf(pageContents: Seq[Array[Byte]], flate: Boolean): Array[Byte] =
    buildPdf(pageContents, flate, None)

  def buildPdf(pageContents: Seq[Array[Byte]], flate: Boolean,
      info: Option[(String, String)]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def write(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def writeB(b: Array[Byte]): Unit = out.write(b)

    val n = pageContents.length
    // objects: 1=Catalog, 2=Pages, 3=Font, then per page: page obj, content obj
    write("%PDF-1.7\n%âãÏÓ\n")
    offsets += out.size(); write("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val kidRefs = (0 until n).map(i => s"${4 + i * 2} 0 R").mkString(" ")
    offsets += out.size()
    write(s"2 0 obj\n<< /Type /Pages /Kids [$kidRefs] /Count $n >>\nendobj\n")
    offsets += out.size()
    write("3 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>\nendobj\n")
    pageContents.zipWithIndex.foreach { case (content, i) =>
      val pageNum = 4 + i * 2
      val contentNum = pageNum + 1
      offsets += out.size()
      write(s"$pageNum 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents $contentNum 0 R >>\nendobj\n")
      val body = if (flate) deflate(content) else content
      offsets += out.size()
      write(s"$contentNum 0 obj\n<< /Length ${body.length}" +
        (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n")
      writeB(body)
      write("\nendstream\nendobj\n")
    }
    val infoNum = info.map { case (title, author) =>
      val num = 4 + n * 2
      offsets += out.size()
      write(s"$num 0 obj\n<< /Title (${pdfEscape(title)}) " +
        s"/Author (${pdfEscape(author)}) >>\nendobj\n")
      num
    }
    val xrefPos = out.size()
    val total = 3 + n * 2 + 1 + infoNum.size
    write(s"xref\n0 $total\n0000000000 65535 f \n")
    offsets.foreach(o => write(f"$o%010d 00000 n \n"))
    val infoRef = infoNum.map(num => s" /Info $num 0 R").getOrElse("")
    write(s"trailer\n<< /Size $total /Root 1 0 R$infoRef >>\nstartxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  // ---- ZIP container -------------------------------------------------
  def zipDoc(r: Random): Array[Byte] = {
    val nEntries = 2 + r.nextInt(3)
    val entries = (1 to nEntries).map { i =>
      r.nextInt(3) match {
        case 0 => s"part$i.html" -> htmlFragment(r).getBytes(StandardCharsets.UTF_8)
        case 1 => s"part$i.txt" -> paragraph(r, 3).getBytes(StandardCharsets.UTF_8)
        case _ => s"part$i.xml" -> xmlDoc(r).getBytes(StandardCharsets.UTF_8)
      }
    }
    zip(entries)
  }

  /** Highly compressible container (repeated content) for the bomb-guard
    * path — decompresses far larger than its compressed size.
    */
  def bombZip(r: Random): Array[Byte] = bombZipBytes.clone()

  /** bombZip's output is a CONSTANT (fixed content, name, timestamp):
    * memoized so the 2 MB deflate runs once per JVM instead of per
    * generated row — byte-identical output, measured as the largest
    * single generation cost in the extraction-query cpu profile.
    */
  private lazy val bombZipBytes: Array[Byte] = {
    val big = ("A" * 4096) * 512 // 2 MB of 'A' → tiny deflate
    zip(Seq("big.txt" -> big.getBytes(StandardCharsets.UTF_8)))
  }

  def zip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val z = new ZipOutputStream(out)
    entries.foreach { case (name, data) =>
      val e = new ZipEntry(name)
      e.setTime(1735689600000L) // fixed timestamp → byte-identical output
      z.putNextEntry(e)
      z.write(data)
      z.closeEntry()
    }
    z.close()
    out.toByteArray
  }

  def gzipBytes(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(out)
    g.write(data); g.close()
    out.toByteArray
  }

  // ---- Spark-side generation ----------------------------------------
  /** Distributed corpus: rows are generated on executors (pure function
    * of index) — nothing is collected or shuffled. Scales to any n.
    */
  def docRows(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[DocRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).as[Long].mapPartitions(_.map(row))
  }
}
