package graft.corpus

import java.nio.charset.StandardCharsets
import scala.util.Random
import graft.core.Endian.{le16Bytes, le32Bytes}

/** Synthetic fixed-layout / graphics documents for the corpus "fixed"
  * kind (v18): XPS packages, EMF and WMF metafiles carrying text
  * records. Deterministic per-row (seeded Random), exercising the r4d
  * extractors end-to-end in the corpus pipeline.
  */
object FixedCorpus {

  private def xml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Minimal conformant XPS: fixedrepresentation rels → fdseq → fdoc →
    * one fpage with one Glyphs run per sentence (distinct OriginY rows).
    */
  def xps(r: Random): Array[Byte] = {
    val lines = (1 to 2 + r.nextInt(3)).map(_ => Corpus.sentence(r, 4 + r.nextInt(8)))
    val glyphs = lines.zipWithIndex.map { case (s, i) =>
      s"""  <Glyphs OriginX="48" OriginY="${96 + i * 24}" FontUri="/f.odttf"""" +
      s""" FontRenderingEmSize="12" UnicodeString="${xml(s)}" />"""
    }.mkString("\n")
    val fpage =
      s"""<FixedPage xmlns="http://schemas.microsoft.com/xps/2005/06" Width="816" Height="1056" xml:lang="en-US">
$glyphs
</FixedPage>"""
    val title = Corpus.sentence(r, 3)
    Corpus.zip(Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
         """<Default Extension="fdseq" ContentType="application/vnd.ms-package.xps-fixeddocumentsequence+xml"/>""" +
         """<Default Extension="fdoc" ContentType="application/vnd.ms-package.xps-fixeddocument+xml"/>""" +
         """<Default Extension="fpage" ContentType="application/vnd.ms-package.xps-fixedpage+xml"/>""" +
         """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
         """<Default Extension="xml" ContentType="application/xml"/></Types>""").getBytes(StandardCharsets.UTF_8),
      "_rels/.rels" ->
        ("""<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
         """<Relationship Id="R0" Type="http://schemas.microsoft.com/xps/2005/06/fixedrepresentation" Target="/FixedDocSeq.fdseq"/>""" +
         """</Relationships>""").getBytes(StandardCharsets.UTF_8),
      "FixedDocSeq.fdseq" ->
        ("""<FixedDocumentSequence xmlns="http://schemas.microsoft.com/xps/2005/06">""" +
         """<DocumentReference Source="/Documents/1/FixedDoc.fdoc"/></FixedDocumentSequence>""").getBytes(StandardCharsets.UTF_8),
      "Documents/1/FixedDoc.fdoc" ->
        ("""<FixedDocument xmlns="http://schemas.microsoft.com/xps/2005/06">""" +
         """<PageContent Source="Pages/1.fpage"/></FixedDocument>""").getBytes(StandardCharsets.UTF_8),
      "Documents/1/Pages/1.fpage" -> fpage.getBytes(StandardCharsets.UTF_8),
      "docProps/core.xml" ->
        (s"""<?xml version="1.0"?><coreProperties xmlns="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/">""" +
         s"""<dc:title>${xml(title)}</dc:title><dc:creator>corpus</dc:creator>""" +
         s"""</coreProperties>""").getBytes(StandardCharsets.UTF_8)))
  }

  /** Minimal EMF: 88-byte EMR_HEADER (" EMF" signature at 40), one
    * EMR_EXTTEXTOUTW per sentence at distinct y rows, EMR_EOF.
    */
  def emf(r: Random): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    // EMR_HEADER
    o.write(le32Bytes(1)); o.write(le32Bytes(88))
    (0 until 8).foreach(_ => o.write(le32Bytes(0)))   // bounds + frame rects
    o.write(le32Bytes(0x464D4520))                    // " EMF" signature
    o.write(le32Bytes(0x00010000))                    // version
    o.write(le32Bytes(0))                             // nBytes (unused by readers here)
    o.write(le32Bytes(0))                             // nRecords
    o.write(le16Bytes(0)); o.write(le16Bytes(0))      // nHandles, reserved
    o.write(le32Bytes(0)); o.write(le32Bytes(0))      // description length/offset
    o.write(le32Bytes(0))                             // nPalEntries
    o.write(le32Bytes(816)); o.write(le32Bytes(1056)) // device
    o.write(le32Bytes(210)); o.write(le32Bytes(297))  // millimeters
    val lines = (1 to 2 + r.nextInt(3)).map(_ => Corpus.sentence(r, 4 + r.nextInt(8)))
    lines.zipWithIndex.foreach { case (s, i) =>
      val chars = s.toCharArray
      val strBytes = chars.length * 2
      val pad = (4 - (strBytes & 3)) & 3
      val size = 76 + strBytes + pad
      val y = 100 + i * 20
      o.write(le32Bytes(84)); o.write(le32Bytes(size))                      // EMR_EXTTEXTOUTW
      o.write(le32Bytes(48)); o.write(le32Bytes(y))                         // bounds l,t
      o.write(le32Bytes(48 + 7 * chars.length)); o.write(le32Bytes(y + 14)) // bounds r,b
      o.write(le32Bytes(1))                                                 // GM_COMPATIBLE
      o.write(le32Bytes(0)); o.write(le32Bytes(0))                          // ex/ey scale
      o.write(le32Bytes(48)); o.write(le32Bytes(y))                         // reference point
      o.write(le32Bytes(chars.length))                                      // nChars
      o.write(le32Bytes(76))                                                // offString
      o.write(le32Bytes(0))                                                 // options
      (0 until 4).foreach(_ => o.write(le32Bytes(0)))                       // rect
      o.write(le32Bytes(0))                                                 // offDx (no dx array)
      chars.foreach(c => o.write(le16Bytes(c.toInt)))
      (0 until pad).foreach(_ => o.write(0))
    }
    Seq(14, 20, 0, 0, 20).foreach(v => o.write(le32Bytes(v))) // EMR_EOF
    o.toByteArray
  }

  /** Minimal WMF: standard META_HEADER, META_CREATEFONTINDIRECT, one
    * META_EXTTEXTOUT paragraph per sentence, META_EOF.
    */
  def wmf(r: Random): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    // disk metafile, 9 words, v3
    o.write(le16Bytes(1)); o.write(le16Bytes(9)); o.write(le16Bytes(0x0300))
    o.write(le32Bytes(0)) // file size in words (lax)
    o.write(le16Bytes(0)) // numObjects
    o.write(le32Bytes(0)) // maxRecord
    o.write(le16Bytes(0)) // noParameters
    // createFontIndirect: LOGFONT with ANSI charset + 32-byte facename
    val logfont = 18 + 32
    o.write(le32Bytes((6 + logfont) / 2)); o.write(le16Bytes(0x02fb))
    o.write(le16Bytes(12)); o.write(le16Bytes(0)) // height, width
    o.write(le16Bytes(0)); o.write(le16Bytes(0))  // escapement, orientation
    o.write(le16Bytes(400))                       // weight
    o.write(0); o.write(0); o.write(0)            // italic, underline, strikeout
    o.write(0)                                    // charSet = ANSI
    o.write(0); o.write(0); o.write(0); o.write(0) // precisions, quality, pitch
    "Corpus".getBytes(StandardCharsets.US_ASCII).foreach(b => o.write(b.toInt))
    (0 until 32 - 6).foreach(_ => o.write(0))
    val lines = (1 to 2 + r.nextInt(3)).map(_ => Corpus.sentence(r, 4 + r.nextInt(8)))
    lines.zipWithIndex.foreach { case (s, i) =>
      val bytes = s.getBytes(StandardCharsets.ISO_8859_1)
      val pad = bytes.length & 1
      o.write(le32Bytes((6 + 8 + bytes.length + pad) / 2)); o.write(le16Bytes(0x0a32))
      o.write(le16Bytes(100 + i * 20)); o.write(le16Bytes(48)) // y, x
      o.write(le16Bytes(bytes.length)); o.write(le16Bytes(0))  // count, options
      bytes.foreach(b => o.write(b.toInt))
      if (pad == 1) o.write(0)
    }
    o.write(le32Bytes(3)); o.write(le16Bytes(0x0000)) // META_EOF
    o.toByteArray
  }
}
