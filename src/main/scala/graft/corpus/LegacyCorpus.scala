package graft.corpus

import java.nio.charset.StandardCharsets
import scala.util.Random
import graft.core.Endian.{le16Bytes, le32Bytes}

/** Synthetic legacy-format fixtures for the corpus `legacy` kind:
  * WordPerfect 6 (.wpd), QuattroPro 9 (.qpw), dBASE (.dbf) and NASA DIF
  * XML — the round-4 extractor tranche, generated from the same public
  * format layouts the extractors parse so the whole path (detect →
  * dispatch → extract) runs in-pipeline at bench scale.
  */
object LegacyCorpus {

  /** WP6: 0xFF"WPC" prefix, doc pointer 16, major version 2; body =
    * ASCII with 0x80 soft spaces and 0xCC hard returns (paragraphs).
    */
  def wpd(r: Random): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write('W'); out.write('P'); out.write('C')
    // doc area pointer = 16 (LE32), product 1, type ' ', major 2, minor 0
    out.write(16); out.write(0); out.write(0); out.write(0)
    out.write(1); out.write(' '); out.write(2); out.write(0)
    out.write(0); out.write(0) // not encrypted
    out.write(0); out.write(0) // index pointer
    val paras = 2 + r.nextInt(3)
    for (_ <- 0 until paras) {
      val text = Corpus.sentence(r, 6 + r.nextInt(8))
      text.foreach { c =>
        if (c == ' ') out.write(0x80)
        else if (c >= 33 && c <= 126) out.write(c)
      }
      out.write(0xcc) // hard return
    }
    out.toByteArray
  }

  /** QSTR: u16 (count-1), one type byte, then count chars. */
  private def qstr(s0: String): Array[Byte] = {
    val s = if (s0.isEmpty) " " else s0
    val out = new java.io.ByteArrayOutputStream()
    val n = s.length - 1
    out.write(n & 0xff); out.write((n >> 8) & 0xff)
    out.write(0) // string type
    s.foreach(c => out.write(c & 0x7f))
    out.toByteArray
  }

  /** QPW: flat CFB with a NativeContent_MAIN record stream — BOF, one
    * sheet, generic label cells.
    */
  def qpw(r: Random): Array[Byte] = {
    val recs = new java.io.ByteArrayOutputStream()
    def rec(typ: Int, body: Array[Byte]): Unit = {
      recs.write(typ & 0xff); recs.write((typ >> 8) & 0xff)
      recs.write(body.length & 0xff); recs.write((body.length >> 8) & 0xff)
      recs.write(body)
    }
    rec(0x0001, "QPW9".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](9, 0, 1, 0, 0, 0, 9, 0, 1, 0)) // version/build/saved/lowest/pages
    // beginning of sheet: 18 fixed bytes + name
    rec(0x0601, new Array[Byte](18) ++ qstr("Sheet" + (1 + r.nextInt(3))))
    val cells = 3 + r.nextInt(4)
    for (i <- 0 until cells) {
      val body = new java.io.ByteArrayOutputStream()
      body.write(i & 0xff); body.write(0) // column
      body.write(i & 0xff); body.write(0); body.write(0); body.write(0) // row
      body.write(0); body.write(0) // format index
      body.write(qstr(Corpus.sentence(r, 3 + r.nextInt(4))))
      rec(0x0c72, body.toByteArray)
    }
    graft.ole2.CfbWriter.write(Seq("NativeContent_MAIN" -> recs.toByteArray))
  }

  /** dBASE III (.dbf): version 0x03 header + C/N columns + rows. */
  def dbf(r: Random): Array[Byte] = {
    val nRows = 2 + r.nextInt(4)
    val cols = Seq(("NAME", 'C', 24), ("SCORE", 'N', 8), ("WHEN", 'D', 8))
    val recordLen = 1 + cols.map(_._3).sum
    val headerLen = 32 + cols.size * 32 + 1
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x03)
    out.write(16); out.write(5); out.write(24) // yy/mm/dd (2016-05-24 pivot-safe)
    out.write(nRows); out.write(0); out.write(0); out.write(0)
    out.write(headerLen & 0xff); out.write(headerLen >> 8)
    out.write(recordLen & 0xff); out.write(recordLen >> 8)
    for (_ <- 0 until 20) out.write(0)
    cols.foreach { case (name, typ, len) =>
      val rec = new Array[Byte](32)
      name.getBytes(StandardCharsets.US_ASCII).take(10).copyToArray(rec)
      rec(11) = typ.toByte
      rec(16) = len.toByte
      out.write(rec)
    }
    out.write(0x0d)
    for (_ <- 0 until nRows) {
      out.write(' ')
      def fixed(s: String, len: Int): Unit = {
        val b = s.getBytes(StandardCharsets.US_ASCII).take(len)
        out.write(b)
        for (_ <- b.length until len) out.write(' ')
      }
      fixed(Corpus.sentence(r, 2).take(24), 24)
      fixed((r.nextInt(9000) / 10.0).toString.take(8), 8)
      fixed(f"20${10 + r.nextInt(15)}%02d${1 + r.nextInt(12)}%02d${1 + r.nextInt(28)}%02d", 8)
    }
    out.write(0x1a)
    out.toByteArray
  }

  /** NASA GCMD DIF XML document. */
  def dif(r: Random): Array[Byte] = {
    val title = Corpus.sentence(r, 5 + r.nextInt(5))
    val id = f"${r.nextInt(1 << 30)}%08x-dif"
    (s"""<?xml version="1.0" encoding="UTF-8"?>
        |<DIF xmlns="http://gcmd.gsfc.nasa.gov/Aboutus/xml/dif/">
        |  <Entry_ID>$id</Entry_ID>
        |  <Entry_Title>$title</Entry_Title>
        |  <Spatial_Coverage>
        |    <Southernmost_Latitude>${r.nextInt(90)}.${r.nextInt(999)}</Southernmost_Latitude>
        |    <Northernmost_Latitude>${r.nextInt(90)}.${r.nextInt(999)}</Northernmost_Latitude>
        |    <Westernmost_Longitude>${r.nextInt(180)}.${r.nextInt(99)}</Westernmost_Longitude>
        |    <Easternmost_Longitude>${r.nextInt(180)}.${r.nextInt(99)}</Easternmost_Longitude>
        |  </Spatial_Coverage>
        |  <Metadata_Name>GRAFT DIF</Metadata_Name>
        |</DIF>
        |""".stripMargin).getBytes(StandardCharsets.UTF_8)
  }

  /** TMX translation memory: header + a few tu/tuv segments. */
  def tmx(r: Random): Array[Byte] = {
    val n = 2 + r.nextInt(3)
    val tus = (0 until n).map { i =>
      val en = Corpus.sentence(r, 4 + r.nextInt(5))
      val ro = Corpus.sentence(r, 4 + r.nextInt(5))
      s"""  <tu tuid="tu$i"><tuv xml:lang="en-us"><seg>$en</seg></tuv>""" +
        s"""<tuv xml:lang="ro-ro"><seg>$ro</seg></tuv></tu>"""
    }.mkString("\n")
    (s"""<?xml version="1.0" encoding="UTF-8"?>
<tmx version="1.4"><header creationtool="graft" creationtoolversion="1"
  segtype="sentence" o-tmf="tmx" datatype="plaintext" srclang="en-us"
  adminlang="en-us"/>
<body>
$tus
</body></tmx>
""").getBytes(StandardCharsets.UTF_8)
  }

  /** FictionBook e-book: title + a few sections of paragraphs. */
  def fb2(r: Random): Array[Byte] = {
    val title = Corpus.sentence(r, 3 + r.nextInt(3))
    val sections = (0 until 2 + r.nextInt(2)).map { _ =>
      val ps = (0 until 2 + r.nextInt(3))
        .map(_ => s"<p>${Corpus.sentence(r, 8 + r.nextInt(8))}</p>").mkString
      s"<section>$ps</section>"
    }.mkString
    (s"""<?xml version="1.0" encoding="UTF-8"?>
<FictionBook xmlns="http://www.gribuser.ru/xml/fictionbook/2.0">
<description><title-info><book-title>$title</book-title></title-info></description>
<body>$sections</body>
</FictionBook>
""").getBytes(StandardCharsets.UTF_8)
  }

  /** XML property list (dict of scalars + an array). */
  def plist(r: Random): Array[Byte] = {
    val items = (0 until 2 + r.nextInt(3))
      .map(_ => s"<string>${Corpus.sentence(r, 2 + r.nextInt(3))}</string>").mkString
    (s"""<?xml version="1.0" encoding="UTF-8"?>
<plist version="1.0"><dict>
  <key>Name</key><string>${Corpus.sentence(r, 2)}</string>
  <key>Count</key><integer>${r.nextInt(1000)}</integer>
  <key>Items</key><array>$items</array>
</dict></plist>
""").getBytes(StandardCharsets.UTF_8)
  }

  /** TNEF winmail.dat: subject attribute + one text attachment (MELA
    * uncompressed rtf is skipped — the attachment carries the text).
    */
  def tnef(r: Random): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def attr(level: Int, id: Int, typ: Int, data: Array[Byte]): Unit = {
      out.write(level); out.write(le16Bytes(id)); out.write(le16Bytes(typ))
      out.write(le32Bytes(data.length))
      out.write(data)
      out.write(le16Bytes(data.map(_ & 0xff).sum & 0xffff)) // checksum (reader tolerant)
    }
    out.write(le32Bytes(graft.mail.TnefExtractor.Signature))
    out.write(le16Bytes(r.nextInt(0xffff)))
    val subject = Corpus.sentence(r, 4 + r.nextInt(4))
    attr(1, 0x8004, 0x0001, (subject + "\u0000").getBytes(StandardCharsets.ISO_8859_1))
    attr(2, 0x9002, 0x0006, new Array[Byte](14)) // attach rend data
    attr(2, 0x800f, 0x0006,
      Corpus.paragraph(r, 2 + r.nextInt(3)).getBytes(StandardCharsets.UTF_8))
    attr(2, 0x8010, 0x0001,
      ("note" + r.nextInt(100) + ".txt\u0000").getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }
}
