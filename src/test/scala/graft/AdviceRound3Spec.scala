package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1
import graft.engine.{MetaSink, SpanSink}
import graft.pdf.{PdfCrypto, PdfExtractor}
import graft.pkgx.TarUtil

/** Round-3 regressions for the advisor findings: xref-stream /Encrypt
  * discovery, the 40-bit /Length default, and tar numeric-field
  * hardening (GNU base-256 + garbage rejection).
  */
class AdviceRound3Spec extends AnyFunSuite {

  private def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString

  /** Minimal RC4-encrypted PDF; `trailerKind` selects where the
    * /Encrypt + /ID + /Root live: a classic `trailer` dict or a
    * /Type /XRef stream dict (the modern no-trailer layout).
    */
  private def rc4Pdf(keyLen: Int, lengthEntry: String,
      viaXrefStream: Boolean): Array[Byte] = {
    val rnd = new scala.util.Random(41)
    val id0 = Array.tabulate[Byte](16)(_ => rnd.nextInt(256).toByte)
    val p = -44L
    val o = PdfCrypto.computeO(Array.emptyByteArray, Array.emptyByteArray, 3, keyLen)
    val key = PdfCrypto.fileKey(o, p, id0, 3, keyLen)
    val u = PdfCrypto.computeU(key, id0, 3)
    val content = "BT\n/F1 12 Tf\n72 712 Td\n(Xref secret text) Tj\nET\n"
      .getBytes(ISO_8859_1)
    val encContent = PdfCrypto.rc4(PdfCrypto.objectKey(key, 5, 0), content)
    val encTitle = PdfCrypto.rc4(PdfCrypto.objectKey(key, 6, 0),
      "Xref Title".getBytes(ISO_8859_1))
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
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
    w(s"7 0 obj\n<< /Filter /Standard /V 2 /R 3 $lengthEntry /P -44 " +
      s"/O <${hex(o)}> /U <${hex(u)}> >>\nendobj\n")
    val common = s"/Root 1 0 R /Info 6 0 R /Encrypt 7 0 R " +
      s"/ID [<${hex(id0)}> <${hex(id0)}>]"
    if (viaXrefStream) {
      // xref data itself is irrelevant to the scan-based parser; the
      // dict is what carries the trailer-equivalent entries
      val xrefData = Array.fill[Byte](8)(0)
      w(s"8 0 obj\n<< /Type /XRef /Size 9 /W [1 2 1] $common " +
        s"/Length ${xrefData.length} >>\nstream\n")
      out.write(xrefData)
      w("\nendstream\nendobj\n")
      w("%%EOF\n") // no classic trailer keyword at all
    } else {
      w(s"trailer\n<< $common >>\n%%EOF\n")
    }
    out.toByteArray
  }

  test("xref-stream PDFs: /Encrypt in the /Type /XRef dict takes the decrypt path") {
    val bytes = rc4Pdf(keyLen = 16, lengthEntry = "/Length 128",
      viaXrefStream = true)
    assert(!new String(bytes, ISO_8859_1).contains("trailer"))
    val sink = new SpanSink(); val meta = new MetaSink
    PdfExtractor.extract(bytes, sink, meta)
    val text = sink.result().filter(_.kind == "text").map(_.text).mkString
    assert(text.contains("Xref secret text"), s"got: $text")
    assert(meta.result()("dc:title") == Seq("Xref Title"))
    assert(meta.result().contains("pdf:encrypted"))
  }

  test("/Length omitted on V=2: 40-bit default key decrypts (was 128)") {
    val bytes = rc4Pdf(keyLen = 5, lengthEntry = "", viaXrefStream = false)
    val sink = new SpanSink(); val meta = new MetaSink
    PdfExtractor.extract(bytes, sink, meta)
    val text = sink.result().filter(_.kind == "text").map(_.text).mkString
    assert(text.contains("Xref secret text"), s"got: $text")
    assert(meta.result()("dc:title") == Seq("Xref Title"))
  }

  test("tar: GNU base-256 size field parses the entry correctly") {
    val data = "hello base256 world".getBytes(ISO_8859_1)
    val tar = TarUtil.write(Seq("a.txt" -> data))
    // rewrite the size field as base-256: flag byte + big-endian value
    java.util.Arrays.fill(tar, 124, 136, 0.toByte)
    tar(124) = 0x80.toByte
    var v = data.length.toLong
    var i = 135
    while (v > 0) { tar(i) = (v & 0xff).toByte; v >>= 8; i -= 1 }
    // fix the header checksum the writer computed for the octal field
    java.util.Arrays.fill(tar, 148, 156, ' '.toByte)
    var sum = 0L
    (0 until 512).foreach(j => sum += (tar(j) & 0xff))
    val cs = f"$sum%06o".getBytes(ISO_8859_1)
    System.arraycopy(cs, 0, tar, 148, cs.length)
    tar(154) = 0; tar(155) = ' '
    val entries = TarUtil.entries(tar)
    assert(entries.map(_.name) == Vector("a.txt"))
    assert(entries.head.data.toSeq == data.toSeq)
  }

  test("tar: garbage size field fails the document, not a silent misalign") {
    val tar = TarUtil.write(Seq("a.txt" -> "x".getBytes(ISO_8859_1),
      "b.txt" -> "y".getBytes(ISO_8859_1)))
    // corrupt a.txt's size: 'z' garbage then stray octal digits — the old
    // parser accumulated the '31' and returned a bogus length
    val bad = "z31".getBytes(ISO_8859_1)
    System.arraycopy(bad, 0, tar, 124, bad.length)
    intercept[TarUtil.TarMalformed] { TarUtil.entries(tar) }
  }

  test("legacy flat outDir layout fails fast with a migration message") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graftlegacy").toString
    // a round-1 flat layout: parquet files directly at the top level
    graft.engine.Pipeline.extract(graft.corpus.Corpus.docRows(spark, 20, 2))
      .toDF().write.parquet(s"$dir/out")
    val e = intercept[IllegalStateException] {
      graft.engine.Pipeline.run(spark, graft.corpus.Corpus.docRows(spark, 20, 2),
        s"$dir/out", s"$dir/metrics")
    }
    assert(e.getMessage.contains("legacy flat"))
    // a fresh directory (and subsequent run_id= appends) still work
    graft.engine.Pipeline.run(spark, graft.corpus.Corpus.docRows(spark, 20, 2),
      s"$dir/out2", s"$dir/metrics2")
    graft.engine.Pipeline.run(spark, graft.corpus.Corpus.docRows(spark, 20, 2),
      s"$dir/out2", s"$dir/metrics2")
    assert(spark.read.parquet(s"$dir/out2").select("run_id").distinct().count() == 2)
  }

  test("tar: oversized base-256 size still trips the bomb budget") {
    val tar = TarUtil.write(Seq("a.txt" -> "x".getBytes(ISO_8859_1)))
    java.util.Arrays.fill(tar, 124, 136, 0.toByte)
    tar(124) = 0x80.toByte
    tar(129) = 0x40.toByte // ~2^54 bytes claimed
    intercept[graft.engine.ZipBombDetected] { TarUtil.entries(tar) }
  }
}
