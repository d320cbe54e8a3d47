package graft

import java.nio.file.{Files, Path}
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 detect-only formats gaining native readers: MARC, MS Write,
  * Lotus 1-2-3 (wk1/wk3/wk4), Stata .dta, Netpbm, DjVu, Java hprof and
  * JKS keystores. The reference detects each of these WITHOUT a parser
  * (the robustness-sweep audit), so extraction is beyond-reference;
  * every pin below was ground-truthed by an independent Python walk of
  * the same real reference fixture.
  */
class LegacyFormatsSpec extends AnyFunSuite {

  private def find(name: String): Path = RefFixture.present(name) {
    import scala.jdk.CollectionConverters._
    Files.walk(Path.of("/root/reference")).iterator().asScala
      .find(p => p.getFileName.toString == name && Files.isRegularFile(p))
  }

  private def extract(name: String) =
    Extractor.extract(DocRow(name, Seq(Span("bytes",
      Corpus.b64(Files.readAllBytes(find(name))), null, 0))))

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString

  test("MARC: ISO 2709 record extracts fields, title and creator") {
    val d = extract("testMARC.mrc")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.mime == "application/marc")
    assert(d.meta("dc:title").head == "Recursos humanos en el alojamiento")
    assert(d.meta("dc:creator").head == "Soldevila Matías, Pau")
    assert(d.meta("marc:record-id").head == "9788490776759")
    val t = text(d)
    assert(t.contains("245 Recursos humanos en el alojamiento"))
    assert(t.contains("Formación Profesional: Ciclos Formativos"))
  }

  test("MS Write: text stream extracts with paragraph breaks") {
    val d = extract("testMSWriteFile.wri")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.mime == "application/x-mswrite")
    val t = text(d)
    assert(t.contains("ISO/IEC JTC1/SC18/WG8 Document Register"))
    assert(t.contains("Title\tRequestor"))
  }

  test("Lotus wk1: labels and numbers render row-major") {
    val d = extract("testLotus123.wk1")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.mime.startsWith("application/vnd.lotus-1-2-3"))
    val t = text(d)
    // ground truth: row 0 = OBSERV/^DATE/... headers; row 2 starts
    // 4001, 35249, 683.38 (int + serial-date + float cells)
    assert(t.contains("OBSERV\tDATE"))
    assert(t.contains("4001\t35249\t683.38"))
  }

  test("Lotus wk3/wk4: 80-bit extended floats decode exactly") {
    val w3 = text(extract("testLotus123.wk3"))
    assert(w3.contains("NO\tDATE\tVMC5_10"))
    // ground truth row 1: 5, 219, 0.2592184368737475
    assert(w3.contains("5\t219\t0.2592184368737475"), w3.take(400))
    val w4 = text(extract("testLotus123-lotusftp.wk4"))
    assert(w4.contains("EMPID\tLAST\tFIRST"))
    assert(w4.contains("67543\tMordocs\tArthur"), w4.take(400))
  }

  test("Stata dta 117: header, variables and labels extract") {
    val d = extract("testStataDTA.dta")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.mime == "application/x-stata-dta")
    assert(d.meta("stata:release").head == "117")
    assert(d.meta("stata:variables").head == "3")
    assert(d.meta("stata:observations").head == "3")
    assert(d.meta("stata:timestamp").head == "13 Sep 2016 14:25")
    assert(d.meta("stata:variable") == Seq("integers", "reals", "fruits"))
  }

  test("Netpbm + DjVu + PICT media dimensions") {
    val pgm = extract("testPGM.pgm")
    assert(pgm.meta.exists(kv => kv._1.endsWith(":width") &&
      kv._2.head == "1"), pgm.meta)
    val djvu = extract("testDJVU.djvu")
    // indirect multipage DJVM: no INFO chunk, the DIRM directory counts
    assert(djvu.meta.exists(kv => kv._1.endsWith("djvu:pages")), djvu.meta)
    val pict = extract("testPICT.pct")
    assert(pict.meta.exists(kv => kv._1.endsWith(":width") &&
      kv._2.head.toInt > 0), pict.meta)
  }

  test("hprof + JKS developer artifacts extract metadata") {
    val hp = extract("testJavaHprofBinary")
    assert(hp.meta("hprof:version").head == "JAVA PROFILE 1.0.2")
    assert(hp.meta("hprof:identifier-size").head == "4")
    assert(hp.meta("dcterms:created").head.startsWith("2020-07-31T17:17:43"))
    val ks = extract("KeyStore.jks")
    assert(ks.meta("jks:entries").head == "1")
    assert(ks.meta("jks:alias").head == "mydomain (private-key)")
  }

  test("SWF: stage dims, frame rate/count through zlib-compressed bodies") {
    // ground truth from an independent Python decode of the same files
    val s1 = extract("test1.swf")
    def mv(d: graft.core.ExtractedDoc, suffix: String): String =
      d.meta.collectFirst { case (k, v) if k.endsWith(suffix) => v.head }.get
    assert(mv(s1, ":width") == "756" && mv(s1, ":height") == "134", s1.meta)
    assert(mv(s1, "swf:version") == "6")
    val s3 = extract("test3.swf")
    assert(mv(s3, ":width") == "535" && mv(s3, "swf:frame-count") == "210")
    assert(mv(s3, "swf:frame-rate") == "12.00")
    // 210 frames at 12 fps = 17.5 s
    assert(mv(s3, ":duration_ms") == "17500")
  }

  test("AMR + ADTS AAC durations") {
    def mv(d: graft.core.ExtractedDoc, suffix: String): String =
      d.meta.collectFirst { case (k, v) if k.endsWith(suffix) => v.head }.get
    val amr = extract("testAMR.amr")
    assert(mv(amr, ":duration_ms") == "5560", amr.meta) // 278 frames x 20ms
    val aac = extract("testAAC.aac")
    assert(mv(aac, ":sample_rate") == "44100", aac.meta)
    assert(mv(aac, ":duration_ms") == "46")
  }

  test("DER keys + Berkeley DB + STL + PostScript metadata") {
    val rsa = extract("testRSAKEY.der")
    assert(rsa.meta("crypto:structure").head == "rsa-private-key")
    assert(rsa.meta("crypto:key-bits").head == "1024")
    val ec = extract("testECKEY.der")
    assert(ec.meta("crypto:structure").head == "ec-private-key")
    val dsa = extract("testDSAKEY.der")
    assert(dsa.meta("crypto:structure").head == "dsa-private-key")
    val bdb = extract("testBDB_btree_4.db")
    assert(bdb.meta("bdb:access-method").head == "btree")
    assert(bdb.meta("bdb:version").head == "9")
    assert(bdb.meta("bdb:pagesize").head == "4096")
    val bdbh = extract("testBDB_hash_4.db")
    assert(bdbh.meta("bdb:access-method").head == "hash")
    val stl = extract("testSTL-binary.stl")
    assert(stl.meta("stl:header").head == "OpenSCAD Model")
    assert(stl.meta("stl:triangles").head == "1690")
    val ps = extract("testAI_PS.ai")
    assert(ps.meta("dc:title").head == "Some title")
    assert(ps.meta("dc:creator").head == "FreeHand 8.0")
  }

  test("QuattroPro pre-v9 record streams extract cells (reference throws)") {
    // wq1 holds the same dataset as testLotus123.wk1 — same ground truth
    val wq1 = text(extract("testQuattro.wq1"))
    assert(wq1.contains("OBSERV\tDATE"), wq1.take(200))
    assert(wq1.contains("4001\t35249\t683.38"))
    val wq2 = text(extract("testQuattro.wq2"))
    assert(wq2.contains("SATURATED HYDRAULIC CONDUCTIVITY"), wq2.take(200))
    val wb1 = text(extract("testQuattro.wb1"))
    assert(wb1.contains("X\tY\tZ"), wb1.take(120))
    assert(wb1.contains("1\t10"))
    val wb2 = text(extract("testQuattro.wb2"))
    assert(wb2.contains("X\tY\tZ"), wb2.take(120))
  }

  test("MS Works .wps text extracts across both generations (reference excludes)") {
    // Works 4 (MatOST/MN0 text zone) — ground-truthed byte range
    val w4 = extract("testWORKSWordProcessor4.0.wps")
    assert(w4.mime == "application/vnd.ms-works", w4.mime)
    assert(text(w4).contains(
      "This is an example document made with Microsoft Works Word Processor 7.0"),
      text(w4).take(200))
    // Works 3: same zone, structural name prefix tolerated
    val w3 = text(extract("testWORKSWordProcessor3.0.wps"))
    assert(w3.contains("This is an example document"), w3.take(200))
    // Works 2000 + Works 7: Quill CHNKWKS TEXT bits (UTF-16LE)
    val w2000 = text(extract("testWORKS2000.wps"))
    assert(w2000.contains("example"), w2000.take(200))
    val w7 = text(extract("testWORKS.wps"))
    assert(w7.contains("example"), w7.take(200))
  }

  test("StarOffice 5 metadata, DCX/JBIG2 dims, E57 version, PKCS#12 id") {
    def mv(d: graft.core.ExtractedDoc, suffix: String): String =
      d.meta.collectFirst { case (k, v) if k.endsWith(suffix) => v.head }.get
    val sdw = extract("testStarOffice-5.2-writer.sdw")
    assert(sdw.meta("staroffice:kind").head == "writer")
    assert(sdw.meta.exists(kv => kv._2.contains("Christiaan Fluit")), sdw.meta)
    val dcx = extract("testDCX.dcx")
    assert(mv(dcx, ":width") == "100" && mv(dcx, ":height") == "75", dcx.meta)
    val jb2 = extract("testJBIG2.jb2")
    // independent Python segment walk: page-info 328x78, 1 page
    assert(mv(jb2, ":width") == "328" && mv(jb2, ":height") == "78", jb2.meta)
    val e57 = extract("testE57_header.e57")
    assert(e57.meta("e57:version").head == "1.0", e57.meta)
    val p12 = extract("testRSAKEYandCERT.p12")
    assert(p12.meta("crypto:structure").head == "pkcs12-pfx", p12.meta)
  }

  test("QPW v7-8 CFB worksheets and DWF 6 zip packages decode") {
    val wb3 = extract("testQUATTRO.wb3")
    assert(wb3.meta.contains("qpw:bof-version"), wb3.meta)
    val t3 = text(wb3)
    assert(t3.nonEmpty, "wb3 produced no cells")
    val dwf = extract("testDWF2010.dwf")
    assert(dwf.meta("dwf:version").head.startsWith("V06"), dwf.meta)
    val paths = dwf.meta.getOrElse("embedded:path", Seq.empty)
    assert(paths.exists(_.contains("manifest.xml")), paths)
  }

  test("hostile: mutated legacy payloads never escape the envelope") {
    val rnd = new scala.util.Random(31)
    for (name <- Seq("testMARC.mrc", "testMSWriteFile.wri",
        "testLotus123.wk1", "testLotus123.wk3", "testStataDTA.dta",
        "KeyStore.jks", "testDJVU.djvu", "test3.swf", "testAMR.amr",
        "testAAC.aac", "testRSAKEY.der", "testBDB_btree_4.db",
        "testAI_PS.ai", "testQuattro.wq1", "testQuattro.wb1")) {
      val valid = Files.readAllBytes(find(name))
      (0 until 24).foreach { i =>
        val mutated = valid.clone()
        i % 3 match {
          case 0 =>
            val pos = rnd.nextInt(mutated.length)
            mutated(pos) = (mutated(pos) ^ (1 << rnd.nextInt(8))).toByte
          case 1 =>
            val n = 1 + rnd.nextInt(mutated.length)
            val out = Extractor.extract(DocRow(name, Seq(Span("bytes",
              Corpus.b64(java.util.Arrays.copyOf(mutated, n)), null, 0))))
            assert(out.status != null && out.mime != null)
          case _ =>
            val pos = rnd.nextInt(mutated.length)
            (pos until mutated.length).foreach(j =>
              mutated(j) = rnd.nextInt(256).toByte)
        }
        val out = Extractor.extract(DocRow(name,
          Seq(Span("bytes", Corpus.b64(mutated), null, 0))))
        assert(out.status != null && out.mime != null)
      }
    }
  }
}
