package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.pkgx.Cab
import org.scalatest.funsuite.AnyFunSuite

/** Microsoft Cabinet reader vs the reference's REAL Microsoft-written
  * archive. The reference only detects application/vnd.ms-cab-compressed
  * (TestMimeTypes — no tika parser exists), so decoding members is
  * beyond-reference capability; correctness evidence is byte-equality:
  * every member of test-documents.cab is the same file as its
  * counterpart in test-documents.zip, giving an independent oracle for
  * the MSZIP cross-block-window decode.
  */
class CabSpec extends AnyFunSuite {

  private val pkgDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pkg-module/src/test/resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, pkgDocs)

  test("decodes the real Microsoft cabinet byte-exact vs the zip oracle") {
    val entries = Cab.entries(fixture("test-documents.cab"))
    assert(entries.size == 9)
    val zip = graft.zipx.ZipUtil.entries(fixture("test-documents.zip"))
      .map(e => e.name -> e.data).toMap
    for (e <- entries) {
      assert(zip.contains(e.name), e.name)
      assert(java.util.Arrays.equals(e.data, zip(e.name)),
        s"${e.name} differs from its zip counterpart")
    }
  }

  test("cab recurses through the engine with member paths and content") {
    val out = Extractor.extract(DocRow("c.cab",
      Seq(Span("bytes", Corpus.b64(fixture("test-documents.cab")), null, 0))))
    // same terminal status as the zip carrying these exact members
    // (one vintage member records a recoverable parse exception)
    val zipOut = Extractor.extract(DocRow("z.zip",
      Seq(Span("bytes", Corpus.b64(fixture("test-documents.zip")), null, 0))))
    assert(out.status == zipOut.status, s"${out.status} vs zip ${zipOut.status}")
    assert(out.mime == graft.mime.MimeDb.Cab)
    val paths = out.meta.getOrElse("embedded:path", Seq.empty)
    assert(paths.exists(_.contains("testEXCEL.xls")), paths)
    assert(paths.exists(_.contains("testPDF.pdf")))
    val text = out.spans.filter(_.kind == Span.KindText).map(_.text).mkString
    // canonical member content (same pins the zip/tar/7z specs use)
    assert(text.contains("Sample Excel Worksheet"))
    assert(text.contains("Test d'indexation de Txt"))
  }

  test("hostile: mutated cabinets never escape the envelope") {
    val valid = fixture("test-documents.cab")
    val rnd = new scala.util.Random(23)
    // checksum corruption must fail the document, not emit garbage
    val corrupt = valid.clone()
    corrupt(400) = (corrupt(400) ^ 0x41).toByte
    intercept[Exception](Cab.entries(corrupt))
    (0 until 36).foreach { i =>
      val mutated = valid.clone()
      i % 3 match {
        case 0 =>
          val p = rnd.nextInt(mutated.length)
          mutated(p) = (mutated(p) ^ (1 << rnd.nextInt(8))).toByte
        case 1 =>
          val n = 1 + rnd.nextInt(mutated.length)
          val out = Extractor.extract(DocRow("c.cab", Seq(Span("bytes",
            Corpus.b64(java.util.Arrays.copyOf(mutated, n)), null, 0))))
          assert(out.status != null && out.mime != null)
        case _ =>
          val p = rnd.nextInt(mutated.length)
          (p until mutated.length).foreach(j => mutated(j) = rnd.nextInt(256).toByte)
      }
      val out = Extractor.extract(DocRow("c.cab",
        Seq(Span("bytes", Corpus.b64(mutated), null, 0))))
      assert(out.status != null && out.mime != null)
    }
    // declared-size and folder-offset bombs reject via the shared budget
    val bomb = valid.clone()
    // cFiles beyond maxEntries
    bomb(28) = 0xff.toByte; bomb(29) = 0xff.toByte
    intercept[Exception](Cab.entries(bomb))
  }
}
