package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.pkgx.Hfs
import org.scalatest.funsuite.AnyFunSuite

/** HFS+ volume reader vs the reference's REAL Apple-written raw disk
  * image. The reference only glob-detects application/x-apple-diskimage
  * (no tika parser exists), so decoding the catalog is beyond-reference
  * capability; correctness evidence is byte-equality of every member
  * against its counterpart in test-documents.zip.
  */
class HfsSpec extends AnyFunSuite {

  private val pkgDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pkg-module/src/test/resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, pkgDocs)

  test("reads the real HFS+ volume byte-exact vs the zip oracle") {
    val entries = Hfs.entries(fixture("test-documents.dmg"))
    assert(entries.size == 9, entries.map(_.name))
    val zip = graft.zipx.ZipUtil.entries(fixture("test-documents.zip"))
      .map(e => e.name -> e.data).toMap
    for (e <- entries) {
      val leaf = e.name.split('/').last
      assert(e.name.startsWith("test-documents/"), e.name)
      assert(zip.contains(leaf), e.name)
      assert(java.util.Arrays.equals(e.data, zip(leaf)),
        s"${e.name} differs from its zip counterpart")
    }
  }

  test("dmg recurses through the engine with volume paths and content") {
    val out = Extractor.extract(DocRow("d.dmg",
      Seq(Span("bytes", Corpus.b64(fixture("test-documents.dmg")), null, 0))))
    assert(out.mime == graft.mime.MimeDb.Dmg, out.mime)
    val zipOut = Extractor.extract(DocRow("z.zip",
      Seq(Span("bytes", Corpus.b64(fixture("test-documents.zip")), null, 0))))
    // same terminal status as the zip carrying these exact members
    assert(out.status == zipOut.status, s"${out.status} vs zip ${zipOut.status}")
    val paths = out.meta.getOrElse("embedded:path", Seq.empty)
    assert(paths.exists(_.contains("test-documents/testEXCEL.xls")), paths)
    val text = out.spans.filter(_.kind == Span.KindText).map(_.text).mkString
    assert(text.contains("Sample Excel Worksheet"))
    assert(text.contains("Test d'indexation de Txt"))
  }

  test("hostile: mutated volumes never escape the envelope") {
    val valid = fixture("test-documents.dmg")
    val rnd = new scala.util.Random(29)
    (0 until 36).foreach { i =>
      val mutated = valid.clone()
      i % 3 match {
        case 0 =>
          val p = rnd.nextInt(mutated.length)
          mutated(p) = (mutated(p) ^ (1 << rnd.nextInt(8))).toByte
        case 1 =>
          val n = 1 + rnd.nextInt(mutated.length)
          val out = Extractor.extract(DocRow("d.dmg", Seq(Span("bytes",
            Corpus.b64(java.util.Arrays.copyOf(mutated, n)), null, 0))))
          assert(out.status != null && out.mime != null)
        case _ =>
          val p = rnd.nextInt(mutated.length)
          (p until mutated.length).foreach(j => mutated(j) = rnd.nextInt(256).toByte)
      }
      val out = Extractor.extract(DocRow("d.dmg",
        Seq(Span("bytes", Corpus.b64(mutated), null, 0))))
      assert(out.status != null && out.mime != null)
    }
    // crafted fLink cycle: point the first leaf's fLink at itself
    val cyc = valid.clone()
    intercept[Exception] {
      // corrupt catalog start (block 10 * 4096): node 1 fLink -> 1
      val off = 10 * 4096 + 4096 // node 1
      cyc(off) = 0; cyc(off + 1) = 0; cyc(off + 2) = 0; cyc(off + 3) = 1
      Hfs.entries(cyc)
    }
  }
}
