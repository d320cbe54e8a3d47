package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.pkgx.{Lzw, TarUtil}
import org.scalatest.funsuite.AnyFunSuite

/** compress(1) .Z decoder vs the reference's REAL compress-produced
  * fixtures — interop evidence against the historical tool, including
  * the decompression-bomb fixture.
  */
class LzwSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pkg-module/src/test/resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, docs)

  test("real tar.Z decodes to the canonical tar member set") {
    val tar = Lzw.decompress(fixture("test-documents.tar.Z"))
    val names = TarUtil.entries(tar).map(_.name)
    assert(names.exists(_.endsWith("testTXT.txt")))
    assert(names.exists(_.endsWith("testEXCEL.xls")))
    assert(names.size >= 9)
    val txt = TarUtil.entries(tar).find(_.name.endsWith("testTXT.txt")).get
    assert(new String(txt.data, "ISO-8859-1").contains("Test d'indexation de Txt"))
  }

  test("the reference's .Z OOM vector is rejected at the header") {
    // testZ_oom.Z is 4 bytes with maxbits=30 — an allocation bomb against
    // decoders that size tables from the header; rejected as malformed
    val oom = fixture("testZ_oom.Z")
    intercept[Lzw.LzwMalformed] { Lzw.decompress(oom) }
  }

  test(".tar.Z recurses through the engine") {
    val out = Extractor.extract(DocRow("tz",
      Seq(Span("bytes", Corpus.b64(fixture("test-documents.tar.Z")), null, 0))),
      Extractor.DefaultConfig.copy(maxEmbedded = 200))
    assert(out.mime == graft.mime.MimeDb.UnixCompress)
    assert(out.spans.exists(s => s.kind == Span.KindText &&
      s.text.contains("Test d'indexation de Txt")))
  }

  test("hostile input: bad magic and corrupt codes fail the doc cleanly") {
    intercept[Lzw.LzwMalformed] { Lzw.decompress("nope".getBytes) }
    val z = fixture("test-documents.tar.Z").clone()
    // corrupting an early code either errors or still terminates bounded
    z(10) = (z(10) ^ 0x55).toByte
    try { Lzw.decompress(z); () }
    catch {
      case _: Lzw.LzwMalformed | _: graft.engine.ZipBombDetected => ()
    }
    val bombDoc = Extractor.extract(DocRow("oom",
      Seq(Span("bytes", Corpus.b64(fixture("testZ_oom.Z")), null, 0))))
    assert(bombDoc.status == Status.ParseException)
  }
}
