package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.pkgx.ArCpio
import org.scalatest.funsuite.AnyFunSuite

/** ar / cpio readers vs the reference's real archives (produced by real
  * ar/cpio tools — interop evidence). Reference behavior:
  * pkg/PackageParser.java member recursion.
  */
class ArCpioSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pkg-module/src/test/resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, docs)

  test("reads the reference's real ar archive") {
    val es = ArCpio.arEntries(fixture("testARofText.ar"))
    assert(es.map(_.name) == Vector("testTXT.txt"))
    val text = new String(es.head.data, "ISO-8859-1")
    assert(text.contains("Test d'indexation de Txt"))
  }

  test("reads the reference's real old-binary cpio archive") {
    val es = ArCpio.cpioEntries(fixture("test-documents.cpio"))
    assert(es.map(_.name).contains("test-documents/testEXCEL.xls"))
    assert(es.size >= 9)
    val xls = es.find(_.name.endsWith("testEXCEL.xls")).get
    // OLE2 magic intact → the member bytes round-tripped
    assert((xls.data(0) & 0xff) == 0xd0 && (xls.data(1) & 0xff) == 0xcf)
  }

  test("newc-format synthetic archive parses") {
    // build a minimal SVR4 newc archive by hand
    def hdr(name: String, size: Int, mode: Int): Array[Byte] = {
      val h = new StringBuilder("070701")
      def f(v: Long) = h.append(f"$v%08x")
      f(1); f(mode); f(0); f(0); f(1); f(0); f(size); f(0); f(0); f(0); f(0)
      f(name.length + 1); f(0)
      val nameB = name.getBytes("US-ASCII") :+ 0.toByte
      val head = h.toString.getBytes("US-ASCII") ++ nameB
      head ++ new Array[Byte]((4 - (head.length % 4)) % 4)
    }
    def pad4(a: Array[Byte]) = a ++ new Array[Byte]((4 - (a.length % 4)) % 4)
    val body = "hello newc cpio".getBytes("US-ASCII")
    val arch = hdr("hello.txt", body.length, 0x81a4) ++ pad4(body) ++
      hdr("TRAILER!!!", 0, 0)
    val es = ArCpio.cpioEntries(arch)
    assert(es.map(_.name) == Vector("hello.txt"))
    assert(new String(es.head.data, "US-ASCII") == "hello newc cpio")
  }

  test("ar and cpio recurse through the engine with member paths") {
    val out = Extractor.extract(DocRow("cpio",
      Seq(Span("bytes", Corpus.b64(fixture("test-documents.cpio")), null, 0))),
      Extractor.DefaultConfig.copy(maxEmbedded = 200))
    assert(out.mime == graft.mime.MimeDb.Cpio)
    val paths = out.meta.getOrElse("embedded:path", Seq.empty)
    assert(paths.exists(_.contains("testHTML.html")))
    assert(out.spans.exists(s => s.kind == Span.KindText &&
      s.text.toLowerCase.contains("test indexation html")))

    val out2 = Extractor.extract(DocRow("ar",
      Seq(Span("bytes", Corpus.b64(fixture("testARofText.ar")), null, 0))))
    assert(out2.mime == graft.mime.MimeDb.Ar)
    assert(out2.status == Status.ParseSuccess)
    assert(out2.spans.exists(s => s.kind == Span.KindText &&
      s.text.contains("Test d'indexation de Txt")))
  }

  test("hostile input: truncation and bad fields throw cleanly") {
    intercept[ArCpio.ArchiveMalformed] {
      ArCpio.arEntries("!<arch>\nbadheader-too-short".getBytes ++
        new Array[Byte](60))
    }
    intercept[ArCpio.ArchiveMalformed] {
      ArCpio.cpioEntries("070701definitelynotavalidheader".getBytes ++
        new Array[Byte](120))
    }
  }
}
