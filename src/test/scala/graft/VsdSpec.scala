package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Legacy binary Visio extraction vs the reference's fixture —
  * assertions mirror microsoft/VisioParserTest.java: detection to
  * application/vnd.visio, the Hogwarts creator, and the page text
  * from the HDGF chunk tree.
  */
class VsdSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  test("testVISIO.vsd: type, creator, page text") {
    val d = extract("testVISIO.vsd")
    assert(d.mime == "application/vnd.visio", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("dc:creator").flatMap(_.headOption)
      .contains("Hogwarts"), d.meta.get("dc:creator"))
    val t = d.spans.filter(_.kind == Span.KindText).map(_.text).mkString
    assert(t.contains("Some random text, on a page"), t.take(300))
  }

  test("lzw round-trip sanity: literals and window references") {
    // all-literal block: flag 0xff + 8 bytes
    val comp = Array[Byte](0xff.toByte, 'a', 'b', 'c', 'd', 'e', 'f', 'g', 'h')
    val d = graft.ole2.VsdExtractor.lzw(comp, 0, comp.length, 1 << 20)
    assert(new String(d, "ISO-8859-1") == "abcdefgh")
  }
}
