package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** zlib / snappy-framed / raw-LZMA compressor routes — expectations
  * mirror pkg-module ZlibParserTest (one embedded text doc) and
  * CompressorParserTest (snappy-framed recursion); the crafted
  * testLZMA_oom header must fail the document, not allocate.
  */
class CompressorExtraSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pkg-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString

  test("testTXT.zlib variants: inner text doc extracts") {
    for (n <- Seq("testTXT.zlib", "testTXT.zlib0", "testTXT.zlib5",
        "testTXT.zlib9")) {
      val d = extract(n)
      assert(d.mime == "application/zlib", s"$n: ${d.mime}")
      assert(d.status == Status.ParseSuccess, s"$n: ${d.status}")
      assert(text(d).contains("Test d'indexation de Txt"), s"$n: ${text(d).take(120)}")
    }
  }

  test("testSnappy-framed.sz: framed chunks decode and recurse") {
    val d = extract("testSnappy-framed.sz")
    assert(d.mime == "application/x-snappy-framed", d.mime)
    // the inner document exceeds the default per-doc write limit — the
    // correct engine status for an oversized payload
    assert(d.status == Status.ParseSuccess ||
      d.status == Status.WriteLimitReached, d.status)
    assert(text(d).trim.nonEmpty, d.meta.keys)
  }

  test("snappy round-trip: framed compressor output decodes") {
    val payload = ("snappy framed round trip " * 50).getBytes("UTF-8")
    val framed = graft.pkgx.Snappy.compressFramed(payload)
    val back = graft.pkgx.Snappy.decompressFramed(framed)
    assert(java.util.Arrays.equals(back, payload))
  }

  test("testLZMA_oom: crafted size header fails cleanly") {
    val d = extract("testLZMA_oom")
    assert(d.status == Status.ParseException ||
      d.status == Status.UnsupportedType ||
      d.status == Status.ZipBomb, d.status)
  }
}
