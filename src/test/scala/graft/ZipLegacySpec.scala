package graft

import java.nio.file.Path
import graft.zipx.ZipUtil
import org.scalatest.funsuite.AnyFunSuite

/** Legacy PKZIP methods (1 = Shrink, 6 = Implode) vs the reference's
  * real moby.zip (134 imploded + 1 shrunk entry, ZipParserTest.java:93
  * expects "README" in the extracted content). Every entry is
  * CRC-32-gated in ZipUtil, so a decoded entry IS interop evidence:
  * the archive was produced by PKZIP-era tooling, not by us.
  */
class ZipLegacySpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pkg-module/src/test/resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, docs)

  test("decodes every imploded and shrunk entry of moby.zip (CRC-gated)") {
    val b = fixture("moby.zip")
    val es = ZipUtil.entries(b)
    // 135 entries total: README + 133 imploded chapters + 1 shrunk
    // (moby.122); all must decode — a single CRC miss drops the entry
    assert(es.size == 135, s"got ${es.size} entries")
    assert(es.exists(_.name == "README"))
    val readme = new String(es.find(_.name == "README").get.data, "ISO-8859-1")
    assert(readme.contains("Moby"))
    // imploded member content is real English prose, not garbage
    val m0 = new String(es.find(_.name == "moby.1").get.data, "ISO-8859-1")
    assert(m0.contains("whale") || m0.contains("Ishmael") || m0.length > 1000)
  }

  test("extractor recurses moby.zip members as children") {
    val b = fixture("moby.zip")
    val row = core.DocRow("moby.zip",
      Seq(core.Span("bytes", corpus.Corpus.b64(b), null, 0)))
    val out = engine.Extractor.extract(row,
      engine.Extractor.DefaultConfig.copy(maxEmbedded = 300))
    // the full novel trips the ported 100k-char write limit — that IS
    // the reference's WriteLimitReachedException semantics, members
    // still surface up to the cap
    assert(out.status == "parse_success" || out.status == "write_limit_reached")
    assert(out.meta.getOrElse("embedded:path", Nil).exists(_.contains("README")))
    val text = out.spans.filter(_.kind == "text").flatMap(s => Option(s.text))
      .mkString
    assert(text.contains("Moby Dick"))
  }
}
