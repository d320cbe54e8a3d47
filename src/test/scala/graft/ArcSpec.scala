package graft

import java.nio.file.Path
import graft.core.{DocRow, Span}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.warc.ArcExtractor
import org.scalatest.funsuite.AnyFunSuite

/** ARC reader vs the reference's real Heritrix-produced archive. */
class ArcSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-webarchive-module/src/test/resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, docs)

  test("reads the real Heritrix ARC fixture's records") {
    val recs = ArcExtractor.records(fixture("testARC.arc"))
    assert(recs.nonEmpty)
    assert(recs.forall(_.url.nonEmpty))
    // the version/filedesc record is framing, not a member
    assert(!recs.exists(_.url.startsWith("filedesc://")))
  }

  test("arc recurses through the engine with member metadata") {
    val out = Extractor.extract(DocRow("arc",
      Seq(Span("bytes", Corpus.b64(fixture("testARC.arc")), null, 0))),
      Extractor.DefaultConfig.copy(maxEmbedded = 200))
    assert(out.mime == graft.mime.MimeDb.ArcArchive)
    assert(out.meta.keys.exists(_.startsWith("arc:")))
    assert(out.spans.exists(_.kind == Span.KindEmbeddedOpen))
  }

  test("arc.gz reaches the arc branch through gzip re-detect") {
    val out = Extractor.extract(DocRow("arcgz",
      Seq(Span("bytes", Corpus.b64(fixture("example.arc.gz")), null, 0))))
    assert(out.meta.getOrElse("embedded:1", Seq.empty)
      .contains(graft.mime.MimeDb.ArcArchive) ||
      out.meta.keys.exists(_.startsWith("arc:")))
  }

  test("hostile input: truncated record and bad length throw cleanly") {
    intercept[ArcExtractor.ArcMalformed] {
      ArcExtractor.records(
        "filedesc://x 0.0.0.0 20050614 text/plain 99999\nshort".getBytes)
    }
    intercept[ArcExtractor.ArcMalformed] {
      ArcExtractor.records(
        "filedesc://x 0.0.0.0 20050614 text/plain notanum\n".getBytes)
    }
  }
}
