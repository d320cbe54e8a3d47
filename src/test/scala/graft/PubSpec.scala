package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Microsoft Publisher extraction vs the reference's real fixture —
  * assertions mirror microsoft/PublisherParserTest.java: detection to
  * application/x-mspublisher, creator metadata, and the digit/letter
  * story text from the Quill CONTENTS stream.
  */
class PubSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  test("testPUBLISHER.pub: type, creator, story text") {
    val d = extract("testPUBLISHER.pub")
    assert(d.mime == "application/x-mspublisher")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("meta:author").orElse(d.meta.get("dc:creator"))
      .exists(_.contains("Nick Burch")), d.meta.keys.toVector.sorted)
    val t = d.spans.filter(_.kind == Span.KindText).map(_.text).mkString
    assert(t.contains("0123456789"), t.take(200))
    assert(t.contains("abcdef"), t.take(200))
  }
}
