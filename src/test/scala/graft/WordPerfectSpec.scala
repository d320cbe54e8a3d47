package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** WordPerfect 5.x/6.x extraction vs the reference's real fixtures;
  * assertions mirror wordperfect/WordPerfectTest.java.
  */
class WordPerfectSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-miscoffice-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testWordPerfect.wpd (WP 6.x): paragraphs + deleted text kept") {
    val d = extract("testWordPerfect.wpd")
    assert(d.mime == "application/vnd.wordperfect", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    assert(t.contains("AND FURTHER"), t.take(200))
    assert(t.contains("test1-2"))
    assert(t.contains("this was deleted."))
    assert(d.meta.get("wp:version").exists(_.contains("6.x")))
  }

  test("testWordPerfect_5_0.wp: WP 5.0 text") {
    val d = extract("testWordPerfect_5_0.wp")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("Surrounded by her family"), text(d).take(200))
    assert(d.meta.get("wp:version").exists(_.contains("5.0")))
  }

  test("testWordPerfect_5_1.wp: WP 5.1 text") {
    val d = extract("testWordPerfect_5_1.wp")
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    assert(t.contains("STUDY RESULTS: Existing condition"), t.take(200))
    assert(t.contains("Seattle nonstop flights."))
    assert(d.meta.get("wp:version").exists(_.contains("5.1")))
  }

  test("testQUATTRO.qpw: string table + label text (QuattroProTest.testQPW)") {
    val d = extract("testQUATTRO.qpw")
    assert(d.mime == "application/x-quattro-pro", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("This is an example spreadsheet"), text(d).take(300))
  }
}
