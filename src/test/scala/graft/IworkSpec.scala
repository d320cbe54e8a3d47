package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** iWork '09 extraction vs the reference's real fixtures; assertions
  * mirror iwork/IWorkParserTest.java.
  */
class IworkSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-apple-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testKeynote.key: slides, size, metadata, body + table cells") {
    val d = extract("testKeynote.key")
    assert(d.mime == "application/vnd.apple.keynote", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("meta:slide-count").exists(_.contains("3")),
      d.meta.get("meta:slide-count"))
    assert(d.meta.get("slides-width").exists(_.contains("1024")))
    assert(d.meta.get("slides-height").exists(_.contains("768")))
    assert(d.meta.get("dc:creator").exists(_.contains("Tika user")))
    assert(d.meta.get("dc:title").exists(_.contains("Apache tika")))
    val t = text(d)
    assert(t.contains("A sample presentation"), t.take(200))
    assert(t.contains("Some random text for the sake of testability."))
    assert(t.contains("Cell one"))
    assert(t.contains("Cell two"))
    assert(t.contains("7"))
  }

  test("testBulletPoints.key / testTables.key: text boxes + tables") {
    val t1 = text(extract("testBulletPoints.key")).replaceAll("\\s+", " ")
    assert(t1.contains("bullet point 1 bullet point 2 bullet point 3"), t1.take(200))
    val t2 = text(extract("testTables.key")).replaceAll("\\s+", " ")
    assert(t2.contains("row 1") && t2.contains("row 2") && t2.contains("row 3"),
      t2.take(200))
  }

  test("testPages.pages: page count, metadata, body + table cells") {
    val d = extract("testPages.pages")
    assert(d.mime == "application/vnd.apple.pages", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("meta:page-count").exists(_.contains("2")),
      d.meta.get("meta:page-count"))
    assert(d.meta.get("dc:creator").exists(_.contains("Tika user")), d.meta.get("dc:creator"))
    assert(d.meta.get("dc:title").exists(_.contains("Apache tika")))
    assert(d.meta.get("dc:language").exists(_.contains("en")))
    val t = text(d)
    assert(t.contains("Sample pages document"), t.take(300))
    assert(t.contains("Some plain text to parse."))
    assert(t.contains("Cell one") && t.contains("Cell nine"))
    assert(t.contains("A second page...."))
  }

  test("testNumbers.numbers: sheets, tables, metadata") {
    val d = extract("testNumbers.numbers")
    assert(d.mime == "application/vnd.apple.numbers", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    assert(t.nonEmpty)
  }
}
