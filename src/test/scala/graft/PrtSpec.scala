package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** CADKEY PRT extraction vs the reference's fixtures
  * (prt/PRTParserTest.java).
  */
class PrtSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-cad-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testCADKEY.prt: created date + view names") {
    val d = extract("testCADKEY.prt")
    assert(d.mime == "application/x-prt", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("dcterms:created").exists(_.contains("2011-06-20T16:54:00")),
      d.meta.get("dcterms:created"))
    val t = text(d)
    for (v <- Seq("Front View", "Back View", "Bottom View", "Right View", "Left View"))
      assert(t.contains(v), s"$v missing in: ${t.take(300)}")
  }

  test("testCADKEY2.prt parses without crash") {
    val d = extract("testCADKEY2.prt")
    assert(d.status == Status.ParseSuccess, d.status)
  }

  test("testDGN8.dgn: CFB summary metadata (DGN8ParserTest)") {
    val d = extract("testDGN8.dgn")
    assert(d.mime == "image/vnd.dgn;version=8", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("meta:last-author").exists(_.contains("John.Frampton")),
      d.meta.get("meta:last-author"))
    assert(d.meta.get("extended-properties:Application")
      .exists(_.contains("MicroStation v8.11.0.0")),
      d.meta.get("extended-properties:Application"))
  }
}
