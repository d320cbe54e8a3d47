package graft

import java.nio.file.{Files, Path}
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** The reference's real-world PDF corpus through the engine: filter
  * chains (LZW/predictors), linearized multi-trailer files, Form
  * XObject execution, rotated text, and correct failure for
  * non-empty-password files.
  */
class PdfRealWorldSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pdf-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    Extractor.extract(DocRow(name, Seq(Span("pdf", Corpus.b64(RefFixture.bytes(name, docs)), null, 0))))

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("rotated page text extracts through its Form XObject, unspaced") {
    val d = extract("testPDF_rotated.pdf")
    assert(d.status == Status.ParseSuccess)
    val t = text(d)
    assert(t.contains("Apache Tika"))
    assert(t.contains("Content Analysis Toolkit"))
    // the 90°-rotated run must not degrade to one glyph per word
    assert(!t.contains("A p a c h e"))
  }

  test("linearized multi-trailer files find their catalog") {
    // final trailer carries only Size/Prev/ID; /Root lives earlier
    val d = extract("testPDF_Version.5.x.pdf")
    assert(d.status == Status.ParseSuccess)
    assert(text(d).nonEmpty)
  }

  test("sweep: every reference pdf lands on a sane status") {
    import scala.jdk.CollectionConverters._
    org.scalatest.Assertions.assume(Files.isDirectory(docs),
      "reference fixtures not present")
    val all = Files.list(docs).iterator().asScala
      .filter(_.toString.endsWith(".pdf")).toList
    var ok = 0; var fail = 0
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    all.foreach { p =>
      val b = Files.readAllBytes(p)
      val d = Extractor.extract(
        DocRow(p.getFileName.toString, Seq(Span("pdf", Corpus.b64(b), null, 0))))
      d.status match {
        case Status.ParseException => fail += 1; failed += p.getFileName.toString
        case _ => ok += 1
      }
    }
    // the only acceptable failures are the fixtures that REQUIRE a
    // non-empty user password (the reference throws for them too)
    assert(failed.forall(_.contains("owner_user")), failed)
    assert(ok >= 50, s"ok=$ok fail=$fail")
  }
}
