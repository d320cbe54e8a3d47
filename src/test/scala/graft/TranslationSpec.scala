package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** TMX / XLIFF / XLZ / FictionBook vs the reference's fixtures
  * (tmx/TMXParserTest.java, xliff/XLIFF12ParserTest.java).
  */
class TranslationSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-xml-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testTMX.tmx: segments + header/count metadata") {
    val d = extract("testTMX.tmx")
    assert(d.mime == "application/x-tmx", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    assert(t.contains("Hello world!"), t.take(200))
    assert(t.contains("Salut lume!"))
    assert(d.meta.get("tu-count").exists(_.contains("1")))
    assert(d.meta.get("tuv-count").exists(_.contains("2")))
    assert(d.meta.get("source-language").exists(_.contains("en-us")))
    assert(d.meta.get("target-language").exists(_.contains("ro-ro")))
    assert(d.meta.get("creation-tool").exists(_.contains("apache-tika")))
  }

  test("testXLIFF12.xlf: trans-units + file/count metadata") {
    val d = extract("testXLIFF12.xlf")
    assert(d.mime == "application/x-xliff+xml", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("Hooray"), text(d).take(200))
    assert(d.meta.get("file-count").exists(_.contains("2")), d.meta.get("file-count"))
    assert(d.meta.get("tu-count").exists(_.contains("4")))
    assert(d.meta.get("source-language").exists(_.contains("en")))
    assert(d.meta.get("target-language").exists(_.contains("fr")))
  }

  test("testXLIFF12.xlz: zip wrapper routes to the xlf members") {
    val d = extract("testXLIFF12.xlz")
    assert(d.mime == "application/x-xliff+zip", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("Hooray"), text(d).take(200))
  }

  test("test.fb2: body text + embedded binary recursion") {
    val d = extract("test.fb2")
    assert(d.mime == "application/x-fictionbook+xml", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).trim.nonEmpty)
  }
}
