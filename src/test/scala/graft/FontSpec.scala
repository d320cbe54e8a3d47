package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Font metadata vs the reference's fixtures (font/FontParsersTest.java). */
class FontSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-font-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testAFM.afm: header metadata + comments body") {
    val d = extract("testAFM.afm")
    assert(d.mime == "application/x-font-adobe-metric", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("dc:title").exists(_.contains("TestFullName")))
    assert(d.meta.get("FontName").exists(_.contains("TestFontName")))
    assert(d.meta.get("FontFamilyName").exists(_.contains("TestSymbol")))
    assert(d.meta.get("FontWeight").exists(_.contains("Medium")))
    assert(d.meta.get("FontVersion").exists(_.contains("001.008")))
    assert(d.meta.get("dcterms:created").exists(_.contains("Fri Jul 15 17:50:51 2011")))
    val t = text(d)
    assert(t.contains("Comments"))
    assert(t.contains("This is a comment in a sample file"))
    assert(t.contains("UniqueID 12345"))
  }

  test("testTrueType3.ttf: name + head tables") {
    val d = extract("testTrueType3.ttf")
    assert(d.mime == "application/x-font-ttf", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("dc:title").exists(_.contains("Open Sans Bold")), d.meta.get("dc:title"))
    assert(d.meta.get("FontFamilyName").exists(_.contains("Open Sans")))
    assert(d.meta.get("FontSubFamilyName").exists(_.contains("Bold")))
    assert(d.meta.get("PSName").exists(_.contains("OpenSans-Bold")))
    assert(d.meta.get("dcterms:created").exists(_.contains("2010-12-30T11:04:00Z")),
      d.meta.get("dcterms:created"))
    assert(d.meta.get("dcterms:modified").exists(_.contains("2011-05-05T12:37:53Z")))
    assert(d.meta.get("dc:rights").exists(_.exists(_.startsWith("Digitized"))))
    assert(d.meta.get("Trademark").exists(_.exists(_.startsWith("Open Sans"))))
  }
}
