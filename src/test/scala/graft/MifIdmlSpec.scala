package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** FrameMaker MIF + InDesign IDML extraction vs the reference's real
  * fixtures (mif/MIFParserTest.java, indesign/IDMLParserTest.java).
  */
class MifIdmlSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-miscoffice-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testFramemakerMif.mif: paragraphs + body page count") {
    val d = extract("testFramemakerMif.mif")
    assert(d.mime == "application/vnd.mif", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains(
      "Lorem ipsum dolor sit amet, consectetur adipiscing elit"), text(d).take(300))
    assert(d.meta.get("meta:page-count").exists(_.contains("1")),
      d.meta.get("meta:page-count"))
  }

  test("testIndesign.idml: spread/story content + XMP + page counts") {
    val d = extract("testIndesign.idml")
    assert(d.mime == "application/vnd.adobe.indesign-idml-package", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains(
      "Lorem ipsum dolor sit amet, consectetur adipiscing elit"), text(d).take(300))
    assert(d.meta.get("meta:page-count").exists(_.contains("3")),
      d.meta.get("meta:page-count"))
    assert(d.meta.get("idml:spread-pages").exists(_.contains("1")))
    assert(d.meta.get("idml:master-spread-pages").exists(_.contains("2")))
    assert(d.meta.get("xmp:creator-tool")
      .exists(_.exists(_.contains("Adobe InDesign"))), d.meta.get("xmp:creator-tool"))
  }
}
