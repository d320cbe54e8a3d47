package graft

import java.nio.file.Path
import graft.core.Status
import org.scalatest.funsuite.AnyFunSuite

/** Embedded OLE objects in legacy Office containers — expectations
  * mirror microsoft/POIContainerExtractionTest: Word ObjectPool and
  * Excel MBD storages recurse as child documents (re-wrapped CFBs route
  * through subtype detection), and PPT Pictures-stream blips surface as
  * image children.
  */
class OleEmbeddedSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  test("testWORD_embeded.doc: ObjectPool children recurse with text") {
    val d = extract("testWORD_embeded.doc")
    assert(d.status == Status.ParseSuccess, d.status)
    val paths = d.meta.getOrElse("embedded:path", Seq.empty)
    assert(paths.nonEmpty, d.meta.keys.toVector.sorted)
    // the fixture carries embedded ppt/xls/docx objects
    val kinds = d.spans.count(_.kind == "embedded-open")
    assert(kinds >= 3, s"embedded count $kinds, paths $paths")
  }

  test("testEXCEL_embeded.xls: MBD storages recurse") {
    val d = extract("testEXCEL_embeded.xls")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.spans.count(_.kind == "embedded-open") >= 2,
      d.meta.getOrElse("embedded:path", Seq.empty))
  }

  test("pictures.ppt: Pictures-stream blips surface as image children") {
    val d = extract("pictures.ppt")
    assert(d.status == Status.ParseSuccess, d.status)
    val paths = d.meta.getOrElse("embedded:path", Seq.empty)
    assert(paths.exists(_.contains(".png")) || paths.exists(_.contains(".jpg")),
      paths)
  }

  test("EmbeddedDocument.docx: xls embedding recurses (OOXML embeddings)") {
    val d = extract("EmbeddedDocument.docx")
    assert(d.status == Status.ParseSuccess, d.status)
    val paths = d.meta.getOrElse("embedded:path", Seq.empty)
    assert(paths.exists(_.contains("Worksheet1.bin")), paths)
  }

  test("testWORD_embeded.docx / testEXCEL_embeded.xlsx recurse children") {
    for (n <- Seq("testWORD_embeded.docx", "testEXCEL_embeded.xlsx",
        "testPPT_embeded.pptx")) {
      val d = extract(n)
      assert(d.status == Status.ParseSuccess, s"$n: ${d.status}")
      assert(d.spans.exists(_.kind == "embedded-open"),
        s"$n: ${d.meta.getOrElse("embedded:path", Seq.empty)}")
    }
  }

  test("testPPT_embeded.ppt: ExOleObjStg objects recurse") {
    val d = extract("testPPT_embeded.ppt")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.spans.exists(_.kind == "embedded-open"),
      d.meta.getOrElse("embedded:path", Seq.empty))
  }
}
