package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Outlook .msg attachment recursion and compressed-RTF bodies —
  * expectations mirror microsoft/OutlookParserTest.testEmbeddedPath
  * (nested .msg named after its subject, pdf attachment under its long
  * filename) and testOutlookHTMLfromRTF (RTF-encapsulated body text).
  */
class MsgAttachSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  test("testMSG_att_msg.msg: nested msg + pdf attachment recurse") {
    val d = extract("testMSG_att_msg.msg")
    assert(d.status == Status.ParseSuccess, d.status)
    val paths = d.meta.getOrElse("embedded:path", Seq.empty)
    assert(paths.exists(_.contains("Test Attachment.msg")), paths)
    assert(paths.exists(_.contains("smbprn.00009008.KdcPjl.pdf")), paths)
  }

  test("testMSG_att_doc.msg: binary attachment recurses with text") {
    val d = extract("testMSG_att_doc.msg")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.getOrElse("embedded:path", Seq.empty).nonEmpty, d.meta.keys)
  }

  test("test-outlook2003.msg: compressed-RTF body extracts text") {
    val d = extract("test-outlook2003.msg")
    assert(d.status == Status.ParseSuccess, d.status)
    val t = d.spans.filter(_.kind == Span.KindText).map(_.text).mkString
    assert(t.contains("designed to help you"), t.take(400))
  }
}
