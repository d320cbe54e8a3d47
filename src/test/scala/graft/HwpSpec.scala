package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** HWP v5 extraction vs the reference's real fixtures; assertions mirror
  * hwp/HwpV5ParserTest.java — Korean content strings, title/creator
  * metadata, and the distributed (ViewText/AES) variant.
  */
class HwpSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-miscoffice-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testHWP-v5b.hwp: content + title + creator (HwpV5ParserTest.testHwpV5Parser)") {
    val d = extract("testHWP-v5b.hwp")
    assert(d.mime == "application/x-hwp-v5", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("Apache Tika - 컨텐츠"))
    assert(d.meta.get("dc:title").exists(_.contains("Apache Tika")), d.meta.get("dc:title"))
    assert(d.meta.get("dc:creator").exists(_.contains("SooMyung Lee")), d.meta.get("dc:creator"))
  }

  test("testHWP-v5-dist.hwp: distributed/ViewText AES variant decodes") {
    val d = extract("testHWP-v5-dist.hwp")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("Apache Tika - 컨텐츠"))
    assert(d.meta.get("dc:title").exists(_.contains("Apache Tika")))
  }

  test("testHWP_5.0.hwp: Korean body + metadata (testExisting)") {
    val d = extract("testHWP_5.0.hwp")
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    assert(t.contains("테스트"))
    assert(t.contains("test"))
    assert(d.meta.get("dc:creator").exists(_.contains("next1009")), d.meta.get("dc:creator"))
    assert(d.meta.get("dc:title").exists(_.contains("테스트")))
  }

  test("testHWP_3.0.hwp: v3 detected as x-hwp, not crashed") {
    val d = extract("testHWP_3.0.hwp")
    assert(d.mime.startsWith("application/x-hwp"), d.mime)
  }
}
