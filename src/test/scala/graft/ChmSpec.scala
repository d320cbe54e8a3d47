package graft

import java.nio.file.{Files, Path}
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** CHM (ITSS + LZX) extraction vs the reference's real fixtures. The
  * content assertions mirror the reference's own tests
  * (microsoft/chm/TestChmExtraction.java): the TCard sentence from
  * testChm.chm, non-empty text for every well-formed fixture, and the
  * malformed testChm_oom.chm failing the document rather than looping.
  */
class ChmSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, docs)

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testChm.chm: detected, parsed, TCard sentence present") {
    val d = extract("testChm.chm")
    assert(d.mime == "application/vnd.ms-htmlhelp")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("The TCard method accepts only numeric arguments"))
  }

  test("testChm3.chm: parses with substantial text") {
    // 1M chars of page text: the default 100k write limit trips, which
    // is the correct engine status for an oversized doc (the reference
    // test uses an unlimited handler; our contract caps per-doc output)
    val d = extract("testChm3.chm")
    assert(d.status == Status.WriteLimitReached, d.status)
    val t = text(d)
    assert(t.length > 90000)
    assert(t.contains("Subversion"))
  }

  test("testChm_oom.chm: malformed fixture fails the document cleanly") {
    val d = extract("testChm_oom.chm")
    assert(d.status == Status.ParseException, d.status)
  }

  test("real-world CHM corpus: every file yields non-empty text") {
    org.scalatest.Assertions.assume(Files.isDirectory(docs.resolve("chm")),
      "reference fixtures not present")
    import scala.jdk.CollectionConverters._
    val files = Files.list(docs.resolve("chm")).iterator().asScala.toSeq
      .filter(Files.isRegularFile(_)).sortBy(_.getFileName.toString)
    assert(files.nonEmpty)
    files.foreach { p =>
      val sink = new graft.engine.SpanSink(writeLimit = Int.MaxValue)
      val meta = new graft.engine.MetaSink()
      graft.chm.ChmExtractor.extract(Files.readAllBytes(p), sink, meta)
      val t = sink.result().map(_.text).mkString
      assert(t.trim.nonEmpty, p.getFileName.toString)
    }
  }

  test("non-ASCII pages decode: IMJPCL.CHM carries Japanese text") {
    val sink = new graft.engine.SpanSink(writeLimit = Int.MaxValue)
    val meta = new graft.engine.MetaSink()
    graft.chm.ChmExtractor.extract(fixture("chm/IMJPCL.CHM"), sink, meta)
    val t = sink.result().map(_.text).mkString
    // CJK content must survive the charset decode (not mojibake)
    assert(t.exists(c => c >= 0x3040 && c <= 0x30ff), t.take(120))
  }
}
