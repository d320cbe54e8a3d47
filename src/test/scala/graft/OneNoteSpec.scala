package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** OneNote ONESTORE reader vs the reference's real .one fixtures. The
  * assertions mirror the reference's own behavioral tests
  * (onenote/OneNoteParserTest.java): exact content strings, the
  * TIKA-3970 exactly-once contract, TIKA-4303 Chinese text, author sets
  * and second-exact creation/modification timestamps.
  */
class OneNoteSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc = {
    val b = RefFixture.bytes(name, docs)
    Extractor.extract(DocRow(name, Seq(Span("bytes", Corpus.b64(b), null, 0))))
  }

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  private def count(hay: String, needle: String): Int =
    hay.split(java.util.regex.Pattern.quote(needle), -1).length - 1

  test("2013 section file: content, authors, exact timestamps") {
    val d = extract("testOneNote2.one")
    assert(d.mime == graft.mime.MimeDb.OneNote)
    assert(d.status == Status.ParseSuccess)
    val t = text(d)
    // OneNoteParserTest.testOneNote2013Doc2 expectations
    for (s <- Seq("wow this is neat", "neat info about totally killin it bro",
        "Section1TextArea1", "Section1HeaderTitle", "Section1TextArea2"))
      assert(count(t, s) == 1, s)
    val authors = d.meta.getOrElse("onenote:authors", Seq.empty)
    for (a <- Seq("Olya Veselova", "Microsoft", "Scott", "Scott H. W. Snyder",
        "ndipiazza"))
      assert(authors.contains(a), a)
    assert(d.meta("onenote:creationTimestamp") == Seq("1336059427"))
    assert(d.meta("onenote:lastModifiedTimestamp") == Seq("1574426629"))
  }

  test("revision history text appears exactly once (TIKA-3970)") {
    val t = text(extract("test-tika-3970-dupetext.one"))
    assert(count(t, "Sunday morning") == 1)
  }

  test("Chinese notes extract (TIKA-4303)") {
    val t = text(extract("test-tika-4303-Chinese-notes.one"))
    assert(t.contains("中文标题"))
  }

  test("Office365 / pre-2010 files take the string-dump fallback") {
    val d = extract("testOneNoteFromOffice365.one")
    assert(d.status == Status.ParseSuccess)
    assert(d.meta("onenote:format") == Seq("legacy-or-alternative"))
    assert(text(d).contains("Section1Page2"))
  }

  test("hostile input: truncated and corrupt onestore fail the doc only") {
    val good = RefFixture.bytes("testOneNote2.one", docs)
    val bad = good.clone()
    // corrupt the root file-node-list magic
    bad(0x400) = 0x00
    val out = Extractor.extract(
      DocRow("bad", Seq(Span("bytes", Corpus.b64(bad), null, 0))))
    assert(out.status == Status.ParseException)
  }
}
