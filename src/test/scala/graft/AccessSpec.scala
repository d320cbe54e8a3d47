package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Microsoft Access extraction vs the reference's real fixtures —
  * assertions mirror microsoft/JackcessParserTest.testBasic (column
  * header, date rendering, markup-stripped rich memo, unicode) across
  * the accdb / 2000 / 2002-2003 variants, plus the Jet3 read path
  * (testReadOnly's V1997 fixture).
  */
class AccessSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString

  test("jet4/ace variants: headers, dates, markup-stripped memo, unicode") {
    for (n <- Seq("testAccess2.accdb", "testAccess2_2000.mdb",
        "testAccess2_2002-2003.mdb")) {
      val d = extract(n)
      assert(d.mime == "application/x-msaccess", s"$n: ${d.mime}")
      assert(d.status == Status.ParseSuccess, s"$n: ${d.status}")
      val t = text(d)
      assert(t.contains("ShortTextField"), s"$n: ${t.take(300)}")
      assert(t.contains("2015-06-24"), n)
      assert(t.contains("over the bold italic dog"), n)
      assert(t.contains("普林斯顿大学"), n)
      assert(t.contains("the quick"), n)
      assert(!t.contains("<div>"), n) // markup stripped
      // JackcessParserTest.testBasic: the OLEObject column carries an
      // embedded docx whose own embedded pdf says this
      assert(t.contains("Test Document with embedded pdf"), n)
    }
  }

  test("testAccess_V1997.mdb: Jet3 rows decode + summary metadata") {
    val d = extract("testAccess_V1997.mdb")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("hijklmnop"), text(d).take(400))
    // JackcessParserTest.testMetadata expectations
    assert(d.meta.get("dc:creator").flatMap(_.headOption).contains("tmccune"),
      d.meta.get("dc:creator"))
    assert(d.meta.get("extended-properties:Company").flatMap(_.headOption)
      .contains("Health Market Science"))
    assert(d.meta.get("dc:title").flatMap(_.headOption).contains("test"))
  }

  test("testAccess2_encrypted.accdb: fails the document, no false text") {
    // the reference throws on encrypted databases (Jackcess
    // CryptCodecProvider absent) — a parse failure, not silent success
    val d = extract("testAccess2_encrypted.accdb")
    assert(d.status == Status.ParseException ||
      d.status == Status.UnsupportedType, d.status)
  }

  test("testACCESS.mdb: multiple user tables surface") {
    val d = extract("testACCESS.mdb")
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    for (tbl <- Seq("Titles", "Tracks", "Menus", "Batch"))
      assert(t.contains(tbl), t.take(400))
  }
}
