package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** Supplied-password PDF decryption — the PasswordProvider analog
  * (reference behavior: PDFParser.java:176-198 feeds the provider's
  * password to PDFBox's StandardSecurityHandler; PDFParserTest
  * testLegacyAccessChecking extracts the owner_user fixtures with
  * password "user", testProtectedPDF requires a WRONG password to fail
  * even though the empty password would decrypt).
  */
class PdfPasswordSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pdf-module/src/test/resources/test-documents")

  private def extract(name: String, password: Option[String]) = {
    val b = RefFixture.bytes(name, docs)
    Extractor.extract(
      DocRow(name, Seq(Span("pdf", Corpus.b64(b), null, 0))),
      Extractor.DefaultConfig.copy(password = password))
  }

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("user-password fixtures decrypt with the supplied password") {
    for (name <- Seq("testPDF_no_extract_no_accessibility_owner_user.pdf",
        "testPDF_no_extract_yes_accessibility_owner_user.pdf")) {
      val d = extract(name, Some("user"))
      assert(d.status == Status.ParseSuccess, s"$name: ${d.status}")
      assert(text(d).contains("Hello World"), name)
    }
  }

  test("owner password decrypts the same fixtures (Algorithm 7)") {
    for (name <- Seq("testPDF_no_extract_no_accessibility_owner_user.pdf",
        "testPDF_no_extract_no_accessibility_owner_empty.pdf")) {
      val d = extract(name, Some("owner"))
      assert(d.status == Status.ParseSuccess, s"$name: ${d.status}")
      assert(text(d).contains("Hello World"), name)
    }
  }

  test("wrong password fails even when the empty password would work") {
    val d = extract("testPDF_protected.pdf", Some("WRONG!!!!"))
    assert(d.status == Status.ParseException)
  }

  test("no password still fails the user-password fixtures cleanly") {
    val d = extract(
      "testPDF_no_extract_no_accessibility_owner_user.pdf", None)
    assert(d.status == Status.ParseException)
  }

  test("default-password fixture still decrypts with no password") {
    val d = extract("testPDF_protected.pdf", None)
    assert(d.status == Status.ParseSuccess)
    assert(text(d).contains("RETHINKING THE FINANCIAL NETWORK"))
  }

  // TIKA-2858 server fixtures: R6 (AES-256) with pathological passwords.
  // TikaResourceTest.testUnicodePasswordProtectedSpaces / ...Unicode
  // expect "Just some text." via the simple-password-provider.
  private val serverDocs = java.nio.file.Path.of("/root/reference/" +
    "tika-server/tika-server-standard/src/test/resources/test-documents")

  private def extractServer(name: String, password: String) = {
    val b = RefFixture.bytes(name, serverDocs)
    Extractor.extract(DocRow(name, Seq(Span("pdf", Corpus.b64(b), null, 0))),
      Extractor.DefaultConfig.copy(password = Some(password)))
  }

  test("TIKA-2858: four-space password decrypts (R6 SASLprep keeps spaces)") {
    val d = extractServer("testPassword4Spaces.pdf", "    ")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("Just some text."))
  }

  test("TIKA-2858: full-unicode password incl. surrogate pairs decrypts") {
    val pw = "  ! < > \" \\ € œ ¤ 1⁄4 1⁄2 𠜎 𩶘 😀  "
    val d = extractServer("testUnicodePassword.pdf", pw)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("Just some text."))
  }

  test("TIKA-2858 fixtures fail cleanly on wrong/absent password") {
    val b = RefFixture.bytes("testPassword4Spaces.pdf", serverDocs)
    for (pw <- Seq(None, Some("   "), Some("wrong"))) {
      val d = Extractor.extract(DocRow("p.pdf", Seq(Span("pdf", Corpus.b64(b), null, 0))),
        Extractor.DefaultConfig.copy(password = pw))
      assert(d.status == Status.ParseException, s"$pw -> ${d.status}")
    }
  }
}
