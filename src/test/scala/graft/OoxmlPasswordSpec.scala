package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** MS-OFFCRYPTO supplied-password decryption of protected OOXML —
  * reference parity with OOXMLParserTest.testEncrypted (password "tika"
  * opens all four fixtures; no provider → only the default
  * "VelvetSweatshop" is tried and the tika-protected files fail) and
  * testProtectedExcelFile (protectedFile.xlsx opens with NO password —
  * it is VelvetSweatshop-encrypted).
  */
class OoxmlPasswordSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String, password: Option[String]): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name, Extractor.DefaultConfig.copy(password = password))

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("standard encryption (4.2 AES-128/SHA-1) decrypts with password tika") {
    val expected = Map(
      "testWORD_protected_passtika.docx" -> "This is an encrypted Word 2007 File",
      "testEXCEL_protected_passtika.xlsx" -> "This is an Encrypted Excel spreadsheet",
      "testPPT_protected_passtika.pptx" -> "This is an encrypted PowerPoint 2007 slide")
    for ((name, want) <- expected) {
      val d = extract(name, Some("tika"))
      assert(d.status == Status.ParseSuccess, s"$name: ${d.status}")
      assert(text(d).contains(want), s"$name: ${text(d).take(200)}")
    }
  }

  test("agile encryption (4.4 AES-256/SHA-512) decrypts with password tika") {
    val d = extract("testEXCEL_protected_passtika_2.xlsx", Some("tika"))
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains(
      "This is an Encrypted Excel spreadsheet with a ChunkedCipherInputStream"),
      text(d).take(300))
  }

  test("the decrypted package reports its real OOXML type") {
    val d = extract("testWORD_protected_passtika.docx", Some("tika"))
    assert(d.mime == graft.mime.MediaTypes.Docx, d.mime)
  }

  test("no password → only VelvetSweatshop tried; tika-protected fail") {
    val d = extract("testWORD_protected_passtika.docx", None)
    assert(d.status == Status.ParseException, d.status)
  }

  test("wrong password fails the document") {
    val d = extract("testEXCEL_protected_passtika.xlsx", Some("WRONG"))
    assert(d.status == Status.ParseException, d.status)
  }

  test("VelvetSweatshop default opens protectedFile.xlsx with no password") {
    val d = extract("protectedFile.xlsx", None)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).nonEmpty)
  }
}
