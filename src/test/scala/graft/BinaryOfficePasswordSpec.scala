package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** Office binary RC4 (MS-OFFCRYPTO §2.3.6) decryption of legacy
  * password-protected .doc/.xls — reference parity:
  * ExcelParserTest.testExcelParserPassword (fails without a provider,
  * extracts with "tika") and WordParserTest.testProtected (fails
  * without a provider). POI decrypts both via Biff8EncryptionKey when
  * Tika's PasswordProvider supplies a password.
  */
class BinaryOfficePasswordSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String, password: Option[String]): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name, Extractor.DefaultConfig.copy(password = password))

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test(".xls binary RC4 decrypts with password tika") {
    val d = extract("testEXCEL_protected_passtika.xls", Some("tika"))
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("This is an Encrypted Excel spreadsheet"),
      text(d).take(300))
    // creator metadata survives (it lives in the plaintext property set)
    assert(d.meta.get("dc:creator").exists(_.contains("Antoni")), d.meta)
  }

  test(".doc binary RC4 decrypts with password tika") {
    val d = extract("testWORD_protected_passtika.doc", Some("tika"))
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("This is an encrypted Word 2007 File"),
      text(d).take(300))
  }

  test("no password still fails both (reference throws)") {
    assert(extract("testEXCEL_protected_passtika.xls", None).status ==
      Status.ParseException)
    assert(extract("testWORD_protected_passtika.doc", None).status ==
      Status.ParseException)
  }

  test("wrong password fails both") {
    assert(extract("testEXCEL_protected_passtika.xls", Some("WRONG")).status ==
      Status.ParseException)
    assert(extract("testWORD_protected_passtika.doc", Some("WRONG")).status ==
      Status.ParseException)
  }

  test(".ppt CryptoAPI decrypts with password tika") {
    val d = extract("testPPT_protected_passtika.ppt", Some("tika"))
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("This is an encrypted"), text(d).take(300))
  }

  test(".ppt without password still fails (VelvetSweatshop != tika)") {
    assert(extract("testPPT_protected_passtika.ppt", None).status ==
      Status.ParseException)
  }
}
