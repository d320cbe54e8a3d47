package graft

import java.nio.file.Path
import org.scalatest.funsuite.AnyFunSuite

/** Password/DRM-protected legacy Office documents must fail the
  * document, never report a clean empty parse — the reference throws
  * EncryptedDocumentException for all three
  * (PowerPointParserTest.testEncrypted, WordParserTest.testEncryptedDRM,
  * ExcelParserTest password tests).
  */
class EncryptedOfficeSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  test("encrypted .ppt: CurrentUserAtom headerToken 0xF3D1C4DF fails the doc") {
    val out = extract("testPPT_protected_passtika.ppt")
    assert(out.status == "parse_exception", out.status)
    assert(out.spans.forall(_.kind != "text"))
  }

  test("DRM-protected .doc detects as ole-drm-encrypted and fails") {
    val out = extract("testWORD_protected_drm.doc")
    assert(out.mime == "application/x-tika-ole-drm-encrypted", out.mime)
    assert(out.status == "parse_exception", out.status)
  }

  test("password-protected .doc and .xls fail, no silent empty success") {
    assert(extract("testWORD_protected_passtika.doc").status == "parse_exception")
    assert(extract("testEXCEL_protected_passtika.xls").status == "parse_exception")
  }
}
