package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.crypto.Pkcs7Extractor
import org.scalatest.funsuite.AnyFunSuite

/** CMS/PKCS#7 unwrapping vs the reference's real BouncyCastle-produced
  * fixtures (definite-length DER and indefinite-length BER variants,
  * timestamped-data, enveloped, detached).
  */
class Pkcs7Spec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-crypto-module/src/test/resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, docs)

  test("signed xml unwraps and recurses (indefinite-length BER)") {
    val out = Extractor.extract(DocRow("p7m",
      Seq(Span("bytes", Corpus.b64(fixture("test.xml.p7m")), null, 0))))
    // the reference's coarse masked .7-arc magic labels signedData as
    // pkcs7-signature by content (Pkcs7DetectionTest); the parser
    // refines the smime-type
    assert(out.mime == graft.mime.MimeDb.Pkcs7Sig)
    assert(out.meta("cms:smime-type") == Seq("signed-data"))
    assert(out.status == Status.ParseSuccess)
    assert(out.meta("cms:content-type") == Seq("1.2.840.113549.1.7.2"))
    // the wrapped test.xml content extracts through recursion
    assert(out.spans.exists(s => s.kind == Span.KindText && s.text.nonEmpty))
  }

  test("definite- and indefinite-length signed data both unwrap") {
    val defU = Pkcs7Extractor.unwrap(fixture("testPKCS7_signed_data_def.p7m"))
    val indU = Pkcs7Extractor.unwrap(fixture("testPKCS7_signed_data_ind.p7m"))
    assert(defU.content.nonEmpty && indU.content.nonEmpty)
  }

  test("timestamped-data (.tsd) yields its wrapped payload") {
    val u = Pkcs7Extractor.unwrap(fixture("Test1.txt.tsd"))
    assert(new String(u.content, "US-ASCII").contains("This is"))
  }

  test("enveloped (encrypted) cms is labelled, empty document, no throw") {
    // Pkcs7Parser: enveloped/digested/encrypted -> smime-type label +
    // empty document, never an exception (Pkcs7Parser.java parse())
    val u = Pkcs7Extractor.unwrap(fixture("testPKCS7_enveloped_def.p7m"))
    assert(u.smimeType == "enveloped-data" && u.content.isEmpty)
    val out = Extractor.extract(DocRow("env",
      Seq(Span("bytes", Corpus.b64(fixture("testPKCS7_enveloped_def.p7m")), null, 0))))
    assert(out.status == Status.ParseSuccess)
    assert(out.meta("cms:smime-type") == Seq("enveloped-data"))
  }

  test("digested cms is labelled digested-data (TIKA-2856 coarse route)") {
    val u = Pkcs7Extractor.unwrap(fixture("testPKCS7_digested.p7"))
    assert(u.smimeType == "digested-data" && u.content.isEmpty)
    // detection: the coarse masked .7-arc magic labels it pkcs7-signature
    // (Pkcs7DetectionTest expectation)
    assert(graft.mime.MimeRegistry.detect(fixture("testPKCS7_digested.p7"))
      == graft.mime.MimeDb.Pkcs7Sig)
  }

  test("compressedData inflates (zlib) and the payload recurses") {
    // Pkcs7ParserTest: testPKCS7_compressed_def_long.p7z /
    // testPKCS7_compressed_ind.p7z -> smime-type=compressed-data with
    // the inner document extracted via ZlibExpanderProvider
    for (name <- Seq("testPKCS7_compressed_def_long.p7z",
        "testPKCS7_compressed_ind.p7z")) {
      val bytes = fixture(name)
      assert(graft.mime.MimeRegistry.detect(bytes)
        == graft.mime.MimeDb.Pkcs7Mime, name)
      val u = Pkcs7Extractor.unwrap(bytes)
      assert(u.smimeType == "compressed-data" && u.content.nonEmpty, name)
      val out = Extractor.extract(DocRow(name,
        Seq(Span("bytes", Corpus.b64(bytes), null, 0))))
      assert(out.status == Status.ParseSuccess, (name, out.status))
      assert(out.meta("cms:smime-type") == Seq("compressed-data"))
      // the inner payload recursed (def_long wraps a PDF with text; ind
      // wraps a zip holding one zero-byte entry — structure only)
      assert(out.spans.exists(_.kind == Span.KindEmbeddedOpen), name)
    }
    val pdfOut = Extractor.extract(DocRow("p",
      Seq(Span("bytes", Corpus.b64(fixture("testPKCS7_compressed_def_long.p7z")),
        null, 0))))
    assert(pdfOut.spans.exists(s => s.kind == Span.KindText && s.text.nonEmpty))
    assert(pdfOut.meta("embedded:/1") == Seq("application/pdf"))
  }

  test("signed unwrap labels signed-data") {
    val u = Pkcs7Extractor.unwrap(fixture("testPKCS7_signed_data_def.p7m"))
    assert(u.smimeType == "signed-data")
  }

  test("detached signature with signers is NOT certs-only") {
    // CmsClassifier reserves certs-only for certificates-without-signers;
    // a detached signature (signers, no eContent) keeps the
    // pkcs7-signature media type with no smime-type
    for (name <- Seq("testDetached.p7s", "testPKCS7_signature_def.p7s",
        "testPKCS7_signature_ind.p7s")) {
      val u = Pkcs7Extractor.unwrap(fixture(name))
      assert(u.smimeType == null && u.content.isEmpty, (name, u.smimeType))
    }
  }

  test("detection: signed/enveloped DER and PEM land on pkcs7-signature") {
    // Pkcs7DetectionTest content-only expectations
    assert(graft.mime.MimeRegistry.detect(fixture("testPKCS7_signed_data_def.p7m"))
      == graft.mime.MimeDb.Pkcs7Sig)
    assert(graft.mime.MimeRegistry.detect(fixture("testPKCS7_enveloped_def.p7m"))
      == graft.mime.MimeDb.Pkcs7Sig)
    assert(graft.mime.MimeRegistry.detect(fixture("testPKCS7_signed_data_def.pem"))
      == graft.mime.MimeDb.Pkcs7Sig)
    assert(graft.mime.MimeRegistry.detect(fixture("Test1.txt.tsd"))
      == graft.mime.MimeDb.Tsd)
  }
}
