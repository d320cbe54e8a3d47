package graft

import java.nio.file.{Files, Path}
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.zipx.ZipUtil
import org.scalatest.funsuite.AnyFunSuite

/** Encrypted-ZIP password routes: traditional PKWARE "ZipCrypto" and
  * WinZip AES (method 99, AE-1/AE-2).
  *
  * Reference behavior (pkg-module ZipParserTest.testZipEncrypted): each
  * encrypted member surfaces as an embedded EncryptedDocumentException
  * while the rest of the archive extracts — the reference itself cannot
  * decrypt either scheme. With `Config.password` we go further and
  * decrypt (as the repo already does for RAR3/-hp and 7z -mhe).
  *
  * Interop evidence:
  *  - zipcrypto fixtures `enc_deflate/enc_stored/mixed.zip` were written
  *    by the independent Info-ZIP `zip -P` CLI (traditional encryption,
  *    GP bit 3 data descriptors — the DOS-time check-byte path);
  *  - `ae_mixed.zip` was written by an independent OpenSSL-backed
  *    encoder (PBKDF2/HMAC/AES from OpenSSL, not our JCE code path),
  *    covering AE-1/AE-2 at AES-128/192/256 with deflate and stored
  *    inner methods;
  *  - `testZipEncrypted.zip` is the reference's REAL AE-1/AES-256
  *    fixture (password unpublished): header parsing, wrong-password
  *    verifier rejection, and the per-stream exception shape run
  *    against a genuine WinZip-AES stream.
  */
class ZipCryptoSpec extends AnyFunSuite {

  private val pkgDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pkg-module/src/test/resources/test-documents")

  private def res(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/zipcrypto/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  private def refFixture(name: String): Array[Byte] = RefFixture.bytes(name, pkgDocs)

  test("ZipCrypto: Info-ZIP -P archive decrypts byte-exact (deflate+stored)") {
    val w = ZipUtil.walk(res("enc_deflate.zip"), Some("tika-zc"))
    assert(w.encrypted.isEmpty)
    assert(w.entries.map(_.name) ==
      Vector("member1.txt", "member2.txt", "member3.txt"))
    for (n <- Seq("member1.txt", "member2.txt", "member3.txt"))
      assert(w.entries.find(_.name == n).get.data.toSeq == res(n).toSeq, n)
    val stored = ZipUtil.walk(res("enc_stored.zip"), Some("tika-zc"))
    assert(stored.entries.head.data.toSeq == res("member2.txt").toSeq)
  }

  test("ZipCrypto: wrong password -> entry reported encrypted, not garbage") {
    for (pw <- Seq(Some("tika-zd"), Some(""), None)) {
      val w = ZipUtil.walk(res("enc_deflate.zip"), pw)
      assert(w.entries.isEmpty, s"$pw decoded something")
      assert(w.encrypted ==
        Vector("member1.txt", "member2.txt", "member3.txt"))
    }
  }

  test("ZipCrypto: mixed archive keeps plain entries under a wrong password") {
    val wrong = ZipUtil.walk(res("mixed.zip"), Some("nope"))
    assert(wrong.entries.map(_.name) == Vector("member1.txt"))
    assert(wrong.encrypted == Vector("member3.txt"))
    val right = ZipUtil.walk(res("mixed.zip"), Some("s3cret!"))
    assert(right.encrypted.isEmpty)
    assert(right.entries.find(_.name == "member3.txt").get.data.toSeq ==
      res("member3.txt").toSeq)
  }

  test("WinZip AES: independent-encoder AE-1/AE-2 matrix decrypts byte-exact") {
    val w = ZipUtil.walk(res("ae_mixed.zip"), Some("tika-ae"))
    assert(w.encrypted.isEmpty, w.encrypted)
    assert(w.entries.map(_.name) ==
      Vector("ae1_a128.txt", "ae2_a192.txt", "ae2_a256.txt"))
    for (n <- Seq("ae1_a128.txt", "ae2_a192.txt", "ae2_a256.txt"))
      assert(w.entries.find(_.name == n).get.data.toSeq == res(n).toSeq, n)
  }

  test("WinZip AES: wrong password fails the verifier, never emits bytes") {
    for (pw <- Seq(Some("tika-AE"), Some("x"), None)) {
      val w = ZipUtil.walk(res("ae_mixed.zip"), pw)
      assert(w.entries.isEmpty, s"$pw decoded something")
      assert(w.encrypted.size == 3)
    }
  }

  test("reference AE-1 fixture: parity without password, clean reject with") {
    val b = refFixture("testZipEncrypted.zip")
    // without a password the plain member extracts and the encrypted one
    // is reported — ZipParserTest.testZipEncrypted semantics
    val w = ZipUtil.walk(b, None)
    assert(w.encrypted == Vector("encrypted.txt"))
    assert(new String(w.entries.find(_.name == "unencrypted.txt").get.data,
      java.nio.charset.StandardCharsets.UTF_8).contains("hello world"))
    // a wrong password must fail the PBKDF2 verifier, not decode garbage
    val wrong = ZipUtil.walk(b, Some("wrong"))
    assert(wrong.encrypted == Vector("encrypted.txt"))
  }

  test("engine: encrypted members record EncryptedDocumentException streams") {
    val out = Extractor.extract(
      DocRow("z.zip", Seq(Span("bytes",
        Corpus.b64(refFixture("testZipEncrypted.zip")), null, 0))),
      Extractor.DefaultConfig)
    assert(out.status == Status.ParseSuccessWithException, out.status)
    val text = out.spans.filter(_.kind == Span.KindText).map(_.text).mkString
    assert(text.contains("hello world"))
    assert(out.meta.getOrElse("parse:exception", Seq.empty).contains(
      "EncryptedDocumentException: stream (encrypted.txt) is encrypted"),
      out.meta.getOrElse("parse:exception", Seq.empty))
  }

  test("engine: Config.password decrypts ZipCrypto members end-to-end") {
    val out = Extractor.extract(
      DocRow("z.zip", Seq(Span("bytes", Corpus.b64(res("enc_deflate.zip")),
        null, 0))),
      Extractor.DefaultConfig.copy(password = Some("tika-zc")))
    assert(out.status == Status.ParseSuccess, out.status)
    val text = out.spans.filter(_.kind == Span.KindText).map(_.text).mkString
    assert(text.contains("Traditional ZipCrypto member one."))
  }

  test("real third-party ZipCrypto: the RFC822 attachment decrypts with its published password") {
    // testRFC822_encrypted_zip's body publishes `password is "test"` —
    // a genuinely external ZipCrypto archive (RFC822ParserTest only
    // asserts the exception; with the password we extract the payload)
    val mailDocs = Path.of("/root/reference/tika-parsers/" +
      "tika-parsers-standard/tika-parsers-standard-modules/" +
      "tika-parser-mail-module/src/test/resources/test-documents")
    val p = mailDocs.resolve("testRFC822_encrypted_zip")
    org.scalatest.Assertions.assume(Files.isRegularFile(p),
      "reference fixtures not present")
    val b = Files.readAllBytes(p)
    // without a password: mail + zip recursion records the encrypted
    // stream, the message text still extracts (reference semantics)
    val plain = Extractor.extract(
      DocRow("m.eml", Seq(Span("bytes", Corpus.b64(b), null, 0))),
      Extractor.DefaultConfig)
    assert(plain.status == Status.ParseSuccessWithException, plain.status)
    assert(plain.meta.getOrElse("parse:exception", Seq.empty)
      .exists(_.contains("stream (text.txt) is encrypted")))
    // with the published password the attachment's member extracts
    val out = Extractor.extract(
      DocRow("m.eml", Seq(Span("bytes", Corpus.b64(b), null, 0))),
      Extractor.DefaultConfig.copy(password = Some("test")))
    assert(out.status == Status.ParseSuccess, out.status)
    val text = out.spans.filter(_.kind == Span.KindText).map(_.text).mkString
    assert(text.contains("TEST DATA FOR TIKA."))
    assert(text.contains("This is the Plain Text part"))
  }

  test("zip64 EOCD indirection still reaches the crypto walk (review fix)") {
    // rewrite enc_stored.zip's EOCD into the zip64 shape: real offsets
    // move into a zip64 EOCD record, the classic EOCD masks cdOff with
    // 0xFFFFFFFF — encrypted members must still decrypt / report
    val plain = res("enc_stored.zip")
    def le32(b: Array[Byte], o: Int): Long = {
      var v = 0L; var i = 0
      while (i < 4) { v |= (b(o + i) & 0xffL) << (8 * i); i += 1 }
      v
    }
    var eocd = plain.length - 22
    while (!(plain(eocd) == 'P' && plain(eocd + 1) == 'K' &&
      plain(eocd + 2) == 5 && plain(eocd + 3) == 6)) eocd -= 1
    val cdOff = le32(plain, eocd + 16)
    val cdSize = le32(plain, eocd + 12)
    val total = (plain(eocd + 10) & 0xff) | ((plain(eocd + 11) & 0xff) << 8)
    val out = new java.io.ByteArrayOutputStream()
    out.write(plain, 0, eocd)
    val z64 = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    z64.putInt(0x06064b50).putLong(44).putShort(45).putShort(45)
      .putInt(0).putInt(0).putLong(total).putLong(total)
      .putLong(cdSize).putLong(cdOff)
    out.write(z64.array())
    val loc = java.nio.ByteBuffer.allocate(20)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    loc.putInt(0x07064b50).putInt(0).putLong(eocd.toLong).putInt(1)
    out.write(loc.array())
    val e2 = java.util.Arrays.copyOfRange(plain, eocd, plain.length)
    // mask cdOff in the classic EOCD
    e2(16) = -1; e2(17) = -1; e2(18) = -1; e2(19) = -1
    out.write(e2)
    val z64zip = out.toByteArray
    val withPw = ZipUtil.walk(z64zip, Some("tika-zc"))
    assert(withPw.entries.map(_.name) == Vector("member2.txt"), withPw)
    assert(withPw.entries.head.data.toSeq == res("member2.txt").toSeq)
    val noPw = ZipUtil.walk(z64zip, None)
    assert(noPw.encrypted == Vector("member2.txt"), noPw)
  }

  test("corrupt deflate in a plain member still records a zip exception (review fix)") {
    // testZipEncrypted.zip routes through the CEN walk (it has an
    // encrypted member); corrupting the UNencrypted member's deflate
    // stream must surface as a recorded exception, never a silent drop
    val b = refFixture("testZipEncrypted.zip").clone()
    val lh = {
      var i = 0
      while (!(b(i) == 'P' && b(i + 1) == 'K' && b(i + 2) == 3 &&
        b(i + 3) == 4 && new String(b, i + 30, 15,
          java.nio.charset.StandardCharsets.US_ASCII) == "unencrypted.txt")) i += 1
      i
    }
    val dataOff = lh + 30 + 15
    b(dataOff + 5) = (b(dataOff + 5) ^ 0x7f).toByte
    val out = Extractor.extract(
      DocRow("z.zip", Seq(Span("bytes", Corpus.b64(b), null, 0))),
      Extractor.DefaultConfig)
    assert(out.status == Status.ParseException ||
      out.status == Status.ParseSuccessWithException, out.status)
    assert(out.meta.getOrElse("parse:exception", Seq.empty).nonEmpty, out.meta)
  }

  test("hostile: truncated AES payload and corrupt ciphertext fail cleanly") {
    val good = res("ae_mixed.zip")
    // truncations across the archive
    for (cut <- Seq(20, good.length / 3, good.length / 2, good.length - 9)) {
      val t = java.util.Arrays.copyOfRange(good, 0, cut)
      val out = Extractor.extract(
        DocRow("t.zip", Seq(Span("bytes", Corpus.b64(t), null, 0))),
        Extractor.DefaultConfig.copy(password = Some("tika-ae")))
      assert(out.status != null)
    }
    // flip one ciphertext byte -> HMAC authentication must reject
    val bad = good.clone()
    bad(90) = (bad(90) ^ 0x55).toByte
    val w = ZipUtil.walk(bad, Some("tika-ae"))
    assert(w.entries.size < 3)
  }
}
