package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.pkgx.{TarUtil, Xz}

/** From-scratch XZ/LZMA2 codec: spec compliance against a
  * CPython-liblzma-produced fixture (real range-coded LZMA2 with
  * matches/reps, CRC64 check), round-trips of the uncompressed-chunk
  * writer, hostile inputs, and .tar.xz recursion through the engine.
  */
class XzSpec extends AnyFunSuite {

  /** `lzma.compress(plain)` output from CPython's bundled liblzma. */
  private val referenceBlob =
    "/Td6WFoAAATm1rRGAgAhARYAAAB0L+Wj4BKNAHVdACkZSMZt8zCe3U4JbZR2YhQ2D++/BETAVphq4Bri0tff/k9SaYA6GRmcBnpW+ZFX4H19/fCefM7S5B9BWoBtSjwr/Gd7aT4Ixs1Ie4L+kiYTFIOePJ8BAALIk818MCxPcIlXHu+SxY5Y3iBY/vGYWDXQ+MPuAAAAAACybVfn/0TC2gABkQGOJQAAiH0PG7HEZ/sCAAAAAARZWg=="
  private val referencePlain =
    (("Reference xz fixture: the graft engine must decode real liblzma " +
      "streams with matches and reps.\n") * 50).getBytes(UTF_8)

  test("decodes a liblzma-produced stream byte-for-byte (CRC64 verified)") {
    val dec = Xz.decompress(Base64.getDecoder.decode(referenceBlob))
    assert(dec.toSeq == referencePlain.toSeq)
  }

  test("writer round-trips: empty, short, binary, multi-chunk") {
    val rnd = new scala.util.Random(13)
    val samples = Seq[Array[Byte]](
      Array.emptyByteArray,
      "x".getBytes(UTF_8),
      Array.fill[Byte](4000)(rnd.nextInt(256).toByte),
      ("alpha beta gamma " * 9000).getBytes(UTF_8)) // > one 64K chunk
    samples.zipWithIndex.foreach { case (s, i) =>
      val enc = Xz.compress(s)
      assert(Xz.isXz(enc), s"sample $i header")
      assert(Xz.decompress(enc).toSeq == s.toSeq, s"sample $i round-trip")
    }
  }

  test("hostile input: bad magic, corrupt check, truncation throw") {
    intercept[Xz.XzMalformed] { Xz.decompress("NOTXZ.....".getBytes(UTF_8)) }
    val enc = Xz.compress("corrupt me please thanks a lot".getBytes(UTF_8))
    val bad = enc.clone()
    bad(20) = (bad(20) ^ 0x55).toByte
    intercept[RuntimeException] { Xz.decompress(bad) }
    intercept[Xz.XzMalformed] {
      Xz.decompress(java.util.Arrays.copyOfRange(
        Base64.getDecoder.decode(referenceBlob), 0, 40))
    }
  }

  test("a stream cut inside its block check throws XzMalformed") {
    val plain = "check me".getBytes(UTF_8)
    val enc = Xz.compress(plain)
    // stream header 12 + block header 12 + one chunk (3 + payload) +
    // end marker 1, padded to 4; the CRC32 check follows
    val checkAt = 12 + 12 + ((3 + plain.length + 1 + 3) & ~3)
    assert(java.util.Arrays.equals(Xz.decompress(enc), plain))
    for (cut <- checkAt until checkAt + 4) {
      val e = intercept[Xz.XzMalformed] {
        Xz.decompress(java.util.Arrays.copyOfRange(enc, 0, cut))
      }
      assert(e.getMessage == "truncated block check", s"cut at $cut")
    }
  }

  test("tar.xz recurses through the engine like tar.gz/tar.bz2") {
    val tar = TarUtil.write(Seq(
      "doc.txt" -> "xz member text content".getBytes(UTF_8),
      "page.html" -> "<html><body><p>xz html member</p></body></html>"
        .getBytes(UTF_8)))
    val out = Extractor.extract(DocRow("xz1",
      Seq(Span("bytes", Corpus.b64(Xz.compress(tar)), null, 0))))
    assert(out.mime == "application/x-xz")
    assert(out.status == Status.ParseSuccess)
    assert(out.meta("embedded:/1") == Seq("application/x-tar"))
    val text = out.spans.filter(_.kind == "text").map(_.text).mkString("\n")
    assert(text.contains("xz member text content"))
    assert(text.contains("xz html member"))
  }

  test("bare .xz of a liblzma-compressed text payload extracts") {
    val out = Extractor.extract(DocRow("xz2",
      Seq(Span("bytes", Corpus.b64(Base64.getDecoder.decode(referenceBlob)),
        null, 0))))
    assert(out.status == Status.ParseSuccess)
    assert(out.spans.filter(_.kind == "text").map(_.text).mkString
      .contains("decode real liblzma streams"))
  }
}
