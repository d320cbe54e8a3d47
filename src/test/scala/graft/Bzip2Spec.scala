package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.pkgx.{Bzip2, TarUtil}

/** From-scratch bzip2 codec (round-3 verdict item #6): round-trips,
  * spec compliance against a CPython-libbz2-produced fixture, hostile
  * inputs, and .tar.bz2 recursion through the engine.
  */
class Bzip2Spec extends AnyFunSuite {

  /** `bz2.compress(plain, 1)` output from CPython's bundled libbz2 —
    * decoding it pins our reader to the real-world format, not merely to
    * our own writer.
    */
  private val referenceBlob =
    "QlpoMTFBWSZTWTTRP34AASvbgAAQQAMQEBAAP+fe0DABOACjQ0AAABRoaAAAAKVU9SbE" +
    "nohoZqPRxE1E2CZCYFXQTQTsJsJ4E5CcxNhMBNRPAmBMxNhPYT7E7iZCdBNBVwE7CYEy" +
    "E/RPcTAn4JmJgTsJ3E8iZiZCaCcBMhNBNhOAnUTcTiJzE3EyE1EzE+hNxOQnITuJ1Ew" +
    "JgTyJoJkJuJqJ5E9C7kinChIGmifvwA=="
  private val referencePlain =
    ("Reference bzip2 fixture: the graft engine must decode real-world streams.\n" * 40)
      .getBytes(UTF_8)

  test("decodes a libbz2-produced stream byte-for-byte") {
    val dec = Bzip2.decompress(Base64.getDecoder.decode(referenceBlob))
    assert(dec.toSeq == referencePlain.toSeq)
  }

  test("round-trips: empty, runs, binary, text, multi-block") {
    val rnd = new scala.util.Random(11)
    val samples = Seq[Array[Byte]](
      Array.emptyByteArray,
      "a".getBytes(UTF_8),
      "hello bzip2 world".getBytes(UTF_8),
      Array.fill[Byte](3000)('x'),
      Array.fill[Byte](5000)(rnd.nextInt(256).toByte),
      ("lorem ipsum dolor sit amet " * 8000).getBytes(UTF_8)) // > 1 block
    samples.zipWithIndex.foreach { case (s, i) =>
      val enc = Bzip2.compress(s)
      assert(Bzip2.isBzip2(enc) || s.isEmpty, s"sample $i header")
      assert(Bzip2.decompress(enc).toSeq == s.toSeq, s"sample $i round-trip")
    }
    // multi-block sample really used >1 block (79000 plain bytes/block)
    assert(samples.last.length > 79000)
  }

  private def res(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/bzip2/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  test("decodes bzip2 CLI (libbz2) fixtures: -1 and -9, empty, two streams") {
    // text-1 holds two 100k blocks, text-9 one; every block has six code groups
    val expect = Seq(
      "random-1" -> res("random.raw"), "random-9" -> res("random.raw"),
      "text-1" -> res("text.raw"), "text-9" -> res("text.raw"),
      "empty" -> Array.emptyByteArray,
      "two-streams" -> (res("text.raw") ++ res("random.raw")))
    expect.foreach { case (name, plain) =>
      assert(java.util.Arrays.equals(Bzip2.decompress(res(s"$name.bz2")), plain), name)
    }
  }

  test("decodes the reference's real-world bz2 fixtures (incl. lbzip2)") {
    val dir = java.nio.file.Path.of("/root/reference/tika-core/src/test/" +
      "resources/test-documents/bz2")
    org.scalatest.Assertions.assume(java.nio.file.Files.isDirectory(dir),
      "reference fixtures not present")
    val expect = Map(
      "bzip2-8-file.txt.bz2" -> 4, "lbzip2-8-file.txt.bz2" -> 5,
      "test-file-1.csv.bz2" -> 445, "empty-file.txt.bz2" -> 0,
      "small-file.txt.bz2" -> 6)
    expect.foreach { case (name, plainLen) =>
      val bytes = java.nio.file.Files.readAllBytes(dir.resolve(name))
      assert(Bzip2.decompress(bytes).length == plainLen, name)
    }
  }

  test("multi-stream (pbzip2/lbzip2-style) concatenation decodes fully") {
    val a = "first stream content here".getBytes(UTF_8)
    val b = "and a second independent stream".getBytes(UTF_8)
    val cat = Bzip2.compress(a) ++ Bzip2.compress(b)
    assert(Bzip2.decompress(cat).toSeq == (a ++ b).toSeq)
  }

  test("hostile input: bad header, corrupt CRC, truncation all throw") {
    intercept[Bzip2.Bzip2Malformed] {
      Bzip2.decompress("NOTBZ".getBytes(UTF_8))
    }
    val enc = Bzip2.compress("corrupt me please, thanks".getBytes(UTF_8))
    val bad = enc.clone()
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x40).toByte
    intercept[RuntimeException] { Bzip2.decompress(bad) } // CRC or structure
    intercept[Bzip2.Bzip2Malformed] {
      Bzip2.decompress(java.util.Arrays.copyOfRange(enc, 0, enc.length - 6))
    }
  }

  test("tar.bz2 recurses through the engine like tar.gz") {
    val tar = TarUtil.write(Seq(
      "doc.txt" -> "bzipped member text content".getBytes(UTF_8),
      "page.html" -> "<html><body><p>bzipped html member</p></body></html>"
        .getBytes(UTF_8)))
    val out = Extractor.extract(DocRow("bz1",
      Seq(Span("bytes", Corpus.b64(Bzip2.compress(tar)), null, 0))))
    assert(out.mime == "application/x-bzip2")
    assert(out.status == Status.ParseSuccess)
    assert(out.meta("embedded:/1") == Seq("application/x-tar"))
    val text = out.spans.filter(_.kind == "text").map(_.text).mkString("\n")
    assert(text.contains("bzipped member text content"))
    assert(text.contains("bzipped html member"))
    assert(out.meta("embedded:path").exists(_.endsWith(":doc.txt")))
  }

  test("bare .bz2 of a text payload extracts the inner document") {
    val plain = "plain text inside a bz2 wrapper".getBytes(UTF_8)
    val out = Extractor.extract(DocRow("bz2",
      Seq(Span("bytes", Corpus.b64(Bzip2.compress(plain)), null, 0))))
    assert(out.status == Status.ParseSuccess)
    assert(out.spans.filter(_.kind == "text").map(_.text).mkString
      .contains("plain text inside a bz2 wrapper"))
  }
}
