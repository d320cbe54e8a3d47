package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** zlib / snappy-framed / raw-LZMA compressor routes — expectations
  * mirror pkg-module ZlibParserTest (one embedded text doc) and
  * CompressorParserTest (snappy-framed recursion); the crafted
  * testLZMA_oom header must fail the document, not allocate.
  */
class CompressorExtraSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pkg-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString

  test("testTXT.zlib variants: inner text doc extracts") {
    for (n <- Seq("testTXT.zlib", "testTXT.zlib0", "testTXT.zlib5",
        "testTXT.zlib9")) {
      val d = extract(n)
      assert(d.mime == "application/zlib", s"$n: ${d.mime}")
      assert(d.status == Status.ParseSuccess, s"$n: ${d.status}")
      assert(text(d).contains("Test d'indexation de Txt"), s"$n: ${text(d).take(120)}")
    }
  }

  test("testSnappy-framed.sz: framed chunks decode and recurse") {
    val d = extract("testSnappy-framed.sz")
    assert(d.mime == "application/x-snappy-framed", d.mime)
    // the inner document exceeds the default per-doc write limit — the
    // correct engine status for an oversized payload
    assert(d.status == Status.ParseSuccess ||
      d.status == Status.WriteLimitReached, d.status)
    assert(text(d).trim.nonEmpty, d.meta.keys)
  }

  test("snappy round-trip: framed compressor output decodes") {
    val payload = ("snappy framed round trip " * 50).getBytes("UTF-8")
    val framed = graft.pkgx.Snappy.compressFramed(payload)
    val back = graft.pkgx.Snappy.decompressFramed(framed)
    assert(java.util.Arrays.equals(back, payload))
  }

  test("snappy: a compressed chunk declaring over 65,536 bytes fails before allocating") {
    // stream identifier, then a compressed chunk: masked CRC (unchecked)
    // and a block whose uvarint length declares 256 MiB
    val framed = Array[Byte](0xff.toByte, 6, 0, 0, 's', 'N', 'a', 'P', 'p', 'Y',
      0, 9, 0, 0, 0, 0, 0, 0, 0x80.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte, 1)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    val before = mx.getThreadAllocatedBytes(tid)
    val e = intercept[graft.pkgx.Snappy.SnappyMalformed](
      graft.pkgx.Snappy.decompressFramed(framed))
    assert(e.getMessage.contains("chunk limit"), e.getMessage)
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(allocated < (4L << 20), s"allocated $allocated bytes")
    // the limit itself still decodes: one literal, then copies of it
    val ok = snappyChunk(65536)
    assert(graft.pkgx.Snappy.decompressFramed(ok).toSeq == Seq.fill(65536)('z'.toByte))
    intercept[graft.pkgx.Snappy.SnappyMalformed](
      graft.pkgx.Snappy.decompressFramed(snappyChunk(65537)))
  }

  /** A framed stream of one compressed chunk whose block is `n` bytes of
    * 'z': a one-byte literal, then 2-byte-offset copies of 64 bytes and a
    * last shorter one; the block length is declared as `n`, so a caller
    * may declare more than the framing format allows.
    */
  private def snappyChunk(n: Int): Array[Byte] = {
    val blk = new java.io.ByteArrayOutputStream()
    var v = n
    while (v >= 0x80) { blk.write((v & 0x7f) | 0x80); v >>>= 7 }
    blk.write(v)
    blk.write(0); blk.write('z') // literal of length 1
    var left = n - 1
    while (left > 0) {
      val k = math.min(64, left)
      blk.write(((k - 1) << 2) | 2); blk.write(1); blk.write(0) // copy2, offset 1
      left -= k
    }
    val body = blk.toByteArray
    val len = body.length + 4
    Array[Byte](0xff.toByte, 6, 0, 0, 's', 'N', 'a', 'P', 'p', 'Y',
      0, len.toByte, (len >> 8).toByte, (len >> 16).toByte, 0, 0, 0, 0) ++ body
  }

  test("testLZMA_oom: crafted size header fails cleanly") {
    val d = extract("testLZMA_oom")
    assert(d.status == Status.ParseException ||
      d.status == Status.UnsupportedType ||
      d.status == Status.ZipBomb, d.status)
  }
}
