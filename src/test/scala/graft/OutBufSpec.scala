package graft

import java.util.zip.{DataFormatException, Deflater}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.OutBuf
import graft.engine.ZipBombDetected

/** `OutBuf` against its cap and against `java.util.zip.Deflater` output:
  * writes that land exactly on the cap pass and one byte more is a bomb,
  * the array never grows past a cap that is not a power of two, a small
  * hint gives a small first array, back-references out of range throw
  * the caller's error, and `inflate` reports each way a zlib or raw
  * stream can end.
  */
class OutBufSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(20261020L)
  private val text = Array.fill(5000)("abcdefgh".charAt(rnd.nextInt(8)).toByte)

  private def deflate(data: Array[Byte], raw: Boolean, dict: Array[Byte] = null): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, raw)
    try {
      if (dict != null) d.setDictionary(dict)
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  private def bytes(o: OutBuf): Seq[Byte] = o.buf.take(o.len).toSeq

  test("a write that lands exactly on the cap passes; one byte more is a bomb") {
    val writes: Seq[(String, OutBuf => Unit)] = Seq(
      ("put", _.put(7)),
      ("write", o => o.write(Array[Byte](1, 2), 1, 1)),
      ("copyBack", _.copyBack(0, 1)),
      ("ensure", _.ensure(1)))
    for ((name, one) <- writes) {
      val o = new OutBuf(10, 4)
      o.write(text, 0, 6); o.copyBack(2, 3); o.put(1)
      assert(o.len == 10 && o.buf.length == 10, name)
      intercept[ZipBombDetected](one(o))
      assert(o.len == 10, s"$name wrote past the cap")
    }
    intercept[ZipBombDetected](new OutBuf(10, 4).write(text, 0, 11))
  }

  test("capacity never exceeds a cap that is not a power of two") {
    val o = new OutBuf(130000, 1 << 16)
    var i = 0
    while (i < 130000) {
      o.put(i)
      assert(o.buf.length <= 130000)
      i += 1
    }
    assert(o.buf.length == 130000)
    assert(o.result eq o.buf, "a full buffer is returned without a copy")
    val big = new OutBuf(100000, 16)
    big.ensure(70000)
    assert(big.buf.length == 70000)
    big.ensure(70000 - big.len + 1)
    assert(big.buf.length == 100000)
  }

  test("a small hint gives a small first array; the hint never exceeds the cap") {
    assert(new OutBuf(OutBuf.MaxBytes, 16).buf.length == 16)
    assert(new OutBuf(8, 1 << 16).buf.length == 8)
    assert(new OutBuf(OutBuf.MaxBytes, 0).buf.length == 0)
    val o = new OutBuf(OutBuf.MaxBytes, 3)
    o.write(text, 0, 5)
    assert(bytes(o) == text.take(5).toSeq)
    assert(o.result.length == 5)
  }

  test("back-references copy overlapping runs and throw the caller's error out of range") {
    final class Mine extends RuntimeException("mine")
    val o = new OutBuf(100, 4, () => new Mine)
    "abc".foreach(c => o.put(c))
    assert(o.at(0) == 'c' && o.at(2) == 'a')
    o.copyBack(2, 5) // starts at 'a', overlaps what it writes
    assert(new String(o.result, "US-ASCII") == "abcabcab")
    o.copyBack(7, 3) // far enough back to copy without overlap
    assert(new String(o.result, "US-ASCII") == "abcabcababc")
    intercept[Mine](o.at(11))
    intercept[Mine](o.at(-1))
    intercept[Mine](o.copyBack(11, 1))
    intercept[Mine](o.copyBack(-1, 1))
    intercept[Mine](new OutBuf(100, 4, () => new Mine).at(0))
    intercept[IndexOutOfBoundsException](new OutBuf(100).copyBack(0, 1))
  }

  test("inflate reports complete, truncated, preset-dictionary and capped streams") {
    val dict = "abcdefgh".getBytes("US-ASCII")
    for (raw <- Seq(false, true)) {
      val z = deflate(text, raw)
      val all = new OutBuf(OutBuf.MaxBytes, 64)
      assert(all.inflate(z, 0, z.length, raw) == OutBuf.Finished, s"raw=$raw")
      assert(all.result.toSeq == text.toSeq)

      val cut = new OutBuf(OutBuf.MaxBytes, 64)
      assert(cut.inflate(z, 0, z.length / 2, raw) == OutBuf.NeedsInput)
      assert(cut.len < text.length && bytes(cut) == text.take(cut.len).toSeq)

      val capped = new OutBuf(1000, 64)
      assert(capped.inflate(z, 0, z.length, raw) == OutBuf.Capped)
      assert(capped.result.toSeq == text.take(1000).toSeq)

      val exact = new OutBuf(text.length, text.length)
      assert(exact.inflate(z, 0, z.length, raw) == OutBuf.Finished)
      assert(exact.result eq exact.buf)

      val zd = deflate(text, raw, dict)
      val withDict = new OutBuf(OutBuf.MaxBytes, 64)
      assert(withDict.inflate(zd, 0, zd.length, raw, dict) == OutBuf.Finished)
      assert(withDict.result.toSeq == text.toSeq)
    }
    val zd = deflate(text, raw = false, dict)
    val noDict = new OutBuf(OutBuf.MaxBytes, 64)
    assert(noDict.inflate(zd, 0, zd.length, raw = false) == OutBuf.NeedsDict)
    assert(noDict.len == 0)
  }

  test("a corrupt stream throws with len at the last whole step, whatever the buffer's size") {
    // 20,000 good bytes, sync-flushed to a block boundary, then a block
    // of the reserved type 3
    val data = Array.fill(20000)("abcdefgh".charAt(rnd.nextInt(8)).toByte)
    val d = new Deflater()
    val z = new Array[Byte](30000)
    val zn = try { d.setInput(data); d.deflate(z, 0, z.length, Deflater.SYNC_FLUSH) } finally d.end()
    val bad = z.take(zn) :+ 0x07.toByte
    for (hint <- Seq(64, 10000, 1 << 20)) {
      val o = new OutBuf(OutBuf.MaxBytes, hint)
      intercept[DataFormatException](o.inflate(bad, 0, bad.length, raw = false))
      assert(o.len == 2 * OutBuf.Step, s"hint $hint")
      assert(bytes(o) == data.take(o.len).toSeq)
    }
  }
}
