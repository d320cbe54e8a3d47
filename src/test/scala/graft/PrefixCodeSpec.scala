package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pkgx.PrefixCode

/** The canonical prefix code Brotli, RAR, LZX and bzip2 decode with,
  * checked against RFC 1951 §3.2.2 and a bit-by-bit model of the rule.
  */
class PrefixCodeSpec extends AnyFunSuite {

  private final class Bad extends Exception
  private def code(lens: Array[Int], maxLen: Int) = new PrefixCode(lens, maxLen, () => new Bad)
  private def entry(len: Int, sym: Int) = (len << 16) | sym

  /** The rule read bit by bit: the first length whose prefix falls inside
    * that length's codes. */
  private def model(lens: Array[Int], maxLen: Int, bits: Int): Int = {
    var first = 0L
    var len = 1
    while (len <= maxLen) {
      val syms = lens.indices.filter(lens(_) == len)
      val i = (bits >>> (maxLen - len)) - first
      if (i >= 0 && i < syms.length) return entry(len, syms(i.toInt))
      first = (first + syms.length) << 1
      len += 1
    }
    -1
  }

  test("RFC 1951 3.2.2: lengths (3,3,3,3,3,2,4,4) give its codes for A-H") {
    val lens = Array(3, 3, 3, 3, 3, 2, 4, 4)
    val c = code(lens, 15)
    val expect = Seq("010", "011", "100", "101", "110", "00", "1110", "1111")
    lens.indices.foreach { s =>
      assert(c.code(s) == Integer.parseInt(expect(s), 2), s"symbol ${('A' + s).toChar}")
      assert(c.decode(c.code(s) << (15 - lens(s))) == entry(lens(s), s))
    }
    assert(c.single == -1 && !c.isEmpty)
  }

  test("every code decodes, short and long, at max lengths 15, 16 and 20") {
    val rnd = new scala.util.Random(3)
    for (maxLen <- Seq(15, 16, 20)) {
      // one code of every length 1..maxLen (Kraft sum 1), symbols shuffled
      val chain = rnd.shuffle((1 to maxLen).toList :+ maxLen).toArray
      val huff = TestCodes.huffmanLengths(Array.fill(300)(1L + rnd.nextInt(1 << rnd.nextInt(20))), maxLen)
      for (lens <- Seq(chain, huff)) {
        val c = code(lens, maxLen)
        val enc = new TestCodes.HuffEnc(lens)
        lens.indices.filter(lens(_) > 0).foreach { s =>
          val l = lens(s)
          assert(c.code(s) == enc.code(s))
          val pad = maxLen - l
          Seq(0, (1 << pad) - 1, rnd.nextInt(1 << pad)).foreach { low =>
            assert(c.decode((c.code(s) << pad) | low) == entry(l, s), s"len $l sym $s")
          }
        }
      }
      assert(chain.max > PrefixCode.TableBits)
    }
  }

  test("an incomplete set answers no symbol for the patterns no code owns") {
    // the RAR fixtures' pre-code: five symbols of length 3, codes 000-100
    val lens = new Array[Int](20)
    Seq(0, 5, 6, 9, 10).foreach(lens(_) = 3)
    val c = code(lens, 15)
    (0 until (1 << 15)).foreach { bits =>
      val top = bits >>> 12
      val want = if (top < 5) entry(3, Seq(0, 5, 6, 9, 10)(top)) else -1
      assert(c.decode(bits) == want, s"pattern $bits")
    }
  }

  test("incomplete and over-subscribed sets decode as the bit-by-bit rule") {
    val rnd = new scala.util.Random(5)
    var cases = 0
    for (_ <- 0 until 300) {
      val maxLen = Seq(7, 15, 16, 20)(rnd.nextInt(4))
      val lens = Array.fill(2 + rnd.nextInt(40))(
        if (rnd.nextInt(4) == 0) 0 else 1 + rnd.nextInt(maxLen))
      val c = code(lens, maxLen)
      for (_ <- 0 until 200) {
        val bits = rnd.nextInt(1 << maxLen)
        assert(c.decode(bits) == model(lens, maxLen, bits), s"${lens.mkString(",")} $bits")
        cases += 1
      }
    }
    assert(cases == 60000)
  }

  test("the empty set, one symbol, and lengths outside 0..maxLen") {
    val empty = code(new Array[Int](10), 15)
    assert(empty.isEmpty && empty.single == -1)
    Seq(0, 1, 12345, (1 << 15) - 1).foreach(b => assert(empty.decode(b) == -1))
    assert(code(Array.emptyIntArray, 16).isEmpty)
    val one = code(Array(0, 0, 4, 0), 15)
    assert(one.single == 2)
    assert(one.decode(0) == entry(4, 2) && one.decode(1 << 11) == -1)
    intercept[Bad](code(Array(1, -1), 15))
    intercept[Bad](code(Array(1, 16), 15))
    intercept[Bad](code(Array(1, 1), 0))
  }
}
