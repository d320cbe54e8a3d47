package graft.pkgx

/** A canonical prefix code, the one rule Brotli, RAR v2.9/v5, LZX and
  * bzip2 share (RFC 1951 §3.2.2): codes are assigned by increasing
  * length, then by symbol order, each length starting at
  * `(first(len - 1) + count(len - 1)) << 1`.
  *
  * `lengths(sym)` is the code length of `sym`, 0 for no code; a length
  * outside `0..maxLen` throws `bad()`, so each format keeps its own error.
  * The set may be incomplete or over-subscribed. A pattern decodes to the
  * code of the shortest length `len` whose `len`-bit prefix is below
  * `first(len) + count(len)`; a pattern with no such length has no symbol.
  *
  * Each codec keeps its bit reader: it peeks the next `maxLen` bits,
  * MSB-first and zero-filled past its input, and consumes only the
  * length `decode` returns. Codes of up to [[PrefixCode.TableBits]] bits
  * take one table lookup; longer ones scan the lengths above it.
  */
final class PrefixCode(lengths: Array[Int], val maxLen: Int, bad: () => Exception) {
  import PrefixCode._

  if (maxLen < 1 || maxLen > MaxLen || lengths.length > (1 << 16)) throw bad()
  private[this] val count = new Array[Int](maxLen + 1)
  lengths.foreach { l => if (l < 0 || l > maxLen) throw bad(); if (l > 0) count(l) += 1 }

  /** first code and first index into `sorted` of each length */
  private[this] val first = new Array[Long](maxLen + 1)
  private[this] val firstIdx = new Array[Int](maxLen + 1)
  locally {
    var code = 0L
    var idx = 0
    var len = 1
    while (len <= maxLen) {
      first(len) = code; firstIdx(len) = idx
      code = (code + count(len)) << 1
      idx += count(len)
      len += 1
    }
  }

  /** symbols ordered by (length, symbol), and each symbol's code */
  private[this] val sorted = new Array[Int](firstIdx(maxLen) + count(maxLen))
  private[this] val codes = new Array[Int](lengths.length)
  locally {
    val next = firstIdx.clone()
    var sym = 0
    while (sym < lengths.length) {
      val l = lengths(sym)
      if (l > 0) {
        codes(sym) = (first(l) + next(l) - firstIdx(l)).toInt
        sorted(next(l)) = sym
        next(l) += 1
      }
      sym += 1
    }
  }

  private[this] val tableBits = math.min(maxLen, TableBits)

  /** (len << 16) | sym for each `tableBits`-bit prefix that a code of at
    * most `tableBits` bits owns; 0 sends `decode` to the longer lengths.
    * Lengths take ascending code ranges, so the first fill is the match. */
  private[this] val table = {
    val t = new Array[Int](1 << tableBits)
    var len = 1
    while (len <= tableBits) {
      val span = 1 << (tableBits - len)
      var i = 0
      while (i < count(len) && first(len) + i < (1L << len)) {
        val from = (first(len) + i).toInt * span
        java.util.Arrays.fill(t, from, from + span, (len << 16) | sorted(firstIdx(len) + i))
        i += 1
      }
      len += 1
    }
    t
  }

  /** The symbol when exactly one has a code, else -1. */
  val single: Int = if (sorted.length == 1) sorted(0) else -1

  def isEmpty: Boolean = sorted.isEmpty

  /** The canonical code of `sym`, `lengths(sym)` bits wide. */
  def code(sym: Int): Int = codes(sym)

  /** Decode the next `maxLen` stream bits, MSB-first in `bits`: returns
    * `(len << 16) | sym` (see [[PrefixCode.len]], [[PrefixCode.sym]]), or
    * -1 when no code owns the pattern.
    */
  def decode(bits: Int): Int = {
    val e = table(bits >>> (maxLen - tableBits))
    if (e != 0) e else decodeLong(bits)
  }

  private def decodeLong(bits: Int): Int = {
    var len = tableBits + 1
    while (len <= maxLen) {
      val i = (bits >>> (maxLen - len)) - first(len)
      if (i < count(len)) return (len << 16) | sorted(firstIdx(len) + i.toInt)
      len += 1
    }
    -1
  }
}

object PrefixCode {
  /** prefix bits resolved by one table lookup */
  val TableBits = 10
  /** widest code a 32-bit peek can hold with room to spare */
  val MaxLen = 24

  def len(e: Int): Int = e >>> 16
  def sym(e: Int): Int = e & 0xffff
}
