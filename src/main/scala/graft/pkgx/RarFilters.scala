package graft.pkgx

import graft.core.Endian

/** Shared RAR filter transforms (decode side), applied to written
  * output ranges after the LZ pass. RAR3's VM standard filters and
  * RAR5's declarative filters share the E8/E8E9 call-target and
  * per-channel delta semantics; they differ only in whether the E8
  * position term wraps modulo the 16 MB virtual file size (v5.0 does,
  * the v29 standard filter does not).
  */
private[pkgx] object RarFilters {

  /** x86 E8 (and optionally E9) call-target transform over
    * out[start, start+len). `modOffset` selects the v5 position
    * wrap. */
  def e8(out: Array[Byte], start: Int, len: Int, e8e9: Boolean,
      modOffset: Boolean): Unit = {
    val fileSize = 0x1000000
    var cur = 0
    while (cur < len - 4) {
      val b = out(start + cur) & 0xff
      cur += 1
      if (b == 0xe8 || (e8e9 && b == 0xe9)) {
        val o = start + cur
        val addr = Endian.leInt(out, o)
        val raw = cur + start // block offset within the file
        val offset = if (modOffset) (raw.toLong % fileSize).toInt else raw
        def set(v: Int): Unit = Endian.putLe32(out, o, v)
        if (addr < 0) { if (addr + offset >= 0) set(addr + fileSize) }
        else if (addr < fileSize) set(addr - offset)
        cur += 4
      }
    }
  }

  /** per-channel byte-delta decode, de-interleaved */
  def delta(out: Array[Byte], start: Int, len: Int, channels: Int): Unit = {
    val ch = math.max(1, math.min(channels, len))
    val src = java.util.Arrays.copyOfRange(out, start, start + len)
    var sp = 0
    var c = 0
    while (c < ch) {
      var prev = 0
      var dp = c
      while (dp < len && sp < len) {
        prev = (prev - src(sp)) & 0xff
        out(start + dp) = prev.toByte
        sp += 1
        dp += ch
      }
      c += 1
    }
  }
}
