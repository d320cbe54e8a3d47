package graft.pkgx

import graft.core.Endian.{le32, putLe32}

/** Branch-conversion (BCJ) and delta filter decoders shared by the XZ and
  * 7z containers — public algorithms (the x86 call/jump absolute→relative
  * converter and byte-delta filter defined by the xz file format and
  * 7-Zip's methods; the x86 state machine follows the public-domain
  * xz-embedded reference behavior).
  *
  * Only the DEcode direction is implemented: encoded archives come from
  * real external tools; interop is asserted by round-tripping
  * `xz --x86` / `xz --delta` CLI output in the spec.
  */
object BcjFilters {

  private val MaskToAllowed = Array(true, true, true, false, true, false, false, false)
  private val MaskToBitNum = Array(0, 1, 2, 2, 3, 3, 3, 3)

  private def testMsByte(b: Int): Boolean = b == 0x00 || b == 0xff

  /** In-place x86 BCJ decode of buf[from, from+len); `startIp` is the
    * virtual address of the first byte (0 unless filter props say else).
    */
  def x86Decode(buf: Array[Byte], from: Int, len: Int, startIp: Long = 0L): Unit = {
    if (len <= 4) return
    val limit = len - 4
    var prevMask = 0
    var lastPos = -2L - 3L // "far away": first candidate resets the mask
    var i = 0
    while (i < limit) {
      if ((buf(from + i) & 0xfe) != 0xe8) i += 1
      else {
        var skip = false
        val d = i - lastPos
        if (d > 3) prevMask = 0
        else {
          prevMask = (prevMask << (d - 1).toInt) & 7
          if (prevMask != 0) {
            val b = buf(from + i + 4 - MaskToBitNum(prevMask)) & 0xff
            if (!MaskToAllowed(prevMask) || testMsByte(b)) {
              lastPos = i
              prevMask = (prevMask << 1) | 1
              skip = true
            }
          }
        }
        if (!skip) {
          lastPos = i
          if (testMsByte(buf(from + i + 4) & 0xff)) {
            var src = le32(buf, from + i + 1)
            var dest = 0L
            var broke = false
            while (!broke) {
              dest = (src - (startIp + i + 5)) & 0xffffffffL
              if (prevMask == 0) broke = true
              else {
                val j = MaskToBitNum(prevMask) * 8
                val b = ((dest >> (24 - j)) & 0xff).toInt
                if (!testMsByte(b)) broke = true
                else src = dest ^ ((1L << (32 - j)) - 1)
              }
            }
            var v = dest & 0x01ffffffL
            if ((v & 0x01000000L) != 0) v |= 0xfe000000L
            putLe32(buf, from + i + 1, v)
            i += 5
          } else {
            prevMask = (prevMask << 1) | 1
            i += 1
          }
        } else i += 1
      }
    }
  }

  /** In-place delta decode (cumulative sum at `dist`). */
  def deltaDecode(buf: Array[Byte], from: Int, len: Int, dist: Int): Unit = {
    var i = dist
    while (i < len) {
      buf(from + i) = (buf(from + i) + buf(from + i - dist)).toByte
      i += 1
    }
  }
}
