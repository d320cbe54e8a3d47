package graft.pkgx

import graft.core.OutBuf

/** compress(1) `.Z` decoder — pure JDK, from the public LZW/compress
  * format (magic 1f 9d, header bits = maxbits + block-mode flag,
  * variable-width codes 9..maxbits, CLEAR code 256 in block mode, and
  * compress's byte-group alignment: on every code-width change or clear
  * the bit cursor rounds up to the next n_bits-byte group boundary).
  *
  * The reference routes .Z through commons-compress'
  * ZCompressorInputStream (pkg/CompressorParser.java); this gives the
  * engine .Z / .tar.Z recursion without the codec dependency. Interop is
  * asserted against the reference's real compress(1)-produced
  * `test-documents.tar.Z` and the `testZ_oom.Z` bomb fixture.
  */
object Lzw {

  final class LzwMalformed(msg: String) extends RuntimeException(msg)

  def isZ(b: Array[Byte]): Boolean =
    b.length > 3 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x9d

  def decompress(bytes: Array[Byte]): Array[Byte] = {
    if (!isZ(bytes)) throw new LzwMalformed("bad .Z magic")
    val maxBits = bytes(2) & 0x1f
    val blockMode = (bytes(2) & 0x80) != 0
    if (maxBits < 9 || maxBits > 16)
      throw new LzwMalformed(s"unsupported maxbits $maxBits")
    val Clear = 256
    val maxMaxCode = 1 << maxBits

    val prefix = new Array[Int](maxMaxCode)
    val suffix = new Array[Byte](maxMaxCode)
    var i = 0
    while (i < 256) { suffix(i) = i.toByte; i += 1 }

    val out = new OutBuf(OutBuf.MaxBytes, bytes.length * 3)
    val stackBuf = new Array[Byte](maxMaxCode + 64)

    var nBits = 9
    var maxCode = (1 << nBits) - 1
    var freeEnt = if (blockMode) Clear + 1 else 256
    var oldCode = -1
    var finChar = 0

    val dataStart = 3
    var posBits = 0L // bit cursor within bytes[dataStart..)
    var phaseStart = 0L // bit position where the current code width began
    val totalBits = (bytes.length - dataStart).toLong * 8

    def roundUp(): Unit = {
      // compress writes codes in groups of nBits bytes; on a width change
      // or clear the encoder pads to the group boundary COUNTED FROM THE
      // START OF THE CURRENT WIDTH PHASE (verified byte-exact against the
      // real compress(1) fixture — absolute alignment diverges at the
      // second width change)
      val groupBits = nBits.toLong * 8
      val rel = posBits - phaseStart
      posBits = phaseStart + ((rel + groupBits - 1) / groupBits) * groupBits
      phaseStart = posBits
    }

    var done = false
    while (!done) {
      if (posBits + nBits > totalBits) done = true
      else {
        val byteOff = dataStart + (posBits >> 3).toInt
        var v = 0L
        var k = 0
        while (k < 3 && byteOff + k < bytes.length) {
          v |= (bytes(byteOff + k) & 0xffL) << (8 * k)
          k += 1
        }
        val code = ((v >> (posBits & 7)).toInt) & ((1 << nBits) - 1)
        posBits += nBits

        if (blockMode && code == Clear) {
          roundUp()
          nBits = 9
          maxCode = (1 << nBits) - 1
          // compress's decoder burns one slot on the first post-clear
          // code (entry 256 is written but unreferencable), so usable
          // entries restart at 257 — mirror that numbering
          freeEnt = Clear + 1
          oldCode = -1
        } else {
          if (code >= maxMaxCode) throw new LzwMalformed("code out of range")
          var inCode = code
          var sp = 0
          if (code >= freeEnt) {
            // KwKwK: only valid as oldCode + finChar
            if (code > freeEnt || oldCode < 0)
              throw new LzwMalformed("corrupt lzw stream")
            stackBuf(sp) = finChar.toByte; sp += 1
            inCode = oldCode
          }
          var cur = inCode
          while (cur >= 256) {
            stackBuf(sp) = suffix(cur); sp += 1
            cur = prefix(cur)
          }
          finChar = cur & 0xff
          stackBuf(sp) = finChar.toByte; sp += 1
          out.ensure(sp)
          // stack holds the string reversed
          var j = sp - 1
          while (j >= 0) { out.put(stackBuf(j)); j -= 1 }

          if (oldCode >= 0 && freeEnt < maxMaxCode) {
            prefix(freeEnt) = oldCode
            suffix(freeEnt) = finChar.toByte
            freeEnt += 1
            if (freeEnt > maxCode && nBits < maxBits) {
              roundUp()
              nBits += 1
              maxCode = if (nBits == maxBits) maxMaxCode else (1 << nBits) - 1
            }
          }
          oldCode = code
        }
      }
    }
    out.result
  }
}
