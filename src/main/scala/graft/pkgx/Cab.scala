package graft.pkgx

import scala.collection.mutable.ArrayBuffer
import graft.core.{Endian, OutBuf}

/** Microsoft Cabinet (.cab) reader — from scratch per the public
  * [MS-CAB] / cabinet SDK format documentation.
  *
  * The reference only DETECTS this type (TestMimeTypes; no tika parser
  * exists for it), so member recursion here goes beyond reference
  * parity, like the RAR3-decrypt and FITS routes. Validation:
  * the reference's real `test-documents.cab` (written by Microsoft's
  * cabinet tooling) — every member byte-matches its counterpart in
  * `test-documents.zip`, every CFDATA checksum verifies, and the
  * members recurse through the engine like any archive.
  *
  * Supported: single-cabinet archives, any folder count, compression
  * NONE (0) and MSZIP (1 — per-block raw DEFLATE with the 32 KB
  * history window carried across blocks via inflater dictionaries).
  * QUANTUM/LZX folders and cross-cabinet continuation raise
  * CabMalformed → the document records a parse failure.
  */
object Cab {

  final class CabMalformed(msg: String) extends Exception(msg)

  final case class Entry(name: String, data: Array[Byte])

  def isCab(b: Array[Byte]): Boolean =
    b.length >= 36 && b(0) == 'M' && b(1) == 'S' && b(2) == 'C' && b(3) == 'F'

  private def need(b: Array[Byte], o: Int, n: Int): Unit =
    if (o < 0 || o + n > b.length) throw new CabMalformed("short read")
  private def le16(b: Array[Byte], o: Int): Int = { need(b, o, 2); Endian.le16(b, o) }
  private def le32(b: Array[Byte], o: Int): Long = { need(b, o, 4); Endian.le32(b, o) }

  /** CSUMCompute ([MS-CAB] checksum): XOR of little-endian 32-bit words,
    * with a 1-3 byte big-endian-style remainder, seeded. Validated
    * against all four CFDATA checksums of the real Microsoft-written
    * fixture.
    */
  private def csum(b: Array[Byte], off: Int, len: Int, seed: Int): Int = {
    var c = seed
    val words = len / 4
    var i = 0
    while (i < words) {
      c ^= le32(b, off + 4 * i).toInt
      i += 1
    }
    val rem = len % 4
    val ro = off + 4 * words
    var ul = 0
    if (rem == 3) ul = ((b(ro) & 0xff) << 16) | ((b(ro + 1) & 0xff) << 8) | (b(ro + 2) & 0xff)
    else if (rem == 2) ul = Endian.be16(b, ro)
    else if (rem == 1) ul = b(ro) & 0xff
    c ^ ul
  }

  private final case class Folder(coffData: Long, cData: Int, compType: Int)

  /** Parse a cabinet into member entries (header order). */
  def entries(bytes: Array[Byte], maxEntries: Int = 10000): Vector[Entry] = {
    if (!isCab(bytes)) throw new CabMalformed("not a cabinet")
    val cbCabinet = le32(bytes, 8)
    if (cbCabinet > bytes.length)
      throw new CabMalformed("declared size beyond payload")
    val coffFiles = le32(bytes, 16)
    val cFolders = le16(bytes, 26)
    val cFiles = le16(bytes, 28)
    val flags = le16(bytes, 30)
    if (cFolders == 0 || cFiles == 0) return Vector.empty
    if (cFiles > maxEntries) throw new CabMalformed("too many members")
    var off = 36
    var cbCFFolder = 0
    var cbCFData = 0
    if ((flags & 0x4) != 0) { // RESERVE_PRESENT
      val cbCFHeader = le16(bytes, off)
      cbCFFolder = bytes(off + 2) & 0xff
      cbCFData = bytes(off + 3) & 0xff
      off += 4 + cbCFHeader
    }
    def skipSz(): Unit = {
      while (off < bytes.length && bytes(off) != 0) off += 1
      off += 1
    }
    if ((flags & 0x1) != 0) { skipSz(); skipSz() } // PREV cabinet + disk
    if ((flags & 0x2) != 0) { skipSz(); skipSz() } // NEXT cabinet + disk
    val folders = (0 until cFolders).map { _ =>
      val f = Folder(le32(bytes, off), le16(bytes, off + 4), le16(bytes, off + 6))
      off += 8 + cbCFFolder
      f
    }.toVector

    // decode folders lazily — only those a member references
    val decoded = new Array[Array[Byte]](cFolders)
    var totalOut = 0L
    def folderData(i: Int): Array[Byte] = {
      if (decoded(i) == null) {
        val f = folders(i)
        val comp = f.compType & 0xf
        if (comp != 0 && comp != 1)
          throw new CabMalformed(s"unsupported CAB compression $comp")
        val out = new java.io.ByteArrayOutputStream()
        var p = f.coffData.toInt
        var prev: Array[Byte] = null
        var blk = 0
        while (blk < f.cData) {
          val sum = le32(bytes, p).toInt
          val cbData = le16(bytes, p + 4)
          val cbUncomp = le16(bytes, p + 6)
          if (cbUncomp > 32768 + 12) // MSZIP bound (+12 growth allowance)
            throw new CabMalformed("CFDATA block too large")
          val dataOff = p + 8 + cbCFData
          if (dataOff + cbData > bytes.length)
            throw new CabMalformed("CFDATA beyond payload")
          if (sum != 0 && csum(bytes, dataOff, cbData,
              csum(bytes, p + 4, 4, 0)) != sum)
            throw new CabMalformed("CFDATA checksum mismatch")
          totalOut += cbUncomp
          if (totalOut > OutBuf.MaxBytes) throw new graft.engine.ZipBombDetected
          val u: Array[Byte] =
            if (comp == 0) {
              if (cbData != cbUncomp)
                throw new CabMalformed("stored block size mismatch")
              java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + cbData)
            } else {
              if (cbData < 2 || bytes(dataOff) != 'C' || bytes(dataOff + 1) != 'K')
                throw new CabMalformed("bad MSZIP block signature")
              // the DEFLATE history window spans blocks: prior output
              // is this block's preset dictionary
              val ub = new OutBuf(cbUncomp, cbUncomp)
              if (ub.inflate(bytes, dataOff + 2, cbData - 2, raw = true, prev) == OutBuf.NeedsInput)
                throw new CabMalformed("truncated MSZIP block")
              if (ub.len != cbUncomp) throw new CabMalformed("short MSZIP block")
              ub.result
            }
          prev =
            if (u.length >= 32768) java.util.Arrays.copyOfRange(u, u.length - 32768, u.length)
            else u
          out.write(u)
          p = dataOff + cbData
          blk += 1
        }
        decoded(i) = out.toByteArray
      }
      decoded(i)
    }

    var fp = coffFiles.toInt
    val outEntries = new ArrayBuffer[Entry]()
    var i = 0
    while (i < cFiles) {
      val cbFile = le32(bytes, fp)
      val uoff = le32(bytes, fp + 4)
      val iFolderRaw = le16(bytes, fp + 8)
      val attribs = le16(bytes, fp + 14)
      fp += 16
      val nameStart = fp
      while (fp < bytes.length && bytes(fp) != 0) fp += 1
      val nameBytes = java.util.Arrays.copyOfRange(bytes, nameStart, fp)
      fp += 1
      val name =
        if ((attribs & 0x80) != 0)
          new String(nameBytes, java.nio.charset.StandardCharsets.UTF_8)
        else new String(nameBytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      // continuation markers: FFFD/FFFF start in a previous cabinet,
      // FFFE continues into the next — the local slice maps to the
      // first/last folder; out-of-range slices (the truly-absent parts)
      // are skipped below like any malformed member
      val iFolder =
        if (iFolderRaw == 0xfffd || iFolderRaw == 0xffff) 0
        else if (iFolderRaw == 0xfffe) cFolders - 1
        else iFolderRaw
      if (iFolder < cFolders && cbFile <= OutBuf.MaxBytes) {
        val fd = folderData(iFolder)
        if (uoff + cbFile <= fd.length)
          outEntries += Entry(name,
            java.util.Arrays.copyOfRange(fd, uoff.toInt, (uoff + cbFile).toInt))
      }
      i += 1
    }
    outEntries.toVector
  }
}
