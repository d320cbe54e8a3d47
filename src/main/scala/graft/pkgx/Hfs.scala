package graft.pkgx

import scala.collection.mutable.ArrayBuffer
import graft.core.{Endian, OutBuf}

/** HFS+ / HFSX volume reader for raw Apple disk images — from scratch
  * per Apple's public TN1150 ("HFS Plus Volume Format").
  *
  * The reference only detects application/x-apple-diskimage (glob; no
  * tika parser exists), so member recursion goes beyond reference
  * parity like the Cab route. Validation: the reference's real
  * `test-documents.dmg` (a raw 512 KB HFS+ volume written by Apple's
  * own tooling) — every catalog file byte-matches its counterpart in
  * `test-documents.zip` (HfsSpec).
  *
  * Scope: raw (uncompressed) volumes — the catalog B-tree leaf chain,
  * inline data-fork extents, full folder paths. UDIF-wrapped (`koly`
  * trailer) images, overflow-extent files, and journal replay raise
  * HfsMalformed → the document records a parse failure.
  */
object Hfs {

  final class HfsMalformed(msg: String) extends Exception(msg)

  final case class Entry(name: String, data: Array[Byte])

  /** Volume signature at offset 1024: "H+" (HFS+) or "HX" (HFSX). */
  def isHfs(b: Array[Byte]): Boolean =
    b.length >= 1536 && b(1024) == 'H' && (b(1025) == '+' || b(1025) == 'X')

  private def need(b: Array[Byte], o: Int, n: Int, what: String = "short read"): Unit =
    if (o < 0 || o + n > b.length) throw new HfsMalformed(what)
  private def be32(b: Array[Byte], o: Int): Long = { need(b, o, 4); Endian.be32(b, o) }
  private def be64(b: Array[Byte], o: Int): Long = { need(b, o, 8); Endian.be64(b, o) }

  /** Parse a raw HFS+/HFSX volume into its catalog files. */
  def entries(bytes: Array[Byte], maxEntries: Int = 10000): Vector[Entry] = {
    if (!isHfs(bytes)) throw new HfsMalformed("no HFS+ volume header")
    val vh = 1024
    val blockSize = be32(bytes, vh + 40)
    if (blockSize < 512 || blockSize > (1 << 20) ||
        java.lang.Long.bitCount(blockSize) != 1)
      throw new HfsMalformed(s"bad allocation block size $blockSize")

    /** Assemble a fork's content from its 8 inline extents; the 80-byte
      * fork descriptor may live in any buffer (volume header or catalog
      * record), the extents always address the volume. */
    def readFork(desc: Array[Byte], forkOff: Int): Array[Byte] = {
      val logical = be64(desc, forkOff)
      if (logical > OutBuf.MaxBytes) throw new graft.engine.ZipBombDetected
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      var got = 0L
      while (i < 8 && got < logical) {
        val start = be32(desc, forkOff + 16 + 8 * i)
        val count = be32(desc, forkOff + 16 + 8 * i + 4)
        if (count > 0) {
          val from = start * blockSize
          val len = count * blockSize
          if (from < 0 || from + len > bytes.length)
            throw new HfsMalformed("extent beyond volume")
          val take = math.min(len, logical - got).toInt
          out.write(bytes, from.toInt, take)
          got += take
        }
        i += 1
      }
      if (got < logical)
        throw new HfsMalformed("file needs extents-overflow records")
      out.toByteArray
    }

    val catalog = readFork(bytes, vh + 272)
    if (catalog.length < 48) throw new HfsMalformed("catalog too small")
    // B-tree header node (node 0): descriptor(14) + BTHeaderRec
    val nodeSize = Endian.be16(catalog, 32)
    val firstLeaf = Endian.be32(catalog, 24)
    if (nodeSize < 512 || nodeSize > 32768 || catalog.length % nodeSize != 0)
      throw new HfsMalformed(s"bad catalog node size $nodeSize")
    val nodeCount = catalog.length / nodeSize

    def cbe16(o: Int): Int = { need(catalog, o, 2, "catalog read"); Endian.be16(catalog, o) }
    def cbe32(o: Int): Long = { need(catalog, o, 4, "catalog read"); Endian.be32(catalog, o) }

    // walk the leaf chain; visited-set guards crafted fLink cycles
    val folders = scala.collection.mutable.Map[Long, (Long, String)]()
    val files = new ArrayBuffer[(Long, String, Int)]() // parent, name, record off
    val seen = scala.collection.mutable.Set[Long]()
    var node = firstLeaf
    while (node != 0) {
      if (node >= nodeCount || !seen.add(node))
        throw new HfsMalformed("catalog leaf chain out of range or cyclic")
      val base = (node * nodeSize).toInt
      val fLink = cbe32(base)
      val numRecs = cbe16(base + 10)
      if (files.size + numRecs > maxEntries)
        throw new HfsMalformed("too many catalog records")
      var r = 0
      while (r < numRecs) {
        val ro = base + cbe16(base + nodeSize - 2 * (r + 1))
        val keyLen = cbe16(ro)
        val parentID = cbe32(ro + 2)
        val nameLen = cbe16(ro + 6)
        if (nameLen > 255) throw new HfsMalformed("catalog name too long")
        val nameB = new Array[Byte](2 * nameLen)
        if (ro + 8 + 2 * nameLen > catalog.length)
          throw new HfsMalformed("catalog name out of range")
        System.arraycopy(catalog, ro + 8, nameB, 0, 2 * nameLen)
        val name = new String(nameB, java.nio.charset.StandardCharsets.UTF_16BE)
        val dataOff = ro + 2 + keyLen + (keyLen & 1) // keys pad to even
        val recType = cbe16(dataOff)
        if (recType == 1) { // folder
          folders(cbe32(dataOff + 8)) = (parentID, name)
        } else if (recType == 2) { // file: data fork at +88
          files += ((parentID, name, dataOff + 88))
        } // 3/4 = thread records (ignored)
        r += 1
      }
      node = fLink
    }

    def path(parent0: Long, name: String): String = {
      val parts = new ArrayBuffer[String]()
      parts += name
      var pid = parent0
      var hops = 0
      while (pid > 2 && folders.contains(pid) && hops < 256) {
        val (pp, nm) = folders(pid)
        parts += nm
        pid = pp
        hops += 1
      }
      parts.reverse.mkString("/")
    }

    var total = 0L
    files.iterator.flatMap { case (parent, name, forkOff) =>
      // skip HFS+ bookkeeping: journal files and anything under the
      // NUL-prefixed "HFS+ Private Data" hardlink store (control chars)
      val fullPath = path(parent, name)
      if (fullPath.exists(_ < ' ') || name == ".journal" ||
          name == ".journal_info_block") None
      else {
        // the fork descriptor sits in the CATALOG byte array; its
        // extents address the volume (TN1150: allocation blocks are
        // always counted from the volume start)
        if (forkOff + 80 > catalog.length)
          throw new HfsMalformed("file record out of range")
        total += be64(catalog, forkOff)
        if (total > OutBuf.MaxBytes) throw new graft.engine.ZipBombDetected
        Some(Entry(fullPath, readFork(catalog, forkOff)))
      }
    }.toVector
  }
}
