package graft.pkgx

import graft.core.OutBuf
import graft.core.Endian.{le16, le64, leInt, putLe16, putLe32}

/** BSD `dump(8)` backup archives — pure JDK, from the public on-tape
  * format (4.4BSD `protocols/dumprestore.h`: 1024-byte tape records,
  * `struct s_spcl` segment headers, new-inode dirent streams).
  *
  * The reference routes dump archives through commons-compress
  * (pkg/PackageParser.java:36,155 — DumpArchiveInputStream) as
  * `application/x-tika-unix-dump`. Same member semantics here: every
  * regular-file inode becomes an embedded document named by its path
  * (resolved through the directory inodes dumped ahead of the files),
  * directories/specials are skipped, TS_END stops the walk.
  *
  * Supported: the little-endian NFS_MAGIC (new inode) layout that
  * dump/restore and commons-compress write and read. Compressed
  * archives (DR_COMPRESSED) and the pre-FFS OFS_MAGIC layout are
  * rejected as malformed-for-us (recorded unsupported upstream).
  */
object DumpArchive {

  final class DumpMalformed(msg: String) extends RuntimeException(msg)

  final case class Entry(name: String, data: Array[Byte])

  final case class Summary(label: String, filesystem: String,
    device: String, hostname: String)

  private val TpSize = 1024
  private val NfsMagic = 60012
  private val OfsMagic = 60011
  private val CheckSum = 84446
  private val DrCompressed = 0x0080

  // segment types (dumprestore.h)
  private val TsTape = 1
  private val TsInode = 2
  private val TsBits = 3
  private val TsAddr = 4
  private val TsEnd = 5
  private val TsClri = 6

  // inode file types (mode >> 12)
  private val IfDir = 4
  private val IfReg = 8

  /** `c_magic` at header offset 24 — the detection probe. */
  def isDump(b: Array[Byte]): Boolean =
    b.length >= TpSize && {
      val m = leInt(b, 24)
      (m == NfsMagic || m == OfsMagic) && leInt(b, 0) == TsTape &&
        checksumOk(b, 0)
    }

  /** Every 32-bit word of a header record sums to CHECKSUM (84446). */
  private def checksumOk(b: Array[Byte], off: Int): Boolean = {
    var sum = 0
    var i = 0
    while (i < TpSize) { sum += leInt(b, off + i); i += 4 }
    sum == CheckSum
  }

  private def cstr(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val cap = math.min(off + len, b.length)
    while (end < cap && b(end) != 0) end += 1
    new String(b, off, end - off, java.nio.charset.StandardCharsets.US_ASCII)
  }

  def summary(bytes: Array[Byte]): Summary = {
    require(bytes.length >= TpSize)
    Summary(cstr(bytes, 676, 16), cstr(bytes, 696, 64),
      cstr(bytes, 760, 64), cstr(bytes, 824, 64))
  }

  /** Walk the archive: directories are dumped before files, so one pass
    * collects the dirent tree and the file payloads; paths resolve at
    * the end (root inode 2 = ""). A file whose name never appeared in
    * any directory falls back to `ino-N`.
    */
  def entries(bytes: Array[Byte], maxEntries: Int = 10000,
      maxTotalBytes: Long = OutBuf.MaxBytes): Vector[Entry] = {
    if (bytes.length < TpSize) throw new DumpMalformed("shorter than one record")
    val magic = leInt(bytes, 24)
    if (magic == OfsMagic) throw new DumpMalformed("old-filesystem dump layout")
    if (magic != NfsMagic) throw new DumpMalformed("bad dump magic")
    if (leInt(bytes, 0) != TsTape) throw new DumpMalformed("first record not TS_TAPE")
    if (!checksumOk(bytes, 0)) throw new DumpMalformed("bad TS_TAPE checksum")
    if ((leInt(bytes, 888) & DrCompressed) != 0)
      throw new DumpMalformed("compressed dump archive unsupported")

    // ino -> children (childIno, name); ino -> file content
    val dirents = scala.collection.mutable.LinkedHashMap
      .empty[Int, Vector[(Int, String)]]
    val files = scala.collection.mutable.LinkedHashMap
      .empty[Int, java.io.ByteArrayOutputStream]
    var totalOut = 0L

    var off = TpSize
    // current inode being continued by TS_ADDR records
    var curIno = 0
    var curType = 0
    var curSize = 0L
    var curBuf: java.io.ByteArrayOutputStream = null
    var done = false

    def readData(headerOff: Int, count: Int): Int = {
      // consume `count` data records per the c_addr presence bytes;
      // absent records are holes (1024 zero bytes in the file image)
      var dataOff = headerOff + TpSize
      var i = 0
      while (i < count && !done) {
        if (164 + i >= TpSize) throw new DumpMalformed("c_addr overruns header")
        val present = bytes(headerOff + 164 + i) != 0
        val want = curBuf != null && curBuf.size() < curSize
        if (present) {
          if (dataOff + TpSize > bytes.length)
            throw new DumpMalformed("data record overruns archive")
          if (want) {
            val n = math.min(TpSize.toLong, curSize - curBuf.size()).toInt
            totalOut += n
            if (totalOut > maxTotalBytes) throw new graft.engine.ZipBombDetected
            curBuf.write(bytes, dataOff, n)
          }
          dataOff += TpSize
        } else if (want) {
          val n = math.min(TpSize.toLong, curSize - curBuf.size()).toInt
          totalOut += n
          if (totalOut > maxTotalBytes) throw new graft.engine.ZipBombDetected
          curBuf.write(new Array[Byte](n), 0, n)
        }
        i += 1
      }
      dataOff
    }

    while (!done && off + TpSize <= bytes.length) {
      if (!checksumOk(bytes, off)) throw new DumpMalformed("bad segment checksum")
      if (leInt(bytes, off + 24) != NfsMagic)
        throw new DumpMalformed("bad segment magic")
      val segType = leInt(bytes, off)
      val count = leInt(bytes, off + 160)
      if (count < 0 || count > TpSize - 164)
        throw new DumpMalformed("bad segment record count")
      segType match {
        case TsClri | TsBits =>
          // usage bitmaps: c_count records of map data, no c_addr gating
          curBuf = null; curIno = 0
          off += TpSize * (1 + count)
        case TsInode =>
          val mode = le16(bytes, off + 32)
          curIno = leInt(bytes, off + 20)
          curType = (mode >> 12) & 0xf
          curSize = le64(bytes, off + 40)
          if (curSize < 0 || curSize > maxTotalBytes)
            throw new graft.engine.ZipBombDetected
          curBuf =
            if (curType == IfDir || curType == IfReg)
              new java.io.ByteArrayOutputStream(
                math.min(curSize, 1 << 20).toInt max 64)
            else null
          if (curType == IfReg && files.size >= maxEntries)
            throw new DumpMalformed("too many members")
          if (curBuf != null) {
            val sink = curBuf
            if (curType == IfDir) dirents.getOrElseUpdate(curIno, Vector.empty)
            else files(curIno) = sink
          }
          val next = readData(off, count)
          if (curType == IfDir && curBuf != null && curBuf.size() >= curSize) {
            mergeDirents(dirents, curIno, curBuf.toByteArray)
            curBuf = null // complete: a trailing TS_ADDR must not re-merge
          }
          off = next
        case TsAddr =>
          val next = readData(off, count)
          if (curType == IfDir && curBuf != null && curBuf.size() >= curSize) {
            mergeDirents(dirents, curIno, curBuf.toByteArray)
            curBuf = null
          }
          off = next
        case TsEnd =>
          done = true
        case TsTape =>
          // multi-volume continuation header: no payload
          off += TpSize
        case other =>
          throw new DumpMalformed(s"unknown segment type $other")
      }
    }

    // a truncated tape (no TS_END) is malformed, not a clean empty
    // success — commons-compress throws EOF on the same input
    if (!done) throw new DumpMalformed("archive ends without TS_END")

    // resolve paths from the root (ino 2), cycle-safe
    val names = scala.collection.mutable.LinkedHashMap.empty[Int, String]
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(ino: Int, prefix: String): Unit =
      if (seen.add(ino))
        dirents.getOrElse(ino, Vector.empty).foreach { case (child, name) =>
          if (name != "." && name != ".." && child != 0) {
            val p = if (prefix.isEmpty) name else s"$prefix/$name"
            names(child) = p
            walk(child, p)
          }
        }
    walk(2, "")

    files.iterator.map { case (ino, buf) =>
      Entry(names.getOrElse(ino, s"ino-$ino"), buf.toByteArray)
    }.toVector
  }

  /** Parse 4.4BSD new-format dirents: ino u32, reclen u16, type u8,
    * namlen u8, NUL-terminated name padded to 4 bytes.
    */
  private def mergeDirents(
      acc: scala.collection.mutable.LinkedHashMap[Int, Vector[(Int, String)]],
      dirIno: Int, data: Array[Byte]): Unit = {
    val out = Vector.newBuilder[(Int, String)]
    var off = 0
    var guard = 0
    while (off + 8 <= data.length && guard < 100000) {
      val ino = leInt(data, off)
      val reclen = le16(data, off + 4)
      val namlen = data(off + 7) & 0xff
      if (reclen < 8 || off + reclen > data.length) {
        off = data.length // malformed tail: stop, keep what we have
      } else {
        if (ino != 0 && namlen > 0 && off + 8 + namlen <= data.length)
          out += ino -> new String(data, off + 8, namlen,
            java.nio.charset.StandardCharsets.US_ASCII)
        off += reclen
      }
      guard += 1
    }
    acc(dirIno) = acc.getOrElse(dirIno, Vector.empty) ++ out.result()
  }

  // ---- fixture writer ------------------------------------------------------

  /** Minimal dump writer for fixtures/tests: TS_TAPE summary, CLRI/BITS
    * maps, directory inodes (root = 2) for every path prefix, one
    * TS_INODE (+TS_ADDR continuations) per file, TS_END. Layout matches
    * what [[entries]] and commons-compress read back.
    */
  def writeDump(entries: Seq[(String, Array[Byte])],
      label: String = "graft", hostname: String = "localhost"): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()

    def header(segType: Int, ino: Int, mode: Int, size: Long,
        count: Int, addr: Array[Byte], extra: Map[Int, Array[Byte]] = Map.empty)
        : Array[Byte] = {
      val h = new Array[Byte](TpSize)
      putLe32(h, 0, segType)
      putLe32(h, 12, 1)             // c_volume
      putLe32(h, 20, ino)
      putLe32(h, 24, NfsMagic)
      putLe16(h, 32, mode)
      putLe16(h, 34, 1)             // nlink
      putLe32(h, 40, size)
      putLe32(h, 44, size >>> 32)
      putLe32(h, 160, count)
      System.arraycopy(addr, 0, h, 164, addr.length)
      extra.foreach { case (o, b) => System.arraycopy(b, 0, h, o, b.length) }
      // checksum: all 256 words must sum to CHECKSUM
      var sum = 0
      var i = 0
      while (i < TpSize) { sum += leInt(h, i); i += 4 }
      putLe32(h, 28, CheckSum - sum)
      h
    }

    def strBytes(s: String, len: Int): Array[Byte] = {
      val b = new Array[Byte](len)
      val src = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      System.arraycopy(src, 0, b, 0, math.min(src.length, len - 1))
      b
    }

    // inode numbering: 2 = root dir, then one per distinct subdir, then files
    val dirPaths = entries.flatMap { case (p, _) =>
      val parts = p.split('/').dropRight(1)
      parts.indices.map(i => parts.take(i + 1).mkString("/"))
    }.distinct.sorted
    val dirIno = (("" +: dirPaths).zipWithIndex
      .map { case (p, i) => p -> (if (i == 0) 2 else 2 + i) }).toMap
    var nextIno = 2 + dirPaths.length + 1
    val fileIno = entries.map { case (p, _) =>
      val ino = nextIno; nextIno += 1; p -> ino
    }.toMap

    def direntBytes(items: Seq[(Int, String)]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      items.foreach { case (ino, name) =>
        val nb = name.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val reclen = (8 + nb.length + 1 + 3) & ~3
        val rec = new Array[Byte](reclen)
        rec(0) = ino.toByte; rec(1) = (ino >> 8).toByte
        rec(2) = (ino >> 16).toByte; rec(3) = (ino >> 24).toByte
        rec(4) = reclen.toByte; rec(5) = (reclen >> 8).toByte
        rec(6) = 0; rec(7) = nb.length.toByte
        System.arraycopy(nb, 0, rec, 8, nb.length)
        b.write(rec, 0, reclen)
      }
      b.toByteArray
    }

    def writeInode(ino: Int, fileType: Int, data: Array[Byte]): Unit = {
      val nRecs = (data.length + TpSize - 1) / TpSize
      val mode = (fileType << 12) | 0x1a4 // 0644
      var rec = 0
      var first = true
      while (rec < nRecs || first) {
        val chunk = math.min(nRecs - rec, TpSize - 164)
        val addr = Array.fill[Byte](math.max(chunk, 0))(1)
        val seg = if (first) TsInode else TsAddr
        out.write(header(seg, ino, mode, data.length.toLong, addr.length, addr))
        var i = 0
        while (i < chunk) {
          val start = (rec + i) * TpSize
          val page = new Array[Byte](TpSize)
          System.arraycopy(data, start, page,
            0, math.min(TpSize, data.length - start))
          out.write(page)
          i += 1
        }
        rec += chunk
        first = false
      }
    }

    // TS_TAPE with label/host metadata (DR_NEWHEADER|DR_NEWINODEFMT)
    out.write(header(TsTape, 0, 0, 0, 0, Array.emptyByteArray, Map(
      676 -> strBytes(label, 16), 696 -> strBytes("/", 64),
      760 -> strBytes("/dev/da0", 64), 824 -> strBytes(hostname, 64),
      888 -> Array[Byte](0x03, 0, 0, 0))))
    // CLRI and BITS usage maps: one record each
    out.write(header(TsClri, 0, 0, 0, 1, Array.emptyByteArray))
    out.write(new Array[Byte](TpSize))
    out.write(header(TsBits, 0, 0, 0, 1, Array.emptyByteArray))
    out.write(new Array[Byte](TpSize))
    // directories first (dump order), root then subdirs
    ("" +: dirPaths).foreach { dp =>
      val ino = dirIno(dp)
      val parent = if (dp.isEmpty) 2
        else dirIno(dp.split('/').dropRight(1).mkString("/"))
      val children =
        dirPaths.filter(c => c.nonEmpty &&
            c.split('/').dropRight(1).mkString("/") == dp)
          .map(c => dirIno(c) -> c.split('/').last) ++
        entries.collect { case (p, _)
            if p.split('/').dropRight(1).mkString("/") == dp =>
          fileIno(p) -> p.split('/').last }
      val data = direntBytes(Seq(ino -> ".", parent -> "..") ++ children)
      writeInode(ino, IfDir, data)
    }
    entries.foreach { case (p, d) => writeInode(fileIno(p), IfReg, d) }
    out.write(header(TsEnd, 0, 0, 0, 0, Array.emptyByteArray))
    out.toByteArray
  }
}
