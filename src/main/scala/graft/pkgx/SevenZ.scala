package graft.pkgx

import java.util.zip.CRC32
import graft.core.{Endian, OutBuf}

/** 7z container reader — pure JDK + the from-scratch LZMA family in this
  * package, implemented from the public 7z format documentation
  * (7-Zip's published `7zFormat.txt` structure: signature header →
  * next-header StreamsInfo/FilesInfo property tree, variable-length
  * NUMBER encoding, folders = coder graphs bound by bind pairs).
  *
  * The reference routes .7z through commons-compress' SevenZFile
  * (tika-parser-pkg-module pkg/SevenZParser.java, PackageParser dispatch);
  * this gives the engine .7z recursion with the same member semantics
  * (ordinal embedded docs, names from the header, empty files kept,
  * directories skipped) without the codec dependency.
  *
  * Coders supported: Copy (0x00), LZMA (0x030101), LZMA2 (0x21), Delta
  * (0x03), x86 BCJ (0x03030103), Deflate (0x040108), BZip2 (0x040202),
  * and 7zAES (0x06F10701) when a password is supplied — chained via
  * bind pairs (e.g. AES→LZMA2), covering both entry-encrypted and
  * header-encrypted (-mhe) archives. Without a password the AES coder
  * raises SevenZMalformed → the document records a parse failure,
  * mirroring the reference's EncryptedDocumentException; BCJ2 stays
  * unsupported.
  */
object SevenZ {

  final class SevenZMalformed(msg: String) extends RuntimeException(msg)

  final case class Entry(name: String, data: Array[Byte])

  private val Signature = Array[Byte]('7', 'z', 0xbc.toByte, 0xaf.toByte, 0x27, 0x1c)

  def isSevenZ(b: Array[Byte]): Boolean =
    b.length > 32 && (0 until 6).forall(i => b(i) == Signature(i))

  // property ids (public format doc)
  private val kEnd = 0x00
  private val kHeader = 0x01
  private val kArchiveProperties = 0x02
  private val kAdditionalStreamsInfo = 0x03
  private val kMainStreamsInfo = 0x04
  private val kFilesInfo = 0x05
  private val kPackInfo = 0x06
  private val kUnpackInfo = 0x07
  private val kSubStreamsInfo = 0x08
  private val kSize = 0x09
  private val kCRC = 0x0a
  private val kFolder = 0x0b
  private val kCodersUnpackSize = 0x0c
  private val kNumUnpackStream = 0x0d
  private val kEmptyStream = 0x0e
  private val kEmptyFile = 0x0f
  private val kName = 0x11
  private val kEncodedHeader = 0x17

  // coder ids (bytes big-endian-concatenated)
  private val IdCopy = 0x00L
  private val IdDelta = 0x03L
  private val IdLzma2 = 0x21L
  private val IdLzma = 0x030101L
  private val IdBcjX86 = 0x03030103L
  private val IdDeflate = 0x040108L
  private val IdBzip2 = 0x040202L
  private val IdAes = 0x06f10701L

  private final class Reader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def byte(): Int = {
      if (pos >= end) throw new SevenZMalformed("truncated header")
      val b = buf(pos) & 0xff; pos += 1; b
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || pos + n > end) throw new SevenZMalformed("truncated header")
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; out
    }
    def skip(n: Long): Unit = {
      if (n < 0 || pos + n > end) throw new SevenZMalformed("truncated header")
      pos += n.toInt
    }
    /** 7z variable-length NUMBER: the first byte's high bits select how
      * many little-endian continuation bytes follow. */
    def number(): Long = {
      val first = byte()
      var mask = 0x80
      var value = 0L
      var i = 0
      while (i < 8) {
        if ((first & mask) == 0)
          return value | ((first & (mask - 1)).toLong << (8 * i))
        value |= byte().toLong << (8 * i)
        mask >>= 1
        i += 1
      }
      value
    }
    def num(): Int = {
      val n = number()
      if (n < 0 || n > Int.MaxValue) throw new SevenZMalformed("number out of range")
      n.toInt
    }
    def uint32(): Long = { skip(4); Endian.le32(buf, pos - 4) }
    /** Bit vector, MSB-first within each byte. */
    def bits(n: Int): Array[Boolean] = {
      val out = new Array[Boolean](n)
      var b = 0; var mask = 0
      var i = 0
      while (i < n) {
        if (mask == 0) { b = byte(); mask = 0x80 }
        out(i) = (b & mask) != 0
        mask >>= 1
        i += 1
      }
      out
    }
    /** allAreDefined byte then (if 0) a bit vector. */
    def optBits(n: Int): Array[Boolean] =
      if (byte() != 0) Array.fill(n)(true) else bits(n)
  }

  private final case class Coder(id: Long, numIn: Int, numOut: Int, props: Array[Byte])
  private final case class Folder(coders: Vector[Coder],
      bindPairs: Vector[(Int, Int)], packedIndices: Vector[Int],
      var unpackSizes: Vector[Long], var crc: Option[Long]) {
    def totalOut: Int = coders.map(_.numOut).sum
    /** The out-stream index no bind pair consumes = the folder output. */
    def outputIndex: Int = {
      val used = bindPairs.map(_._2).toSet
      (0 until totalOut).find(i => !used.contains(i))
        .getOrElse(throw new SevenZMalformed("folder has no output"))
    }
    def outputSize: Long = unpackSizes(outputIndex)
  }

  private final case class StreamsInfo(packPos: Long, packSizes: Vector[Long],
      folders: Vector[Folder], numSubstreams: Vector[Int],
      substreamSizes: Vector[Vector[Long]])

  private def parseFolder(r: Reader): Folder = {
    val numCoders = r.num()
    if (numCoders <= 0 || numCoders > 32)
      throw new SevenZMalformed(s"bad coder count $numCoders")
    val coders = Vector.fill(numCoders) {
      val flags = r.byte()
      val idSize = flags & 0x0f
      if (idSize > 8) throw new SevenZMalformed("bad coder id size")
      var id = 0L
      for (_ <- 0 until idSize) id = (id << 8) | r.byte()
      val (nIn, nOut) =
        if ((flags & 0x10) != 0) (r.num(), r.num()) else (1, 1)
      val props =
        if ((flags & 0x20) != 0) r.bytes(r.num()) else Array.emptyByteArray
      if (nIn <= 0 || nOut <= 0 || nIn > 64 || nOut > 64)
        throw new SevenZMalformed("bad coder stream counts")
      Coder(id, nIn, nOut, props)
    }
    val totalIn = coders.map(_.numIn).sum
    val totalOut = coders.map(_.numOut).sum
    val numBindPairs = totalOut - 1
    val bindPairs = Vector.fill(numBindPairs)((r.num(), r.num()))
    val numPacked = totalIn - numBindPairs
    val packedIndices =
      if (numPacked == 1) {
        val bound = bindPairs.map(_._1).toSet
        Vector((0 until totalIn).find(i => !bound.contains(i))
          .getOrElse(throw new SevenZMalformed("no packed stream slot")))
      } else Vector.fill(numPacked)(r.num())
    Folder(coders, bindPairs, packedIndices, Vector.empty, None)
  }

  private def parseStreamsInfo(r: Reader): StreamsInfo = {
    var packPos = 0L
    var packSizes = Vector.empty[Long]
    var folders = Vector.empty[Folder]
    var numSubstreams = Vector.empty[Int]
    var substreamSizes = Vector.empty[Vector[Long]]
    var id = r.num()
    if (id == kPackInfo) {
      packPos = r.number()
      val n = r.num()
      if (n > 100000) throw new SevenZMalformed("too many pack streams")
      var sub = r.num()
      while (sub != kEnd) {
        sub match {
          case `kSize` => packSizes = Vector.fill(n)(r.number())
          case `kCRC` => val defined = r.optBits(n)
            defined.foreach(d => if (d) r.uint32())
          case _ => throw new SevenZMalformed(s"bad packinfo prop $sub")
        }
        sub = r.num()
      }
      id = r.num()
    }
    if (id == kUnpackInfo) {
      var sub = r.num()
      if (sub != kFolder) throw new SevenZMalformed("unpackinfo without folders")
      val n = r.num()
      if (n > 100000) throw new SevenZMalformed("too many folders")
      if (r.byte() != 0) throw new SevenZMalformed("external folder data unsupported")
      folders = Vector.fill(n)(parseFolder(r))
      sub = r.num()
      if (sub != kCodersUnpackSize)
        throw new SevenZMalformed("missing coder unpack sizes")
      folders = folders.map { f =>
        f.copy(unpackSizes = Vector.fill(f.totalOut)(r.number()))
      }
      sub = r.num()
      while (sub != kEnd) {
        sub match {
          case `kCRC` =>
            val defined = r.optBits(n)
            folders = folders.zip(defined).map { case (f, d) =>
              if (d) f.copy(crc = Some(r.uint32())) else f
            }
          case _ => throw new SevenZMalformed(s"bad unpackinfo prop $sub")
        }
        sub = r.num()
      }
      id = r.num()
    }
    if (id == kSubStreamsInfo) {
      var counts = folders.map(_ => 1)
      var sizes = Vector.empty[Vector[Long]]
      var sub = r.num()
      if (sub == kNumUnpackStream) {
        counts = folders.map(_ => r.num())
        sub = r.num()
      }
      if (sub == kSize) {
        sizes = folders.zip(counts).map { case (f, c) =>
          if (c == 0) Vector.empty[Long]
          else {
            val head = Vector.fill(c - 1)(r.number())
            val last = f.outputSize - head.sum
            if (last < 0) throw new SevenZMalformed("substream sizes exceed folder")
            head :+ last
          }
        }
        sub = r.num()
      } else {
        sizes = folders.zip(counts).map { case (f, c) =>
          if (c == 1) Vector(f.outputSize)
          else if (c == 0) Vector.empty[Long]
          else throw new SevenZMalformed("substream counts without sizes")
        }
      }
      while (sub != kEnd) {
        sub match {
          case `kCRC` =>
            // digests for substreams whose folder CRC doesn't cover them
            val missing = folders.zip(counts).map { case (f, c) =>
              if (c == 1 && f.crc.isDefined) 0 else c
            }.sum
            val defined = r.optBits(missing)
            defined.foreach(d => if (d) r.uint32())
          case _ => throw new SevenZMalformed(s"bad substreams prop $sub")
        }
        sub = r.num()
      }
      numSubstreams = counts
      substreamSizes = sizes
      id = r.num()
    } else {
      numSubstreams = folders.map(_ => 1)
      substreamSizes = folders.map(f => Vector(f.outputSize))
    }
    if (id != kEnd) throw new SevenZMalformed(s"unexpected streamsinfo prop $id")
    StreamsInfo(packPos, packSizes, folders, numSubstreams, substreamSizes)
  }

  // ---- coder execution ---------------------------------------------------

  private def deltaDecode(data: Array[Byte], dist: Int): Array[Byte] = {
    val out = data.clone()
    var i = dist
    while (i < out.length) { out(i) = (out(i) + out(i - dist)).toByte; i += 1 }
    out
  }

  private def inflateRaw(in: Array[Byte], unpackSize: Long): Array[Byte] = {
    if (unpackSize > OutBuf.MaxBytes) throw new graft.engine.ZipBombDetected
    val out = new OutBuf(unpackSize, unpackSize.toInt)
    if (out.inflate(in, 0, in.length, raw = true) == OutBuf.NeedsInput)
      throw new SevenZMalformed("truncated deflate stream")
    if (out.len != unpackSize) throw new SevenZMalformed("deflate size mismatch")
    out.result
  }

  /** 7zAES (coder 0x06F10701) key schedule + CBC decrypt. Properties:
    * b0 bits 0-5 = NumCyclesPower, salt size = (b0>>7 & 1) + (b1>>4),
    * IV size = (b0>>6 & 1) + (b1 & 0xF), then salt ‖ IV. Key = SHA-256
    * over 2^NumCyclesPower repetitions of salt ‖ UTF-16LE(password) ‖
    * LE64(counter) (NumCyclesPower 0x3F = plain salt‖password zero-pad).
    * Public 7z format spec / p7zip 7zAes semantics (NOT code).
    */
  private def aesDecode(c: Coder, in: Array[Byte], unpackSize: Long,
      password: String): Array[Byte] = {
    val p = c.props
    if (p.length < 2) throw new SevenZMalformed("bad AES coder props")
    val b0 = p(0) & 0xff
    val b1 = p(1) & 0xff
    val numCycles = b0 & 0x3f
    val saltSize = ((b0 >> 7) & 1) + (b1 >> 4)
    val ivSize = ((b0 >> 6) & 1) + (b1 & 0x0f)
    if (p.length < 2 + saltSize + ivSize)
      throw new SevenZMalformed("truncated AES coder props")
    val salt = java.util.Arrays.copyOfRange(p, 2, 2 + saltSize)
    val iv = new Array[Byte](16)
    System.arraycopy(p, 2 + saltSize, iv, 0, math.min(ivSize, 16))
    val pw = password.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
    val key: Array[Byte] =
      if (numCycles == 0x3f) { // no KDF: salt ‖ password, zero-padded
        val k = new Array[Byte](32)
        val ns = math.min(salt.length, 32)
        System.arraycopy(salt, 0, k, 0, ns)
        System.arraycopy(pw, 0, k, ns, math.min(pw.length, 32 - ns))
        k
      } else {
        // header values are attacker-controlled; 7-Zip's own UI caps at
        // 24 (16.7M SHA blocks) — beyond that is a decompression bomb
        if (numCycles > 24)
          throw new SevenZMalformed(s"AES cycle power $numCycles too large")
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val cnt = new Array[Byte](8)
        val rounds = 1L << numCycles
        var i = 0L
        while (i < rounds) {
          md.update(salt)
          md.update(pw)
          var j = 0
          while (j < 8) { cnt(j) = ((i >>> (8 * j)) & 0xff).toByte; j += 1 }
          md.update(cnt)
          i += 1
        }
        md.digest()
      }
    val usable = in.length & ~15 // ciphertext is block-padded
    if (usable <= 0 || unpackSize > usable)
      throw new SevenZMalformed("AES stream shorter than declared output")
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    cipher.init(javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    val dec = cipher.doFinal(in, 0, usable)
    java.util.Arrays.copyOfRange(dec, 0, unpackSize.toInt)
  }

  private def runCoder(c: Coder, in: Array[Byte], unpackSize: Long,
      password: Option[String]): Array[Byte] = {
    if (unpackSize > OutBuf.MaxBytes || unpackSize < 0)
      throw new graft.engine.ZipBombDetected
    c.id match {
      case IdCopy =>
        if (in.length < unpackSize) throw new SevenZMalformed("copy underrun")
        java.util.Arrays.copyOfRange(in, 0, unpackSize.toInt)
      case IdLzma =>
        if (c.props.length < 1) throw new SevenZMalformed("missing lzma props")
        Lzma2.decodeLzma1(c.props(0) & 0xff, in, 0, in.length, unpackSize.toInt)
      case IdLzma2 =>
        val w = Lzma2.window(unpackSize, 1 << 16)
        Lzma2.decode(in, 0, w) // 7z LZMA2 streams carry the 0x00 end marker
        if (w.len.toLong != unpackSize)
          throw new SevenZMalformed("lzma2 size mismatch")
        w.result
      case IdDelta =>
        val dist = if (c.props.nonEmpty) (c.props(0) & 0xff) + 1 else 1
        deltaDecode(in, dist)
      case IdDeflate => inflateRaw(in, unpackSize)
      case IdBzip2 => Bzip2.decompress(in)
      case IdAes =>
        // with a supplied password the stream decrypts in-chain (the
        // reference's SevenZParser + PasswordProvider route); without
        // one the document fails like EncryptedDocumentException
        password match {
          case Some(pw) => aesDecode(c, in, unpackSize, pw)
          case None =>
            throw new SevenZMalformed("encrypted 7z (AES coder): no password")
        }
      case IdBcjX86 | 0x04L => // old- and xz-style x86 BCJ ids
        val out = in.clone()
        val ip = if (c.props.length >= 4)
          (c.props(0) & 0xffL) | ((c.props(1) & 0xffL) << 8) |
            ((c.props(2) & 0xffL) << 16) | ((c.props(3) & 0xffL) << 24)
          else 0L
        BcjFilters.x86Decode(out, 0, out.length, ip)
        out
      case other =>
        throw new SevenZMalformed(f"unsupported 7z coder 0x$other%x")
    }
  }

  /** Decode one folder given its packed streams (in packedIndices order). */
  private def decodeFolder(f: Folder, packed: Vector[Array[Byte]],
      password: Option[String]): Array[Byte] = {
    // linear-chain execution: every coder 1-in/1-out; general graphs
    // (BCJ2's 4-input merge) are out of scope and rejected
    if (f.coders.exists(c => c.numIn != 1 || c.numOut != 1))
      throw new SevenZMalformed("non-linear 7z coder graph unsupported")
    // in-stream i belongs to coder i (1-in each); out-stream j to coder j
    val inputs = new Array[Array[Byte]](f.coders.length)
    f.packedIndices.zipWithIndex.foreach { case (inIdx, k) =>
      inputs(inIdx) = packed(k)
    }
    val outputs = new Array[Array[Byte]](f.coders.length)
    def outOf(j: Int): Array[Byte] = {
      if (outputs(j) == null) {
        if (inputs(j) == null) {
          val pair = f.bindPairs.find(_._1 == j)
            .getOrElse(throw new SevenZMalformed("unbound coder input"))
          inputs(j) = outOf(pair._2)
        }
        outputs(j) = runCoder(f.coders(j), inputs(j), f.unpackSizes(j), password)
      }
      outputs(j)
    }
    val out = outOf(f.outputIndex)
    f.crc.foreach { expect =>
      val c = new CRC32(); c.update(out)
      if (c.getValue != expect) throw new SevenZMalformed("folder crc mismatch")
    }
    out
  }

  private final case class FilesInfo(names: Vector[String],
      emptyStream: Array[Boolean], emptyFile: Array[Boolean])

  private def parseFilesInfo(r: Reader): FilesInfo = {
    val numFiles = r.num()
    if (numFiles > 1000000) throw new SevenZMalformed("too many files")
    var names = Vector.empty[String]
    var emptyStream = new Array[Boolean](numFiles)
    var emptyFile = new Array[Boolean](numFiles)
    var prop = r.num()
    while (prop != kEnd) {
      val size = r.number()
      if (size < 0 || r.pos + size > r.end)
        throw new SevenZMalformed("bad filesinfo prop size")
      val endPos = (r.pos + size).toInt
      prop match {
        case `kEmptyStream` => emptyStream = r.bits(numFiles)
        case `kEmptyFile` =>
          val nEmpty = emptyStream.count(identity)
          val ef = r.bits(nEmpty)
          var k = 0
          for (i <- 0 until numFiles) if (emptyStream(i)) {
            emptyFile(i) = ef(k); k += 1
          }
        case `kName` =>
          if (r.byte() != 0) throw new SevenZMalformed("external names unsupported")
          val sb = new StringBuilder
          val acc = Vector.newBuilder[String]
          while (r.pos < endPos) {
            val lo = r.byte(); val hi = r.byte()
            val ch = (lo | (hi << 8)).toChar
            if (ch == '\u0000') { acc += sb.toString; sb.setLength(0) }
            else sb.append(ch)
          }
          names = acc.result()
        case _ => () // mtime/attributes/dummy — skipped below
      }
      r.pos = endPos
      prop = r.num()
    }
    if (names.isEmpty) names = Vector.tabulate(numFiles)(i => s"file-$i")
    if (names.length != numFiles) throw new SevenZMalformed("name count mismatch")
    FilesInfo(names, emptyStream, emptyFile)
  }

  /** Fixture writer: a valid stored (Copy-coder) 7z archive — one folder
    * per member, raw (unencoded) header. Real 7z tools read these; the
    * ratio is simply 1.0 (same pattern as the Xz/Lz4 fixture writers).
    */
  def write(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def num(v: Long): Unit = {
      // writer emits only the compact forms the NUMBER format allows
      if (v < 0x80) b(v.toInt)
      else if (v < 0x4000) { b(0x80 | (v >> 8).toInt); b((v & 0xff).toInt) }
      else {
        b(0xc0 | (v >> 16).toInt)
        b((v & 0xff).toInt); b(((v >> 8) & 0xff).toInt)
      }
    }
    // pack area = member bytes concatenated
    val packArea = new java.io.ByteArrayOutputStream()
    entries.foreach { case (_, data) => packArea.write(data) }
    val pack = packArea.toByteArray

    // header
    b(kHeader)
    b(kMainStreamsInfo)
    b(kPackInfo); num(0); num(entries.size)
    b(kSize); entries.foreach { case (_, d) => num(d.length.toLong) }
    b(kEnd) // ends PackInfo's property loop
    b(kUnpackInfo)
    b(kFolder); num(entries.size); b(0)
    entries.foreach { _ => num(1); b(0x01); b(0x00) } // 1 coder: Copy, id size 1
    b(kCodersUnpackSize); entries.foreach { case (_, d) => num(d.length.toLong) }
    b(kEnd) // ends UnpackInfo's property loop
    b(kEnd) // ends StreamsInfo
    b(kFilesInfo); num(entries.size)
    val names = new java.io.ByteArrayOutputStream()
    names.write(0) // internal names
    entries.foreach { case (n, _) =>
      n.foreach { ch => names.write(ch & 0xff); names.write((ch >> 8) & 0xff) }
      names.write(0); names.write(0)
    }
    b(kName); num(names.size().toLong); out.write(names.toByteArray)
    b(kEnd); b(kEnd)
    val header = out.toByteArray.drop(0)

    val crc32 = { val c = new CRC32(); c.update(header); c.getValue }
    val start = java.nio.ByteBuffer.allocate(20)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    start.putLong(pack.length.toLong).putLong(header.length.toLong)
      .putInt(crc32.toInt)
    val startBytes = start.array()
    val startCrc = { val c = new CRC32(); c.update(startBytes); c.getValue }
    val sig = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    sig.put(Signature).put(0.toByte).put(4.toByte).putInt(startCrc.toInt)
      .put(startBytes)
    val res = new java.io.ByteArrayOutputStream()
    res.write(sig.array())
    res.write(pack)
    res.write(header)
    res.toByteArray
  }

  /** Parse a 7z archive into its member entries (directories skipped,
    * empty files kept as zero-length entries, order = header order). */
  def entries(bytes: Array[Byte], maxEntries: Int = 10000,
      password: Option[String] = None): Vector[Entry] = {
    if (!isSevenZ(bytes)) throw new SevenZMalformed("not a 7z archive")
    val nextHeaderOffset = Endian.le64(bytes, 12)
    val nextHeaderSize = Endian.le64(bytes, 20)
    if (nextHeaderOffset < 0 || nextHeaderSize <= 0 ||
        32 + nextHeaderOffset + nextHeaderSize > bytes.length)
      throw new SevenZMalformed("bad next-header bounds")
    val hdrStart = (32 + nextHeaderOffset).toInt
    var r = new Reader(bytes, hdrStart, hdrStart + nextHeaderSize.toInt)

    def packedStreams(si: StreamsInfo): Vector[Vector[Array[Byte]]] = {
      // slice each folder's pack streams out of the pack area
      val base = 32 + si.packPos
      var off = base
      val all = si.packSizes.map { sz =>
        if (sz < 0 || off + sz > bytes.length)
          throw new SevenZMalformed("pack stream out of bounds")
        val a = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + sz).toInt)
        off += sz
        a
      }
      // distribute consecutively: folder i consumes packedIndices.length
      var idx = 0
      si.folders.map { f =>
        val n = f.packedIndices.length
        val slice = all.slice(idx, idx + n)
        idx += n
        slice
      }
    }

    var id = r.num()
    if (id == kEncodedHeader) {
      val si = parseStreamsInfo(r)
      if (si.folders.isEmpty) throw new SevenZMalformed("empty encoded header")
      val packs = packedStreams(si)
      val decoded = decodeFolder(si.folders(0), packs(0), password)
      r = new Reader(decoded, 0, decoded.length)
      id = r.num()
    }
    if (id != kHeader) throw new SevenZMalformed(s"unexpected header id $id")

    var streams: Option[StreamsInfo] = None
    var files: Option[FilesInfo] = None
    id = r.num()
    if (id == kArchiveProperties) {
      var p = r.num()
      while (p != kEnd) { r.skip(r.number()); p = r.num() }
      id = r.num()
    }
    if (id == kAdditionalStreamsInfo)
      throw new SevenZMalformed("additional streams unsupported")
    if (id == kMainStreamsInfo) {
      streams = Some(parseStreamsInfo(r))
      id = r.num()
    }
    if (id == kFilesInfo) {
      files = Some(parseFilesInfo(r))
      id = r.num()
    }
    if (id != kEnd)
      // a desynced property walk must fail loudly, not read as an
      // empty archive (parse_success with zero members)
      throw new SevenZMalformed(s"unexpected trailing header property $id")

    val fi = files.getOrElse(return Vector.empty)
    // unpack every folder and split into substreams in order
    val data: Vector[Array[Byte]] = streams match {
      case None => Vector.empty
      case Some(si) =>
        val packs = packedStreams(si)
        var total = 0L
        si.folders.indices.toVector.flatMap { i =>
          val folderOut = decodeFolder(si.folders(i), packs(i), password)
          total += folderOut.length
          if (total > OutBuf.MaxBytes) throw new graft.engine.ZipBombDetected
          var off = 0L
          si.substreamSizes(i).map { sz =>
            if (sz < 0 || off + sz > folderOut.length)
              throw new SevenZMalformed("substream out of bounds")
            val a = java.util.Arrays.copyOfRange(folderOut, off.toInt, (off + sz).toInt)
            off += sz
            a
          }
        }
    }

    val out = Vector.newBuilder[Entry]
    var streamIdx = 0
    var emitted = 0
    for (i <- 0 until fi.names.length if emitted < maxEntries) {
      if (!fi.emptyStream(i)) {
        if (streamIdx >= data.length)
          throw new SevenZMalformed("fewer substreams than files")
        out += Entry(fi.names(i), data(streamIdx))
        streamIdx += 1
        emitted += 1
      } else if (fi.emptyFile(i)) {
        out += Entry(fi.names(i), Array.emptyByteArray)
        emitted += 1
      } // else: directory — skipped, like PackageParser directory entries
    }
    out.result()
  }
}
