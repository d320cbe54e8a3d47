package graft.zipx

import java.io.ByteArrayInputStream
import java.util.zip.{GZIPInputStream, ZipInputStream}
import scala.collection.mutable.ArrayBuffer
import graft.core.Endian.{le16, le32}
import graft.core.OutBuf

/** In-row ZIP / gzip access over byte-array payloads.
  *
  * Reference: tika-parsers .../pkg/ZipParser.java:221-250 opens an
  * archive through its central directory (ZipFile) and streams only when
  * that fails (SURVEY.md §2.6 "order = central-directory order").
  *
  * Every public call goes through one [[read]] with one policy: a
  * complete central directory is read directly ([[cenEntries]]), so
  * members the call does not pick are never inflated; an archive whose
  * central directory is missing or incomplete is streamed ([[streamed]]);
  * when the stream breaks too, the records the central directory does
  * hold are read. Names and members come from the same view, so
  * detection (`entryNames`) and extraction see one member list.
  */
object ZipUtil {

  final case class Entry(name: String, data: Array[Byte], compressedSize: Long)

  /** Full walk result: decoded entries plus the names of entries that
    * stayed encrypted (no/wrong password). The reference surfaces each
    * such member as an EncryptedDocumentException embedded-stream
    * exception (ZipParserTest.testZipEncrypted) while the rest of the
    * archive still extracts.
    */
  final case class Walk(entries: Vector[Entry], encrypted: Vector[String])

  /** Decompressed-bytes ceiling of one member. */
  val MaxEntryBytes: Int = 64 * 1024 * 1024

  /** Aggregate decompressed-bytes budget across all the members one call
    * buffers. CEN records may all point at the same (or overlapping)
    * local data, so per-entry caps alone let a ~70 KB crafted archive
    * with 65535 CEN entries × 64 MB claims inflate terabytes; past this
    * budget the read aborts as a detected bomb.
    */
  val MaxTotalBytes: Long = OutBuf.MaxBytes

  /** Every file member with its decompressed bytes. */
  def entries(zipBytes: Array[Byte]): Vector[Entry] =
    walk(zipBytes, None).entries

  /** Crypto-aware walk: decrypts traditional-PKWARE (ZipCrypto) and
    * WinZip-AES (method 99, AE-1/AE-2) entries when `password` is
    * supplied; entries that stay encrypted are reported by name instead
    * of silently dropped.
    */
  def walk(zipBytes: Array[Byte], password: Option[String]): Walk =
    read(zipBytes, !_.endsWith("/"), first = false, password)

  /** Entries decompressed into a name-indexed map in ONE pass —
    * multi-part formats (OOXML/ODF) read 5-7 parts, and per-part
    * `entry()` lookups would rescan the archive each time. `keep`
    * filters by name so embedded media blobs (which OOXML text
    * extraction never reads) are neither inflated nor buffered — a .pptx
    * full of 50 MB images must not pin gigabytes per task. The first
    * member of a name wins.
    */
  def entriesMap(zipBytes: Array[Byte],
      keep: String => Boolean = _ => true): Map[String, Array[Byte]] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Array[Byte]]()
    for (e <- read(zipBytes, n => !n.endsWith("/") && keep(n), first = false, None).entries
        if !out.contains(e.name)) out(e.name) = e.data
    out.toMap
  }

  /** The parts OOXML/ODF text extraction can actually read. */
  val XmlParts: String => Boolean =
    n => n.endsWith(".xml") || n.endsWith(".rels") || n == "mimetype"

  /** Read one named entry (first match) without decompressing the rest. */
  def entry(zipBytes: Array[Byte], name: String): Option[Array[Byte]] =
    read(zipBytes, _ == name, first = true, None).entries.headOption.map(_.data)

  /** Every member name of the view the member calls read, directories and
    * encrypted members included, in order. An archive with neither a
    * usable central directory nor an unbroken stream lists the names
    * streamed before the break. Nothing is inflated.
    */
  def entryNames(zipBytes: Array[Byte]): Vector[String] = {
    val seen = new ArrayBuffer[String]()
    try read(zipBytes, _ => false, first = false, None, seen)
    catch { case _: Exception => () }
    seen.toVector
  }

  /** The one read. `keep` sees every member name of the view read and
    * picks the members to decode; `first` stops at the first one decoded;
    * `seen` collects the names of the view. Each decoded member may
    * inflate to [[MaxEntryBytes]], all of them together to
    * [[MaxTotalBytes]]; past either the read aborts as a detected bomb.
    * Throws when the stream breaks and there is no end-of-central-
    * directory record.
    */
  private def read(b: Array[Byte], keep: String => Boolean, first: Boolean,
      password: Option[String],
      seen: ArrayBuffer[String] = new ArrayBuffer[String]()): Walk = {
    val cd = try centralDirectory(b) catch { case _: Exception => null }
    if (cd != null && cd.complete) cenEntries(b, cd, keep, first, password, seen)
    else streamed(b, keep, first, seen).map(Walk(_, Vector.empty)).getOrElse {
      val lenient = if (cd != null) cd else centralDirectory(b)
      seen.clear()
      cenEntries(b, lenient, keep, first, password, seen)
    }
  }

  /** The streaming member loop; None when the stream broke. */
  private def streamed(b: Array[Byte], keep: String => Boolean,
      first: Boolean, seen: ArrayBuffer[String]): Option[Vector[Entry]] = {
    val out = new ArrayBuffer[Entry]()
    var total = 0L
    val zin = new ZipInputStream(new ByteArrayInputStream(b))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        seen += e.getName
        if (keep(e.getName)) {
          val data = readBounded(zin, MaxEntryBytes, math.max(0L, e.getSize))
          total += data.length
          if (total > MaxTotalBytes) throw new graft.engine.ZipBombDetected
          out += Entry(e.getName, data, e.getCompressedSize)
        }
        e = if (first && out.nonEmpty) null else zin.getNextEntry
      }
      Some(out.toVector)
    } catch {
      case x: graft.engine.ZipBombDetected => throw x
      case _: Exception => None
    } finally zin.close()
  }

  /** One central-directory record at offset `at`. The name and the zip64
    * sizes are decoded on first use, so records a read does not pick do
    * not pay for their sizes. */
  private final class Record(b: Array[Byte], val at: Int) {
    val flags: Int = le16(b, at + 8)
    val nameLen: Int = le16(b, at + 28)
    val extraLen: Int = le16(b, at + 30)
    def next: Int = at + 46 + nameLen + extraLen + le16(b, at + 32)
    lazy val nameBytes: Array[Byte] =
      java.util.Arrays.copyOfRange(b, at + 46, at + 46 + nameLen)
    lazy val name: String = decodeName(flags, nameBytes)

    /** The zip64 extended-info extra field (id 0x0001) overrides each
      * field stored as 0xFFFFFFFF. */
    def sizes: Sizes = {
      var compSize = le32(b, at + 20)
      var uncompSize = le32(b, at + 24)
      var localOff = le32(b, at + 42)
      var xp = at + 46 + nameLen
      val xEnd = xp + extraLen
      while (xp + 4 <= xEnd) {
        val id = le16(b, xp); val sz = le16(b, xp + 2)
        if (id == 0x0001) {
          var fp = xp + 4
          if (uncompSize == 0xffffffffL && fp + 8 <= xEnd) {
            uncompSize = le32(b, fp); fp += 8
          }
          if (compSize == 0xffffffffL && fp + 8 <= xEnd) {
            compSize = le32(b, fp); fp += 8
          }
          if (localOff == 0xffffffffL && fp + 8 <= xEnd) {
            localOff = le32(b, fp); fp += 8
          }
        }
        xp += 4 + sz
      }
      Sizes(uncompSize, compSize, localOff)
    }
  }

  private final case class Sizes(uncomp: Long, comp: Long, localOff: Long)

  /** The records read, whether they are every declared record with each
    * name inside the bytes, and the prepended-prefix shift. */
  private final case class CentralDirectory(records: Vector[Record],
      complete: Boolean, shift: Long)

  /** The one central-directory record walk. Resolves the start (classic
    * EOCD, the zip64 locator/EOCD64 override and the SFX-prefix shift
    * heuristic), then reads records while their signatures hold, up to
    * the declared count. Throws when there is no end-of-central-directory
    * record.
    */
  private def centralDirectory(b: Array[Byte]): CentralDirectory = {
    val eocd = findEocd(b)
    if (eocd < 0) throw new IllegalStateException("no end-of-central-directory")
    var cdOff = le32(b, eocd + 16)
    var total = le16(b, eocd + 10)
    // zip64: locator (PK\6\7) directly precedes the EOCD
    var cdSize = le32(b, eocd + 12)
    var cdEndAnchor = eocd.toLong // where the central directory must end
    if ((cdOff == 0xffffffffL || total == 0xffff) && eocd >= 20 &&
        b(eocd - 20) == 'P' && b(eocd - 19) == 'K' &&
        b(eocd - 18) == 6 && b(eocd - 17) == 7) {
      val eocd64 = le32(b, eocd - 12).toInt // low half is enough in-row
      if (eocd64 >= 0 && eocd64 + 56 <= b.length &&
          b(eocd64) == 'P' && b(eocd64 + 1) == 'K' &&
          b(eocd64 + 2) == 6 && b(eocd64 + 3) == 6) {
        total = le32(b, eocd64 + 32).toInt
        cdSize = le32(b, eocd64 + 40)
        cdOff = le32(b, eocd64 + 48)
        // with zip64 the CD is followed by the zip64 EOCD, not the
        // classic one -- anchor the prefix-shift heuristic there
        cdEndAnchor = eocd64.toLong
      }
    }
    // archives with prepended bytes (SFX stubs, crafted offsets) shift
    // every stored offset by the prefix length: anchor - (cdOff+cdSize)
    val shift = math.max(0L, cdEndAnchor - (cdOff + cdSize))
    val out = new ArrayBuffer[Record]()
    var namesFit = true
    var p = (cdOff + shift).toInt
    while (out.length < total && p + 46 <= b.length &&
        b(p) == 'P' && b(p + 1) == 'K' && b(p + 2) == 1 && b(p + 3) == 2) {
      val r = new Record(b, p)
      namesFit &&= p + 46 + r.nameLen <= b.length
      out += r
      p = r.next
    }
    CentralDirectory(out.toVector, out.length == total && namesFit, shift)
  }

  private lazy val cp437Charset: java.nio.charset.Charset =
    try java.nio.charset.Charset.forName("IBM437")
    catch { case _: Exception => java.nio.charset.StandardCharsets.ISO_8859_1 }

  /** CEN entry-name decode: UTF-8 when GP bit 11 says so; otherwise
    * sniffed multi-byte charsets (GBK/Big5/SJIS names are common in
    * real archives and carry no flag), cp437 per APPNOTE as the
    * fallback.
    */
  private def decodeName(flags: Int, nameBytes: Array[Byte]): String =
    if ((flags & 0x800) != 0)
      new String(nameBytes, java.nio.charset.StandardCharsets.UTF_8)
    else graft.mime.MbCharsets.detect(nameBytes, nameBytes.length) match {
      case Some(cs) => new String(nameBytes, cs)
      case None => new String(nameBytes, cp437Charset)
    }

  private def findEocd(b: Array[Byte]): Int = {
    // EOCD (PK\5\6) sits within the last 64 KB + 22 bytes
    val lo = math.max(0, b.length - 65557)
    var i = b.length - 22
    while (i >= lo) {
      if (b(i) == 'P' && b(i + 1) == 'K' && b(i + 2) == 5 && b(i + 3) == 6)
        return i
      i -= 1
    }
    -1
  }

  /** Decode one entry's compressed payload by zip method. Returns null
    * on unsupported method or decode failure (callers drop the entry,
    * matching the streaming reader's behavior on undecodable data).
    */
  private def decodeMethod(src: Array[Byte], off: Int, len: Int, method: Int,
      uncompSize: Int, flags: Int): Array[Byte] = method match {
    case 0 => java.util.Arrays.copyOfRange(src, off, off + len)
    case 8 =>
      // inflate errors PROPAGATE (like the pre-crypto walk): a corrupt
      // deflate stream in a plain archive must surface as a recorded
      // zip-read exception, not a silently missing entry; the decrypted
      // call site catches and reports the member as encrypted instead.
      // The declared size bounds the output; a member that inflates to
      // less (over-declared, or truncated) returns only what inflated
      val out = new OutBuf(uncompSize, uncompSize)
      out.inflate(src, off, len, raw = true)
      out.result
    // legacy PKZIP methods (reference: commons-compress
    // Unshrinking/ExplodingInputStream; ZipParserTest moby.zip)
    case 1 =>
      try graft.pkgx.ZipLegacy.unshrink(src, off, len, uncompSize)
      catch { case _: Exception => null }
    case 6 =>
      try graft.pkgx.ZipLegacy.explode(src, off, len, uncompSize, flags)
      catch { case _: Exception => null }
    // modern alternate codecs the reference reads via commons-compress
    // (ZipFile supports bzip2/LZMA/zstd/XZ members); each routes to the
    // in-tree interop-validated decoder
    case 12 => // bzip2
      try {
        val d = graft.pkgx.Bzip2.decompress(
          java.util.Arrays.copyOfRange(src, off, off + len))
        if (d.length == uncompSize) d else null
      } catch { case _: Exception => null }
    case 14 => // LZMA: version u16, propsSize u16, props (1+4), raw stream
      try {
        if (len < 9) null
        else {
          val propsSize = le16(src, off + 2)
          if (propsSize < 5 || 4 + propsSize > len) null
          else graft.pkgx.Lzma2.decodeLzma1(src(off + 4) & 0xff, src,
            off + 4 + propsSize, len - 4 - propsSize, uncompSize)
        }
      } catch { case _: Exception => null }
    case 93 => // zstd
      try {
        val d = graft.pkgx.Zstd.decompress(
          java.util.Arrays.copyOfRange(src, off, off + len))
        if (d.length == uncompSize) d else null
      } catch { case _: Exception => null }
    case 95 => // xz (full container)
      try {
        val d = graft.pkgx.Xz.decompress(
          java.util.Arrays.copyOfRange(src, off, off + len))
        if (d.length == uncompSize) d else null
      } catch { case _: Exception => null }
    case _ => null // unsupported method
  }

  /** Traditional PKWARE ("ZipCrypto") decryption — APPNOTE.TXT §6.1:
    * three rolling keys seeded from the password via CRC-32 steps, a
    * 12-byte encryption header whose last byte must match the check
    * byte (CRC high byte, or DOS-time high byte when GP bit 3 means the
    * CRC was unknown at write time). Returns null on check-byte
    * mismatch (wrong password).
    */
  private def zipCryptoDecrypt(src: Array[Byte], off: Int, len: Int,
      password: String, crc: Long, dosTime: Int, flags: Int): Array[Byte] = {
    if (len < 12) return null
    val crcTab = zcCrcTable
    var k0 = 0x12345678
    var k1 = 0x23456789
    var k2 = 0x34567890
    @inline def crc32step(k: Int, b: Int): Int =
      (k >>> 8) ^ crcTab((k ^ b) & 0xff)
    @inline def update(ch: Int): Unit = {
      k0 = crc32step(k0, ch)
      k1 = (k1 + (k0 & 0xff)) * 134775813 + 1
      k2 = crc32step(k2, k1 >>> 24)
    }
    @inline def decByte(): Int = {
      val tmp = (k2 | 2) & 0xffff
      ((tmp * (tmp ^ 1)) >> 8) & 0xff
    }
    val pw = password.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    var i = 0
    while (i < pw.length) { update(pw(i) & 0xff); i += 1 }
    val out = new Array[Byte](len - 12)
    i = 0
    var last = 0
    while (i < len) {
      val c = (src(off + i) & 0xff) ^ decByte()
      update(c)
      if (i >= 12) out(i - 12) = c.toByte else last = c
      i += 1
    }
    // header byte 11 is the check byte (APPNOTE: CRC>>24, or with GP
    // bit 3 the high byte of the DOS mod-time — Info-ZIP convention)
    val expect =
      if ((flags & 0x8) != 0) (dosTime >>> 8) & 0xff else ((crc >>> 24) & 0xff).toInt
    if (last != expect) null else out
  }

  private lazy val zcCrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var n = 0
    while (n < 256) {
      var c = n
      var k = 0
      while (k < 8) { c = if ((c & 1) != 0) 0xedb88320 ^ (c >>> 1) else c >>> 1; k += 1 }
      t(n) = c
      n += 1
    }
    t
  }

  /** WinZip AES (method 99, extra field 0x9901, AE-1/AE-2): PBKDF2-HMAC-
    * SHA1 (1000 iterations) over salt‖password → AES key + HMAC-SHA1 key
    * + 2-byte password verifier; payload = salt ‖ verifier ‖ ciphertext ‖
    * 10-byte HMAC tag; AES runs in CTR mode with a little-endian counter
    * starting at 1. Returns (stillCompressedPlaintext, actualMethod) or
    * null on wrong password / failed authentication. Public WinZip AES
    * spec (AES Coding Rules for WinZip) — NOT reference code.
    */
  private def winzipAesDecrypt(src: Array[Byte], off: Int, len: Int,
      password: String, extra: Array[Byte]): (Array[Byte], Int) = {
    // locate the 0x9901 extra block: version(2) vendor(2) strength(1) method(2)
    var xp = 0
    var strength = -1
    var actualMethod = -1
    while (xp + 4 <= extra.length) {
      val id = le16(extra, xp); val sz = le16(extra, xp + 2)
      if (id == 0x9901 && sz >= 7 && xp + 4 + 7 <= extra.length) {
        strength = extra(xp + 8) & 0xff
        actualMethod = le16(extra, xp + 9)
      }
      xp += 4 + sz
    }
    if (strength < 1 || strength > 3) return null
    val saltLen = 4 + 4 * strength  // 8 / 12 / 16
    val keyLen = 8 + 8 * strength   // 16 / 24 / 32
    if (len < saltLen + 2 + 10) return null
    val salt = java.util.Arrays.copyOfRange(src, off, off + saltLen)
    val verifier = java.util.Arrays.copyOfRange(src, off + saltLen, off + saltLen + 2)
    val ctOff = off + saltLen + 2
    val ctLen = len - saltLen - 2 - 10
    val auth = java.util.Arrays.copyOfRange(src, off + len - 10, off + len)
    val skf = javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA1")
    val dk = skf.generateSecret(new javax.crypto.spec.PBEKeySpec(
      password.toCharArray, salt, 1000, (2 * keyLen + 2) * 8)).getEncoded
    if (dk(2 * keyLen) != verifier(0) || dk(2 * keyLen + 1) != verifier(1))
      return null // wrong password
    val mac = javax.crypto.Mac.getInstance("HmacSHA1")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      java.util.Arrays.copyOfRange(dk, keyLen, 2 * keyLen), "HmacSHA1"))
    mac.update(src, ctOff, ctLen)
    val tag = mac.doFinal()
    var d = 0
    var i = 0
    while (i < 10) { d |= (tag(i) ^ auth(i)); i += 1 }
    if (d != 0) return null // authentication failed (wrong pw edge / tamper)
    // AES-CTR with little-endian counter starting at 1 (Java's CTR
    // increments big-endian, so run ECB over hand-built counter blocks)
    val aes = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    aes.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(
        java.util.Arrays.copyOfRange(dk, 0, keyLen), "AES"))
    val out = new Array[Byte](ctLen)
    val ctr = new Array[Byte](16)
    var counter = 1L
    var o = 0
    while (o < ctLen) {
      var j = 0
      while (j < 8) { ctr(j) = ((counter >>> (8 * j)) & 0xff).toByte; j += 1 }
      val ks = aes.doFinal(ctr)
      val n = math.min(16, ctLen - o)
      j = 0
      while (j < n) { out(o + j) = (src(ctOff + o + j) ^ ks(j)).toByte; j += 1 }
      counter += 1
      o += n
    }
    (out, actualMethod)
  }

  /** Central-directory member read: entry metadata from CEN records
    * (sizes are authoritative there even with data descriptors), payload
    * at the local header's data offset, inflated directly. Only the
    * members `keep` picks are charged and decoded; a picked plain member
    * that declares more than [[MaxEntryBytes]] is a detected bomb.
    * Encrypted entries decrypt when `password` matches (ZipCrypto /
    * WinZip AES); the rest are reported in `Walk.encrypted`.
    */
  private def cenEntries(b: Array[Byte], cd: CentralDirectory,
      keep: String => Boolean, first: Boolean, password: Option[String],
      seen: ArrayBuffer[String]): Walk = {
    val shift = cd.shift
    val out = new ArrayBuffer[Entry]()
    val encNames = new ArrayBuffer[String]()
    var totalOut = 0L
    val picked = cd.records.iterator.takeWhile(_ => !(first && out.nonEmpty))
      .filter { r => seen += r.name; keep(r.name) }
    for (r <- picked) {
      val p = r.at
      val flags = r.flags
      val method = le16(b, p + 10)
      val sizes = r.sizes
      val uncompSize = sizes.uncomp
      val compSize = sizes.comp
      val localOff = sizes.localOff
      val nameLen = r.nameLen
      val extraLen = r.extraLen
      val nameBytes = r.nameBytes
      val name = r.name
      val encrypted = (flags & 0x1) != 0
      var entryAdded = false
      if (!encrypted && uncompSize > MaxEntryBytes) throw new graft.engine.ZipBombDetected
      if ((!encrypted || password.isDefined) &&
          uncompSize <= MaxEntryBytes && compSize <= b.length) {
        // aggregate budget BEFORE allocating: overlapping CEN entries can
        // each claim MaxEntryBytes, so the per-entry cap alone is not
        // enough (advice r3) — charge the claimed size up front
        totalOut += uncompSize
        if (totalOut > MaxTotalBytes) throw new graft.engine.ZipBombDetected
        // stored offsets drift in real archives (prepended prefixes; CEN
        // written without the data-descriptor bytes — the reference's
        // integrity-check fixture does exactly this). Verify the local
        // header actually carries THIS entry's name; when it doesn't,
        // resync by scanning forward for the matching local header. When
        // no header matches (a damaged signature or name), read at the
        // record's offset and take only the name and extra lengths from
        // there, as commons-compress ZipFile does.
        def localMatches(o: Long): Boolean = {
          if (o < 0 || o + 30 + nameLen > b.length) return false
          val oi = o.toInt
          if (!(b(oi) == 'P' && b(oi + 1) == 'K' && b(oi + 2) == 3 &&
                b(oi + 3) == 4)) return false
          if ((le16(b, oi + 26)) != nameLen) return false
          var k = 0
          while (k < nameLen) {
            if (b(oi + 30 + k) != nameBytes(k)) return false
            k += 1
          }
          true
        }
        var loL = -1L
        if (localMatches(localOff)) loL = localOff
        else if (localMatches(localOff + shift)) loL = localOff + shift
        else {
          var scan = localOff
          val limit = math.min(b.length.toLong - 4, localOff + 65536)
          while (loL < 0 && scan <= limit) {
            if (localMatches(scan)) loL = scan
            scan += 1
          }
          val at = localOff + shift
          if (loL < 0 && at >= 0 && at + 30 <= b.length) loL = at
        }
        val lo = loL.toInt
        if (loL >= 0) {
          val lNameLen = le16(b, lo + 26)
          val lExtraLen = le16(b, lo + 28)
          val dataOff = lo + 30 + lNameLen + lExtraLen
          if (dataOff + compSize <= b.length) {
            val cenCrc = le32(b, p + 16)
            var crcGate = method == 1 || method == 6 || method == 12 ||
              method == 14 || method == 93 || method == 95
            var data: Array[Byte] =
              if (!encrypted)
                decodeMethod(b, dataOff, compSize.toInt, method,
                  uncompSize.toInt, flags)
              else {
                val pw = password.get
                val plain: (Array[Byte], Int) =
                  if (method == 99) {
                    // AES extra field: prefer the central record, fall
                    // back to the local header's copy
                    val cenExtra = java.util.Arrays.copyOfRange(
                      b, p + 46 + nameLen, p + 46 + nameLen + extraLen)
                    val locExtra = java.util.Arrays.copyOfRange(
                      b, lo + 30 + lNameLen, lo + 30 + lNameLen + lExtraLen)
                    val viaCen =
                      try winzipAesDecrypt(b, dataOff, compSize.toInt, pw, cenExtra)
                      catch { case _: Exception => null }
                    if (viaCen != null) viaCen
                    else try winzipAesDecrypt(b, dataOff, compSize.toInt, pw, locExtra)
                    catch { case _: Exception => null }
                  } else if ((flags & 0x40) == 0) {
                    // traditional PKWARE stream cipher; GP bit 6 would
                    // mean PKWARE strong encryption (SES) — unsupported
                    val dosTime = le16(b, p + 12)
                    val d = zipCryptoDecrypt(b, dataOff, compSize.toInt, pw,
                      cenCrc, dosTime, flags)
                    if (d == null) null else (d, method)
                  } else null
                if (plain == null) { encNames += name; null }
                else {
                  // decrypted payloads are always CRC-gated when the CEN
                  // carries a real CRC (AE-2 writes 0 — HMAC covers it);
                  // a decode failure here means wrong-password garbage,
                  // reported as a still-encrypted member, not an abort
                  crcGate = cenCrc != 0
                  try decodeMethod(plain._1, 0, plain._1.length, plain._2,
                    uncompSize.toInt, flags)
                  catch { case _: Exception => null }
                }
              }
            if (data != null && crcGate) {
              val crc = new java.util.zip.CRC32()
              crc.update(data)
              if (crc.getValue != cenCrc) data = null
            }
            if (data != null) { out += Entry(name, data, compSize); entryAdded = true }
          }
        }
      }
      // an encrypted member that produced nothing — wrong password, bad
      // offsets, oversized claims, unresolvable local header — is always
      // reported, so no password value can silently lose members
      if (encrypted && !entryAdded && !encNames.contains(name)) encNames += name
    }
    Walk(out.toVector, encNames.toVector)
  }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
    try readBounded(in, MaxEntryBytes) finally in.close()
  }

  /** `sizeHint` (the entry's declared uncompressed size when known)
    * presizes the output buffer so typical members avoid the
    * doubling-regrowth copies; a lying header only costs the usual
    * growth path, the bomb budget still gates `total`.
    */
  private def readBounded(in: java.io.InputStream, max: Int,
      sizeHint: Long = 0L): Array[Byte] = {
    val hint = math.min(math.max(sizeHint, 64L), math.min(max.toLong, 1L << 20)).toInt
    val out = new java.io.ByteArrayOutputStream(hint)
    val buf = new Array[Byte](32768)
    var total = 0
    var n = in.read(buf)
    while (n >= 0) {
      total += n
      if (total > max) throw new graft.engine.ZipBombDetected
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }
}

/** OPC (OOXML) container specialization of application/zip.
  *
  * Reference: tika-parsers .../detect/microsoft/ooxml/OPCPackageDetector
  * .java:60-200 — open the package, inspect `[Content_Types].xml` /
  * `_rels/.rels`, map the core-document content type to DOCX/XLSX/PPTX.
  * We probe entry names first (cheap) and read `[Content_Types].xml` only
  * when the package looks like OPC.
  */
object OpcDetector {
  import graft.mime.MediaTypes._

  def specialize(zipBytes: Array[Byte],
      nameHint: Option[String] = None): String = {
    val names = ZipUtil.entryNames(zipBytes)
    // ODF/EPUB carry a "mimetype" entry — conformant files put it first
    // and uncompressed, but real ones stray (ZipContainerDetector reads
    // it wherever it sits)
    if (names.contains("mimetype")) {
      val mt = ZipUtil.entry(zipBytes, "mimetype")
        .map(b => new String(b, java.nio.charset.StandardCharsets.US_ASCII).trim)
        .getOrElse("")
      mt match {
        case Odt | Ods | Odp | Epub => return mt
        case "application/vnd.adobe.indesign-idml-package" => return mt
        case _ => ()
      }
    }
    // XLZ is detected by glob only (reference: XLZParser has no magic;
    // a zip merely containing .xlf members must stay a plain zip so its
    // non-xlf siblings go through normal recursion)
    // iWork '09 packages: index.apxl = Keynote; index.xml's root element
    // distinguishes Pages from Numbers (iWorkPackageParser semantics)
    // iWork '13+ (IWork13PackageParser.IWORK13_COMMON_ENTRY): slide iwa
    // names mean Keynote, else the resource-name extension decides
    if (Iwork13Extractor.isIwork13(names))
      return Iwork13Extractor.subtype(names, nameHint)
    if (names.exists(n => n == "index.apxl" || n == "index.apxl.gz"))
      return "application/vnd.apple.keynote"
    if (names.contains("index.xml") &&
        !names.exists(n => n == "[Content_Types].xml" || n == "_rels/.rels")) {
      val head = ZipUtil.entry(zipBytes, "index.xml")
        .map(b => new String(b, 0, math.min(b.length, 512),
          java.nio.charset.StandardCharsets.UTF_8)).getOrElse("")
      if (head.contains("<sl:document")) return "application/vnd.apple.pages"
      if (head.contains("<ls:document")) return "application/vnd.apple.numbers"
      if (head.contains("<key:presentation")) return "application/vnd.apple.keynote"
    }
    // Frictionless data packages / WACZ web archives
    // (FrictionlessPackageDetector.java:75-106): datapackage.json is
    // required for both; archive/ members (or indexes/ + pages/) make it
    // a WACZ, a lone datapackage.json is a plain data package.
    if (names.contains("datapackage.json")) {
      val archive = names.exists(_.startsWith("archive/"))
      val indexes = names.exists(_.startsWith("indexes/"))
      val pages = names.exists(_.startsWith("pages/"))
      if (archive || (indexes && pages)) return graft.mime.MimeDb.Wacz
      // a lone WACZ part alongside the package stays a plain zip,
      // matching the reference's parts.size()==1 rule
      if (!indexes && !pages) return graft.mime.MimeDb.DataPackageZip
    }
    if (!names.exists(n => n == "[Content_Types].xml" || n == "_rels/.rels")) Zip
    else {
      // XPS/OpenXPS: a fixed-document-sequence part marks the package
      // (OPCPackageDetector.java:102-105,147,172-178 resolves the
      // fixedrepresentation relationship; the .fdseq part name is the
      // cheap equivalent — both XPS and OpenXPS packages carry one)
      if (names.exists(_.endsWith(".fdseq"))) Xps
      // 3MF: root relationship targets the 3D model part
      // (OPCPackageDetector.java:189-194 THREE_MF_DOCUMENT rel; the
      // conventional part name is the cheap equivalent)
      else if (names.contains("3D/3dmodel.model") ||
        ZipUtil.entry(zipBytes, "_rels/.rels").exists(b =>
          new String(b, java.nio.charset.StandardCharsets.UTF_8)
            .contains("3dmanufacturing/2013/01/3dmodel")))
        graft.mime.MimeDb.ThreeMf
      // Visio OOXML: subtype from the main-part content type
      // (OPCPackageDetector.java:128-145 OOXML_CONTENT_TYPES)
      else if (names.exists(_.startsWith("visio/document"))) {
        val ct = ZipUtil.entry(zipBytes, "[Content_Types].xml")
          .map(b => new String(b, java.nio.charset.StandardCharsets.UTF_8))
          .getOrElse("")
        // all-lowercase like the reference (MediaType normalizes;
        // OOXMLParserTest asserts "...macroenabled.12")
        if (ct.contains("visio.drawing.macroEnabled.main"))
          "application/vnd.ms-visio.drawing.macroenabled.12"
        else if (ct.contains("visio.template.macroEnabled.main"))
          "application/vnd.ms-visio.template.macroenabled.12"
        else if (ct.contains("visio.stencil.macroEnabled.main"))
          "application/vnd.ms-visio.stencil.macroenabled.12"
        else if (ct.contains("visio.template.main"))
          "application/vnd.ms-visio.template"
        else if (ct.contains("visio.stencil.main"))
          "application/vnd.ms-visio.stencil"
        else "application/vnd.ms-visio.drawing"
      }
      // entry-name shortcut (OOXML_HINTS, OPCPackageDetector.java:93-100)
      else if (names.exists(_.startsWith("word/document"))) Docx
      // binary workbook (MS-XLSB) before the generic xl/workbook match
      else if (names.contains("xl/workbook.bin")) Xlsb
      else if (names.exists(_.startsWith("xl/workbook"))) Xlsx
      else if (names.exists(_.startsWith("ppt/presentation"))) Pptx
      else {
        // fall back to [Content_Types].xml override scan
        ZipUtil.entry(zipBytes, "[Content_Types].xml").map { ct =>
          val s = new String(ct, java.nio.charset.StandardCharsets.UTF_8)
          if (s.contains("wordprocessingml.document.main")) Docx
          else if (s.contains("spreadsheetml.sheet.main")) Xlsx
          else if (s.contains("presentationml.presentation.main")) Pptx
          else TikaOoxml
        }.getOrElse(TikaOoxml)
      }
    }
  }
}
