package graft.pkgx

import java.nio.charset.StandardCharsets
import graft.core.OutBuf
import graft.core.Endian.{le16, le16Bytes, le32, le32Bytes}

/** RAR archive header walk (RAR 4.x and RAR 5.x container formats).
  *
  * Reference behavior: tika-parsers pkg-module `RarParser.java` extracts
  * entries via the junrar library. The container framing below is from
  * the public format notes (RARLAB technote / rar5 file-format
  * description): entry names and sizes always surface as metadata,
  * STORED (uncompressed) entries extract directly, and version-29
  * RAR3 entries — LZ blocks, PPMd-vH blocks ([[PpmdH]]), and the
  * standard RarVM filters — decode through [[Rar29]] (from-scratch,
  * public format knowledge only), with solid groups (plain OR
  * -p/-hp-encrypted: per-member decryption feeds the same chain)
  * decoded through a shared [[Rar29.Stream]]; RAR 5.0 entries
  * decompress through [[Rar50]]. Non-standard VM programs remain a
  * declared exclusion recorded per entry as unsupported; encrypted
  * entries decrypt when the password is supplied and are flagged
  * otherwise.
  */
object RarUtil {

  final class RarMalformed(msg: String) extends Exception(msg)

  /** name, unpacked size, stored payload (None when compressed), and
    * whether the entry (or the whole header area) is encrypted. */
  final case class Entry(name: String, unpSize: Long,
      stored: Option[Array[Byte]], encrypted: Boolean)

  final case class Archive(entries: Vector[Entry], headersEncrypted: Boolean)

  def isRar4(b: Array[Byte]): Boolean =
    b.length > 7 && b(0) == 'R' && b(1) == 'a' && b(2) == 'r' &&
      b(3) == '!' && b(4) == 0x1a && b(5) == 0x07 && b(6) == 0x00

  def isRar5(b: Array[Byte]): Boolean =
    b.length > 8 && b(0) == 'R' && b(1) == 'a' && b(2) == 'r' &&
      b(3) == '!' && b(4) == 0x1a && b(5) == 0x07 && b(6) == 0x01 &&
      b(7) == 0x00

  def parse(b: Array[Byte], password: Option[String] = None): Archive =
    if (isRar4(b)) parse4(b, password)
    else if (isRar5(b)) parse5(b, password)
    else throw new RarMalformed("not a RAR archive")

  // --- RAR 4.x --------------------------------------------------------

  private val MhdPassword = 0x0080 // main header: encrypted block headers
  private val FhdSplitBefore = 0x01
  private val FhdPassword = 0x04
  private val FhdSolid = 0x10
  private val FhdLargeFile = 0x100
  private val FhdUnicode = 0x200
  private val FhdSalt = 0x400

  private def parse4(b: Array[Byte], password: Option[String]): Archive = {
    var p = 7
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
    // deferred v29 decodes: solid entries share one Rar29.Stream whose
    // input must hold every segment of the group before decoding, so
    // the walk only records jobs and the decode runs after it
    val jobs = scala.collection.mutable.ArrayBuffer.empty[V29Job]
    def runJobs(): Unit = runV29Jobs(b, out, jobs)
    var count = 0
    var headersEncrypted = false
    while (p + 7 <= b.length && count < 100000) {
      count += 1
      val htype = b(p + 2) & 0xff
      val flags = le16(b, p + 3)
      val size = le16(b, p + 5)
      if (size < 7) throw new RarMalformed("bad RAR4 block size")
      var add = 0L
      htype match {
        case 0x73 => // main header
          if ((flags & MhdPassword) != 0) {
            headersEncrypted = true
            // -hp mode: everything past the main header is encrypted
            // (8-byte salt before each header). With a password we walk
            // the decrypted headers; otherwise entries stay opaque.
            password.foreach { pwd =>
              parse4Encrypted(b, p + size, pwd, out, jobs)
            }
            runJobs()
            return Archive(out.toVector, headersEncrypted)
          }
        case 0x74 => // file header
          if (p + 32 > b.length) throw new RarMalformed("truncated file header")
          var packSize = le32(b, p + 7)
          var unpSize = le32(b, p + 11)
          val fileCrc = le32(b, p + 16)
          val method = b(p + 25) & 0xff
          val nameLen = le16(b, p + 26)
          var nameOff = p + 32
          if ((flags & FhdLargeFile) != 0) {
            if (p + 40 > b.length) throw new RarMalformed("truncated high sizes")
            packSize |= le32(b, p + 32) << 32
            unpSize |= le32(b, p + 36) << 32
            nameOff += 8
          }
          if (nameOff + nameLen > b.length)
            throw new RarMalformed("name overruns archive")
          val rawName = java.util.Arrays.copyOfRange(b, nameOff,
            nameOff + nameLen)
          val name = decodeName4(rawName, (flags & FhdUnicode) != 0)
          val enc = (flags & FhdPassword) != 0
          val unpVer = b(p + 24) & 0xff
          val solid = (flags & FhdSolid) != 0
          val dataOff = p + size
          val dataOk = (flags & FhdSplitBefore) == 0 && !enc &&
            dataOff + packSize <= b.length && packSize <= Int.MaxValue
          val stored =
            if (method == 0x30 && dataOk && packSize == unpSize)
              Some(java.util.Arrays.copyOfRange(b, dataOff,
                (dataOff + packSize).toInt))
            else if (method != 0x30 && dataOk && unpVer == 29) {
              // version-29 decode (LZ + PPMd blocks, solid groups);
              // non-standard VM programs / corrupt streams fall back
              // to the unsupported record. Decoded after the walk —
              // see runJobs.
              jobs += V29Job(out.length, dataOff, packSize.toInt, unpSize,
                solid, fileCrc)
              None
            }
            else if (method != 0x30 && !dataOk && unpVer == 29 &&
                !(enc && password.isDefined)) {
              // a compressed member whose plain bytes are unavailable
              // breaks the solid chain for everything after it
              jobs += V29Job(-1, 0, 0, 0, solid, 0)
              None
            }
            else if (enc && password.isDefined && (flags & FhdSplitBefore) == 0 &&
                dataOff + packSize <= b.length && packSize <= Int.MaxValue) {
              // -p mode: plain headers, AES data; per-file salt after name
              val dataSalt =
                if ((flags & FhdSalt) != 0 && nameOff + nameLen + 8 <= b.length)
                  java.util.Arrays.copyOfRange(b, nameOff + nameLen,
                    nameOff + nameLen + 8)
                else new Array[Byte](8)
              if (method != 0x30 && unpVer == 29) {
                // encryption is per-file over the packed bytes; the
                // underlying v29 stream (solid or not) continues
                // across members, so the decrypted segment joins the
                // jobs chain like a plain one
                decryptSegment(b, dataOff, packSize.toInt, password.get,
                  dataSalt) match {
                  case Some(dec) =>
                    jobs += V29Job(out.length, 0, dec.length, unpSize,
                      solid, fileCrc, dec)
                  case None => jobs += V29Job(-1, 0, 0, 0, solid, 0, null)
                }
                None
              } else
                decryptAndDecode(b, dataOff, packSize.toInt, unpSize, method,
                  fileCrc, password.get, dataSalt)
            }
            else {
              // any other unreachable v29-compressed member (e.g.
              // encrypted + split/out-of-bounds) still breaks the
              // solid chain
              if (method != 0x30 && unpVer == 29)
                jobs += V29Job(-1, 0, 0, 0, solid, 0)
              None
            }
          out += Entry(name, unpSize, stored, enc && stored.isEmpty)
          add = packSize
        case 0x7b => // end of archive
          p = b.length
        case _ =>
          if ((flags & 0x8000) != 0 && p + 11 <= b.length)
            add = le32(b, p + 7)
      }
      if (p < b.length) {
        val next = p.toLong + size + add
        if (next <= p || next > Int.MaxValue) p = b.length else p = next.toInt
      }
    }
    runJobs()
    Archive(out.toVector, headersEncrypted)
  }

  /** Decrypt the encrypted-header area of a v5 archive (16-byte IV
    * before each AES-256-CBC header block) and reassemble a plaintext
    * archive image: signature, then each decrypted header followed by
    * its raw data area (file data stays per-file-encrypted and is
    * handled by the normal walk). Garbage from a wrong key stops the
    * walk at the first implausible size. */
  private def decrypt5Headers(b: Array[Byte], start: Int,
      key: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    out.write(b, 0, 8) // signature
    var q = start
    var done = false
    var guard = 0
    try {
      while (!done && q + 32 <= b.length && guard < 100000) {
        guard += 1
        val iv = java.util.Arrays.copyOfRange(b, q, q + 16)
        q += 16
        val head = Rar5Crypto.decrypt(key, iv, b, q, 16)
        val (hsize, hlen) = vintAt(head, 4)
        val totalPlain = 4 + hlen + hsize
        val encLen = ((totalPlain + 15) & ~15L).toInt
        if (hsize <= 0 || hsize > 0x10000 || q + encLen > b.length) done = true
        else {
          val full = Rar5Crypto.decrypt(key, iv, b, q, encLen)
          q += encLen
          // the stored header CRC32 rejects wrong-key garbage
          // deterministically (covers everything after the crc field)
          val hc = new java.util.zip.CRC32
          hc.update(full, 4, (totalPlain - 4).toInt)
          val storedCrc = le32(full, 0)
          if (hc.getValue != storedCrc) throw new RarMalformed("hp crc")
          // minimal parse for the data-area size and block type
          var y = 4 + hlen
          val (htype, t1) = vintAt(full, y); y += t1
          val (hflags, t2) = vintAt(full, y); y += t2
          var dataSize = 0L
          if ((hflags & 1) != 0) { val (_, l) = vintAt(full, y); y += l }
          if ((hflags & 2) != 0) { val (v, l) = vintAt(full, y); dataSize = v; y += l }
          if (htype != 4) out.write(full, 0, totalPlain.toInt)
          if (dataSize > 0) {
            if (q + dataSize > b.length) done = true
            else {
              out.write(b, q, dataSize.toInt)
              q += dataSize.toInt
            }
          }
          if (htype == 5) done = true
        }
      }
    } catch {
      case _: RarMalformed => ()
      case _: java.security.GeneralSecurityException => ()
    }
    out.toByteArray
  }

  /** Deferred v29 decode job. slot == -1 marks a gap: a compressed
    * member whose plain bytes are unavailable (failed decryption /
    * split / oversized) — the stream cannot be reconstructed past it,
    * so the rest of its solid group fails. `src` overrides the archive
    * bytes for members decrypted at walk time. */
  private final case class V29Job(slot: Int, dataOff: Int, packSize: Int,
      unpSize: Long, solid: Boolean, fileCrc: Long,
      src: Array[Byte] = null)

  /** Decode the collected v29 jobs: consecutive solid members share
    * one [[Rar29.Stream]] whose input is every segment of the group
    * (plain or decrypted), appended before any member decodes. Every
    * decoded member is CRC32-gated against its header — the final
    * defense against a desynced continuation surfacing wrong bytes. */
  private def runV29Jobs(b: Array[Byte],
      out: scala.collection.mutable.ArrayBuffer[Entry],
      jobs: scala.collection.mutable.ArrayBuffer[V29Job]): Unit = {
    var gi = 0
    while (gi < jobs.length) {
      var gj = gi + 1
      while (gj < jobs.length && jobs(gj).solid) gj += 1
      val s = new Rar29.Stream
      var k = gi
      while (k < gj) {
        val j = jobs(k)
        if (j.slot >= 0)
          s.append(if (j.src != null) j.src else b, j.dataOff, j.packSize)
        k += 1
      }
      var failed = false
      k = gi
      while (k < gj) {
        val j = jobs(k)
        if (j.slot < 0) failed = true
        else if (!failed)
          try {
            val dec = s.decodeNext(j.unpSize)
            val c = new java.util.zip.CRC32
            c.update(dec)
            if (c.getValue == j.fileCrc)
              out(j.slot) = out(j.slot).copy(stored = Some(dec),
                encrypted = false)
          } catch {
            case _: Rar29.Unsupported | _: Rar29.Malformed => failed = true
          }
        k += 1
      }
      gi = gj
    }
    jobs.clear()
  }

  /** AES-decrypt one entry's packed area (no decode). */
  private def decryptSegment(b: Array[Byte], off: Int, packSize: Int,
      password: String, salt: Array[Byte]): Option[Array[Byte]] = {
    val encLen = packSize & ~15
    if (encLen <= 0) return None
    val (key, iv) = RarCrypto.deriveKeyIv(password, salt)
    try Some(RarCrypto.decrypt(key, iv, b, off, encLen))
    catch { case _: java.security.GeneralSecurityException => None }
  }

  /** Walk the encrypted-header (-hp) area: each block is preceded by
    * its own 8-byte salt and AES-CBC-encrypted in 16-byte units. A
    * header whose CRC16 fails (wrong password / corruption) ends the
    * walk with whatever decoded so far.
    */
  private def parse4Encrypted(b: Array[Byte], start: Int, password: String,
      out: scala.collection.mutable.ArrayBuffer[Entry],
      jobs: scala.collection.mutable.ArrayBuffer[V29Job]): Unit = {
    var p = start
    var count = 0
    var ok = true
    while (ok && p + 8 + 16 <= b.length && count < 100000) {
      count += 1
      val salt = java.util.Arrays.copyOfRange(b, p, p + 8)
      val (key, iv) = RarCrypto.deriveKeyIv(password, salt)
      val head16 = RarCrypto.decrypt(key, iv, b, p + 8, 16)
      val size = le16(head16, 5)
      if (size < 7 || size > 0x4000 || p + 8 + roundUp16(size) > b.length) {
        ok = false
      } else {
        val full = roundUp16(size)
        val hdr = RarCrypto.decrypt(key, iv, b, p + 8, full)
        // header CRC16 = low word of CRC32 over bytes [2, size)
        val crc = new java.util.zip.CRC32
        crc.update(hdr, 2, size - 2)
        if ((crc.getValue & 0xffff) != le16(hdr, 0)) {
          ok = false // wrong password or corrupt block
        } else {
          val htype = hdr(2) & 0xff
          val flags = le16(hdr, 3)
          var add = 0L
          htype match {
            case 0x74 =>
              var packSize = le32(hdr, 7)
              var unpSize = le32(hdr, 11)
              val fileCrc = le32(hdr, 16)
              val unpVer = hdr(24) & 0xff
              val method = hdr(25) & 0xff
              val nameLen = le16(hdr, 26)
              var nameOff = 32
              if ((flags & FhdLargeFile) != 0) {
                packSize |= le32(hdr, 32) << 32
                unpSize |= le32(hdr, 36) << 32
                nameOff += 8
              }
              if (nameOff + nameLen > hdr.length) { ok = false }
              else if ((flags & 0xe0) == 0xe0) {
                // directory entry: listed by junrar but carries no data
                add = packSize
              } else {
                val name = decodeName4(java.util.Arrays.copyOfRange(hdr,
                  nameOff, nameOff + nameLen), (flags & FhdUnicode) != 0)
                val solid = (flags & FhdSolid) != 0
                val dataOff = p + 8 + full
                val dataSalt =
                  if ((flags & FhdSalt) != 0 && nameOff + nameLen + 8 <= hdr.length)
                    java.util.Arrays.copyOfRange(hdr, nameOff + nameLen,
                      nameOff + nameLen + 8)
                  else new Array[Byte](8)
                val reachable = (flags & FhdSplitBefore) == 0 &&
                  dataOff + packSize <= b.length && packSize <= Int.MaxValue
                val stored =
                  if (reachable && method != 0x30 && unpVer == 29) {
                    decryptSegment(b, dataOff, packSize.toInt, password,
                      dataSalt) match {
                      case Some(dec) =>
                        jobs += V29Job(out.length, 0, dec.length, unpSize,
                          solid, fileCrc, dec)
                      case None =>
                        jobs += V29Job(-1, 0, 0, 0, solid, 0, null)
                    }
                    None
                  } else if (reachable)
                    decryptAndDecode(b, dataOff, packSize.toInt, unpSize,
                      method, fileCrc, password, dataSalt)
                  else {
                    if (method != 0x30 && unpVer == 29)
                      jobs += V29Job(-1, 0, 0, 0, solid, 0)
                    None
                  }
                out += Entry(name, unpSize, stored, stored.isEmpty)
                add = packSize
              }
            case 0x7b => ok = false // end of archive
            case _ =>
              if ((flags & 0x8000) != 0 && hdr.length >= 11)
                add = le32(hdr, 7)
          }
          if (ok) {
            val next = p.toLong + 8 + full + add
            if (next <= p || next > Int.MaxValue) ok = false
            else p = next.toInt
          }
        }
      }
    }
  }

  private def roundUp16(n: Int): Int = (n + 15) & ~15

  /** RAR5 variable-length integer at `off`; rejects out-of-range
    * offsets and negative (bit-63) values as malformed. */
  private def vintAt(a: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 10 && off >= 0 && off + i < a.length) {
      val x = a(off + i) & 0xff
      v |= (x & 0x7fL) << (7 * i)
      i += 1
      if ((x & 0x80) == 0) {
        if (v < 0) throw new RarMalformed("vint overflow")
        return (v, i)
      }
    }
    throw new RarMalformed("bad vint")
  }

  /** AES-decrypt one STORED entry's data area, accepting the result
    * only when it matches the header's CRC32 — a wrong password yields
    * garbage that must not surface as content. (Compressed v29 members
    * route through the job chain instead.)
    */
  private def decryptAndDecode(b: Array[Byte], off: Int, packSize: Int,
      unpSize: Long, method: Int,
      fileCrc: Long, password: String, salt: Array[Byte]): Option[Array[Byte]] = {
    if (unpSize < 0 || unpSize > OutBuf.MaxBytes) return None
    if (method != 0x30) return None // v29 members route through the job chain
    val encLen = packSize & ~15
    if (encLen <= 0) {
      return if (unpSize == 0) Some(Array.emptyByteArray) else None
    }
    val (key, iv) = RarCrypto.deriveKeyIv(password, salt)
    val dec =
      try RarCrypto.decrypt(key, iv, b, off, encLen)
      catch { case _: java.security.GeneralSecurityException => return None }
    val decoded =
      if (method == 0x30) {
        if (dec.length >= unpSize) Some(java.util.Arrays.copyOfRange(dec, 0,
          unpSize.toInt))
        else None
      } else None // compressed members route through the v29 job chain
    decoded.filter { d =>
      val crc = new java.util.zip.CRC32
      crc.update(d)
      crc.getValue == fileCrc
    }
  }

  /** RAR4 names: either plain (OEM/cp437-ish, read as latin-1) or the
    * packed unicode form `ascii NUL packed-utf16`. */
  private def decodeName4(raw: Array[Byte], unicodeFlag: Boolean): String = {
    val nul = raw.indexOf(0: Byte)
    if (!unicodeFlag || nul < 0)
      new String(raw, StandardCharsets.ISO_8859_1)
    else {
      // packed encoding: high-byte table + 2-bit-flagged low bytes
      val ascii = raw.take(nul)
      val enc = raw.drop(nul + 1)
      try decodePackedUnicode(ascii, enc)
      catch { case _: Exception => new String(ascii, StandardCharsets.ISO_8859_1) }
    }
  }

  private def decodePackedUnicode(ascii: Array[Byte], enc: Array[Byte]): String = {
    val sb = new StringBuilder
    if (enc.isEmpty) return new String(ascii, StandardCharsets.ISO_8859_1)
    val highByte = enc(0) & 0xff
    var pos = 1
    var flagBits = 0
    var flags = 0
    while (pos < enc.length && sb.length < 4096) {
      if (flagBits == 0) { flags = enc(pos) & 0xff; pos += 1; flagBits = 8 }
      if (pos >= enc.length && (flags >> 6) != 3) return sb.result()
      (flags >> 6) & 3 match {
        case 0 => sb.append((enc(pos) & 0xff).toChar); pos += 1
        case 1 => sb.append(((enc(pos) & 0xff) | (highByte << 8)).toChar); pos += 1
        case 2 =>
          if (pos + 1 < enc.length)
            sb.append(le16(enc, pos).toChar)
          pos += 2
        case 3 =>
          val len = enc(pos) & 0xff; pos += 1
          if ((len & 0x80) != 0) {
            val correction = if (pos < enc.length) enc(pos) & 0xff else 0
            pos += 1
            var i = 0
            while (i < (len & 0x7f) + 2 && sb.length < ascii.length) {
              val idx = sb.length
              if (idx < ascii.length)
                sb.append((((ascii(idx) & 0xff) + correction) & 0xff |
                  (highByte << 8)).toChar)
              i += 1
            }
          } else {
            var i = 0
            while (i < (len & 0x7f) + 2 && sb.length < ascii.length) {
              sb.append((ascii(sb.length) & 0xff).toChar)
              i += 1
            }
          }
      }
      flags = (flags << 2) & 0xff
      flagBits -= 2
    }
    sb.result()
  }

  /** Writes a STORED (method 0x30) RAR4 archive — corpus/test producer
    * for the container walk; CRC fields are filled so readers that
    * verify them stay happy.
    */
  def write(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    out.write(Array[Byte]('R', 'a', 'r', '!', 0x1a, 0x07, 0x00))
    out.write(le16Bytes(0x6152)); out.write(0x73); out.write(le16Bytes(0))
    out.write(le16Bytes(13)); out.write(new Array[Byte](6))
    for ((name, data) <- entries) {
      val nameB = name.getBytes(StandardCharsets.ISO_8859_1)
      val crc = new java.util.zip.CRC32
      crc.update(data)
      out.write(le16Bytes(0)) // header crc (not verified by the walk)
      out.write(0x74); out.write(le16Bytes(0x8000)); out.write(le16Bytes(32 + nameB.length))
      out.write(le32Bytes(data.length)) // packSize
      out.write(le32Bytes(data.length)) // unpSize
      out.write(0) // hostOS
      out.write(le32Bytes(crc.getValue)) // fileCRC
      out.write(le32Bytes(0)) // ftime
      out.write(20) // unpVer
      out.write(0x30) // method: stored
      out.write(le16Bytes(nameB.length))
      out.write(le32Bytes(0x20)) // attributes
      out.write(nameB)
      out.write(data)
    }
    out.write(le16Bytes(0x3dc4)); out.write(0x7b); out.write(le16Bytes(0x4000))
    out.write(le16Bytes(7))
    out.toByteArray
  }

  // --- RAR 5.x --------------------------------------------------------

  private def parse5(b: Array[Byte], password: Option[String],
      depth: Int = 0): Archive = {
    var p = 8
    // budget for FRESH key derivations: a crafted archive listing many
    // distinct (salt, 2^24) records must not burn unbounded CPU; real
    // archives use one salt (cache hits are free)
    var kdfBudget = 8
    def deriveBudgeted(pwd: String, salt: Array[Byte],
        lg2: Int): Option[Rar5Crypto.Keys] = {
      if (!Rar5Crypto.isCached(pwd, salt, lg2)) {
        if (kdfBudget <= 0) return None
        kdfBudget -= 1
      }
      Some(Rar5Crypto.derive(pwd, salt, lg2))
    }
    val out = Vector.newBuilder[Entry]
    var headersEncrypted = false
    var count = 0
    def vint(off: Int): (Long, Int) = vintAt(b, off)
    var v5stream: Rar50.Stream = null
    while (p + 5 <= b.length && count < 100000) {
      count += 1
      // crc32(4) headerSize(vint) header...
      val (hsize, hlen) = vint(p + 4)
      val hstart = p + 4 + hlen
      if (hsize <= 0 || hstart + hsize > b.length) p = b.length
      else {
        var q = hstart
        val (htype, l1) = vint(q); q += l1
        val (hflags, l2) = vint(q); q += l2
        var dataSize = 0L
        var extraSize = 0L
        if ((hflags & 1) != 0) { val (v, l) = vint(q); extraSize = v; q += l }
        if ((hflags & 2) != 0) { val (v, l) = vint(q); dataSize = v; q += l }
        htype match {
          case 4 => // archive encryption header: all later headers are
            // AES-256-CBC blocks, each prefixed by its own 16-byte IV
            headersEncrypted = true
            if (depth == 0 && password.isDefined) {
              val (ver, a1) = vint(q); q += a1
              val (fl, a2) = vint(q); q += a2
              if (ver == 0 && q + 17 <= b.length) {
                val lg2 = b(q) & 0xff
                val salt = java.util.Arrays.copyOfRange(b, q + 1, q + 17)
                val check =
                  if ((fl & 1) != 0 && q + 29 <= b.length)
                    java.util.Arrays.copyOfRange(b, q + 17, q + 29)
                  else null
                if (lg2 <= 24) {
                  deriveBudgeted(password.get, salt, lg2).foreach { keys =>
                    val checkOk = check == null ||
                      java.util.Arrays.equals(Rar5Crypto.checkValue(keys),
                        check)
                    if (checkOk) {
                      val rebuilt = decrypt5Headers(b,
                        (hstart + hsize).toInt, keys.key)
                      val inner = parse5(rebuilt, password, depth + 1)
                      return Archive(inner.entries, headersEncrypted = true)
                    }
                  }
                }
              }
            }
            // wrong password / no password / malformed: opaque entries
            p = b.length
          case 2 => // file header
            val (ff, b1) = vint(q); q += b1 // file flags
            val (unpSize, b2) = vint(q); q += b2
            val (_, b3) = vint(q); q += b3 // attributes
            if ((ff & 2) != 0) q += 4 // mtime
            var dataCrc = -1L
            if ((ff & 4) != 0) { // data crc32
              if (q + 4 <= b.length) dataCrc = le32(b, q)
              q += 4
            }
            val (compInfo, b4) = vint(q); q += b4
            val (_, b5) = vint(q); q += b5 // host os
            val (nameLen, b6) = vint(q); q += b6
            if (q + nameLen > b.length || nameLen > 65536)
              throw new RarMalformed("rar5 name overrun")
            val name = new String(b, q, nameLen.toInt, StandardCharsets.UTF_8)
            val method = ((compInfo >> 7) & 7).toInt
            // extra area at the header tail: records {size vint, type
            // vint, ...}; type 0x01 = file encryption: version 0
            // (AES-256), flags (1 = password check present, 2 =
            // checksums are HMAC-transformed), KDF exponent byte,
            // 16-byte salt, 16-byte IV, optional 12-byte check value
            var fileEncrypted = false
            var encFlags = 0L
            var encLg2 = -1
            var encSalt: Array[Byte] = null
            var encIv: Array[Byte] = null
            var encCheck: Array[Byte] = null
            if (extraSize > 0 && extraSize <= hsize) {
              var x = (hstart + hsize - extraSize).toInt
              var guard = 0
              while (x < hstart + hsize && guard < 32) {
                guard += 1
                try {
                  val (recSize, l1) = vint(x)
                  val (recType, l2) = vint(x + l1)
                  if (recType == 1) {
                    fileEncrypted = true
                    var y = x + l1 + l2
                    val (ver, e1) = vint(y); y += e1
                    val (fl, e2) = vint(y); y += e2
                    if (ver == 0 && y >= 0 && y + 33 <= b.length) {
                      encFlags = fl
                      encLg2 = b(y) & 0xff; y += 1
                      encSalt = java.util.Arrays.copyOfRange(b, y, y + 16)
                      y += 16
                      encIv = java.util.Arrays.copyOfRange(b, y, y + 16)
                      y += 16
                      if ((fl & 1) != 0 && y + 12 <= b.length)
                        encCheck = java.util.Arrays.copyOfRange(b, y, y + 12)
                    }
                  }
                  if (recSize <= 0 || recSize > b.length)
                    x = (hstart + hsize).toInt
                  else x += l1 + recSize.toInt
                } catch { case _: RarMalformed => x = (hstart + hsize).toInt }
              }
            }
            val dataOff = hstart + hsize
            val algoVer = (compInfo & 0x3f).toInt
            val solid = (compInfo & 0x40) != 0
            val inBounds = dataOff + dataSize <= b.length &&
              dataSize <= Int.MaxValue
            val dataOk = inBounds && !fileEncrypted
            // checksum gate shared by the plain and decrypted routes;
            // with the HMAC flag the stored value is the transformed
            // CRC32 (needs the derived hash key)
            def crcGate(dec: Array[Byte],
                keys: Option[Rar5Crypto.Keys]): Option[Array[Byte]] =
              if (dataCrc < 0) Some(dec)
              else {
                val c = new java.util.zip.CRC32
                c.update(dec)
                val expect =
                  if ((encFlags & 2) != 0 && keys.isDefined)
                    Rar5Crypto.macCrc32(keys.get.hashKey, c.getValue)
                  else c.getValue
                if (expect == dataCrc) Some(dec) else None
              }
            def decode(src: Array[Byte], off: Int, len: Int,
                keys: Option[Rar5Crypto.Keys]): Option[Array[Byte]] =
              if (method == 0) {
                if (len >= unpSize)
                  crcGate(java.util.Arrays.copyOfRange(src, off,
                    off + unpSize.toInt), keys)
                else None
              } else if (algoVer == 0) {
                // v5.0 LZ decode (Rar50); files are block-framed so a
                // solid group shares only window/table/history state —
                // corrupt streams / CRC mismatches fall back to the
                // unsupported record
                if (!solid) v5stream = new Rar50.Stream
                if (v5stream == null) None // solid head missing
                else
                  try crcGate(v5stream.decodeEntry(src, off, len, unpSize),
                    keys)
                  catch {
                    case _: Rar29.Unsupported | _: Rar29.Malformed => None
                  }
              }
              else None
            val stored =
              if (dataOk && (method != 0 || dataSize == unpSize))
                decode(b, dataOff.toInt, dataSize.toInt, None)
              else if (fileEncrypted && inBounds && password.isDefined &&
                  encSalt != null && encLg2 >= 0 && encLg2 <= 24) {
                // AES-256 file encryption: verify the password check
                // when present, then decrypt and decode; wrong
                // passwords surface nothing
                val keysOpt = deriveBudgeted(password.get, encSalt, encLg2)
                val checkOk = keysOpt.isDefined && (encCheck == null ||
                  java.util.Arrays.equals(
                    Rar5Crypto.checkValue(keysOpt.get), encCheck))
                val encLen = (dataSize & ~15L).toInt
                if (!checkOk || encLen <= 0) None
                else {
                  val keys = keysOpt.get
                  try {
                    val dec = Rar5Crypto.decrypt(keys.key, encIv, b,
                      dataOff.toInt, encLen)
                    decode(dec, 0, dec.length, Some(keys))
                  } catch {
                    case _: java.security.GeneralSecurityException => None
                  }
                }
              }
              else None
            // any undecoded compressed member leaves the shared v5
            // window incomplete — poison the chain for later solid
            // members rather than decoding against shifted distances
            if (method != 0 && stored.isEmpty) v5stream = null
            out += Entry(name, unpSize, stored,
              fileEncrypted && stored.isEmpty)
          case 5 => p = b.length // end of archive
          case _ => ()
        }
        if (p < b.length) {
          val next = hstart.toLong + hsize + dataSize
          if (next <= p || next > Int.MaxValue) p = b.length
          else p = next.toInt
        }
      }
    }
    Archive(out.result(), headersEncrypted)
  }
}
