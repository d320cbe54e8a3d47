package graft.crypto

import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import graft.ole2.Cfb
import graft.core.Endian.{le16, le64, leInt}

/** MS-OFFCRYPTO decryption of password-protected OOXML packages: the
  * `EncryptionInfo` + `EncryptedPackage` CFB pair produced by Office's
  * "Encrypt with Password". Two wire formats are implemented from the
  * public MS-OFFCRYPTO spec:
  *
  *  - Standard encryption (EncryptionInfo version x.2, §2.3.4.5-2.3.4.9):
  *    AES-ECB, SHA-1 key derivation with 50,000 spin rounds and the
  *    ipad/opad-style X1/X2 expansion.
  *  - Agile encryption (version 4.4, §2.3.4.10-2.3.4.15): XML descriptor,
  *    per-block-key hashes, AES-CBC in 4096-byte segments with
  *    hash(salt || LE32(segment)) IVs; SHA-1/256/384/512.
  *
  * Reference behavior (NOT code): OfficeParser.java:258-292 — the
  * supplied PasswordProvider password REPLACES the default
  * "VelvetSweatshop" (Decryptor.DEFAULT_PASSWORD); exactly one password
  * is tried, and a verification failure is an EncryptedDocumentException.
  * POI's Decryptor/AgileDecryptor implement the same spec sections.
  */
object OfficeCrypto {

  /** The reference's Decryptor.DEFAULT_PASSWORD — Excel's legacy
    * default-encryption password, tried when no provider is set.
    */
  val DefaultPassword = "VelvetSweatshop"

  /** Decrypt a protected-OOXML CFB container. Returns the decrypted OPC
    * zip bytes, or None when the password doesn't verify or the scheme
    * is unsupported (extensible 3.3/4.3, RC4 CryptoAPI inside
    * EncryptionInfo).
    */
  def decryptOoxml(cfb: Cfb.Doc, password: String): Option[Array[Byte]] = {
    for {
      info <- cfb.stream("EncryptionInfo")
      pkg <- cfb.stream("EncryptedPackage")
      out <- decrypt(info, pkg, password)
    } yield out
  }

  private def decrypt(info: Array[Byte], pkg: Array[Byte],
      password: String): Option[Array[Byte]] = {
    if (info.length < 8) return None
    val major = le16(info, 0); val minor = le16(info, 2)
    (major, minor) match {
      case (4, 4) => agile(info, pkg, password)
      case (2 | 3 | 4, 2) => standard(info, pkg, password)
      case _ => None
    }
  }

  // ==== standard encryption (§2.3.4.5) =================================

  private def standard(info: Array[Byte], pkg: Array[Byte],
      password: String): Option[Array[Byte]] = {
    val headerSize = leInt(info, 8)
    val hdr = 12
    // EncryptionHeader: flags sizeExtra algId algIdHash keySize provider…
    val algId = leInt(info, hdr + 8)
    val keyBits = leInt(info, hdr + 16)
    // AES only (0x660E/0x660F/0x6610); RC4 CryptoAPI (0x6801) unsupported
    if (algId != 0x660e && algId != 0x660f && algId != 0x6610) return None
    val ver = hdr + headerSize
    val saltSize = leInt(info, ver)
    if (saltSize != 16) return None
    val salt = info.slice(ver + 4, ver + 20)
    val encVerifier = info.slice(ver + 20, ver + 36)
    val encVerifierHash = info.slice(ver + 40, ver + 72)
    val key = standardKey(password, salt, keyBits / 8)
    val verifier = aesEcb(key, encVerifier)
    val verifierHash = aesEcb(key, encVerifierHash)
    val sha1 = MessageDigest.getInstance("SHA-1")
    if (!java.util.Arrays.equals(sha1.digest(verifier),
        java.util.Arrays.copyOf(verifierHash, 20))) return None
    if (pkg.length < 8) return None
    val size = le64(pkg, 0)
    if (size < 0 || size > pkg.length.toLong * 2) return None
    val plain = aesEcb(key, java.util.Arrays.copyOfRange(pkg, 8, pkg.length))
    Some(java.util.Arrays.copyOf(plain, size.toInt))
  }

  /** §2.3.4.7: 50,000-round SHA-1 spin then the 0x36/0x5C X1/X2 expansion. */
  private def standardKey(password: String, salt: Array[Byte],
      keyBytes: Int): Array[Byte] = {
    val sha1 = MessageDigest.getInstance("SHA-1")
    val pwd = password.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
    sha1.update(salt); sha1.update(pwd)
    var h = sha1.digest()
    var i = 0
    val ctr = new Array[Byte](4)
    while (i < 50000) {
      ctr(0) = (i & 0xff).toByte; ctr(1) = ((i >> 8) & 0xff).toByte
      ctr(2) = ((i >> 16) & 0xff).toByte; ctr(3) = ((i >> 24) & 0xff).toByte
      sha1.update(ctr); sha1.update(h)
      h = sha1.digest()
      i += 1
    }
    sha1.update(h); sha1.update(Array[Byte](0, 0, 0, 0))
    val hFinal = sha1.digest()
    def x(pad: Byte): Array[Byte] = {
      val buf = Array.fill[Byte](64)(pad)
      var j = 0
      while (j < hFinal.length) { buf(j) = (buf(j) ^ hFinal(j)).toByte; j += 1 }
      sha1.update(buf)
      sha1.digest()
    }
    java.util.Arrays.copyOf(x(0x36) ++ x(0x5c.toByte), keyBytes)
  }

  // ==== agile encryption (§2.3.4.10) ====================================

  // block-key constants, §2.3.4.13
  private val BkVerifierInput = Array(0xfe, 0xa7, 0xd2, 0x76, 0x3b, 0x4b,
    0x9e, 0x79).map(_.toByte)
  private val BkVerifierValue = Array(0xd7, 0xaa, 0x0f, 0x6d, 0x30, 0x61,
    0x34, 0x4e).map(_.toByte)
  private val BkKeyValue = Array(0x14, 0x6e, 0x0b, 0xe7, 0xab, 0xac,
    0xd0, 0xd6).map(_.toByte)

  private final case class AgileKey(
      saltValue: Array[Byte], spinCount: Int, keyBits: Int, blockSize: Int,
      hashAlg: String, hashSize: Int,
      encVerifierInput: Array[Byte], encVerifierValue: Array[Byte],
      encKeyValue: Array[Byte])
  private final case class AgileData(
      saltValue: Array[Byte], keyBits: Int, blockSize: Int, hashAlg: String)

  private def agile(info: Array[Byte], pkg: Array[Byte],
      password: String): Option[Array[Byte]] = {
    val xml = new String(info, 8, info.length - 8,
      java.nio.charset.StandardCharsets.UTF_8)
    var keyData: AgileData = null
    var encKey: AgileKey = null
    val factory = javax.xml.parsers.SAXParserFactory.newInstance()
    factory.setNamespaceAware(true)
    factory.setFeature(
      "http://apache.org/xml/features/disallow-doctype-decl", true)
    val handler = new org.xml.sax.helpers.DefaultHandler {
      override def startElement(uri: String, local: String, q: String,
          a: org.xml.sax.Attributes): Unit = {
        def b64(n: String) = Option(a.getValue(n))
          .map(java.util.Base64.getDecoder.decode).getOrElse(Array.emptyByteArray)
        def int(n: String, d: Int) = Option(a.getValue(n)).map(_.toInt).getOrElse(d)
        def hashOf = Option(a.getValue("hashAlgorithm")).getOrElse("SHA1") match {
          case "SHA1" => "SHA-1"
          case "SHA256" => "SHA-256"
          case "SHA384" => "SHA-384"
          case "SHA512" => "SHA-512"
          case other => other
        }
        val name = if (local != null && local.nonEmpty) local else q
        if (name == "keyData")
          keyData = AgileData(b64("saltValue"), int("keyBits", 256),
            int("blockSize", 16), hashOf)
        else if (name == "encryptedKey")
          encKey = AgileKey(b64("saltValue"), int("spinCount", 100000),
            int("keyBits", 256), int("blockSize", 16), hashOf,
            int("hashSize", 64), b64("encryptedVerifierHashInput"),
            b64("encryptedVerifierHashValue"), b64("encryptedKeyValue"))
      }
    }
    try factory.newSAXParser().parse(
      new org.xml.sax.InputSource(new java.io.StringReader(xml)), handler)
    catch { case _: Exception => return None }
    if (keyData == null || encKey == null) return None

    val md = MessageDigest.getInstance(encKey.hashAlg)
    val pwd = password.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
    md.update(encKey.saltValue); md.update(pwd)
    var h = md.digest()
    var i = 0
    val ctr = new Array[Byte](4)
    while (i < encKey.spinCount) {
      ctr(0) = (i & 0xff).toByte; ctr(1) = ((i >> 8) & 0xff).toByte
      ctr(2) = ((i >> 16) & 0xff).toByte; ctr(3) = ((i >> 24) & 0xff).toByte
      md.update(ctr); md.update(h)
      h = md.digest()
      i += 1
    }
    def blockKey(bk: Array[Byte], n: Int): Array[Byte] = {
      md.update(h); md.update(bk)
      val d = md.digest()
      if (d.length >= n) java.util.Arrays.copyOf(d, n)
      else d ++ Array.fill[Byte](n - d.length)(0x36)
    }
    val keyBytes = encKey.keyBits / 8
    val iv = padTo(encKey.saltValue, encKey.blockSize)
    val vIn = aesCbc(blockKey(BkVerifierInput, keyBytes), iv,
      encKey.encVerifierInput)
    val vVal = aesCbc(blockKey(BkVerifierValue, keyBytes), iv,
      encKey.encVerifierValue)
    val vmd = MessageDigest.getInstance(encKey.hashAlg)
    val expect = vmd.digest(java.util.Arrays.copyOf(vIn, encKey.saltValue.length))
    val got = java.util.Arrays.copyOf(vVal, expect.length)
    if (!java.util.Arrays.equals(expect, got)) return None

    val secret = java.util.Arrays.copyOf(
      aesCbc(blockKey(BkKeyValue, keyBytes), iv, encKey.encKeyValue),
      keyData.keyBits / 8)
    if (pkg.length < 8) return None
    val size = le64(pkg, 0)
    if (size < 0 || size > (pkg.length.toLong - 8) + 4096) return None
    val segMd = MessageDigest.getInstance(keyData.hashAlg)
    val out = new java.io.ByteArrayOutputStream(pkg.length)
    var seg = 0
    var off = 8
    while (off < pkg.length) {
      val end = math.min(off + 4096, pkg.length)
      var chunk = java.util.Arrays.copyOfRange(pkg, off, end)
      if (chunk.length % 16 != 0)
        chunk = java.util.Arrays.copyOf(chunk, (chunk.length / 16 + 1) * 16)
      segMd.update(keyData.saltValue)
      ctr(0) = (seg & 0xff).toByte; ctr(1) = ((seg >> 8) & 0xff).toByte
      ctr(2) = ((seg >> 16) & 0xff).toByte; ctr(3) = ((seg >> 24) & 0xff).toByte
      segMd.update(ctr)
      val segIv = java.util.Arrays.copyOf(segMd.digest(), keyData.blockSize)
      out.write(aesCbc(secret, segIv, chunk))
      seg += 1
      off = end
    }
    Some(java.util.Arrays.copyOf(out.toByteArray, size.toInt))
  }

  // ==== Office binary RC4 (§2.3.6) — encrypted .doc/.xls ===============

  /** Stateful RC4 keystream (the block ciphers above use JCE; legacy
    * Office re-keys mid-stream and skips plaintext runs, which needs a
    * raw keystream cursor).
    */
  final class Rc4(key: Array[Byte]) {
    private val s = Array.tabulate(256)(_.toByte)
    private var a = 0
    private var b = 0
    locally {
      var j = 0
      var i = 0
      while (i < 256) {
        j = (j + s(i) + key(i % key.length)) & 0xff
        val t = s(i); s(i) = s(j); s(j) = t
        i += 1
      }
    }
    /** XOR the next len keystream bytes into data[off..off+len). */
    def crypt(data: Array[Byte], off: Int, len: Int): Unit = {
      var k = 0
      while (k < len) {
        a = (a + 1) & 0xff
        b = (b + s(a)) & 0xff
        val t = s(a); s(a) = s(b); s(b) = t
        data(off + k) = (data(off + k) ^ s((s(a) + s(b)) & 0xff)).toByte
        k += 1
      }
    }
    /** Advance the keystream without touching plaintext bytes. */
    def skip(n: Int): Unit = {
      var k = 0
      while (k < n) {
        a = (a + 1) & 0xff
        b = (b + s(a)) & 0xff
        val t = s(a); s(a) = s(b); s(b) = t
        k += 1
      }
    }
  }

  /** §2.3.6.2 key derivation: MD5(pwd)₅ ∥ salt ×16 → MD5 → per-block
    * MD5(base₅ ∥ LE32(block))₁₆.
    */
  def binaryRc4BlockKey(password: String, salt: Array[Byte],
      block: Int): Array[Byte] = {
    val md = MessageDigest.getInstance("MD5")
    val h0 = md.digest(
      password.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
    val unit = java.util.Arrays.copyOf(h0, 5) ++ salt
    var i = 0
    while (i < 16) { md.update(unit); i += 1 }
    val h1 = md.digest()
    md.update(h1, 0, 5)
    md.update(Array((block & 0xff).toByte, ((block >> 8) & 0xff).toByte,
      ((block >> 16) & 0xff).toByte, ((block >> 24) & 0xff).toByte))
    java.util.Arrays.copyOf(md.digest(), 16)
  }

  /** §2.3.6.4: decrypt verifier+verifierHash with the block-0 key in one
    * keystream; MD5(verifier) must equal verifierHash.
    */
  def binaryRc4Verifies(password: String, salt: Array[Byte],
      encVerifier: Array[Byte], encVerifierHash: Array[Byte]): Boolean = {
    val both = encVerifier ++ encVerifierHash
    new Rc4(binaryRc4BlockKey(password, salt, 0)).crypt(both, 0, both.length)
    val got = MessageDigest.getInstance("MD5")
      .digest(java.util.Arrays.copyOf(both, 16))
    java.util.Arrays.equals(got,
      java.util.Arrays.copyOfRange(both, 16, 32))
  }

  /** Keystream cursor over ABSOLUTE stream offsets with per-block
    * re-keying — the shape both encrypted .doc (512-byte blocks) and
    * .xls (1024-byte blocks) decrypt through. Plaintext runs consume
    * keystream via [[skipTo]].
    */
  final class BlockKeystream(password: String, salt: Array[Byte],
      blockSize: Int) {
    private var block = -1
    private var rc4: Rc4 = null
    private var pos = 0
    private def ensure(p: Int): Unit = {
      val b = p / blockSize
      if (b != block || p < pos) {
        block = b
        rc4 = new Rc4(binaryRc4BlockKey(password, salt, b))
        pos = b * blockSize
      }
      if (p > pos) { rc4.skip(p - pos); pos = p }
    }
    /** Decrypt data[off..off+len) where off is the absolute offset. */
    def crypt(data: Array[Byte], off: Int, len: Int): Unit = {
      var p = off
      val end = off + len
      while (p < end) {
        ensure(p)
        val n = math.min(end, (p / blockSize + 1) * blockSize) - p
        rc4.crypt(data, p, n)
        pos = p + n
        p += n
      }
    }
    /** Consume keystream over a plaintext run. */
    def skipTo(p: Int): Unit = ensure(p)
  }

  /** Decrypt a FILEPASS-protected BIFF8 Workbook stream in place
    * (returns a copy). Record headers and the exempt records stay
    * plaintext but consume keystream; 1024-byte re-keying; BoundSheet8
    * keeps its lbPlyPos field plaintext (MS-XLS 2.2.10). Returns None
    * when the password fails the verifier or the scheme is XOR
    * obfuscation / CryptoAPI (not Office binary RC4).
    */
  def decryptXlsWorkbook(wb: Array[Byte], password: String): Option[Array[Byte]] = {
    // exempt records: BOF, FilePass, UsrExcl, FileLock, InterfaceHdr,
    // RRDInfo, RRDHead
    val plain = Set(0x0809, 0x002f, 0x0194, 0x0195, 0x00e1, 0x0196, 0x0138)
    // locate FILEPASS
    var off = 0
    var salt: Array[Byte] = null
    var ev: Array[Byte] = null
    var evh: Array[Byte] = null
    while (off + 4 <= wb.length && salt == null) {
      val id = le16(wb, off); val len = le16(wb, off + 2)
      if (id == 0x002f) {
        val d = off + 4
        if (le16(wb, d) != 1) return None // XOR obfuscation unsupported
        if (le16(wb, d + 2) != 1) return None // CryptoAPI handled elsewhere
        salt = java.util.Arrays.copyOfRange(wb, d + 6, d + 22)
        ev = java.util.Arrays.copyOfRange(wb, d + 22, d + 38)
        evh = java.util.Arrays.copyOfRange(wb, d + 38, d + 54)
      }
      off += 4 + len
    }
    if (salt == null) return None
    if (!binaryRc4Verifies(password, salt, ev, evh)) return None
    val out = wb.clone()
    val ks = new BlockKeystream(password, salt, 1024)
    var p = 0
    while (p + 4 <= out.length) {
      val id = le16(wb, p); val len = le16(wb, p + 2)
      val d = p + 4
      val dataEnd = math.min(d + len, out.length)
      if (!plain.contains(id) && dataEnd > d) {
        if (id == 0x0085 && len >= 4) { // BoundSheet8: lbPlyPos plaintext
          ks.skipTo(d + 4)
          ks.crypt(out, d + 4, dataEnd - (d + 4))
        } else {
          ks.skipTo(d)
          ks.crypt(out, d, dataEnd - d)
        }
      }
      p = dataEnd
    }
    Some(out)
  }

  /** Decrypt the streams of an RC4-protected .doc: the Table stream's
    * first 52 bytes are the EncryptionHeader (version 1.1, salt,
    * verifier, verifierHash); the WordDocument stream is encrypted from
    * 0x44 (FIB base plaintext) and the Table from 52, both with
    * ABSOLUTE-offset 512-byte block keystreams (MS-DOC 2.2.6.2).
    * Returns decrypted (wordDocument, table), or None on wrong password
    * or a non-binary-RC4 header.
    */
  def decryptDocStreams(word: Array[Byte], table: Array[Byte],
      password: String): Option[(Array[Byte], Array[Byte])] = {
    if (table.length < 52) return None
    if (le16(table, 0) != 1 || le16(table, 2) != 1) return None
    val salt = java.util.Arrays.copyOfRange(table, 4, 20)
    val ev = java.util.Arrays.copyOfRange(table, 20, 36)
    val evh = java.util.Arrays.copyOfRange(table, 36, 52)
    if (!binaryRc4Verifies(password, salt, ev, evh)) return None
    def dec(data: Array[Byte], from: Int): Array[Byte] = {
      val out = data.clone()
      val ks = new BlockKeystream(password, salt, 512)
      ks.skipTo(from)
      ks.crypt(out, from, out.length - from)
      out
    }
    Some((dec(word, 0x44), dec(table, 52)))
  }

  // ==== RC4 CryptoAPI (§2.3.5) — encrypted .ppt =========================

  /** §2.3.5.2: SHA1(salt ∥ pwd₁₆ᴸᴱ) → SHA1(H₀ ∥ LE32(block)), truncated
    * to keyBits/8; a 40-bit key is the first 5 bytes + 11 zero bytes.
    */
  def cryptoApiBlockKey(password: String, salt: Array[Byte], block: Int,
      keyBits: Int): Array[Byte] = {
    val sha = MessageDigest.getInstance("SHA-1")
    sha.update(salt)
    sha.update(password.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
    val h0 = sha.digest()
    sha.update(h0)
    sha.update(Array((block & 0xff).toByte, ((block >> 8) & 0xff).toByte,
      ((block >> 16) & 0xff).toByte, ((block >> 24) & 0xff).toByte))
    val hf = sha.digest()
    if (keyBits == 40) java.util.Arrays.copyOf(hf, 5) ++ new Array[Byte](11)
    else java.util.Arrays.copyOf(hf, keyBits / 8)
  }

  /** §2.3.5.6 verifier: one block-0 keystream over verifier ∥
    * verifierHash; SHA1(verifier) must equal the 20-byte hash.
    */
  def cryptoApiVerifies(password: String, salt: Array[Byte], keyBits: Int,
      encVerifier: Array[Byte], encVerifierHash: Array[Byte]): Boolean = {
    val both = encVerifier ++ encVerifierHash
    new Rc4(cryptoApiBlockKey(password, salt, 0, keyBits))
      .crypt(both, 0, both.length)
    val got = MessageDigest.getInstance("SHA-1")
      .digest(java.util.Arrays.copyOf(both, 16))
    java.util.Arrays.equals(got,
      java.util.Arrays.copyOfRange(both, 16, 36))
  }

  /** Decrypt an RC4-CryptoAPI-protected `PowerPoint Document` stream
    * (MS-PPT §2.3.2 + MS-OFFCRYPTO §2.3.5): walk the UserEditAtom →
    * PersistDirectoryAtom chain from the CurrentUserAtom's
    * offsetToCurrentEdit, read the CryptoSession10Container referenced
    * by encryptSessionPersistIdRef, verify the password, then decrypt
    * every persist object IN PLACE with its persist id as the RC4 block
    * number (record headers included — only the edit/persist/crypto
    * records themselves are plaintext). Mirrors POI
    * HSLFSlideShowEncrypted's behavior (NOT code).
    */
  def decryptPpt(doc: Array[Byte], currentEditOffset: Int,
      password: String): Option[Array[Byte]] = {
    def le32i(o: Int) = leInt(doc, o)
    def header(off: Int): (Int, Int) =
      if (off < 0 || off > doc.length - 8) (-1, -1)
      else (le16(doc, off + 2), le32i(off + 4))
    // persist-id → offset, newest edit wins
    val persist = scala.collection.mutable.Map[Int, Int]()
    var encRef = -1
    var ueOff = currentEditOffset
    var guard = 0
    while (ueOff > 0 && guard < 1000) {
      guard += 1
      val (rt, rl) = header(ueOff)
      // record lengths are attacker-controlled: a declared length that
      // overruns the stream is a malformed deck, not an index crash
      if (rt != 0x0FF5 || rl < 28 || ueOff + 8L + rl > doc.length) return None
      val ue = ueOff + 8
      if (encRef < 0 && rl >= 32) encRef = le32i(ue + 28)
      val pdOff = le32i(ue + 12)
      val (pdt, pdl) = header(pdOff)
      if (pdt != 0x1772 || pdl < 0 || pdOff + 8L + pdl > doc.length) return None
      var q = pdOff + 8
      val pdEnd = q + pdl
      while (q + 4 <= pdEnd) {
        val w = le32i(q); q += 4
        val start = w & 0xfffff
        val cnt = w >>> 20
        var k = 0
        while (k < cnt && q + 4 <= pdEnd) {
          val pid = start + k
          if (!persist.contains(pid)) persist(pid) = le32i(q)
          q += 4; k += 1
        }
      }
      val prev = le32i(ue + 8)
      ueOff = if (prev == 0 || prev >= ueOff) 0 else prev
    }
    val encOff = persist.getOrElse(encRef, return None)
    val (ct, cl) = header(encOff)
    if (ct != 0x2F14 || cl < 60 || encOff + 8L + cl > doc.length) return None
    val blob = encOff + 8
    if (le16(doc, blob) < 2 || le16(doc, blob + 2) != 2) return None
    val hdrSize = le32i(blob + 8)
    val hdr = blob + 12
    if (hdrSize < 20 || hdr + hdrSize.toLong + 60 > doc.length) return None
    val algId = le32i(hdr + 8)
    if (algId != 0x6801) return None // RC4 only (AES CryptoAPI unused here)
    val keyBits0 = le32i(hdr + 16)
    val keyBits = if (keyBits0 == 0) 40 else keyBits0
    val ver = hdr + hdrSize
    if (le32i(ver) != 16) return None // saltSize
    val salt = java.util.Arrays.copyOfRange(doc, ver + 4, ver + 20)
    val encV = java.util.Arrays.copyOfRange(doc, ver + 20, ver + 36)
    val encVh = java.util.Arrays.copyOfRange(doc, ver + 40, ver + 60)
    if (!cryptoApiVerifies(password, salt, keyBits, encV, encVh)) return None
    val out = doc.clone()
    // every persist object is encrypted EXCEPT the crypto container
    // itself (UserEditAtoms/PersistDirectoryAtoms are reached by offset,
    // not persist id, and stay plaintext)
    for ((pid, off) <- persist
         if pid != encRef && off >= 0 && off + 8 <= out.length) {
      val rc4 = new Rc4(cryptoApiBlockKey(password, salt, pid, keyBits))
      rc4.crypt(out, off, 8) // the record header is encrypted too
      val len = leInt(out, off + 4)
      if (len >= 0 && off + 8L + len <= out.length)
        rc4.crypt(out, off + 8, len)
    }
    Some(out)
  }

  // ==== primitives ======================================================

  private def padTo(b: Array[Byte], n: Int): Array[Byte] =
    if (b.length >= n) java.util.Arrays.copyOf(b, n)
    else b ++ Array.fill[Byte](n - b.length)(0x36)

  private def aesEcb(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("AES/ECB/NoPadding")
    c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"))
    c.doFinal(data)
  }

  private def aesCbc(key: Array[Byte], iv: Array[Byte],
      data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"),
      new IvParameterSpec(iv))
    c.doFinal(data)
  }
}
