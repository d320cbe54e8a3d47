package graft.pdf

import java.security.MessageDigest
import graft.core.Endian

/** PDF standard security handler — the empty-user-password decrypt
  * path the reference applies by default (tika-parsers
  * .../pdf/PDFParser.java:176-188 passes "" to PDFBox; algorithms are
  * PDF 32000-1:2008 §7.6.3 and ISO 32000-2 §7.6.4). Supported: RC4 for
  * /V 1-2 (/R 2-3), AES-128-CBC for /V 4 crypt filters (/CFM AESV2,
  * plus the V2-in-CF RC4 degenerate), and AES-256-CBC for /V 5
  * (/CFM AESV3, /R 5-6 via the Algorithm 2.B iterated SHA-2 hash).
  *
  * Used by both the reader (PdfDoc decrypt) and the corpus writer
  * (valid /O //U generation for empty-password fixtures).
  */
object PdfCrypto {

  /** §7.6.3.3 padding constant. */
  val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  /** RC4 (stateless helper — fresh schedule per call). */
  def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + key(i % key.length)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var a = 0; var b = 0
    var k = 0
    while (k < data.length) {
      a = (a + 1) & 0xff
      b = (b + s(a)) & 0xff
      val t = s(a); s(a) = s(b); s(b) = t
      out(k) = (data(k) ^ s((s(a) + s(b)) & 0xff)).toByte
      k += 1
    }
    out
  }

  private def padded(pwd: Array[Byte]): Array[Byte] =
    if (pwd.length >= 32) java.util.Arrays.copyOf(pwd, 32)
    else pwd ++ java.util.Arrays.copyOf(Pad, 32 - pwd.length)

  /** Algorithm 2: file encryption key from the (empty) user password. */
  def fileKey(o: Array[Byte], p: Long, id0: Array[Byte], r: Int,
      keyLen: Int, pwd: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    var h = md5(padded(pwd), o, Endian.le32Bytes(p), id0)
    if (r >= 3) {
      var i = 0
      while (i < 50) { h = md5(java.util.Arrays.copyOf(h, keyLen)); i += 1 }
    }
    java.util.Arrays.copyOf(h, keyLen)
  }

  /** Algorithm 3: the /O entry (owner password = user password here). */
  def computeO(ownerPwd: Array[Byte], userPwd: Array[Byte], r: Int,
      keyLen: Int): Array[Byte] = {
    var h = md5(padded(ownerPwd))
    if (r >= 3) {
      // each round hashes only the first keyLen bytes — the Adobe/PDFBox
      // deviation ownerToUser inverts; the writer must match it so
      // keyLen < 16 fixtures round-trip (review finding)
      var i = 0
      while (i < 50) { h = md5(java.util.Arrays.copyOf(h, keyLen)); i += 1 }
    }
    val key = java.util.Arrays.copyOf(h, keyLen)
    var out = rc4(key, padded(userPwd))
    if (r >= 3) {
      var i = 1
      while (i <= 19) {
        out = rc4(key.map(b => (b ^ i).toByte), out)
        i += 1
      }
    }
    out
  }

  /** Algorithms 4/5: the /U entry for a given file key. */
  def computeU(key: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] = {
    if (r == 2) rc4(key, Pad)
    else {
      var out = rc4(key, md5(Pad, id0))
      var i = 1
      while (i <= 19) {
        out = rc4(key.map(b => (b ^ i).toByte), out)
        i += 1
      }
      out ++ new Array[Byte](16) // arbitrary 16-byte tail per spec
    }
  }

  /** Algorithm 6 user-password check: recompute /U from `pwd` and
    * compare (first 16 bytes for R3+). Empty `pwd` is the reference's
    * default no-provider attempt.
    */
  def userPasswordWorks(o: Array[Byte], u: Array[Byte], p: Long,
      id0: Array[Byte], r: Int, keyLen: Int,
      pwd: Array[Byte] = Array.emptyByteArray): Boolean = {
    val key = fileKey(o, p, id0, r, keyLen, pwd)
    val mine = computeU(key, id0, r)
    val n = if (r == 2) 32 else 16
    if (u.length < n || mine.length < n) return false
    var i = 0
    while (i < n) { if (mine(i) != u(i)) return false; i += 1 }
    true
  }

  def emptyPasswordWorks(o: Array[Byte], u: Array[Byte], p: Long,
      id0: Array[Byte], r: Int, keyLen: Int): Boolean =
    userPasswordWorks(o, u, p, id0, r, keyLen)

  /** Algorithm 7 (owner-password side): RC4-decrypt /O with the
    * owner-password-derived key to recover the PADDED user password
    * bytes. The caller validates the result via Algorithm 6; `padded`
    * passes a 32-byte input through unchanged so the recovered bytes
    * feed `fileKey` directly.
    */
  def ownerToUser(o: Array[Byte], r: Int, keyLen: Int,
      ownerPwd: Array[Byte]): Array[Byte] = {
    var h = md5(padded(ownerPwd))
    // the 50 rounds hash only the first keyLen bytes — Adobe's
    // deviation from the written spec, which every real writer follows
    // (PDFBox computeRC4key does the same "deviates from the spec"
    // truncation); full-16-byte rounds fail real 40-bit fixtures
    if (r >= 3) {
      var i = 0
      while (i < 50) { h = md5(java.util.Arrays.copyOf(h, keyLen)); i += 1 }
    }
    val key = java.util.Arrays.copyOf(h, keyLen)
    if (r == 2) rc4(key, o)
    else {
      var out = o
      var i = 19
      while (i >= 0) {
        out = rc4(key.map(b => (b ^ i).toByte), out)
        i -= 1
      }
      out
    }
  }

  /** Algorithm 1: per-object RC4 key. */
  def objectKey(fileKey: Array[Byte], num: Int, gen: Int): Array[Byte] = {
    val ext = fileKey ++ Array(
      (num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
      (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte)
    java.util.Arrays.copyOf(md5(ext), math.min(fileKey.length + 5, 16))
  }

  /** AES variant of Algorithm 1 (§7.6.2): the per-object MD5 additionally
    * absorbs the "sAlT" constant.
    */
  def objectKeyAes(fileKey: Array[Byte], num: Int, gen: Int): Array[Byte] = {
    val ext = fileKey ++ Array(
      (num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
      (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte,
      0x73.toByte, 0x41.toByte, 0x6c.toByte, 0x54.toByte) // "sAlT"
    java.util.Arrays.copyOf(md5(ext), math.min(fileKey.length + 5, 16))
  }

  /** AESV2 (/V 4) payload: 16-byte IV prefix + AES-128-CBC/PKCS#5. */
  def aesDecrypt(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    if (data.length < 16) return Array.emptyByteArray
    val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(java.util.Arrays.copyOf(data, 16)))
    c.doFinal(data, 16, data.length - 16)
  }

  /** Writer-side AESV2 encrypt (fixtures): explicit IV for determinism. */
  def aesEncrypt(key: Array[Byte], iv: Array[Byte], plain: Array[Byte]): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    iv ++ c.doFinal(plain)
  }

  // ==== AES-256 / R6 (ISO 32000-2 §7.6.4, the AESV3 handler) ===========

  private def sha(alg: String, parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance(alg)
    parts.foreach(d.update)
    d.digest()
  }

  private def aesCbcRaw(encrypt: Boolean, key: Array[Byte], iv: Array[Byte],
      data: Array[Byte]): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(if (encrypt) javax.crypto.Cipher.ENCRYPT_MODE
           else javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** Algorithm 2.B: the iterated R6 password hash. `udata` is empty for
    * the user-password case and the 48-byte /U for the owner case.
    *
    * The KDF is expensive by DESIGN (64+ rounds of AES-CBC over 2 KB) —
    * but the provider lookups must not be: one Cipher and one
    * MessageDigest per algorithm are created per invocation and re-used
    * across rounds (Cipher.getInstance per round made R6 docs dominate
    * the pdf class in the round-3 bench).
    */
  def hash2B(pwd: Array[Byte], salt: Array[Byte],
      udata: Array[Byte]): Array[Byte] = {
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    val digests = scala.collection.mutable.Map[String, MessageDigest]()
    def shaOf(alg: String, data: Array[Byte]): Array[Byte] = {
      val d = digests.getOrElseUpdate(alg, MessageDigest.getInstance(alg))
      d.reset(); d.update(data); d.digest()
    }
    var k = sha("SHA-256", pwd, salt, udata)
    var i = 0
    var done = false
    var e = Array.emptyByteArray
    while (!done) {
      val unit = pwd ++ k ++ udata
      val k1 = new Array[Byte](unit.length * 64)
      var j = 0
      while (j < 64) {
        System.arraycopy(unit, 0, k1, j * unit.length, unit.length)
        j += 1
      }
      cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(
          java.util.Arrays.copyOfRange(k, 0, 16), "AES"),
        new javax.crypto.spec.IvParameterSpec(
          java.util.Arrays.copyOfRange(k, 16, 32)))
      e = cipher.doFinal(k1)
      var mod = 0
      j = 0
      while (j < 16) { mod += e(j) & 0xff; j += 1 }
      k = (mod % 3) match {
        case 0 => shaOf("SHA-256", e)
        case 1 => shaOf("SHA-384", e)
        case 2 => shaOf("SHA-512", e)
      }
      i += 1
      if (i >= 64 && (e(e.length - 1) & 0xff) <= i - 32) done = true
    }
    java.util.Arrays.copyOf(k, 32)
  }

  /** R6 user-password check: /U = hash(32) || validation salt(8)
    * || key salt(8); valid when hash2B(pwd, vsalt, "") matches. R5 (the
    * deprecated AESV3 revision) uses a single SHA-256 instead.
    */
  def userPasswordWorksR6(u: Array[Byte], r: Int,
      pwd: Array[Byte] = Array.emptyByteArray): Boolean = {
    if (u.length < 48) return false
    val vsalt = java.util.Arrays.copyOfRange(u, 32, 40)
    val mine =
      if (r == 5) sha("SHA-256", pwd, vsalt)
      else hash2B(pwd, vsalt, Array.emptyByteArray)
    java.util.Arrays.equals(mine,
      java.util.Arrays.copyOfRange(u, 0, 32))
  }

  def emptyPasswordWorksR6(u: Array[Byte], r: Int): Boolean =
    userPasswordWorksR6(u, r)

  /** R6 owner-password check: /O = hash(32) || vsalt(8) || ksalt(8),
    * where the hash additionally absorbs the full 48-byte /U.
    */
  def ownerPasswordWorksR6(o: Array[Byte], u: Array[Byte], r: Int,
      pwd: Array[Byte]): Boolean = {
    if (o.length < 48 || u.length < 48) return false
    val u48 = java.util.Arrays.copyOf(u, 48)
    val vsalt = java.util.Arrays.copyOfRange(o, 32, 40)
    val mine =
      if (r == 5) sha("SHA-256", pwd, vsalt, u48)
      else hash2B(pwd, vsalt, u48)
    java.util.Arrays.equals(mine,
      java.util.Arrays.copyOfRange(o, 0, 32))
  }

  /** R6 file key from /U + /UE for the given user password: the
    * intermediate key (hash over the key salt) AES-CBC-decrypts /UE with
    * a zero IV.
    */
  def fileKeyR6(u: Array[Byte], ue: Array[Byte], r: Int,
      pwd: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val ksalt = java.util.Arrays.copyOfRange(u, 40, 48)
    val ik =
      if (r == 5) sha("SHA-256", pwd, ksalt)
      else hash2B(pwd, ksalt, Array.emptyByteArray)
    aesCbcRaw(encrypt = false, ik, new Array[Byte](16),
      java.util.Arrays.copyOf(ue, 32))
  }

  /** R6 file key recovered via the OWNER password from /O + /OE: the
    * intermediate hash absorbs the 48-byte /U alongside /O's key salt.
    */
  def fileKeyR6Owner(o: Array[Byte], u: Array[Byte], oe: Array[Byte],
      r: Int, pwd: Array[Byte]): Array[Byte] = {
    val u48 = java.util.Arrays.copyOf(u, 48)
    val ksalt = java.util.Arrays.copyOfRange(o, 40, 48)
    val ik =
      if (r == 5) sha("SHA-256", pwd, ksalt, u48)
      else hash2B(pwd, ksalt, u48)
    aesCbcRaw(encrypt = false, ik, new Array[Byte](16),
      java.util.Arrays.copyOf(oe, 32))
  }

  /** Fixture writer: (/U, /UE, /O, /OE, /Perms) for an empty user and
    * owner password around the given 32-byte file key. Salts are caller-
    * supplied for determinism.
    */
  def computeR6Entries(fileKey: Array[Byte], salts: Array[Byte], p: Long)
      : (Array[Byte], Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
    require(salts.length >= 32, "need 32 salt bytes")
    val uvs = java.util.Arrays.copyOfRange(salts, 0, 8)
    val uks = java.util.Arrays.copyOfRange(salts, 8, 16)
    val ovs = java.util.Arrays.copyOfRange(salts, 16, 24)
    val oks = java.util.Arrays.copyOfRange(salts, 24, 32)
    val empty = Array.emptyByteArray
    val u = hash2B(empty, uvs, empty) ++ uvs ++ uks
    val ue = aesCbcRaw(encrypt = true, hash2B(empty, uks, empty),
      new Array[Byte](16), fileKey)
    val o = hash2B(empty, ovs, u) ++ ovs ++ oks
    val oe = aesCbcRaw(encrypt = true, hash2B(empty, oks, u),
      new Array[Byte](16), fileKey)
    val perms = new Array[Byte](16)
    var i = 0
    while (i < 4) { perms(i) = ((p >> (8 * i)) & 0xff).toByte; i += 1 }
    perms(4) = 0xff.toByte; perms(5) = 0xff.toByte
    perms(6) = 0xff.toByte; perms(7) = 0xff.toByte
    perms(8) = 'T'; perms(9) = 'a'; perms(10) = 'd'; perms(11) = 'b'
    val ecb = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    ecb.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(fileKey, "AES"))
    (u, ue, o, oe, ecb.doFinal(perms))
  }
}
