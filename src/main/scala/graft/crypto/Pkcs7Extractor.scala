package graft.crypto

import graft.core.OutBuf

/** PKCS#7 / CMS unwrapping — a minimal BER/DER walker (definite AND
  * indefinite lengths, constructed octet strings) over the public CMS
  * structure (RFC 5652): ContentInfo → signedData encapContentInfo
  * eContent, and RFC 5544 timestamped-data content.
  *
  * Reference behavior: crypto-module Pkcs7Parser / TSDParser extract the
  * wrapped content (via BouncyCastle there) and recurse it as an
  * embedded document; enveloped (encrypted) content and detached
  * signatures carry no recoverable payload and are recorded as such.
  */
object Pkcs7Extractor {

  final class Pkcs7Malformed(msg: String) extends RuntimeException(msg)

  private val OidSignedData = "1.2.840.113549.1.7.2"
  private val OidData = "1.2.840.113549.1.7.1"
  private val OidEnveloped = "1.2.840.113549.1.7.3"
  private val OidDigested = "1.2.840.113549.1.7.5"
  private val OidEncrypted = "1.2.840.113549.1.7.6"
  private val OidCompressed = "1.2.840.113549.1.9.16.1.9"
  private val OidTimestamped = "1.2.840.113549.1.9.16.1.31"

  /** Inflated-output cap for CMS compressedData (crypto-module
    * Pkcs7Parser.MAX_DECOMPRESSED = 100 MB) — bounds a zlib bomb.
    */
  private val MaxDecompressed = 100L * 1024 * 1024

  /** One BER TLV: (tag, constructed, contentStart, contentEnd, nextPos).
    * For indefinite lengths contentEnd is the position of the 00 00
    * terminator (scanned with nesting).
    */
  private final case class Tlv(tag: Int, constructed: Boolean,
      start: Int, end: Int, next: Int)

  private def readTlv(b: Array[Byte], pos: Int): Tlv = {
    if (pos + 2 > b.length) throw new Pkcs7Malformed("truncated tlv")
    val tag = b(pos) & 0xff
    val constructed = (tag & 0x20) != 0
    var p = pos + 1
    val l0 = b(p) & 0xff
    p += 1
    if (l0 == 0x80) {
      // indefinite: find the matching 00 00 end-of-contents
      if (!constructed) throw new Pkcs7Malformed("primitive indefinite length")
      var depth = 1
      var q = p
      while (depth > 0) {
        if (q + 2 > b.length) throw new Pkcs7Malformed("unterminated indefinite")
        if (b(q) == 0 && b(q + 1) == 0) { depth -= 1; q += 2 }
        else {
          val inner = readTlv(b, q)
          q = inner.next
        }
      }
      Tlv(tag, constructed, p, q - 2, q)
    } else if (l0 < 0x80) {
      Tlv(tag, constructed, p, p + l0, p + l0)
    } else {
      val n = l0 & 0x7f
      if (n > 4 || p + n > b.length) throw new Pkcs7Malformed("bad length")
      var len = 0L
      var i = 0
      while (i < n) { len = (len << 8) | (b(p + i) & 0xff); i += 1 }
      p += n
      if (len < 0 || p + len > b.length) throw new Pkcs7Malformed("length overruns")
      Tlv(tag, constructed, p, (p + len).toInt, (p + len).toInt)
    }
  }

  private def oidAt(b: Array[Byte], t: Tlv): String = {
    val sb = new StringBuilder
    var v = 0L
    var first = true
    var i = t.start
    while (i < t.end) {
      val x = b(i) & 0xff
      v = (v << 7) | (x & 0x7f)
      if ((x & 0x80) == 0) {
        if (first) { sb.append(v / 40).append('.').append(v % 40); first = false }
        else sb.append('.').append(v)
        v = 0
      }
      i += 1
    }
    sb.toString
  }

  /** Collect the bytes of an octet string (possibly constructed from
    * segments under BER). */
  private def octets(b: Array[Byte], t: Tlv,
      out: java.io.ByteArrayOutputStream): Unit = {
    if (!t.constructed) out.write(b, t.start, t.end - t.start)
    else {
      var p = t.start
      while (p < t.end) {
        val seg = readTlv(b, p)
        if ((seg.tag & 0x1f) == 0x04 || seg.constructed) octets(b, seg, out)
        p = seg.next
      }
    }
  }

  /** contentType = the ContentInfo OID; smimeType = the reference
    * CmsClassifier label (signed-data / certs-only / enveloped-data /
    * compressed-data / digested-data / encrypted-data; null when the
    * OID is outside that mapping, and for a detached signature with
    * signers — the reference labels that one by its pkcs7-signature
    * media type, not an smime-type); content = the recoverable payload
    * (inflated for compressedData), empty when absent or encrypted;
    * truncated = the compressedData bomb cap clipped the payload
    * (Pkcs7Parser records a truncation warning and keeps the prefix).
    */
  final case class Unwrapped(contentType: String, smimeType: String,
      content: Array[Byte], truncated: Boolean = false)

  /** Unwrap ContentInfo → inner content bytes. Non-signed CMS types are
    * labelled without throwing (Pkcs7Parser: enveloped/digested/encrypted
    * yield an empty document); compressedData is zlib-inflated (RFC 3274)
    * and its payload returned; structural DER errors still throw.
    */
  def unwrap(bytes: Array[Byte]): Unwrapped = {
    // not a DER SEQUENCE (e.g. PEM armor): the reference's CmsClassifier
    // peeks the first byte and returns null, and Pkcs7Parser emits an
    // empty document without throwing — only errors INSIDE a real
    // SEQUENCE are parse exceptions there (CMSException path)
    if (bytes.isEmpty || (bytes(0) & 0x1f) != 0x10)
      return Unwrapped(null, null, Array.emptyByteArray)
    val root = readTlv(bytes, 0)
    val oidTlv = readTlv(bytes, root.start)
    if ((oidTlv.tag & 0x1f) != 0x06) throw new Pkcs7Malformed("no content type")
    val ct = oidAt(bytes, oidTlv)
    if (ct == OidEnveloped)
      return Unwrapped(ct, "enveloped-data", Array.emptyByteArray)
    if (ct == OidDigested)
      return Unwrapped(ct, "digested-data", Array.emptyByteArray)
    if (ct == OidEncrypted)
      return Unwrapped(ct, "encrypted-data", Array.emptyByteArray)
    if (ct == OidCompressed) {
      val wrapper0 = readTlv(bytes, oidTlv.next) // [0] EXPLICIT
      val cd = readTlv(bytes, wrapper0.start) // CompressedData SEQ
      val deflated = encapContent(bytes, cd)
      val (inflated, truncated) = inflate(deflated)
      return Unwrapped(ct, "compressed-data", inflated, truncated)
    }
    if (ct != OidSignedData && ct != OidTimestamped)
      return Unwrapped(ct, null, Array.emptyByteArray)
    // [0] EXPLICIT wrapper
    val wrapper = readTlv(bytes, oidTlv.next)
    val body = readTlv(bytes, wrapper.start) // SignedData / TimestampedData SEQ
    if (ct == OidTimestamped) {
      // TimeStampedData ::= SEQUENCE { version, dataUri?, metaData?,
      // content OCTET STRING, temporalEvidence } — take the first octet
      // string child directly (RFC 5544 §2)
      var q = body.start
      while (q < body.end) {
        val c = readTlv(bytes, q)
        if ((c.tag & 0x1f) == 0x04 && (c.tag & 0xc0) == 0) {
          val out = new java.io.ByteArrayOutputStream()
          octets(bytes, c, out)
          return Unwrapped(ct, null, out.toByteArray)
        }
        q = c.next
      }
      return Unwrapped(ct, null, Array.emptyByteArray)
    }
    // SignedData ::= SEQUENCE { version, digestAlgorithms SET,
    // encapContentInfo, [0] certs?, [1] crls?, signerInfos SET }
    val content = encapContent(bytes, body)
    if (content.nonEmpty) return Unwrapped(ct, "signed-data", content)
    // detached: distinguish certs-only (certificates present, zero
    // signers — CmsClassifier.CERTS_ONLY) from a detached signature
    // with signers (labelled by the pkcs7-signature media type there,
    // no smime-type)
    var hasCerts = false
    var signersEmpty = true
    var p = body.start
    var lastSet: Tlv = null
    while (p < body.end) {
      val t = readTlv(bytes, p)
      if ((t.tag & 0xc0) == 0x80 && (t.tag & 0x1f) == 0x00) hasCerts = true
      if ((t.tag & 0xc0) == 0 && (t.tag & 0x1f) == 0x11) lastSet = t
      p = t.next
    }
    // signerInfos is the final SET; the first SET is digestAlgorithms
    if (lastSet != null) signersEmpty = lastSet.start == lastSet.end
    Unwrapped(ct,
      if (hasCerts && signersEmpty) "certs-only" else null,
      Array.emptyByteArray)
  }

  /** Find the encapContentInfo inside a SignedData / CompressedData
    * body — the SEQUENCE whose first child is a content-type OID in
    * the data / 1.2.840.113549.1.9.16.1.* arcs (the algorithm OID
    * sequences carry different arcs) — and collect its [0] payload:
    * an OCTET STRING (possibly constructed/segmented under BER) or a
    * nested SEQUENCE holding one.
    */
  private def encapContent(b: Array[Byte], body: Tlv): Array[Byte] = {
    var p = body.start
    while (p < body.end) {
      val t = readTlv(b, p)
      if ((t.tag & 0xc0) == 0 && (t.tag & 0x1f) == 0x10) {
        val first = readTlv(b, t.start)
        if ((first.tag & 0x1f) == 0x06) {
          val oid = oidAt(b, first)
          if (oid == OidData || oid.startsWith("1.2.840.113549.1.9.16.1.")) {
            val out = new java.io.ByteArrayOutputStream()
            if (first.next < t.end) {
              val ctx0 = readTlv(b, first.next) // [0] EXPLICIT
              val innerTlv = readTlv(b, ctx0.start)
              if ((innerTlv.tag & 0x1f) == 0x04) octets(b, innerTlv, out)
              else if ((innerTlv.tag & 0x1f) == 0x10) {
                var q = innerTlv.start
                while (q < innerTlv.end && out.size() == 0) {
                  val c = readTlv(b, q)
                  if ((c.tag & 0x1f) == 0x04 && (c.tag & 0xc0) == 0)
                    octets(b, c, out)
                  q = c.next
                }
              }
            }
            return out.toByteArray
          }
        }
      }
      p = t.next
    }
    Array.emptyByteArray
  }

  /** zlib-inflate with the bomb cap. Returns (bytes, truncatedByCap);
    * a stream that ends mid-block (needs more input, never finished)
    * is malformed and throws — the reference's BouncyCastle path
    * surfaces that as a parse exception, while a cap trip is recorded
    * as a truncation warning with the prefix kept.
    */
  private def inflate(deflated: Array[Byte]): (Array[Byte], Boolean) = {
    val out = new OutBuf(MaxDecompressed, deflated.length * 4)
    val end =
      try out.inflate(deflated, 0, deflated.length, raw = false)
      catch { case _: java.util.zip.DataFormatException =>
        throw new Pkcs7Malformed("bad zlib stream in compressedData") }
    if (end == OutBuf.NeedsInput)
      throw new Pkcs7Malformed("truncated zlib stream in compressedData")
    if (end == OutBuf.NeedsDict)
      throw new Pkcs7Malformed("zlib preset dictionary unsupported in compressedData")
    (out.result, end == OutBuf.Capped)
  }
}
