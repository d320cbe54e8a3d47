package graft.ole2

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import graft.core.OutBuf
import graft.engine.{MetaSink, SpanSink}

/** HWP v5 (Hangul word processor, CFB-based) text extractor.
  *
  * Reference behavior: tika-parsers
  * .../hwp/HwpTextExtractorV5.java — `FileHeader` stream carries the
  * "HWP Document File" signature + flags (bit0 zlib-compressed
  * sections, bit1 password-encrypted → fail, bit2 distributed
  * "ViewText"); body text lives in `BodyText/Section*` (or `ViewText/`)
  * streams of tag records (u32 header: id 0-9, level 10-19, len 20-31,
  * 0xFFF → extended u32 length); HWPTAG_PARA_TEXT (0x10+51) payloads
  * are UTF-16LE with control/inline/extended codes below 32. Distributed
  * sections prepend a 256-byte SRand-xor-obfuscated block holding an
  * AES-128 key that ECB-decrypts the rest.
  */
object HwpExtractor {

  final class HwpMalformed(msg: String) extends Exception(msg)

  private val Signature = "HWP Document File".getBytes(StandardCharsets.US_ASCII)
  private val ParaTextTag = 0x10 + 51
  // char-type table for codes 0..31: 1=control (space), 2=inline (skip
  // 7 more code units), 3=extended (skip 7) — HwpTextExtractorV5:74-78
  private val CharType: Array[Int] = Array(
    1, 3, 3, 3, 2, 2, 2, 2, 2, 2, // 0-9 (9 = tab, special-cased)
    1, 3, 3, 1, 3, 3, 3, 3, 3, 2, // 10-19
    2, 3, 3, 3, 1, 1, 1, 1, 1, 1, // 20-29
    1, 1) // 30-31

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val cfb = Cfb.parse(bytes)
    val header = cfb.stream("FileHeader")
      .getOrElse(throw new HwpMalformed("no FileHeader"))
    if (header.length < 256 ||
        !java.util.Arrays.equals(Signature,
          java.util.Arrays.copyOfRange(header, 0, Signature.length)))
      throw new HwpMalformed("bad HWP signature")
    val hbuf = ByteBuffer.wrap(header).order(ByteOrder.LITTLE_ENDIAN)
    val flags = hbuf.getInt(36)
    val compressed = (flags & 1) != 0
    val encrypted = (flags & 2) != 0
    val viewtext = (flags & 4) != 0
    if (encrypted) throw new HwpMalformed("document is encrypted")

    // stream name carries a leading 0x05 control char (OLEPS convention)
    cfb.streams.find(_.name.endsWith("HwpSummaryInformation"))
      .foreach(e => OleProps.summaryMeta(cfb.readStream(e), meta))

    // sections live under BodyText/ (or ViewText/ when distributed —
    // dist files can carry BOTH storages, only the flagged one is real),
    // ordered by numeric suffix
    val storage = if (viewtext) "ViewText/" else "BodyText/"
    val sections = cfb.streams
      .filter(e => e.path == storage && e.name.startsWith("Section") &&
        e.name.drop(7).forall(_.isDigit) && e.name.length > 7)
      .sortBy(_.name.drop(7).toInt)
    sections.foreach { e =>
      var data = cfb.readStream(e)
      if (viewtext) data = decryptDistributed(data)
      if (compressed) data = inflateRaw(data)
      parseSection(data, sink)
    }
    meta.set("hwp:sections", sections.size.toString)
  }

  private def inflateRaw(data: Array[Byte]): Array[Byte] = {
    val out = new OutBuf(OutBuf.MaxBytes, math.min(data.length * 4, 1 << 20))
    if (out.inflate(data, 0, data.length, raw = true) == OutBuf.Capped)
      throw new graft.engine.ZipBombDetected
    out.result
  }

  /** Distributed ("ViewText") section: 4-byte header + 256-byte block
    * whose tail is xor-obfuscated with an MSVC srand/rand stream seeded
    * by its own first dword; the AES-128 key sits at 4 + (b0 & 0xF).
    * The remainder of the stream is AES/ECB.
    */
  private def decryptDistributed(data: Array[Byte]): Array[Byte] = {
    if (data.length < 260) throw new HwpMalformed("short distributed section")
    val blk = java.util.Arrays.copyOfRange(data, 4, 260)
    var seed = ByteBuffer.wrap(blk).order(ByteOrder.LITTLE_ENDIAN).getInt(0)
    def rand(): Int = {
      seed = seed * 214013 + 2531011
      (seed >> 16) & 0x7fff
    }
    var xor: Byte = 0
    var n = 0
    var i = 0
    while (i < 256) {
      if (n == 0) {
        xor = (rand() & 0xff).toByte
        n = (rand() & 0xf) + 1
      }
      if (i >= 4) blk(i) = (blk(i) ^ xor).toByte
      i += 1
      n -= 1
    }
    val off = blk(0) & 0xf
    val key = java.util.Arrays.copyOfRange(blk, 4 + off, 4 + off + 16)
    val cipher = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    cipher.init(javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"))
    val body = java.util.Arrays.copyOfRange(data, 260,
      data.length - ((data.length - 260) % 16))
    cipher.doFinal(body)
  }

  private def parseSection(data: Array[Byte], sink: SpanSink): Unit = {
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    var p = 0
    while (p + 4 <= data.length) {
      val hdr = buf.getInt(p).toLong & 0xffffffffL
      p += 4
      val id = (hdr & 0x3ff).toInt
      var len = ((hdr >> 20) & 0xfff).toInt
      if (len == 0xfff) {
        if (p + 4 > data.length) return
        len = buf.getInt(p)
        p += 4
      }
      if (len < 0 || p + len > data.length) return
      if (id == ParaTextTag && len % 2 == 0) {
        val sb = new StringBuilder()
        val nChars = len / 2
        var k = 0
        while (k < nChars) {
          val ch = buf.getChar(p + k * 2).toInt
          if (ch < 32) {
            if (ch == 9) { sb.append('\t'); k += 7 }
            else if (CharType(ch) == 1) sb.append(' ')
            else k += 7 // inline/extended carry 7 more code units
          } else sb.append(ch.toChar)
          k += 1
        }
        val text = sb.toString
        if (text.nonEmpty) {
          sink.chars(text)
          sink.newline()
        }
      }
      p += len
    }
  }
}
