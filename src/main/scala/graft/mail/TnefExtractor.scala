package graft.mail

import java.nio.charset.StandardCharsets

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{be16, le16, le32}

/** TNEF / winmail.dat (MS-OXTNEF) extraction.
  *
  * Reference behavior: tika-parsers .../microsoft/TNEFParser.java (via
  * POI HMEF) — subject → title metadata, the compressed-RTF message
  * body recursing as `message.rtf`, then each attachment recursing
  * under its (long) filename. The attribute stream and the LZFu
  * compressed-RTF codec below are implemented from the public
  * MS-OXTNEF / MS-OXRTFCP specifications.
  */
object TnefExtractor {

  final class TnefMalformed(msg: String) extends Exception(msg)

  val Signature = 0x223e9f78L

  private val AttSubject = 0x8004
  private val AttMapiProps = 0x9003
  private val AttAttachRendData = 0x9002
  private val AttAttachData = 0x800f
  private val AttAttachTitle = 0x8010
  private val AttAttachment = 0x9005

  private val PidTagRtfCompressed = 0x1009
  private val PidTagAttachLongFilename = 0x3707
  private val PidTagSubject = 0x0037
  private val PidTagConversationTopic = 0x0070

  final case class Attachment(name: Option[String], data: Array[Byte])
  final case class Message(subject: Option[String], rtf: Option[Array[Byte]],
      attachments: Vector[Attachment])

  def parse(b: Array[Byte]): Message = {
    if (b.length < 6 || le32(b, 0) != Signature)
      throw new TnefMalformed("bad TNEF signature")
    var p = 6 // signature + legacy key
    var subject: Option[String] = None
    var rtf: Option[Array[Byte]] = None
    val attachments = Vector.newBuilder[Attachment]
    var curName: Option[String] = None
    var curData: Array[Byte] = null
    var inAttachment = false
    def flushAttachment(): Unit = {
      if (inAttachment && curData != null)
        attachments += Attachment(curName, curData)
      curName = None
      curData = null
    }
    while (p + 11 <= b.length) {
      // level(1) idAndType(4) length(4) data checksum(2)
      val id = le16(b, p + 1)
      val len = le32(b, p + 5)
      val data = p + 9
      if (len < 0 || data + len + 2 > b.length)
        throw new TnefMalformed("attribute overruns stream")
      val payload = java.util.Arrays.copyOfRange(b, data, (data + len).toInt)
      id match {
        case AttSubject =>
          subject = Some(new String(payload, StandardCharsets.ISO_8859_1)
            .takeWhile(_ != '\u0000').trim).filter(_.nonEmpty)
        case AttMapiProps =>
          val props = parseMapiProps(payload)
          props.get(PidTagRtfCompressed).foreach(v => rtf = Some(decompressRtf(v)))
          if (subject.isEmpty)
            props.get(PidTagSubject).orElse(props.get(PidTagConversationTopic))
              .foreach(v => subject = Some(stringValue(v)).filter(_.nonEmpty))
        case AttAttachRendData =>
          flushAttachment()
          inAttachment = true
        case AttAttachData => curData = payload
        case AttAttachTitle =>
          if (curName.isEmpty)
            curName = Some(new String(payload, StandardCharsets.ISO_8859_1)
              .takeWhile(_ != '\u0000').trim).filter(_.nonEmpty)
        case AttAttachment =>
          parseMapiProps(payload).get(PidTagAttachLongFilename).foreach { v =>
            val s = stringValue(v)
            if (s.nonEmpty) curName = Some(s)
          }
        case _ => ()
      }
      p = (data + len + 2).toInt
    }
    flushAttachment()
    Message(subject, rtf, attachments.result())
  }

  private def stringValue(v: Array[Byte]): String = {
    // heuristically unicode if NUL-paired
    val looks16 = v.length >= 2 && v(1) == 0
    val s =
      if (looks16) new String(v, StandardCharsets.UTF_16LE)
      else new String(v, StandardCharsets.ISO_8859_1)
    s.takeWhile(_ != '\u0000').trim
  }

  /** MAPI property stream: u32 count, then per property u16 type,
    * u16 id; variable-width types (string8/unicode/binary/object) carry
    * a u32 value count and per-value u32 length + 4-padded data; fixed
    * types are inline, 4-padded (8 bytes for i8/double/filetime).
    */
  private def parseMapiProps(b: Array[Byte]): Map[Int, Array[Byte]] = {
    val out = Map.newBuilder[Int, Array[Byte]]
    if (b.length < 4) return Map.empty
    val count = le32(b, 0)
    var p = 4
    var i = 0L
    try {
      while (i < count && p + 4 <= b.length) {
        val typ = le16(b, p)
        val id = le16(b, p + 2)
        p += 4
        val baseType = typ & 0x0fff
        val multi = (typ & 0x1000) != 0
        // named property (id >= 0x8000): GUID + kind + (LID | name)
        if (id >= 0x8000 && p + 20 <= b.length) {
          p += 16
          val kind = le32(b, p).toInt
          p += 4
          if (kind == 1) {
            val nameLen = le32(b, p).toInt
            p += 4 + nameLen + ((4 - (nameLen & 3)) & 3)
          } else p += 4
        }
        val variable = baseType == 0x001e || baseType == 0x001f ||
          baseType == 0x0102 || baseType == 0x000d
        def fixedWidth = baseType match {
          case 0x0002 | 0x000b => 4 // i2/bool stored padded
          case 0x0003 | 0x0004 | 0x000a => 4
          case 0x0005 | 0x0007 | 0x0014 | 0x0040 => 8
          case 0x0048 => 16 // CLSID
          case _ => 4
        }
        if (variable) {
          // u32 value count, then per value u32 length + 4-padded data
          // (MS-OXTNEF 2.1.3.4 — the count is present even single-valued)
          val nVals = le32(b, p).toInt
          p += 4
          var k = 0
          while (k < nVals) {
            val len = le32(b, p).toInt
            p += 4
            if (len < 0 || p + len > b.length)
              throw new TnefMalformed("mapi value overrun")
            if (k == 0) out += id -> java.util.Arrays.copyOfRange(b, p, p + len)
            p += len + ((4 - (len & 3)) & 3)
            k += 1
          }
        } else if (multi) {
          // multi-valued fixed-width: u32 count, then count inline values
          // with NO per-value length prefix (widths are 4-multiples)
          val nVals = le32(b, p).toInt
          p += 4
          if (nVals < 0 || nVals.toLong * fixedWidth > b.length - p)
            throw new TnefMalformed("mapi mv overrun")
          if (nVals > 0)
            out += id -> java.util.Arrays.copyOfRange(b, p, p + fixedWidth)
          p += nVals * fixedWidth
        } else {
          out += id -> java.util.Arrays.copyOfRange(b, p,
            math.min(b.length, p + fixedWidth))
          p += fixedWidth
        }
        i += 1
      }
    } catch { case _: Exception => () } // keep what parsed
    out.result()
  }

  /** MS-OXRTFCP LZFu dictionary string (spec section 2.1.2.2). */
  private val LzfuInit: Array[Byte] =
    ("{\\rtf1\\ansi\\mac\\deff0\\deftab720{\\fonttbl;}{\\f0\\fnil \\froman " +
      "\\fswiss \\fmodern \\fscript \\fdecor MS Sans SerifSymbolArialTimes " +
      "New RomanCourier{\\colortbl\\red0\\green0\\blue0\r\n\\par " +
      "\\pard\\plain\\f0\\fs20\\b\\i\\u\\tab\\tx").getBytes(StandardCharsets.US_ASCII)

  /** Decompress PidTagRtfCompressed (LZFu; MELA passthrough). */
  def decompressRtf(v: Array[Byte]): Array[Byte] = {
    if (v.length < 16) throw new TnefMalformed("short rtf header")
    val rawSize = le32(v, 4)
    val compType = le32(v, 8)
    if (compType == 0x414c454dL) // 'MELA' — uncompressed
      return java.util.Arrays.copyOfRange(v, 16, math.min(v.length, 16 + rawSize.toInt))
    if (compType != 0x75465a4cL) // 'LZFu'
      throw new TnefMalformed(f"unknown rtf compression 0x$compType%x")
    if (rawSize < 0 || rawSize > 64L * 1024 * 1024)
      throw new TnefMalformed("rtf too large")
    val out = new java.io.ByteArrayOutputStream(rawSize.toInt)
    val dict = new Array[Byte](4096)
    System.arraycopy(LzfuInit, 0, dict, 0, LzfuInit.length)
    var wp = LzfuInit.length
    var p = 16
    var done = false
    while (!done && p < v.length && out.size < rawSize) {
      var control = v(p) & 0xff
      p += 1
      var bit = 0
      while (!done && bit < 8 && p < v.length && out.size < rawSize) {
        if ((control & 1) != 0) {
          if (p + 2 > v.length) { done = true }
          else {
            // dictionary reference, big-endian: 12-bit offset, 4-bit len
            val ref = be16(v, p)
            p += 2
            val off = ref >>> 4
            val len = (ref & 0xf) + 2
            if (off == wp % 4096) done = true // end marker
            else {
              var k = 0
              while (k < len && out.size < rawSize) {
                val c = dict((off + k) % 4096)
                out.write(c)
                dict(wp % 4096) = c
                wp += 1
                k += 1
              }
            }
          }
        } else {
          val c = v(p); p += 1
          out.write(c)
          dict(wp % 4096) = c
          wp += 1
        }
        control >>= 1
        bit += 1
      }
    }
    out.toByteArray
  }

  /** Engine entry: subject → metadata, message.rtf + attachments recurse. */
  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (Option[String], Array[Byte]) => Unit): Unit = {
    val msg = parse(bytes)
    msg.subject.foreach { s =>
      meta.set("dc:title", s)
      meta.set("dc:subject", s)
    }
    msg.rtf.foreach(r => child(Some("message.rtf"), r))
    msg.attachments.foreach(a => child(a.name, a.data))
  }
}
