package graft.media

import graft.core.{Endian, OutBuf}
import graft.core.Endian.{be16, be32, be64, beInt, le16, le32}

/** Image/audio/video metadata extraction from payload bytes — the
  * columns a multimodal training pipeline needs (width/height/duration/
  * sample rate), parsed from the public container formats with the JDK
  * only.
  *
  * Reference analog: tika's image & audiovideo modules (JpegParser /
  * TiffParser / Mp3Parser / MP4Parser, SURVEY.md §2.7) extract metadata
  * only — no pixel/sample decode — which is exactly this surface.
  */
object MediaParser {

  final case class Meta(
      mime: String,
      kind: String,           // image | audio | video
      width: Int = 0,
      height: Int = 0,
      durationMs: Long = 0L,
      sampleRate: Int = 0,
      channels: Int = 0,
      orientation: Int = 0,   // EXIF orientation 1-8, 0 = absent
      tags: Map[String, String] = Map.empty, // id3:*/xmp:* descriptive tags
      attachments: Seq[(String, Array[Byte])] = Nil) // APIC cover art etc.

  def parse(bytes: Array[Byte]): Option[Meta] = {
    if (bytes.length < 12) return None
    try {
      val m0 =
        if (matches(bytes, 0, 0x89, 'P', 'N', 'G')) parsePng(bytes)
      else if (matches(bytes, 0, 0xff, 0xd8, 0xff)) parseJpeg(bytes)
      else if (matches(bytes, 0, 'G', 'I', 'F', '8')) parseGif(bytes)
      else if (matches(bytes, 0, 'I', 'I', 0x2a, 0) ||
               matches(bytes, 0, 'M', 'M', 0, 0x2a)) parseTiff(bytes)
      else if (matches(bytes, 0, 'B', 'M')) parseBmp(bytes)
      else if (matches(bytes, 0, 'R', 'I', 'F', 'F') &&
               matches(bytes, 8, 'W', 'A', 'V', 'E')) parseWav(bytes)
      else if (matches(bytes, 0, 'R', 'I', 'F', 'F') &&
               matches(bytes, 8, 'W', 'E', 'B', 'P')) parseWebp(bytes)
      else if (matches(bytes, 0, '8', 'B', 'P', 'S')) parsePsd(bytes)
      else if (matches(bytes, 0, 0, 0, 1, 0) && bytes.length > 6 &&
               (bytes(4) & 0xff) > 0) parseIco(bytes)
      else if (matches(bytes, 0, 'F', 'O', 'R', 'M') &&
               matches(bytes, 8, 'A', 'I', 'F')) parseAiff(bytes)
      else if (matches(bytes, 0, '.', 's', 'n', 'd')) parseAu(bytes)
      else if (matches(bytes, 0, 'M', 'T', 'h', 'd')) parseMidi(bytes)
      // ADTS AAC before the MPEG-audio sync test: same 0xFFEx sync,
      // but AAC's layer bits are 00 (no valid MP3 frame has that)
      else if (bytes.length > 6 && (bytes(0) & 0xff) == 0xff &&
               (bytes(1) & 0xf6) == 0xf0) parseAdtsAac(bytes)
      else if (matches(bytes, 0, 'I', 'D', '3') ||
               (bytes.length > 1 && (bytes(0) & 0xff) == 0xff &&
                 (bytes(1) & 0xe0) == 0xe0)) parseMp3(bytes)
      else if (bytes.length > 11 && matches(bytes, 4, 'f', 't', 'y', 'p'))
        parseMp4(bytes)
      else if (matches(bytes, 0, 'O', 'g', 'g', 'S')) parseOgg(bytes)
      else if (matches(bytes, 0, 0x42, 0x50, 0x47, 0xfb)) parseBpg(bytes)
      else if (matches(bytes, 0, 'F', 'L', 'V', 0x01)) parseFlv(bytes)
      else if (matches(bytes, 0, 0x30, 0x26, 0xb2, 0x75)) parseAsf(bytes)
      else if (matches(bytes, 0, 'i', 'c', 'n', 's')) parseIcns(bytes)
      else if (matches(bytes, 0, 0xff, 0x0a)) parseJxlCodestream(bytes, 2)
      else if (matches(bytes, 4, 'J', 'X', 'L', ' ') &&
               matches(bytes, 8, 0x0d, 0x0a, 0x87, 0x0a)) parseJxlContainer(bytes)
      else if (bytes(0) == 'P' && bytes(1) >= '1' && bytes(1) <= '6' &&
               (bytes(2) == '\n' || bytes(2) == '\r' || bytes(2) == ' ' ||
                 bytes(2) == '\t')) parsePnm(bytes)
      else if ((bytes(0) == 'F' || bytes(0) == 'C' || bytes(0) == 'Z') &&
               bytes(1) == 'W' && bytes(2) == 'S') parseSwf(bytes)
      else if (matches(bytes, 0, '#', '!', 'A', 'M') && bytes(4) == 'R')
        parseAmr(bytes)
      else if (matches(bytes, 0, 'A', 'T', '&', 'T') &&
               matches(bytes, 4, 'F', 'O', 'R', 'M')) parseDjvu(bytes)
      else if (matches(bytes, 0, 0xb1, 0x68, 0xde, 0x3a)) parseDcx(bytes)
      else if (matches(bytes, 0, 0x97, 'J', 'B', '2')) parseJbig2(bytes)
      else if (looksLikePict(bytes)) parsePict(bytes)
      else None
      // descriptive tags ride on top of the structural metadata:
      // XMP packets (JPEG APP1 / PNG iTXt / TIFF) found by bounded scan
      m0.map { m =>
        val xmp = xmpTags(bytes)
        if (xmp.isEmpty) m else m.copy(tags = m.tags ++ xmp)
      }
    } catch { case _: Exception => None }
  }

  /** SWF (FWS plain / CWS zlib / ZWS lzma): version, stage RECT in
    * twips (nbits-packed), frame rate (8.8 fixed) and frame count.
    * Public SWF file-format specification.
    */
  private def parseSwf(b: Array[Byte]): Option[Meta] = {
    if (b.length < 9) return None
    val version = b(3) & 0xff
    val body: Array[Byte] =
      if (b(0) == 'F') java.util.Arrays.copyOfRange(b, 8, b.length)
      else if (b(0) == 'C') {
        // the header fits in 64 bytes; a shorter body reads as zeros
        val out = new OutBuf(64, 64)
        try out.inflate(b, 8, b.length - 8, raw = false)
        catch { case _: Exception => return None }
        java.util.Arrays.copyOf(out.result, 64)
      } else return Some(Meta("application/x-shockwave-flash", "video",
        tags = Map("swf:version" -> version.toString))) // ZWS: header only
    if (body.length < 10) return None
    val nbits = (body(0) & 0xff) >>> 3
    var bitPos = 5
    def bits(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) {
        val byteI = bitPos >>> 3
        if (byteI >= body.length) return 0
        v = (v << 1) | ((body(byteI) >>> (7 - (bitPos & 7))) & 1)
        bitPos += 1; i += 1
      }
      v
    }
    val xmin = bits(nbits)
    val xmax = bits(nbits)
    val ymin = bits(nbits)
    val ymax = bits(nbits)
    val rectBytes = (5 + 4 * nbits + 7) / 8
    if (rectBytes + 4 > body.length) return None
    val frameRate = ((body(rectBytes + 1) & 0xff) +
      (body(rectBytes) & 0xff) / 256.0)
    val frameCount = (body(rectBytes + 2) & 0xff) | ((body(rectBytes + 3) & 0xff) << 8)
    Some(Meta("application/x-shockwave-flash", "video",
      // stage dims are the RECT extent — xmin/ymin need not be 0
      width = ((xmax - xmin) / 20).toInt, height = ((ymax - ymin) / 20).toInt,
      durationMs = if (frameRate > 0) (frameCount * 1000 / frameRate).toLong else 0,
      tags = Map("swf:version" -> version.toString,
        "swf:frame-count" -> frameCount.toString,
        "swf:frame-rate" -> f"$frameRate%.2f")))
  }

  private val AmrNbSizes = Array(12, 13, 15, 17, 19, 20, 26, 31, 5, 0, 0, 0, 0, 0, 0, 0)
  private val AmrWbSizes = Array(17, 23, 32, 36, 40, 46, 50, 58, 60, 5, 0, 0, 0, 0, 0, 0)

  /** AMR-NB / AMR-WB (RFC 4867 storage format): "#!AMR\n" or
    * "#!AMR-WB\n" then 20 ms frames whose size the frame-type nibble
    * fixes — duration = 20 ms × frames.
    */
  private def parseAmr(b: Array[Byte]): Option[Meta] = {
    val wb = b.length > 9 && b(5) == '-' && b(6) == 'W' && b(7) == 'B' && b(8) == '\n'
    val nb = !wb && b.length > 6 && b(5) == '\n'
    if (!wb && !nb) return None
    val sizes = if (wb) AmrWbSizes else AmrNbSizes
    var p = if (wb) 9 else 6
    var frames = 0
    while (p < b.length && frames < 10000000) {
      val ft = (b(p) >>> 3) & 0x0f
      val sz = sizes(ft)
      if (sz == 0) p = b.length // SID/invalid: stop counting
      else { p += 1 + sz; frames += 1 }
    }
    Some(Meta(if (wb) "audio/amr-wb" else "audio/amr", "audio",
      durationMs = frames * 20L, sampleRate = if (wb) 16000 else 8000,
      channels = 1))
  }

  private val AdtsRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350, 0, 0, 0)

  /** ADTS AAC: fixed+variable headers per frame (ISO/IEC 13818-7) —
    * sample rate from the frequency index, 1024 samples per frame.
    */
  private def parseAdtsAac(b: Array[Byte]): Option[Meta] = {
    var p = 0
    var frames = 0
    var rate = 0
    var channels = 0
    while (p + 7 <= b.length && (b(p) & 0xff) == 0xff &&
        (b(p + 1) & 0xf6) == 0xf0 && frames < 10000000) {
      if (frames == 0) {
        rate = AdtsRates((b(p + 2) >>> 2) & 0x0f)
        channels = ((b(p + 2) & 1) << 2) | ((b(p + 3) & 0xff) >>> 6)
      }
      val len = ((b(p + 3) & 0x03) << 11) | ((b(p + 4) & 0xff) << 3) |
        ((b(p + 5) & 0xff) >>> 5)
      if (len < 7) return None
      p += len
      frames += 1
    }
    if (frames == 0 || rate == 0) None
    else Some(Meta("audio/x-aac", "audio",
      durationMs = frames * 1024L * 1000 / rate,
      sampleRate = rate, channels = channels))
  }

  /** DCX (multi-page PCX): 0x3ADE68B1 magic + page-offset table; the
    * first page's PCX window (xmin/ymin/xmax/ymax) gives the dims.
    */
  private def parseDcx(b: Array[Byte]): Option[Meta] = {
    var pages = 0
    var i = 4
    while (i + 4 <= math.min(b.length, 4 + 1024 * 4) && le32(b, i) != 0) {
      pages += 1; i += 4
    }
    if (pages == 0) return None
    val first = le32(b, 4)
    if (first + 12 > b.length || b(first.toInt) != 0x0a) return None
    val fo = first.toInt
    val w = le16(b, fo + 8) - le16(b, fo + 4) + 1
    val h = le16(b, fo + 10) - le16(b, fo + 6) + 1
    if (w <= 0 || h <= 0) None
    else Some(Meta("image/vnd.zbrush.dcx", "image", width = w, height = h,
      tags = Map("dcx:pages" -> pages.toString)))
  }

  /** JBIG2 generic file (ISO/IEC 14492 annex D): 8-byte signature +
    * flags (+ page count), then segment headers; the first page-info
    * segment (type 48) carries width/height u32 BE.
    */
  private def parseJbig2(b: Array[Byte]): Option[Meta] = {
    if (b.length < 13) return None
    val flags = b(8) & 0xff
    var p = if ((flags & 0x02) == 0) 13 else 9 // bit1 set = page count absent
    val pages = if ((flags & 0x02) == 0) be32(b, 9) else 0
    var guard = 0
    while (p + 11 <= b.length && guard < 1000) {
      val segFlags = b(p + 4) & 0xff
      val segType = segFlags & 0x3f
      // referred-to segments: count in top 3 bits of the next byte
      var q = p + 5
      val rts = (b(q) & 0xff) >>> 5
      val count =
        if (rts == 7) { val c = (be32(b, q) & 0x1fffffff).toInt; q += 4 + (c + 8) / 8; c }
        else { q += 1; rts }
      // referred-to numbers: 1/2/4 bytes each by this segment's number
      val segNum = be32(b, p)
      val refSize = if (segNum <= 256) 1 else if (segNum <= 65536) 2 else 4
      q += count * refSize
      // page association: 1 or 4 bytes (segFlags bit 6)
      val pa = if ((segFlags & 0x40) != 0) 4 else 1
      q += pa
      if (q + 4 > b.length) return None
      val dataLen = be32(b, q)
      q += 4
      if (segType == 48 && q + 8 <= b.length) {
        val w = be32(b, q); val h = be32(b, q + 4)
        if (w > 0 && h > 0)
          return Some(Meta("image/x-jbig2", "image", width = w.toInt,
            height = h.toInt,
            tags = if (pages > 0) Map("jbig2:pages" -> pages.toString)
              else Map.empty))
      }
      if (dataLen == 0xffffffffL) return None // unknown-length segment
      p = (q + dataLen).toInt
      guard += 1
    }
    None
  }

  /** Netpbm P1-P6: ASCII dims after the magic, `#` comments skipped. */
  private def parsePnm(b: Array[Byte]): Option[Meta] = {
    var i = 2
    def nextInt(): Int = {
      var v = -1
      while (i < b.length && v < 0) {
        val c = b(i) & 0xff
        if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else if (c >= '0' && c <= '9') {
          v = 0
          while (i < b.length && b(i) >= '0' && b(i) <= '9') {
            v = v * 10 + (b(i) - '0'); i += 1
          }
        } else i += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt()
    if (w > 0 && h > 0)
      Some(Meta("image/x-portable-anymap", "image", width = w, height = h))
    else None
  }

  /** DjVu (AT&TFORM IFF85): chunk walk — the first INFO chunk (inside a
    * DJVU page FORM) carries width/height u16 BE; a DJVM multipage
    * DIRM directory carries the page count and bundled flag (readable
    * without the BZZ name decoder).
    */
  private def parseDjvu(b: Array[Byte]): Option[Meta] = {
    var w = 0; var h = 0
    var tags = Map.empty[String, String]
    def walk(start: Int, end: Int, depth: Int): Unit = {
      var o = start
      while (o + 8 <= end && depth < 8) {
        val len = beInt(b, o + 4)
        if (len < 0 || o + 8 + len > b.length) return
        if (b(o) == 'F' && b(o + 1) == 'O' && b(o + 2) == 'R' && b(o + 3) == 'M')
          walk(o + 12, math.min(o + 8 + len, end), depth + 1)
        else if (w == 0 && len >= 4 && b(o) == 'I' && b(o + 1) == 'N' &&
            b(o + 2) == 'F' && b(o + 3) == 'O') {
          w = ((b(o + 8) & 0xff) << 8) | (b(o + 9) & 0xff)
          h = ((b(o + 10) & 0xff) << 8) | (b(o + 11) & 0xff)
        } else if (len >= 3 && b(o) == 'D' && b(o + 1) == 'I' &&
            b(o + 2) == 'R' && b(o + 3) == 'M') {
          val flags = b(o + 8) & 0xff
          val n = ((b(o + 9) & 0xff) << 8) | (b(o + 10) & 0xff)
          tags += ("djvu:pages" -> n.toString)
          tags += ("djvu:bundled" -> ((flags & 0x80) != 0).toString)
        }
        o += 8 + len + (len & 1)
      }
    }
    walk(4, math.min(b.length, 4 * 1024 * 1024), 0)
    if (w > 0 || tags.nonEmpty)
      Some(Meta("image/vnd.djvu", "image", width = w, height = h, tags = tags))
    else None
  }

  /** Apple PICT: 512-byte zero header, picture size u16, then the
    * frame rect (top/left/bottom/right, u16 BE each). Only reached for
    * name-hinted image/x-pict payloads (no magic exists at offset 0).
    */
  private def looksLikePict(b: Array[Byte]): Boolean = {
    if (b.length < 532) return false
    var i = 0
    while (i < 512) { if (b(i) != 0) return false; i += 1 }
    // require the version opcode right after size+frame: v2 = 0x0011
    // 0x02FF, v1 = 0x11 0x01 — a zero-padded non-PICT payload fails here
    (b(522) == 0x00 && b(523) == 0x11 && b(524) == 0x02 &&
      (b(525) & 0xff) == 0xff) || (b(522) == 0x11 && b(523) == 0x01)
  }
  private def parsePict(b: Array[Byte]): Option[Meta] = {
    val top = be16(b, 514); val left = be16(b, 516)
    val bottom = be16(b, 518); val right = be16(b, 520)
    val w = right - left; val h = bottom - top
    if (w > 0 && h > 0)
      Some(Meta("image/x-pict", "image", width = w, height = h))
    else None
  }

  /** ISO 15076 / Adobe XMP packet scan: find `<x:xmpmeta>` in the first
    * 4 MiB and lift the common Dublin-Core/XMP properties to tags (the
    * reference's tika-parser-xmp-commons surface: title, creator,
    * description, CreateDate, CreatorTool).
    */
  def xmpTags(b: Array[Byte]): Map[String, String] = {
    val limit = math.min(b.length, 4 * 1024 * 1024)
    val needle = "<x:xmpmeta".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    var i = 0
    var at = -1
    while (at < 0 && i + needle.length <= limit) {
      var j = 0
      while (j < needle.length && b(i + j) == needle(j)) j += 1
      if (j == needle.length) at = i
      i += 1
    }
    if (at < 0) return Map.empty
    val end0 = {
      val closer = "</x:xmpmeta>".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      var k = at
      var found = -1
      while (found < 0 && k + closer.length <= limit) {
        var j = 0
        while (j < closer.length && b(k + j) == closer(j)) j += 1
        if (j == closer.length) found = k + closer.length
        k += 1
      }
      if (found < 0) math.min(limit, at + 65536) else found
    }
    val xml = new String(b, at, end0 - at, java.nio.charset.StandardCharsets.UTF_8)
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    def firstMatch(res: String*): Option[String] =
      res.iterator.flatMap(r => r.r.findFirstMatchIn(xml).map(_.group(1)))
        .find(_.trim.nonEmpty).map(_.trim)
    // both rdf:li-list and attribute forms appear in the wild
    firstMatch("""(?s)dc:title.*?<rdf:li[^>]*>([^<]+)</rdf:li>""",
      """dc:title="([^"]+)"""").foreach(out("xmp:title") = _)
    firstMatch("""(?s)dc:creator.*?<rdf:li[^>]*>([^<]+)</rdf:li>""",
      """dc:creator="([^"]+)"""").foreach(out("xmp:creator") = _)
    firstMatch("""(?s)dc:description.*?<rdf:li[^>]*>([^<]+)</rdf:li>""",
      """dc:description="([^"]+)"""").foreach(out("xmp:description") = _)
    firstMatch("""<xmp:CreateDate>([^<]+)</xmp:CreateDate>""",
      """xmp:CreateDate="([^"]+)"""").foreach(out("xmp:create-date") = _)
    firstMatch("""<xmp:CreatorTool>([^<]+)</xmp:CreatorTool>""",
      """xmp:CreatorTool="([^"]+)"""").foreach(out("xmp:creator-tool") = _)
    out.toMap
  }

  /** Reassemble the first `maxPackets` logical packets of the primary
    * (first-seen serial) Ogg stream — packets span pages; a 255 lacing
    * value continues the packet into the next segment/page.
    */
  private def oggPackets(b: Array[Byte], maxPackets: Int): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    val cur = new java.io.ByteArrayOutputStream()
    var count = 0
    var off = 0
    var serial = 0L
    var haveSerial = false
    while (off + 27 <= b.length && count < maxPackets &&
        cur.size < 16 * 1024 * 1024) {
      if (!matches(b, off, 'O', 'g', 'g', 'S')) return out.result()
      val nseg = b(off + 26) & 0xff
      if (off + 27 + nseg > b.length) return out.result()
      val ser = le32(b, off + 14)
      if (!haveSerial) { serial = ser; haveSerial = true }
      var p = off + 27 + nseg
      var i = 0
      while (i < nseg) {
        val l = b(off + 27 + i) & 0xff
        if (p + l > b.length) return out.result()
        if (ser == serial && count < maxPackets) {
          cur.write(b, p, l)
          if (l < 255) { out += cur.toByteArray; cur.reset(); count += 1 }
        }
        p += l
        i += 1
      }
      off = p
    }
    out.result()
  }

  /** Vorbis-comment block at `off` in `p`: vendor, then N `KEY=value`
    * fields (all lengths LE32). Returns descriptive tags plus cover-art
    * attachments decoded from METADATA_BLOCK_PICTURE (base64 FLAC §8.8
    * picture blocks) — the reference's VorbisParser/OpusParser surface.
    */
  private def vorbisComments(p: Array[Byte],
      off: Int): (Map[String, String], Seq[(String, Array[Byte])]) = {
    val tags = scala.collection.mutable.LinkedHashMap[String, String]()
    val att = Vector.newBuilder[(String, Array[Byte])]
    val keyNames = Map("title" -> "title", "artist" -> "artist",
      "album" -> "album", "date" -> "year", "genre" -> "genre",
      "tracknumber" -> "track", "composer" -> "composer")
    var q = off
    if (q + 4 > p.length) return (tags.toMap, Nil)
    val vlen = le32(p, q).toInt; q += 4
    if (vlen < 0 || q + vlen + 4 > p.length) return (tags.toMap, Nil)
    q += vlen
    var n = le32(p, q).toInt; q += 4
    while (n > 0 && q + 4 <= p.length) {
      val clen = le32(p, q).toInt; q += 4
      if (clen < 0 || q + clen > p.length) n = 0
      else {
        val c = new String(p, q, clen, java.nio.charset.StandardCharsets.UTF_8)
        q += clen
        val eq = c.indexOf('=')
        if (eq > 0) {
          val key = c.substring(0, eq).toLowerCase
          val value = c.substring(eq + 1)
          if (key == "metadata_block_picture" && value.nonEmpty)
            try flacPicture(java.util.Base64.getMimeDecoder.decode(value))
              .foreach(att += _)
            catch { case _: IllegalArgumentException => () }
          else if (value.nonEmpty)
            keyNames.get(key).foreach(k =>
              if (!tags.contains(k)) tags(k) = value)
        }
        n -= 1
      }
    }
    (tags.toMap, att.result())
  }

  /** FLAC §8.8 PICTURE block → (name, payload); name is the description
    * when present, else the picture-type name ("Cover (front)" etc.).
    */
  private def flacPicture(d: Array[Byte]): Option[(String, Array[Byte])] = {
    if (d.length < 32) return None
    val c = new Endian.Cursor(d)
    val picType = c.beInt()
    val mimeLen = c.beInt()
    if (mimeLen < 0 || c.pos + mimeLen + 4 > d.length) return None
    c.pos += mimeLen
    val descLen = c.beInt()
    if (descLen < 0 || c.pos + descLen + 20 > d.length) return None
    val desc = new String(d, c.pos, descLen, java.nio.charset.StandardCharsets.UTF_8).trim
    c.pos += descLen + 16 // width/height/depth/colors
    val dataLen = c.beInt()
    if (dataLen <= 0 || c.pos + dataLen > d.length) return None
    val name = if (desc.nonEmpty) desc
      else ApicTypes.getOrElse(picType, "Attached picture")
    Some(name -> java.util.Arrays.copyOfRange(d, c.pos, c.pos + dataLen))
  }

  private def parseOgg(b: Array[Byte]): Option[Meta] = {
    if (b.length < 48) return None
    val pkts = oggPackets(b, 2)
    if (pkts.isEmpty) return None
    val id = pkts(0)
    if (id.length >= 28 && (id(0) & 0xff) == 0x01 &&
        matches(id, 1, 'v', 'o', 'r', 'b', 'i', 's')) {
      // id header: version(4) channels(1) rate(4 LE) from packet offset 7,
      // then bitrate_maximum/nominal/minimum (LE32 each)
      val ch = id(11) & 0xff
      val rate = le32(id, 12).toInt
      val brMax = le32(id, 16).toInt
      val brNom = le32(id, 20).toInt
      val brMin = le32(id, 24).toInt
      var tags = Map.empty[String, String]
      var att: Seq[(String, Array[Byte])] = Nil
      if (brNom > 0 || brMax > 0) {
        tags += "bitrate" -> (if (brNom > 0) brNom else brMax).toString
        // fixed only when the bracket has zero width (reference
        // VorbisParserTest: nominal-only and open brackets are variable)
        tags += "variable_bitrate" -> (!(brMax != 0 && brMax == brMin)).toString
      }
      if (pkts.length > 1 && pkts(1).length > 7 && (pkts(1)(0) & 0xff) == 3 &&
          matches(pkts(1), 1, 'v', 'o', 'r', 'b', 'i', 's')) {
        val (t, a) = vorbisComments(pkts(1), 7)
        tags = tags ++ t; att = a
      }
      Some(Meta("audio/vorbis", "audio", sampleRate = rate, channels = ch,
        tags = tags, attachments = att))
    } else if (id.length >= 51 && (id(0) & 0xff) == 0x7f &&
        matches(id, 1, 'F', 'L', 'A', 'C')) {
      // Ogg-FLAC mapping: 0x7F FLAC major minor nHeaders(2BE), then a
      // verbatim native-FLAC "fLaC" + STREAMINFO; later packets are raw
      // FLAC metadata blocks (VORBIS_COMMENT, PICTURE)
      val body = 17 // 9-byte mapping header + "fLaC" + 4-byte block header
      val rate = (((id(body + 10) & 0xff) << 12) |
        ((id(body + 11) & 0xff) << 4) | ((id(body + 12) & 0xff) >> 4))
      val ch = ((id(body + 12) >> 1) & 0x7) + 1
      val totalSamples = ((id(body + 13).toLong & 0x0f) << 32) |
        (be32(id, body + 14) & 0xffffffffL)
      var tags = Map.empty[String, String]
      var att = Vector.empty[(String, Array[Byte])]
      oggPackets(b, 8).drop(1).foreach { pkt =>
        if (pkt.length > 4) (pkt(0) & 0x7f) match {
          case 4 =>
            val (t, a) = vorbisComments(pkt, 4)
            tags = tags ++ t; att = att ++ a
          case 6 =>
            flacPicture(java.util.Arrays.copyOfRange(pkt, 4, pkt.length))
              .foreach(att :+= _)
          case _ => ()
        }
      }
      Some(Meta("audio/x-oggflac", "audio", sampleRate = rate, channels = ch,
        durationMs = if (rate > 0) totalSamples * 1000 / rate else 0L,
        tags = tags, attachments = att))
    } else if (id.length >= 19 &&
        matches(id, 0, 'O', 'p', 'u', 's', 'H', 'e', 'a', 'd')) {
      // OpusHead: ver(1) ch(1) preskip(2) inputRate(4 LE)
      val ch = id(9) & 0xff
      val rate = le32(id, 12).toInt
      var tags = Map.empty[String, String]
      var att: Seq[(String, Array[Byte])] = Nil
      if (pkts.length > 1 && pkts(1).length > 8 &&
          matches(pkts(1), 0, 'O', 'p', 'u', 's', 'T', 'a', 'g', 's')) {
        val (t, a) = vorbisComments(pkts(1), 8)
        tags = t; att = a
      }
      Some(Meta("audio/opus", "audio", sampleRate = rate, channels = ch,
        tags = tags, attachments = att))
    } else None
  }

  /** ASF: the File Properties object carries the play duration in 100 ns
    * units (public ASF spec §3.2); objects are GUID + LE64 size framed.
    * The Content Description object (§3.10: title/author/copyright/
    * description UTF-16LE fields) and Extended Content Description
    * (§3.11: WM/AlbumTitle etc. name-value records) feed descriptive
    * tags, matching the reference's ASFParser surface.
    */
  private def parseAsf(b: Array[Byte]): Option[Meta] = {
    // object GUIDs, little-endian byte order
    val fp = Array(0xa1, 0xdc, 0xab, 0x8c, 0x47, 0xa9, 0xcf, 0x11,
      0x8e, 0xe4, 0x00, 0xc0, 0x0c, 0x20, 0x53, 0x65) // file properties
    val cd = Array(0x33, 0x26, 0xb2, 0x75, 0x8e, 0x66, 0xcf, 0x11,
      0xa6, 0xd9, 0x00, 0xaa, 0x00, 0x62, 0xce, 0x6c) // content description
    val ecd = Array(0x40, 0xa4, 0xd0, 0xd2, 0x07, 0xe3, 0xd2, 0x11,
      0x97, 0xf0, 0x00, 0xa0, 0xc9, 0x5e, 0xa8, 0x50) // extended content desc
    def isGuid(o: Int, g: Array[Int]): Boolean =
      g.indices.forall(i => (b(o + i) & 0xff) == g(i))
    def utf16(o: Int, len: Int): String =
      if (len <= 0 || o + len > b.length) ""
      else new String(b, o, len, java.nio.charset.StandardCharsets.UTF_16LE)
        .takeWhile(_ != '\u0000').trim
    var durMs = 0L
    val tags = scala.collection.mutable.LinkedHashMap[String, String]()
    var found = false
    var off = 30L // past the header object preamble
    var hops = 0
    while (off + 24 < b.length && hops < 64) {
      hops += 1
      val o = off.toInt
      val size = le32(b, o + 16) | (le32(b, o + 20) << 32)
      if (size < 24) return if (found) Some(asfMeta(durMs, tags.toMap)) else None
      if (isGuid(o, fp) && o + 72 <= b.length) {
        val dur100ns = le32(b, o + 64) | (le32(b, o + 68) << 32)
        durMs = dur100ns / 10000L
        found = true
      } else if (isGuid(o, cd) && o + 34 <= b.length) {
        val tLen = le16(b, o + 24); val aLen = le16(b, o + 26)
        var q = o + 34
        val title = utf16(q, tLen); q += tLen
        val author = utf16(q, aLen)
        if (title.nonEmpty) tags("title") = title
        if (author.nonEmpty) tags("artist") = author
      } else if (isGuid(o, ecd) && o + 26 <= b.length) {
        val names = Map("wm/albumtitle" -> "album", "wm/genre" -> "genre",
          "wm/year" -> "year", "wm/tracknumber" -> "track",
          "wm/albumartist" -> "album_artist", "wm/composer" -> "composer")
        var n = le16(b, o + 24)
        var q = o + 26
        while (n > 0 && q + 2 <= b.length) {
          val nameLen = le16(b, q); q += 2
          if (q + nameLen + 4 > b.length) n = 0
          else {
            val name = utf16(q, nameLen).toLowerCase; q += nameLen
            val vType = le16(b, q); val vLen = le16(b, q + 2); q += 4
            if (q + vLen > b.length) n = 0
            else {
              if (vType == 0)
                names.get(name).foreach { k =>
                  val v = utf16(q, vLen)
                  if (v.nonEmpty && !tags.contains(k)) tags(k) = v
                }
              q += vLen
              n -= 1
            }
          }
        }
      }
      off += size
    }
    if (found || tags.nonEmpty) Some(asfMeta(durMs, tags.toMap)) else None
  }

  private def asfMeta(durMs: Long, tags: Map[String, String]): Meta =
    Meta("video/x-ms-asf", "video", durationMs = durMs, tags = tags)

  /** BPG (public spec, bellard.org/bpg): after the magic, pixel format /
    * alpha / bit-depth and color-space bytes, then picture width and
    * height as ue7 (7-bits-per-byte, MSB = continue) — the dimensions
    * the reference's in-tree BPGParser surfaces.
    */
  private def parseBpg(b: Array[Byte]): Option[Meta] = {
    var p = 6 // magic(4) + format/alpha/depth(1) + colorspace/flags(1)
    def ue7(): Int = {
      var v = 0
      var i = 0
      while (i < 5 && p < b.length) {
        val x = b(p) & 0xff; p += 1
        v = (v << 7) | (x & 0x7f)
        if ((x & 0x80) == 0) return v
        i += 1
      }
      v
    }
    val w = ue7(); val h = ue7()
    if (w <= 0 || h <= 0) None
    else Some(Meta("image/x-bpg", "image", width = w, height = h))
  }

  /** FLV: header type flags say whether audio/video streams exist; the
    * first script tag's AMF0 onMetaData ECMA array carries duration /
    * width / height / framerate etc. (Adobe FLV spec §E; the reference's
    * FLVParser surfaces each property as flv:<name>).
    */
  private def parseFlv(b: Array[Byte]): Option[Meta] = {
    if (b.length < 20) return None
    val flags = b(4) & 0xff
    val tags = scala.collection.mutable.LinkedHashMap[String, String]()
    tags("hasAudio") = ((flags & 4) != 0).toString
    tags("hasVideo") = ((flags & 1) != 0).toString
    var w, h = 0
    var durMs = 0L
    var p = be32(b, 5).toInt + 4 // dataOffset + first prevTagSize
    var hops = 0
    var done = false
    while (!done && hops < 8 && p + 11 <= b.length) {
      hops += 1
      val tagType = b(p) & 0xff
      val dataSize = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) |
        (b(p + 3) & 0xff)
      val dataStart = p + 11
      if (dataStart + dataSize > b.length) done = true
      else if (tagType == 18) { // script data: AMF0 name + ECMA array
        var q = dataStart
        val end = dataStart + dataSize
        def amfString(): String = {
          if (q + 2 > end) return ""
          val n = be16(b, q); q += 2
          if (q + n > end) return ""
          val s = new String(b, q, n, java.nio.charset.StandardCharsets.UTF_8)
          q += n; s
        }
        if (q < end && (b(q) & 0xff) == 2) { q += 1; amfString() }
        if (q < end && ((b(q) & 0xff) == 8 || (b(q) & 0xff) == 3)) {
          if ((b(q) & 0xff) == 8) q += 5 else q += 1 // array count
          var guard = 0
          while (q + 3 <= end && guard < 64) {
            guard += 1
            val name = amfString()
            if (name.isEmpty) { q = end }
            else {
              val t = b(q) & 0xff; q += 1
              t match {
                case 0 => // number (double)
                  val v = java.lang.Double.longBitsToDouble(be64(b, q)); q += 8
                  // width/height/duration land structurally, not as tags
                  // (the media:<ref> namespace would double them)
                  name match {
                    case "width" => w = v.toInt
                    case "height" => h = v.toInt
                    case "duration" => durMs = (v * 1000).toLong
                    case _ => tags(name) = v.toString
                  }
                case 1 => tags(name) = ((b(q) & 0xff) != 0).toString; q += 1
                case 2 => tags(name) = amfString()
                case _ => q = end // nested/unsupported: stop cleanly
              }
            }
          }
        }
        done = true
      }
      p = dataStart + dataSize + 4 // skip prevTagSize
    }
    Some(Meta("video/x-flv", "video", width = w, height = h,
      durationMs = durMs, tags = tags.toMap))
  }

  private def matches(b: Array[Byte], off: Int, vals: Int*): Boolean =
    off + vals.length <= b.length &&
      vals.zipWithIndex.forall { case (v, i) => (b(off + i) & 0xff) == (v & 0xff) }

  /** PNG IHDR: always the first chunk — width/height big-endian at 16/20.
    * tEXt chunks (keyword NUL value, latin-1) surface as `png:*` tags.
    */
  private def parsePng(b: Array[Byte]): Option[Meta] = {
    if (b.length < 24 || !matches(b, 12, 'I', 'H', 'D', 'R')) return None
    val tags = Map.newBuilder[String, String]
    var p = 8
    var n = 0
    while (p + 8 <= b.length && n < 64) {
      val len = be32(b, p).toInt
      if (len < 0 || p + 12 + len > b.length) { p = b.length }
      else {
        if (matches(b, p + 4, 't', 'E', 'X', 't') && len > 1 && len < 4096) {
          val body = new String(b, p + 8, len,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          val nul = body.indexOf('\u0000')
          if (nul > 0 && nul < body.length - 1)
            tags += s"png:${body.substring(0, nul)}" -> body.substring(nul + 1)
        }
        p += 12 + len
        n += 1
      }
    }
    Some(Meta("image/png", "image",
      width = be32(b, 16).toInt, height = be32(b, 20).toInt,
      tags = tags.result()))
  }

  /** JPEG: walk FF-marker segments to the first SOFn (C0-CF minus
    * C4/C8/CC): height/width big-endian at +3/+5; EXIF orientation from
    * an APP1 "Exif" TIFF IFD0 tag 0x0112 when present.
    */
  private def parseJpeg(b: Array[Byte]): Option[Meta] = {
    var p = 2
    var w, h = 0
    var exif = Exif.Empty
    def finish(): Option[Meta] =
      if (w > 0 && h > 0) {
        // EXIF's declared pixel dimensions outrank the SOF frame (the
        // reference reports ExifSubIFD "Exif Image Width/Height")
        val ew = exif.tags.get("exif:ImageWidth").flatMap(_.toIntOption)
        val eh = exif.tags.get("exif:ImageLength").flatMap(_.toIntOption)
        Some(Meta("image/jpeg", "image",
          width = ew.getOrElse(w), height = eh.getOrElse(h),
          orientation = exif.orientation,
          tags = exif.tags -- Seq("exif:ImageWidth", "exif:ImageLength")))
      } else None
    while (p + 4 <= b.length) {
      if ((b(p) & 0xff) != 0xff) return finish()
      val marker = b(p + 1) & 0xff
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) { p += 2 }
      else if (marker == 0xd9 || marker == 0xda) return finish()
      else {
        val len = be16(b, p + 2)
        if (len < 2 || p + 2 + len > b.length) return finish()
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          h = be16(b, p + 5); w = be16(b, p + 7)
        } else if (marker == 0xe1 && len >= 16 &&
            matches(b, p + 4, 'E', 'x', 'i', 'f', 0, 0)) {
          exif = Exif.parse(b, p + 10, len - 8)
        }
        p += 2 + len
      }
    }
    finish()
  }

  /** TIFF: the EXIF IFD walk over the whole file; dimensions come from
    * IFD0's ImageWidth/ImageLength tags (TiffParser surface).
    */
  private def parseTiff(b: Array[Byte]): Option[Meta] = {
    val exif = Exif.parse(b, 0, b.length)
    Some(Meta("image/tiff", "image",
      width = exif.tags.get("tiff:ImageWidth").flatMap(_.toIntOption).getOrElse(0),
      height = exif.tags.get("tiff:ImageLength").flatMap(_.toIntOption).getOrElse(0),
      orientation = exif.orientation,
      tags = exif.tags -- Seq("tiff:ImageWidth", "tiff:ImageLength")))
  }

  /** PSD header (8BPS): height/width big-endian at 14/18, depth at 22 —
    * the reference PSDParser's fixed-header surface.
    */
  private def parsePsd(b: Array[Byte]): Option[Meta] = {
    if (b.length < 26) return None
    val depth = be16(b, 22)
    Some(Meta("image/vnd.adobe.photoshop", "image",
      width = be32(b, 18).toInt, height = be32(b, 14).toInt,
      tags = Map("tiff:BitsPerSample" -> depth.toString)))
  }

  /** WebP (RIFF): VP8X extended header canvas, VP8 lossy frame tag, or
    * VP8L lossless 14-bit packed dims (WebPParser surface).
    */
  private def parseWebp(b: Array[Byte]): Option[Meta] = {
    if (b.length < 30 || !matches(b, 8, 'W', 'E', 'B', 'P')) return None
    val fourcc = new String(b, 12, 4, java.nio.charset.StandardCharsets.US_ASCII)
    val (w, h) = fourcc match {
      case "VP8X" =>
        (1 + (le16(b, 24) | ((b(26) & 0xff) << 16)),
         1 + (le16(b, 27) | ((b(29) & 0xff) << 16)))
      case "VP8 " if b.length >= 30 =>
        (le16(b, 26) & 0x3fff, le16(b, 28) & 0x3fff)
      case "VP8L" if b.length >= 25 && (b(20) & 0xff) == 0x2f =>
        val bits = le32(b, 21)
        ((bits & 0x3fff).toInt + 1, ((bits >> 14) & 0x3fff).toInt + 1)
      case _ => (0, 0)
    }
    if (w <= 0 || h <= 0) None
    else Some(Meta("image/webp", "image", width = w, height = h))
  }

  /** ICO directory: first entry's width/height bytes (0 means 256). */
  private def parseIco(b: Array[Byte]): Option[Meta] = {
    if (b.length < 8) return None
    val w = b(6) & 0xff
    val h = b(7) & 0xff
    Some(Meta("image/vnd.microsoft.icon", "image",
      width = if (w == 0) 256 else w, height = if (h == 0) 256 else h))
  }

  /** AIFF FORM/COMM: channels, frame count, bit depth, 80-bit extended
    * sample rate → duration (the javax.sound surface the reference's
    * AudioParser exposes for aiff).
    */
  /** Apple ICNS icon family: (width, height, bpp, isMask, retina) per
    * OSType, the public Apple icon-type registry the reference's
    * ICNSType.java also encodes. bpp 0 = JPEG 2000/PNG payload.
    */
  private val IcnsTypes: Map[String, (Int, Int, Int, Boolean, Boolean)] = Map(
    "ICON" -> (32, 32, 1, false, false), "icm#" -> (16, 12, 1, true, false),
    "icm4" -> (16, 12, 4, false, false), "icm8" -> (16, 12, 8, false, false),
    "s8mk" -> (16, 16, 8, true, false), "ics#" -> (16, 16, 1, true, false),
    "ics4" -> (16, 16, 4, false, false), "ics8" -> (16, 16, 8, false, false),
    "is32" -> (16, 16, 24, false, false), "l8mk" -> (32, 32, 8, true, false),
    "ICN#" -> (32, 32, 1, true, false), "icl4" -> (32, 32, 4, false, false),
    "icl8" -> (32, 32, 8, false, false), "il32" -> (32, 32, 24, false, false),
    "h8mk" -> (48, 48, 8, true, false), "ich#" -> (48, 48, 1, true, false),
    "ich4" -> (48, 48, 4, false, false), "ich8" -> (48, 48, 8, false, false),
    "ih32" -> (48, 48, 24, false, false), "t8mk" -> (128, 128, 8, true, false),
    "it32" -> (128, 128, 24, false, false), "icp4" -> (16, 16, 0, false, false),
    "icp5" -> (32, 32, 0, false, false), "icp6" -> (64, 64, 0, false, false),
    "icp7" -> (128, 128, 0, false, false), "ic08" -> (256, 256, 0, false, false),
    "ic09" -> (512, 512, 0, false, false), "ic10" -> (1024, 1024, 0, false, true),
    "ic11" -> (16, 16, 0, false, true), "ic12" -> (32, 32, 0, false, true),
    "ic13" -> (128, 128, 0, false, true), "ic14" -> (256, 256, 0, false, true))

  /** ICNS TOC walk → "Icon count"/"Icon details" (+ masked variants)
    * tags, the reference ICNSParser's exact metadata surface; the first
    * icon's dimensions double as width/height. Unknown OSTypes stop the
    * walk (ICNSParser.java:86-91).
    */
  private def parseIcns(b: Array[Byte]): Option[Meta] = {
    val icons = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Boolean)]()
    val masks = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Boolean)]()
    var p = 8
    var done = false
    while (!done && p + 8 <= b.length) {
      val os = new String(b, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
      IcnsTypes.get(os) match {
        case None => done = true
        case Some((w, h, bpp, isMask, retina)) =>
          val len = be32(b, p + 4).toInt
          // len must cover the 8-byte header AND fit from offset p —
          // a truncated final entry whose len merely fits the file
          // size would otherwise be counted with its payload absent.
          if (len < 8 || p + len > b.length) done = true
          else {
            if (isMask) masks += ((w, h, bpp, retina))
            else icons += ((w, h, bpp, retina))
            p += len
          }
      }
    }
    if (icons.isEmpty && masks.isEmpty) return None
    def detail(e: (Int, Int, Int, Boolean), maskFmt: Boolean): String = {
      val (w, h, bpp, retina) = e
      val dims = if (retina && !maskFmt) s"${h}x$w@2X" else s"${h}x$w"
      val fmt =
        if (maskFmt || bpp != 0) s"$bpp bpp" else "JPEG 2000 or PNG format"
      s"$dims ($fmt)"
    }
    val tags = scala.collection.mutable.LinkedHashMap[String, String]()
    if (icons.nonEmpty) {
      tags("Icon count") = icons.size.toString
      tags("Icon details") = icons.map(detail(_, maskFmt = false)).mkString(", ")
    }
    if (masks.nonEmpty) {
      tags("Masked icon count") = masks.size.toString
      tags("Masked icon details") = masks.map(detail(_, maskFmt = true)).mkString(", ")
    }
    val (w0, h0) = icons.headOption.map(e => (e._1, e._2))
      .orElse(masks.headOption.map(e => (e._1, e._2))).getOrElse((0, 0))
    Some(Meta("image/icns", "image", width = w0, height = h0,
      tags = tags.toMap))
  }

  private def parseAiff(b: Array[Byte]): Option[Meta] = {
    if (b.length < 12 || !matches(b, 8, 'A', 'I', 'F')) return None
    var p = 12
    while (p + 8 <= b.length) {
      val id = new String(b, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val len = be32(b, p + 4).toInt
      if (id == "COMM" && len >= 18 && p + 8 + 18 <= b.length) {
        val channels = be16(b, p + 8)
        val frames = be32(b, p + 10)
        // 80-bit IEEE extended: 16-bit exponent + 64-bit mantissa
        val exp = be16(b, p + 16) & 0x7fff
        val hi = be32(b, p + 18)
        val rate =
          if (exp == 0) 0.0
          else hi.toDouble * math.pow(2.0, exp - 16383 - 31)
        val dur = if (rate > 0) (frames * 1000L / rate.toLong) else 0L
        return Some(Meta("audio/x-aiff", "audio", durationMs = dur,
          sampleRate = math.round(rate).toInt, channels = channels))
      }
      p += 8 + len + (len & 1)
      if (len < 0) return None
    }
    Some(Meta("audio/x-aiff", "audio"))
  }

  /** Sun audio (.snd/.au): big-endian header — rate at 16, channels 20. */
  private def parseAu(b: Array[Byte]): Option[Meta] = {
    if (b.length < 24) return None
    val dataOff = be32(b, 4)
    val dataLen = be32(b, 8)
    val enc = be32(b, 12)
    val rate = be32(b, 16).toInt
    val ch = be32(b, 20).toInt
    val bytesPerSample = enc match {
      case 1 | 2 => 1L
      case 3 => 2L
      case 4 => 3L
      case 5 | 6 => 4L
      case _ => 0L
    }
    val dur =
      if (bytesPerSample > 0 && rate > 0 && ch > 0 && dataLen > 0 &&
          dataLen != 0xffffffffL)
        dataLen * 1000L / (bytesPerSample * rate * ch)
      else 0L
    val _ = dataOff
    Some(Meta("audio/basic", "audio", durationMs = dur,
      sampleRate = rate, channels = ch))
  }

  /** Standard MIDI file: MThd header (tracks, division type) + MTrk
    * event walk for text meta events (track names, lyrics, copyright) —
    * the reference MidiParser's tracks/divisionType metadata and lyric
    * body surface.
    */
  private def parseMidi(b: Array[Byte]): Option[Meta] = {
    if (b.length < 14) return None
    val ntrks = be16(b, 10)
    val division = be16(b, 12)
    val tags = Map.newBuilder[String, String]
    tags += "midi:tracks" -> ntrks.toString
    tags += "midi:divisionType" ->
      (if ((division & 0x8000) != 0) "SMPTE" else "PPQ")
    val texts = new StringBuilder
    var p = 8 + be32(b, 4).toInt
    var trk = 0
    while (p + 8 <= b.length && trk < 256) {
      if (!matches(b, p, 'M', 'T', 'r', 'k')) return finishMidi(tags, texts)
      val len = be32(b, p + 4).toInt
      val end = math.min(p + 8 + len, b.length)
      var q = p + 8
      var running = 0
      var guard = 0
      def varint(): Int = {
        var v = 0
        var more = true
        while (more && q < end) {
          val c = b(q) & 0xff
          q += 1
          v = (v << 7) | (c & 0x7f)
          more = (c & 0x80) != 0
        }
        v
      }
      while (q < end && guard < 1000000) {
        guard += 1
        varint() // delta time
        if (q >= end) { q = end }
        else {
          var status = b(q) & 0xff
          if (status >= 0x80) { q += 1; running = status } else status = running
          if (status == 0xff) {
            val tpe = if (q < end) b(q) & 0xff else 0
            q += 1
            val n = varint()
            if (tpe >= 0x01 && tpe <= 0x05 && n > 0 && q + n <= end) {
              if (texts.nonEmpty) texts.append('\n')
              texts.append(new String(b, q, n,
                java.nio.charset.StandardCharsets.ISO_8859_1))
            }
            q += n
          } else if (status == 0xf0 || status == 0xf7) {
            q += varint()
          } else if (status >= 0x80) {
            q += (if ((status & 0xf0) == 0xc0 || (status & 0xf0) == 0xd0) 1 else 2)
          } else q = end // garbage before any status byte
        }
      }
      p = end
      trk += 1
    }
    finishMidi(tags, texts)
  }

  private def finishMidi(tags: scala.collection.mutable.Builder[(String, String), Map[String, String]],
      texts: StringBuilder): Option[Meta] = {
    if (texts.nonEmpty)
      tags += "midi:text" -> texts.toString.take(4096)
    Some(Meta("audio/midi", "audio", tags = tags.result()))
  }

  /** GIF logical screen descriptor: width/height little-endian at 6/8. */
  private def parseGif(b: Array[Byte]): Option[Meta] =
    if (b.length < 10) None
    else Some(Meta("image/gif", "image", width = le16(b, 6), height = le16(b, 8)))

  /** BMP BITMAPINFOHEADER: width/height little-endian at 18/22. */
  private def parseBmp(b: Array[Byte]): Option[Meta] =
    if (b.length < 26) None
    else Some(Meta("image/bmp", "image",
      width = le32(b, 18).toInt, height = math.abs(le32(b, 22).toInt)))

  /** WAV: fmt chunk → channels/sampleRate/byteRate; data chunk size →
    * duration.
    */
  private def parseWav(b: Array[Byte]): Option[Meta] = {
    var p = 12L
    var channels, rate = 0
    var byteRate = 0L
    var dataLen = -1L
    var going = true
    while (going && p + 8 <= b.length) {
      val pi = p.toInt
      val id = new String(b, pi, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val len = le32(b, pi + 4) // unsigned 32-bit as Long
      if (id == "fmt " && pi + 24 <= b.length) {
        channels = le16(b, pi + 10)
        rate = le32(b, pi + 12).toInt
        byteRate = le32(b, pi + 16)
      } else if (id == "data") dataLen = len
      // Long math + monotonic guard: a forged chunk length must never
      // stall the walk (no sink call happens here, so the per-doc
      // deadline would not fire on a spin)
      val advance = 8L + len + (len & 1L)
      if (advance <= 0) going = false else p += advance
    }
    if (rate == 0) return None
    val dur = if (byteRate > 0 && dataLen >= 0) dataLen * 1000 / byteRate else 0L
    Some(Meta("audio/vnd.wave", "audio", durationMs = dur,
      sampleRate = rate, channels = channels))
  }

  private val Mp3Bitrates = // kbps, MPEG1 Layer III (index 1-14)
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3Rates = Array(44100, 48000, 32000, 0)

  /** MP3: skip ID3v2 (syncsafe size), read the first MPEG frame header;
    * duration estimated from stream length at that frame's bitrate (CBR
    * assumption — same estimate Mp3Parser makes without a Xing header).
    */
  private def parseMp3(b: Array[Byte]): Option[Meta] = {
    var p = 0
    var tags = Map.empty[String, String]
    var covers: Seq[(String, Array[Byte])] = Nil
    if (matches(b, 0, 'I', 'D', '3') && b.length >= 10) {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      tags = id3v2Tags(b, b(3) & 0xff, 10, math.min(10 + size, b.length))
      covers = id3v2Pictures(b, b(3) & 0xff, 10, math.min(10 + size, b.length))
      p = 10 + size
    }
    // ID3v1 trailer fills fields v2 didn't provide
    tags = id3v1Tags(b) ++ tags
    // find frame sync
    while (p + 4 <= b.length &&
      !((b(p) & 0xff) == 0xff && (b(p + 1) & 0xe0) == 0xe0)) p += 1
    if (p + 4 > b.length) return None
    val bitrateIdx = (b(p + 2) & 0xf0) >> 4
    val rateIdx = (b(p + 2) & 0x0c) >> 2
    if (bitrateIdx == 0 || bitrateIdx == 15 || rateIdx == 3) return None
    val kbps = Mp3Bitrates(bitrateIdx)
    val rate = Mp3Rates(rateIdx)
    val dur = (b.length - p).toLong * 8 / kbps // bytes*8 / (kbps) = ms
    Some(Meta("audio/mpeg", "audio", durationMs = dur, sampleRate = rate,
      channels = if (((b(p + 3) & 0xc0) >> 6) == 3) 1 else 2,
      tags = tags, attachments = covers))
  }

  /** APIC picture-type names (ID3v2.3 §4.15), used when the frame's own
    * description is empty — the reference's Mp3Parser emits each APIC
    * frame as an inline embedded document titled by its description.
    */
  private val ApicTypes = Map(0 -> "Other", 1 -> "File icon",
    2 -> "Other file icon", 3 -> "Cover (front)", 4 -> "Cover (back)",
    5 -> "Leaflet page", 6 -> "Media", 8 -> "Artist")

  /** APIC (v2.3/2.4) and PIC (v2.2) attached pictures: enc byte, MIME
    * (v2.2: 3-char image format), picture type, description
    * (encoding-dependent terminator), image payload.
    */
  private def id3v2Pictures(b: Array[Byte], ver: Int, start: Int,
      end: Int): Seq[(String, Array[Byte])] = {
    val v22 = ver == 2
    val idLen = if (v22) 3 else 4
    val hdrLen = if (v22) 6 else 10
    val want = if (v22) "PIC" else "APIC"
    val out = Vector.newBuilder[(String, Array[Byte])]
    var p = start
    var n = 0
    while (p + hdrLen <= end && n < 16) {
      val id = new String(b, p, idLen, java.nio.charset.StandardCharsets.US_ASCII)
      if (!id.forall(_.isLetterOrDigit)) return out.result() // padding
      val size =
        if (v22) ((b(p + 3) & 0xff) << 16) | ((b(p + 4) & 0xff) << 8) | (b(p + 5) & 0xff)
        else if (ver >= 4) ((b(p + 4) & 0x7f) << 21) | ((b(p + 5) & 0x7f) << 14) |
          ((b(p + 6) & 0x7f) << 7) | (b(p + 7) & 0x7f)
        else beInt(b, p + 4)
      if (size <= 0 || p + hdrLen + size > end) return out.result()
      if (id == want) {
        var q = p + hdrLen
        val frameEnd = p + hdrLen + size
        val enc = b(q) & 0xff; q += 1
        if (v22) q += 3 // image format, e.g. "PNG"
        else { while (q < frameEnd && b(q) != 0) q += 1; q += 1 } // MIME
        val picType = if (q < frameEnd) b(q) & 0xff else 0
        q += 1
        val descStart = q
        // description terminator: 1 NUL (latin-1/utf-8) or 2 (utf-16)
        val wide = enc == 1 || enc == 2
        if (wide) {
          while (q + 1 < frameEnd && !(b(q) == 0 && b(q + 1) == 0)) q += 2
          val cs = if (enc == 1) java.nio.charset.StandardCharsets.UTF_16
            else java.nio.charset.StandardCharsets.UTF_16BE
          val desc = new String(b, descStart, q - descStart, cs).trim
          q += 2
          if (q < frameEnd) {
            n += 1
            out += (if (desc.nonEmpty) desc
              else ApicTypes.getOrElse(picType, "Attached picture")) ->
              java.util.Arrays.copyOfRange(b, q, frameEnd)
          }
        } else {
          while (q < frameEnd && b(q) != 0) q += 1
          val desc = new String(b, descStart, q - descStart,
            if (enc == 0) java.nio.charset.StandardCharsets.ISO_8859_1
            else java.nio.charset.StandardCharsets.UTF_8).trim
          q += 1
          if (q < frameEnd) {
            n += 1
            out += (if (desc.nonEmpty) desc
              else ApicTypes.getOrElse(picType, "Attached picture")) ->
              java.util.Arrays.copyOfRange(b, q, frameEnd)
          }
        }
      }
      p += hdrLen + size
    }
    out.result()
  }

  /** ID3v2.2/2.3/2.4 text frames → descriptive tags (the reference's
    * Mp3Parser/ID3v2Frame surface: title/artist/album/year/genre).
    */
  private def id3v2Tags(b: Array[Byte], ver: Int, start: Int, end: Int): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    val v22 = ver == 2
    val idLen = if (v22) 3 else 4
    val hdrLen = if (v22) 6 else 10
    val names: Map[String, String] =
      if (v22) Map("TT2" -> "title", "TP1" -> "artist", "TAL" -> "album",
        "TYE" -> "year", "TCO" -> "genre", "TCM" -> "composer")
      else Map("TIT2" -> "title", "TPE1" -> "artist", "TALB" -> "album",
        "TYER" -> "year", "TDRC" -> "year", "TCON" -> "genre",
        "TCOM" -> "composer")
    var p = start
    while (p + hdrLen <= end) {
      val id = new String(b, p, idLen, java.nio.charset.StandardCharsets.US_ASCII)
      if (!id.forall(c => c.isLetterOrDigit)) return out.toMap // padding
      val size =
        if (v22) ((b(p + 3) & 0xff) << 16) | ((b(p + 4) & 0xff) << 8) | (b(p + 5) & 0xff)
        else if (ver >= 4) ((b(p + 4) & 0x7f) << 21) | ((b(p + 5) & 0x7f) << 14) |
          ((b(p + 6) & 0x7f) << 7) | (b(p + 7) & 0x7f)
        else beInt(b, p + 4)
      if (size <= 0 || p + hdrLen + size > end) return out.toMap
      names.get(id).foreach { key =>
        if (!out.contains(key)) {
          val enc = b(p + hdrLen) & 0xff
          val body = p + hdrLen + 1
          val n = size - 1
          val cs = enc match {
            case 0 => java.nio.charset.StandardCharsets.ISO_8859_1
            case 1 => java.nio.charset.StandardCharsets.UTF_16 // BOM-led
            case 2 => java.nio.charset.StandardCharsets.UTF_16BE
            case _ => java.nio.charset.StandardCharsets.UTF_8
          }
          val s = new String(b, body, math.max(0, n), cs)
            .takeWhile(_ != 0.toChar).trim
          if (s.nonEmpty) out(key) = s
        }
      }
      p += hdrLen + size
    }
    out.toMap
  }

  /** ID3v1 128-byte trailer ("TAG"): fixed-width latin-1 fields. */
  private def id3v1Tags(b: Array[Byte]): Map[String, String] = {
    if (b.length < 128) return Map.empty
    val t = b.length - 128
    if (!(b(t) == 'T' && b(t + 1) == 'A' && b(t + 2) == 'G')) return Map.empty
    def f(off: Int, len: Int): Option[String] = {
      val s = new String(b, t + off, len,
        java.nio.charset.StandardCharsets.ISO_8859_1)
        .takeWhile(_ != 0.toChar).trim
      if (s.nonEmpty) Some(s) else None
    }
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    f(3, 30).foreach(out("title") = _)
    f(33, 30).foreach(out("artist") = _)
    f(63, 30).foreach(out("album") = _)
    f(93, 4).foreach(out("year") = _)
    out.toMap
  }

  /** JPEG XL codestream SizeHeader (ISO/IEC 18181-1 §6): an LSB-first
    * bitstream right after the FF 0A signature — small/div8 flag, U32
    * distribution-coded ysize, 3-bit aspect-ratio code or explicit xsize.
    * Reference analog: tika detects image/jxl and reports dimensions via
    * its image module; this is the same metadata-only surface.
    */
  private final class BitReaderLsb(b: Array[Byte], private var pos: Int) {
    private var bitPos = 0
    def u(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        if (pos >= b.length) return v
        v |= ((b(pos) >> bitPos) & 1) << i
        bitPos += 1
        if (bitPos == 8) { bitPos = 0; pos += 1 }
        i += 1
      }
      v
    }
  }

  private def parseJxlCodestream(b: Array[Byte], off: Int): Option[Meta] = {
    if (off + 4 > b.length) return None
    val r = new BitReaderLsb(b, off)
    // U32(): 2-bit selector, then the chosen distribution Bits(d)+1
    def u32Dist(d0: Int, d1: Int, d2: Int, d3: Int): Int = r.u(2) match {
      case 0 => r.u(d0) + 1
      case 1 => r.u(d1) + 1
      case 2 => r.u(d2) + 1
      case _ => r.u(d3) + 1
    }
    val small = r.u(1)
    val ysize = if (small == 1) 8 * (r.u(5) + 1) else u32Dist(9, 13, 18, 30)
    val ratio = r.u(3)
    val xsize =
      if (ratio != 0) {
        val (num, den) = ratio match {
          case 1 => (1, 1)
          case 2 => (12, 10)
          case 3 => (4, 3)
          case 4 => (3, 2)
          case 5 => (16, 9)
          case 6 => (5, 4)
          case _ => (2, 1)
        }
        (ysize.toLong * num / den).toInt
      } else if (small == 1) 8 * (r.u(5) + 1)
      else u32Dist(9, 13, 18, 30)
    if (xsize <= 0 || ysize <= 0) None
    else Some(Meta("image/jxl", "image", width = xsize, height = ysize))
  }

  /** JPEG XL container (ISO/IEC 18181-2): BMFF boxes; the codestream
    * lives in a `jxlc` box (or the first `jxlp` partial box, which
    * carries a 4-byte sequence index before the codestream bytes).
    */
  private def parseJxlContainer(b: Array[Byte]): Option[Meta] = {
    var p = 0L
    var hops = 0
    var meta: Option[Meta] = None
    var exif = Exif.Empty
    while (p + 8 <= b.length && hops < 64) {
      hops += 1
      val size0 = be32(b, p.toInt)
      val typ = new String(b, p.toInt + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      val size =
        if (size0 == 1) {
          if (p + 16 <= b.length) be64(b, p.toInt + 8)
          else return finishJxl(meta, exif)
        }
        else if (size0 == 0) b.length - p
        else size0
      val hdr = if (size0 == 1) 16L else 8L
      if (size < hdr || size > b.length - p) return finishJxl(meta, exif)
      if (meta.isEmpty && typ == "jxlc" && matches(b, (p + hdr).toInt, 0xff, 0x0a))
        meta = parseJxlCodestream(b, (p + hdr + 2).toInt)
      if (meta.isEmpty && typ == "jxlp" && matches(b, (p + hdr + 4).toInt, 0xff, 0x0a))
        meta = parseJxlCodestream(b, (p + hdr + 6).toInt)
      if (typ == "Exif" && size >= hdr + 12) {
        // payload: BE32 offset to the TIFF header, then the TIFF blob
        val off = be32(b, (p + hdr).toInt)
        val tiffAt = p + hdr + 4 + off
        if (off >= 0 && tiffAt < p + size)
          exif = Exif.parse(b, tiffAt.toInt, (p + size - tiffAt).toInt)
      }
      p += size
    }
    finishJxl(meta, exif)
  }

  private def finishJxl(meta: Option[Meta], exif: Exif.Result): Option[Meta] =
    meta.map(m => m.copy(orientation = exif.orientation,
      tags = m.tags ++ (exif.tags -- Seq("exif:ImageWidth", "exif:ImageLength"))))

  /** MP4/ISOBMFF: box walk — mvhd gives timescale+duration, the first
    * video tkhd gives width/height (16.16 fixed point).
    */
  private def parseMp4(b: Array[Byte]): Option[Meta] = {
    var durMs = 0L
    var w, h = 0
    var created = ""
    val tags = scala.collection.mutable.LinkedHashMap[String, String]()
    val att = Vector.newBuilder[(String, Array[Byte])]
    // iTunes-style metadata items (moov/udta/meta/ilst): each item box
    // holds a 'data' fullbox whose type flag selects the payload form —
    // the reference MP4Parser's title/artist/album/genre surface
    val ilstNames = Map("©nam" -> "title", "©ART" -> "artist",
      "©alb" -> "album", "©day" -> "year", "©gen" -> "genre",
      "©cmt" -> "comment", "©wrt" -> "composer",
      "aART" -> "album_artist")
    def parseIlst(from: Long, to: Long): Unit = {
      var p = from
      while (p + 8 <= to) {
        val size = be32(b, p.toInt)
        if (size < 8 || size > to - p) return
        val item = new String(b, p.toInt + 4, 4,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        // first child: data box (size, 'data', typeFlags, locale, payload)
        val q = p + 8
        if (q + 16 <= p + size &&
            new String(b, q.toInt + 4, 4,
              java.nio.charset.StandardCharsets.US_ASCII) == "data") {
          val dSize = be32(b, q.toInt)
          if (dSize >= 16 && dSize <= size - 8) {
            val dType = (be32(b, q.toInt + 8) & 0xffffff).toInt
            val payOff = q.toInt + 16
            val payLen = dSize.toInt - 16
            if (dType == 1 && payLen > 0) { // UTF-8 text
              val v = new String(b, payOff, payLen,
                java.nio.charset.StandardCharsets.UTF_8).trim
              ilstNames.get(item).foreach(k =>
                if (v.nonEmpty && !tags.contains(k)) tags(k) = v)
            } else if (item == "trkn" && payLen >= 4) {
              val t = be16(b, payOff + 2)
              if (t > 0 && !tags.contains("track")) tags("track") = t.toString
            } else if (item == "covr" && payLen > 0) {
              att += "Cover art" ->
                java.util.Arrays.copyOfRange(b, payOff, payOff + payLen)
            }
          }
        }
        p += size
      }
    }
    def walk(from: Long, to: Long, depth: Int): Unit = {
      if (depth > 8) return
      var p = from
      while (p + 8 <= to) {
        val size0 = be32(b, p.toInt)
        val typ = new String(b, p.toInt + 4, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        // size0==1: 64-bit largesize follows (common for >4 GB mdat) —
        // skip over it rather than aborting the walk; moov may follow
        val size =
          if (size0 == 1) { if (p + 16 <= to) be64(b, p.toInt + 8) else return }
          else if (size0 == 0) to - p
          else size0.toLong
        val headerLen = if (size0 == 1) 16 else 8
        // overflow-safe bound: `p + size > to` wraps negative for a
        // crafted largesize near Long.MaxValue and would pass the check
        if (size < headerLen || size > to - p) return
        typ match {
          case "moov" | "trak" | "udta" =>
            walk(p + headerLen, p + size, depth + 1)
          case "ilst" => parseIlst(p + headerLen, p + size)
          case "meta" => // HEIF/AVIF: fullbox container (4-byte ver/flags)
            if (p + headerLen + 4 <= to)
              walk(p + headerLen + 4, p + size, depth + 1)
          case "iprp" | "ipco" => walk(p + headerLen, p + size, depth + 1)
          case "ispe" => // ImageSpatialExtents: ver/flags, width, height
            if (p + headerLen + 12 <= to) {
              val iw = be32(b, p.toInt + headerLen + 4).toInt
              val ih = be32(b, p.toInt + headerLen + 8).toInt
              // the primary item's extent comes first; thumbnails follow
              if (w == 0 && iw > 0 && ih > 0) { w = iw; h = ih }
            }
          case "mvhd" =>
            val v = b(p.toInt + 8) & 0xff
            // creation time counts seconds from 1904-01-01 (QT epoch)
            def stamp(ct: Long): Unit =
              if (ct > 2082844800L) created =
                java.time.Instant.ofEpochSecond(ct - 2082844800L).toString
            if (v == 0 && p + 28 <= to) {
              stamp(be32(b, p.toInt + 12))
              val timescale = be32(b, p.toInt + 20)
              val duration = be32(b, p.toInt + 24)
              if (timescale > 0) durMs = duration * 1000 / timescale
            } else if (v == 1 && p + 40 <= to) {
              // version 1: 64-bit ctime/mtime, 32-bit timescale @ +28,
              // 64-bit duration @ +32
              stamp(be64(b, p.toInt + 12))
              val timescale = be32(b, p.toInt + 28)
              val duration = be64(b, p.toInt + 32)
              if (timescale > 0) durMs = duration * 1000 / timescale
            }
          case "tkhd" =>
            val v = b(p.toInt + 8) & 0xff
            val base = p.toInt + (if (v == 1) 96 else 84)
            if (w == 0 && base + 8 <= to) {
              val tw = (be32(b, base) >> 16).toInt
              val th = (be32(b, base + 4) >> 16).toInt
              if (tw > 0 && th > 0) { w = tw; h = th }
            }
          case _ =>
        }
        p += size
      }
    }
    walk(0, b.length, 0)
    val brand = new String(b, 8, 4, java.nio.charset.StandardCharsets.US_ASCII)
    val (mime, kind) = brand match {
      case "heic" | "heix" | "mif1" | "msf1" => ("image/heic", "image")
      case "avif" | "avis" => ("image/avif", "image")
      case _ => ("video/mp4", if (w > 0) "video" else "audio")
    }
    if (created.nonEmpty) tags("created") = created
    Some(Meta(mime, kind, width = w, height = h, durationMs = durMs,
      tags = tags.toMap, attachments = att.result()))
  }
}
