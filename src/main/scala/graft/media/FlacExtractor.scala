package graft.media

import java.nio.charset.StandardCharsets

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian
import graft.core.Endian.{be32, le32}

/** Native FLAC: STREAMINFO audio properties, VORBIS_COMMENT tags, and
  * PICTURE blocks as embedded child documents.
  *
  * Reference behavior: tika-parsers audiovideo-module
  * `ogg/FlacParser.java` (via vorbisjava) — the comment tags land as
  * `xmpDM:*` plus raw `vorbis:*` keys (OggAudioParserTest.java:56-105),
  * and each PICTURE block becomes one embedded document in file order
  * whose title is the block's description string and whose description
  * is the picture-type name (FlacParserTest.java:40-72). Header walk
  * only: picture payloads are sliced, audio frames are never decoded.
  */
object FlacExtractor {

  /** FLAC §8.8 / ID3v2 APIC picture-type names, as vorbisjava prints
    * them ("Cover (front)" etc.).
    */
  private val PictureTypes: Array[String] = Array(
    "Other", "32x32 pixels 'file icon' (PNG only)", "Other file icon",
    "Cover (front)", "Cover (back)", "Leaflet page",
    "Media (e.g. label side of CD)", "Lead artist/lead performer/soloist",
    "Artist/performer", "Conductor", "Band/Orchestra", "Composer",
    "Lyricist/text writer", "Recording Location", "During recording",
    "During performance", "Movie/video screen capture",
    "A bright coloured fish", "Illustration", "Band/artist logotype",
    "Publisher/Studio logotype")

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (Option[String], Array[Byte]) => Unit): Unit = {
    if (bytes.length < 8 || !(bytes(0) == 'f' && bytes(1) == 'L' &&
      bytes(2) == 'a' && bytes(3) == 'C')) return
    var p = 4
    var last = false
    var picN = 0
    while (!last && p + 4 <= bytes.length) {
      val h = bytes(p) & 0xff
      last = (h & 0x80) != 0
      val typ = h & 0x7f
      val len = ((bytes(p + 1) & 0xff) << 16) | ((bytes(p + 2) & 0xff) << 8) |
        (bytes(p + 3) & 0xff)
      p += 4
      if (len < 0 || p + len > bytes.length) return
      typ match {
        case 0 if len >= 34 => // STREAMINFO
          // bytes 10-17 of the block: 20-bit rate, 3-bit ch-1, 5-bit
          // bps-1, 36-bit total samples
          val o = p + 10
          val rate = ((bytes(o) & 0xff) << 12) | ((bytes(o + 1) & 0xff) << 4) |
            ((bytes(o + 2) & 0xff) >> 4)
          val channels = ((bytes(o + 2) >> 1) & 0x7) + 1
          val total = ((bytes(o + 3) & 0x0fL) << 32) | be32(bytes, o + 4)
          if (rate > 0) {
            meta.set("xmpDM:audioSampleRate", rate.toString)
            if (total > 0) {
              val secs = total.toDouble / rate
              meta.set("xmpDM:duration", f"$secs%.2f")
            }
          }
          meta.set("xmpDM:audioChannelType", channels match {
            case 1 => "Mono"
            case 2 => "Stereo"
            case 6 => "5.1"
            case 8 => "7.1"
            case n => n.toString
          })
        case 4 => // VORBIS_COMMENT (all fields little-endian)
          var q = p
          if (q + 4 <= p + len) {
            val vlen = le32(bytes, q).toInt
            q += 4
            if (vlen >= 0 && q + vlen <= p + len) {
              val vendor = new String(bytes, q, vlen, StandardCharsets.UTF_8)
              if (vendor.nonEmpty) meta.set("vorbis:vendor", vendor)
              q += vlen
              if (q + 4 <= p + len) {
                var n = le32(bytes, q).toInt
                q += 4
                while (n > 0 && q + 4 <= p + len) {
                  val clen = le32(bytes, q).toInt
                  q += 4
                  if (clen < 0 || q + clen > p + len) { n = 0 }
                  else {
                    val c = new String(bytes, q, clen, StandardCharsets.UTF_8)
                    q += clen
                    val eq = c.indexOf('=')
                    if (eq > 0) {
                      val key = c.substring(0, eq).toLowerCase
                      val value = c.substring(eq + 1)
                      if (value.nonEmpty) {
                        meta.add("vorbis:" + key, value)
                        tikaKey(key).foreach(meta.add(_, value))
                      }
                    }
                    n -= 1
                  }
                }
              }
            }
          }
        case 6 => // PICTURE
          val c = new Endian.Cursor(bytes, p)
          if (c.pos + 8 <= p + len) {
            val picType = c.beInt()
            val mimeLen = c.beInt()
            if (mimeLen >= 0 && c.pos + mimeLen + 4 <= p + len) {
              val mime = new String(bytes, c.pos, mimeLen, StandardCharsets.US_ASCII)
              c.pos += mimeLen
              val descLen = c.beInt()
              if (descLen >= 0 && c.pos + descLen + 20 <= p + len) {
                val desc = new String(bytes, c.pos, descLen, StandardCharsets.UTF_8)
                c.pos += descLen
                c.pos += 16 // width/height/depth/colors
                val dataLen = c.beInt()
                if (dataLen >= 0 && c.pos + dataLen <= p + len) {
                  val typeName =
                    if (picType >= 0 && picType < PictureTypes.length)
                      PictureTypes(picType)
                    else "Other"
                  picN += 1
                  meta.add(s"flac:picture$picN:title", desc)
                  meta.add(s"flac:picture$picN:type", typeName)
                  val ext = mime.substring(mime.indexOf('/') + 1) match {
                    case "jpeg" => "jpg"
                    case e => e
                  }
                  child(Some(s"picture-$picN.$ext"),
                    java.util.Arrays.copyOfRange(bytes, c.pos, c.pos + dataLen))
                }
              }
            }
          }
        case _ =>
      }
      p += len
    }
  }

  /** VorbisComments key -> Tika property (reference VorbisComments.java
    * surface as seen in OggAudioParserTest).
    */
  private def tikaKey(key: String): Option[String] = key match {
    case "title" => Some("dc:title")
    case "artist" => Some("xmpDM:artist")
    case "albumartist" => Some("xmpDM:albumArtist")
    case "album" => Some("xmpDM:album")
    case "date" => Some("xmpDM:releaseDate")
    case "genre" => Some("xmpDM:genre")
    case "comment" | "description" => Some("xmpDM:logComment")
    case "tracknumber" => Some("xmpDM:trackNumber")
    case "discnumber" => Some("xmpDM:discNumber")
    case "copyright" => Some("xmpDM:copyright")
    case "composer" => Some("xmpDM:composer")
    case _ => None
  }
}
