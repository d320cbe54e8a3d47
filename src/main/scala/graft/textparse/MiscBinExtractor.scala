package graft.textparse

import graft.engine.{MetaSink, SpanSink}
import java.nio.charset.StandardCharsets
import graft.core.Endian

/** Small metadata routes for developer artifacts the reference only
  * detects: Java hprof heap dumps and JKS keystores. Both formats are
  * public (JDK documentation / OpenJDK serialization layout).
  */
object MiscBinExtractor {

  /** Binary hprof: "JAVA PROFILE <ver>\0" + identifier size u32 +
    * millis-since-epoch u64.
    */
  def extractHprof(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    var e = 0
    while (e < math.min(bytes.length, 32) && bytes(e) != 0) e += 1
    if (e >= bytes.length) return
    val banner = new String(bytes, 0, e, StandardCharsets.US_ASCII)
    if (!banner.startsWith("JAVA PROFILE")) return
    meta.set("hprof:version", banner)
    if (bytes.length >= e + 13) {
      val idSize = Endian.be32(bytes, e + 1)
      val millis = Endian.be64(bytes, e + 5)
      meta.set("hprof:identifier-size", idSize.toString)
      if (millis > 0 && millis < 4102444800000L)
        meta.set("dcterms:created", java.time.Instant.ofEpochMilli(millis)
          .toString)
    }
    sink.chars(banner); sink.newline()
  }

  /** Binary STL: 80-byte comment header + u32 triangle count. */
  def extractStl(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (bytes.length < 84) return
    var e = 0
    while (e < 80 && bytes(e) != 0) e += 1
    val header = new String(bytes, 0, e, StandardCharsets.ISO_8859_1).trim
    if (header.nonEmpty) {
      meta.set("stl:header", header)
      sink.chars(header); sink.newline()
    }
    meta.set("stl:triangles", Endian.le32(bytes, 80).toString)
  }

  /** PostScript / AI DSC comments (%%Title, %%Creator, %%Pages, ...) —
    * the Adobe Document Structuring Conventions prologue.
    */
  def extractPostScript(bytes: Array[Byte], sink: SpanSink,
      meta: MetaSink): Unit = {
    val head = new String(bytes, 0, math.min(bytes.length, 64 * 1024),
      StandardCharsets.ISO_8859_1)
    if (!head.startsWith("%!")) return
    def strip(v: String): String = {
      val t = v.trim
      if (t.startsWith("(") && t.endsWith(")")) t.substring(1, t.length - 1)
      else t
    }
    for (line <- head.linesIterator.take(500) if line.startsWith("%%")) {
      val idx = line.indexOf(':')
      if (idx > 2) {
        val key = line.substring(2, idx)
        val value = strip(line.substring(idx + 1))
        key match {
          case "Title" if value.nonEmpty => meta.set("dc:title", value)
          case "Creator" if value.nonEmpty => meta.set("dc:creator", value)
          case "CreationDate" if value.nonEmpty =>
            meta.set("ps:creation-date", value)
          case "Pages" if value.nonEmpty => meta.set("ps:pages", value)
          case "BoundingBox" if value.nonEmpty =>
            meta.set("ps:bounding-box", value)
          case "LanguageLevel" if value.nonEmpty =>
            meta.set("ps:language-level", value)
          case _ => ()
        }
      }
    }
    meta.set("ps:version", head.linesIterator.next().stripPrefix("%!").trim)
  }

  /** JKS keystore: 0xFEEDFEED magic, version u32, entry count u32, then
    * per entry tag u32 (1 = private key, 2 = trusted certificate),
    * alias (UTF-16-modified: u16 length + bytes), timestamp u64 — the
    * key/cert payloads are skipped structurally (their lengths are
    * explicit), only aliases/types/dates become metadata.
    */
  def extractJks(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    def need(o: Int, n: Int): Unit =
      if (o + n > bytes.length) throw new IllegalStateException("short jks")
    def be32(o: Int): Long = { need(o, 4); Endian.be32(bytes, o) }
    def be16(o: Int): Int = { need(o, 2); Endian.be16(bytes, o) }
    if (bytes.length < 12 || be32(0) != 0xfeedfeedL) return
    val version = be32(4)
    val count = be32(8)
    if (count > 10000) return
    meta.set("jks:version", version.toString)
    meta.set("jks:entries", count.toString)
    var off = 12
    var i = 0L
    try {
      while (i < count && off + 4 <= bytes.length) {
        val tag = be32(off); off += 4
        val aliasLen = be16(off); off += 2
        if (off + aliasLen > bytes.length) return
        val alias = new String(bytes, off, aliasLen, StandardCharsets.UTF_8)
        off += aliasLen
        val millis = (be32(off) << 32) | be32(off + 4); off += 8
        val kind = if (tag == 1) "private-key" else "trusted-cert"
        meta.add("jks:alias", s"$alias ($kind)")
        sink.chars(s"$alias\t$kind\t" +
          java.time.Instant.ofEpochMilli(millis).toString)
        sink.newline()
        if (tag == 1) {
          // protected key: u32 length + bytes, then cert chain count
          val keyLen = be32(off); off += 4
          if (keyLen > bytes.length) return
          off += keyLen.toInt
          val chain = be32(off); off += 4
          var c = 0L
          while (c < chain) {
            val typeLen = be16(off); off += 2 + typeLen // cert type string
            val certLen = be32(off); off += 4
            if (certLen > bytes.length) return
            off += certLen.toInt
            c += 1
          }
        } else {
          val typeLen = be16(off); off += 2 + typeLen
          val certLen = be32(off); off += 4
          if (certLen > bytes.length) return
          off += certLen.toInt
        }
        i += 1
      }
    } catch { case _: IllegalStateException => () } // truncated: keep partial
  }
}
