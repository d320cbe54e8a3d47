package graft.chm

import java.nio.charset.StandardCharsets

import graft.engine.{MetaSink, SpanSink}
import graft.html.HtmlExtractor
import graft.mime.EncodingDetector
import graft.core.Endian

/** Microsoft Compiled HTML Help (.chm) extractor.
  *
  * ITSS container walk from the public format documentation (the layout
  * chmlib documents); behavior mirrors tika-parsers
  * .../microsoft/chm/ChmParser.java:60-105 — every directory entry whose
  * name ends in .html/.htm is decompressed and run through the HTML
  * extractor inline, in directory order. LZX decompression of the
  * MSCompressed section is [[graft.pkgx.Lzx]].
  *
  * Layout essentials (ChmItsfHeader/ChmItspHeader/ChmPmglHeader field
  * maps in the reference confirm the public docs):
  *  - ITSF header: dir chunk table at +0x48 (offset) / +0x50 (length),
  *    version-3 content offset at +0x58 (else dirOffset + dirLen);
  *  - ITSP directory header (0x54 bytes) then `numChunks` chunks of
  *    `chunkSize`; PMGL chunks carry entries, PMGI chunks are index;
  *  - PMGL entry: ENCINT nameLen, UTF-8 name, ENCINT section/offset/len
  *    (ENCINT = big-endian 7-bit varint);
  *  - section 0 = uncompressed at contentOffset+offset; section 1 =
  *    LZXC (::DataSpace/Storage/MSCompressed/{Content,ControlData,
  *    Transform/.../ResetTable}).
  */
object ChmExtractor {

  final class ChmMalformed(msg: String) extends Exception(msg)

  final case class DirEntry(name: String, section: Int, offset: Long, length: Long)

  private def need(b: Array[Byte], o: Int, n: Int): Unit =
    if (o < 0 || o + n > b.length) throw new ChmMalformed("short read")
  private def le32(b: Array[Byte], o: Int): Long = { need(b, o, 4); Endian.le32(b, o) }
  private def le64(b: Array[Byte], o: Int): Long = { need(b, o, 8); Endian.le64(b, o) }
  private def magic4(b: Array[Byte], o: Int, m: String): Boolean =
    o >= 0 && o + 4 <= b.length &&
      b(o) == m(0).toByte && b(o + 1) == m(1).toByte &&
      b(o + 2) == m(2).toByte && b(o + 3) == m(3).toByte

  /** Parsed container: directory entries in listing order + resolvers. */
  final class ChmFile(bytes: Array[Byte]) {
    if (!magic4(bytes, 0, "ITSF")) throw new ChmMalformed("not ITSF")
    private val version = le32(bytes, 4)
    private val dirOffset = le64(bytes, 0x48)
    private val dirLen = le64(bytes, 0x50)
    private val contentOffset =
      if (version >= 3 && le32(bytes, 8) >= 0x60) le64(bytes, 0x58)
      else dirOffset + dirLen
    // 64-bit header offsets are range-validated BEFORE any .toInt
    // truncation — a crafted u64 must become ChmMalformed, not a
    // negative-index AIOOBE or a wrapped in-range read
    if (dirOffset < 0 || dirLen < 0 || dirOffset + 0x54 > bytes.length)
      throw new ChmMalformed("directory offset out of range")
    if (contentOffset < 0 || contentOffset > bytes.length)
      throw new ChmMalformed("content offset out of range")

    val entries: Vector[DirEntry] = {
      if (!magic4(bytes, dirOffset.toInt, "ITSP"))
        throw new ChmMalformed("no ITSP directory")
      val chunkSize = le32(bytes, dirOffset.toInt + 0x10)
      val numChunks = le32(bytes, dirOffset.toInt + 0x2c)
      if (chunkSize < 0x20 || chunkSize > 0x100000)
        throw new ChmMalformed(s"bad chunk size $chunkSize")
      val out = Vector.newBuilder[DirEntry]
      var ci = 0L
      while (ci < numChunks && ci < 0x10000) {
        val cs = dirOffset + 0x54 + ci * chunkSize
        if (cs + chunkSize <= bytes.length && magic4(bytes, cs.toInt, "PMGL")) {
          val quickRef = le32(bytes, cs.toInt + 4)
          val end = cs + chunkSize - math.max(0, math.min(quickRef, chunkSize - 0x14))
          var p = cs + 0x14
          var ok = true
          while (ok && p < end) {
            try {
              var pp = p.toInt
              def encint(): Long = {
                var v = 0L
                var b = 0
                do {
                  if (pp >= bytes.length || v > (Long.MaxValue >> 8))
                    throw new ChmMalformed("bad ENCINT")
                  b = bytes(pp) & 0xff; pp += 1
                  v = (v << 7) | (b & 0x7f)
                } while ((b & 0x80) != 0)
                v
              }
              val nameLen = encint()
              if (nameLen <= 0 || nameLen > 4096 || pp + nameLen > end) ok = false
              else {
                val name = new String(bytes, pp, nameLen.toInt, StandardCharsets.UTF_8)
                pp += nameLen.toInt
                val section = encint()
                val off = encint()
                val len = encint()
                if (pp > end + 1) ok = false
                else {
                  out += DirEntry(name, section.toInt, off, len)
                  p = pp
                }
              }
            } catch { case _: ChmMalformed => ok = false }
          }
        }
        ci += 1
      }
      out.result()
    }

    private def entryNamed(n: String): Option[DirEntry] =
      entries.find(e => e.section == 0 && e.name.equalsIgnoreCase(n))

    private def section0Bytes(e: DirEntry): Array[Byte] = {
      val start = contentOffset + e.offset
      if (start < 0 || e.length < 0 || start + e.length > bytes.length)
        throw new ChmMalformed(s"entry ${e.name} overruns file")
      java.util.Arrays.copyOfRange(bytes, start.toInt, (start + e.length).toInt)
    }

    /** The MSCompressed section, decompressed once on first demand. */
    lazy val section1: Array[Byte] = {
      val content = entryNamed("::DataSpace/Storage/MSCompressed/Content")
        .getOrElse(throw new ChmMalformed("no MSCompressed content"))
      val control = section0Bytes(
        entryNamed("::DataSpace/Storage/MSCompressed/ControlData")
          .getOrElse(throw new ChmMalformed("no ControlData")))
      if (!magic4(control, 4, "LZXC")) throw new ChmMalformed("not LZXC")
      val ctlVersion = le32(control, 8)
      val resetInterval = le32(control, 0x0c)
      val windowSize0 = le32(control, 0x10)
      val windowBytes =
        if (ctlVersion == 2) windowSize0 * Lzx.FrameSizeL else windowSize0
      val reset = section0Bytes(entries
        .find(e => e.section == 0 &&
          e.name.startsWith("::DataSpace/Storage/MSCompressed/Transform/") &&
          e.name.endsWith("/InstanceData/ResetTable"))
        .getOrElse(throw new ChmMalformed("no ResetTable")))
      val blockCount = le32(reset, 4)
      val tableOffset = le32(reset, 0x0c)
      val uncompLen = le64(reset, 0x10)
      // bound blockCount by the reset table's REAL size before the
      // array allocation — a 100-byte table can't claim 4M blocks
      if (blockCount < 0 || blockCount > 0x400000 || tableOffset < 0 ||
          tableOffset + 8L * blockCount > reset.length)
        throw new ChmMalformed("bad reset-table block count")
      val offsets = new Array[Long](blockCount.toInt)
      var i = 0
      while (i < offsets.length) {
        offsets(i) = le64(reset, (tableOffset + 8L * i).toInt)
        i += 1
      }
      graft.pkgx.Lzx.decodeSection(section0Bytes(content), offsets,
        resetInterval.toInt, windowBytes, uncompLen)
    }

    def entryBytes(e: DirEntry): Array[Byte] = e.section match {
      case 0 => section0Bytes(e)
      case 1 =>
        if (e.offset < 0 || e.length < 0 || e.offset + e.length > section1.length)
          throw new ChmMalformed(s"entry ${e.name} overruns section")
        java.util.Arrays.copyOfRange(section1, e.offset.toInt,
          (e.offset + e.length).toInt)
      case s => throw new ChmMalformed(s"unsupported section $s")
    }
  }

  private object Lzx { val FrameSizeL: Long = graft.pkgx.Lzx.FrameSize.toLong }

  /** ChmParser.parse analog: every .html/.htm page through the HTML
    * extractor, inline, in directory order.
    */
  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val chm = new ChmFile(bytes)
    var pages = 0
    chm.entries.foreach { e =>
      if ((e.name.endsWith(".html") || e.name.endsWith(".htm")) && e.length > 0) {
        val data = chm.entryBytes(e)
        HtmlExtractor.extract(EncodingDetector.decode(data), sink, meta)
        sink.newline()
        pages += 1
      }
    }
    meta.add("chm:pages", pages.toString)
  }
}
