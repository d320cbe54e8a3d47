package graft.ole2

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{le16, le32}

/** Legacy binary Visio (.vsd) text extraction.
  *
  * Reference semantics: the OfficeParser VISIO case → POI HDGF's
  * VisioTextExtractor. The `VisioDocument` stream is a tree of pointers
  * rooted at offset 0x24 (18-byte v6+ pointers: type, address, offset,
  * length, format). Streams whose format has bit 1 set are compressed
  * with Visio's LZSS variant (4096-byte circular window, 12-bit
  * back-references with a +18 rebase — calibrated against the reference
  * fixture; POI HDGFLZW uses the same constant). Pointer-containing
  * streams hold a child-pointer table at the offset named by their first
  * u32; chunk streams (format 0xD0-0xDF) hold 19-byte chunk headers
  * (type, id, list, length, level u16, flag u8) — `Text` chunks
  * (type 0x0E) carry the shape text at data offset 8, UTF-16LE in v11+
  * files and 8-bit in v6.
  *
  * Chunk trailer/separator rules vary per type and Visio build; rather
  * than replicating those tables, text chunks are located by a
  * validating scan (exact header shape + decodable, mostly-printable
  * payload), which extracts the same text without the alignment
  * fragility.
  */
object VsdExtractor {

  private val MaxOut = 64 << 20 // decompression budget per document

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val cfb = Cfb.parse(bytes)
    OleProps.fromCfb(cfb, meta)
    val vd = cfb.stream("VisioDocument")
      .getOrElse(throw new IllegalArgumentException("no VisioDocument stream"))
    if (vd.length < 0x36)
      throw new IllegalArgumentException("VisioDocument too short")
    val version = vd(0x1a) & 0xff
    if (version < 6)
      throw new IllegalArgumentException(s"Visio v$version not supported")
    meta.set("visio:version", version.toString)

    val visited = scala.collection.mutable.Set[(Long, Long)]()
    var budget = MaxOut

    /** Follow one pointer: decompress, recurse into pointer tables,
      * scan chunk-format streams for text.
      */
    def follow(offset: Long, length: Long, format: Int, depth: Int): Unit = {
      if (depth > 12 || length <= 0 || offset < 0 ||
          offset + length > vd.length || !visited.add((offset, length))) return
      val compressed = (format & 2) != 0
      val data =
        if (compressed) {
          val d = lzw(vd, offset.toInt, length.toInt, math.min(budget, 16 << 20))
          budget -= d.length
          if (budget < 0) return
          d
        } else java.util.Arrays.copyOfRange(vd, offset.toInt, (offset + length).toInt)
      // pointer-containing stream: first u32 locates the pointer count
      // (POI PointerContainingStream.findPointers); compressed pointer
      // tables are read without the 4-byte block header
      val body = if (compressed && data.length >= 4)
        java.util.Arrays.copyOfRange(data, 4, data.length) else data
      var isPointerStream = false
      if (body.length >= 8) {
        val po = le32(body, 0)
        if (po >= 4 && po + 8 <= body.length) {
          val n = le32(body, po.toInt)
          if (n > 0 && n < 10000 && po + 8 + n * 18 <= body.length + 18) {
            isPointerStream = true
            var i = 0
            while (i < n) {
              val base = (po + 8 + i * 18).toInt
              if (base + 18 <= body.length) {
                val cOff = le32(body, base + 8)
                val cLen = le32(body, base + 12)
                val cFmt = le16(body, base + 16)
                follow(cOff, cLen, cFmt, depth + 1)
              }
              i += 1
            }
          }
        }
      }
      if (!isPointerStream && (format & 0xf0) == 0xd0)
        scanTextChunks(data, version, sink) // full data incl. block header
    }

    val tOff = le32(vd, 0x2c)
    val tLen = le32(vd, 0x30)
    val tFmt = le16(vd, 0x34)
    follow(tOff, tLen, tFmt, 0)
  }

  /** Validating scan for Text chunks (type 0x0E): exact 19-byte header
    * shape, sane length, text payload at data+8 that decodes to mostly
    * printable characters. Matches POI's per-chunk text with a BOM strip
    * and newline termination (VisioTextExtractor.getText).
    */
  private def scanTextChunks(data: Array[Byte], version: Int,
      sink: SpanSink): Unit = {
    var p = 0
    while (p + 19 + 8 <= data.length) {
      if (data(p) == 0x0e && data(p + 1) == 0 && data(p + 2) == 0 &&
          data(p + 3) == 0) {
        val len = le32(data, p + 12)
        val lvl = le16(data, p + 16)
        val ok = len >= 8 && len <= data.length - p - 19 && lvl < 32 &&
          (version < 11 || (len - 8) % 2 == 0)
        if (ok) {
          val start = p + 19 + 8
          val n = (len - 8).toInt
          val raw =
            if (version >= 11)
              new String(data, start, n,
                java.nio.charset.StandardCharsets.UTF_16LE)
            else
              new String(data, start, n, "windows-1252")
          val text = raw.stripPrefix("\ufeff").replace("\u0000", "")
            .replace('\r', '\n')
          val printable = text.count(c => c >= 0x20 || c == '\n' || c == '\t')
          if (text.nonEmpty && printable * 5 >= text.length * 4) {
            sink.chars(if (text.endsWith("\n")) text else text + "\n")
            p += 19 + len.toInt - 1 // -1: compensate the loop increment
          }
        }
      }
      p += 1
    }
  }

  /** Visio LZSS ("HDGFLZW"): flag byte per 8 items; set bit = literal,
    * clear bit = (12-bit position, 4-bit length+3) reference into a
    * 4096-byte window rebased by +18.
    */
  private[graft] def lzw(src: Array[Byte], start: Int, len: Int,
      maxOut: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(len * 4, 1 << 20))
    val dict = new Array[Byte](4096)
    var pos = 0
    var i = start
    val end = start + len
    while (i < end && out.size < maxOut) {
      val flag = src(i) & 0xff
      i += 1
      var mask = 1
      while (mask < 0x100 && i < end && out.size < maxOut) {
        if ((flag & mask) != 0) {
          val b = src(i); i += 1
          dict(pos & 4095) = b; pos += 1
          out.write(b)
        } else if (i + 1 < end) {
          val b1 = src(i) & 0xff
          val b2 = src(i + 1) & 0xff
          i += 2
          val n = (b2 & 0x0f) + 3
          val jump = ((b2 & 0xf0) << 4) | b1
          var k = 0
          while (k < n) {
            val b = dict((jump + 18 + k) & 4095)
            out.write(b)
            dict(pos & 4095) = b; pos += 1
            k += 1
          }
        } else i = end
        mask <<= 1
      }
    }
    out.toByteArray
  }
}
