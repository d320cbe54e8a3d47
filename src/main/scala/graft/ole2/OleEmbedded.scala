package graft.ole2

import graft.core.Endian.{le16, le32}

/** Embedded-object carrier unwrapping shared by the RTF `\objdata`
  * path and the bare-CFB recursion path.
  *
  * Reference: tika-parsers microsoft-module `rtf/RTFObjDataParser.java`
  * (handleEmbeddedPOIFS) and POIFS `Ole10Native` semantics — a CFB that
  * merely *carries* a payload (OPC `Package` stream, `\\u0001Ole10Native`
  * record, COMP_OBJ `CONTENTS`) unwraps to that payload; a CFB that IS
  * the document (WordDocument/Workbook/...) is returned as-is by the
  * caller.
  */
object OleEmbedded {

  /** Unwrap a carrier CFB. Returns (optional filename, payload bytes)
    * or None when the CFB is not a recognized carrier.
    */
  def unwrap(cfb: Cfb.Doc): Option[(Option[String], Array[Byte])] = {
    cfb.stream("Package")
      .filter(p => p.length > 4 && p(0) == 'P' && p(1) == 'K')
      .map(p => (None: Option[String], p))
      .orElse(cfb.stream("\u0001Ole10Native").flatMap(parseOle10Native))
      .orElse {
        cfb.stream("CONTENTS").orElse(cfb.stream("Contents"))
          .filter(p => p.length > 4 && p(0) == '%' && p(1) == 'P' &&
            p(2) == 'D' && p(3) == 'F')
          .map(p => (Some("contents.pdf"): Option[String], p))
      }
  }

  /** `\\u0001Ole10Native` record (MS-OLEDS 2.3.6 / packager format):
    * u32 totalSize; u16 flags1 — when 2, asciiz label + filename,
    * u16 flags2, u16 pad, u32-length-prefixed asciiz command, then
    * u32 dataSize + data. Other flags1 values carry the payload right
    * after the header (tolerant fallback, like POI's Ole10Native).
    */
  def parseOle10Native(b: Array[Byte]): Option[(Option[String], Array[Byte])] = {
    if (b.length < 8) return None
    val total = le32(b, 0)
    if (total < 4 || total > b.length.toLong) return None
    val flags1 = le16(b, 4)
    if (flags1 == 2) {
      var p = 6
      def asciiz(): Option[String] = {
        val start = p
        while (p < b.length && b(p) != 0) p += 1
        if (p >= b.length) None
        else {
          val s = new String(b, start, p - start,
            java.nio.charset.Charset.forName("windows-1252"))
          p += 1 // the NUL
          Some(s)
        }
      }
      val label = asciiz()
      val fileName = asciiz()
      if (fileName.isEmpty) return None
      p += 4 // flags2 + pad
      if (p + 4 > b.length) return None
      val cmdLen = le32(b, p); p += 4
      if (cmdLen < 0 || p + cmdLen > b.length) return None
      p += cmdLen.toInt
      if (p + 4 > b.length) return None
      val dataSize = le32(b, p); p += 4
      if (dataSize <= 0 || p + dataSize > b.length) return None
      val data = java.util.Arrays.copyOfRange(b, p, p + dataSize.toInt)
      Some((fileName.orElse(label).map(baseName), data))
    } else {
      // plain mode: everything after totalSize is the payload
      Some((None, java.util.Arrays.copyOfRange(b, 4,
        math.min(b.length.toLong, 4L + total).toInt)))
    }
  }

  /** Last path component of a Windows or POSIX path. */
  def baseName(path: String): String = {
    val i = math.max(path.lastIndexOf('\\'), path.lastIndexOf('/'))
    if (i >= 0) path.substring(i + 1) else path
  }

  /** Extension for an unnamed embedded payload: full container-aware
    * detection (OPC/OLE2 specialization included), the
    * EmbeddedDocumentUtil.getExtension analog that names the
    * reference's `embedded-0.doc` / `embedded-1.xlsx` children.
    */
  def extFor(data: Array[Byte]): String = {
    import graft.mime.{MediaTypes, MimeRegistry}
    val m0 = try MimeRegistry.detect(data, None) catch { case _: Exception =>
      return ".bin" }
    val m =
      if (m0 == MediaTypes.Zip || m0 == MediaTypes.TikaOoxml)
        try graft.zipx.OpcDetector.specialize(data)
        catch { case _: Exception => m0 }
      else if (m0 == MediaTypes.TikaMsOffice)
        try Ole2Detector.specialize(data) catch { case _: Exception => m0 }
      else m0
    MimeRegistry.extensionFor(m)
  }
}
