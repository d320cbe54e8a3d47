package graft.ole2

import graft.core.OutBuf

/** ActiveMime (.mso) — the container Office uses for HTML-exported
  * editing data, wrapping a zlib-deflated CFB that carries a VBA
  * project.
  *
  * Reference: tika-parser-microsoft-module
  * `activemime/ActiveMimeParser.java:40-70` — skip the 46-byte header
  * ("ActiveMime\0\0", version, flags, data size, zlib offset, flag,
  * uncompressed size, unknown), skip `zlibOffset` more, inflate, then
  * extract macros from the inner POIFS (unconditionally — the
  * ActiveMime parser is not gated on extractMacros).
  */
object ActiveMimeExtractor {

  def extract(bytes: Array[Byte], meta: graft.engine.MetaSink,
      child: (String, Array[Byte]) => Unit): Unit = {
    require(bytes.length > 46, "activemime too short")
    val zlibOffset = graft.core.Endian.le32(bytes, 30)
    val start = 46L + zlibOffset
    require(start < bytes.length, "zlib offset past end")

    val out = new OutBuf(OutBuf.MaxBytes, 64 << 10)
    val end = out.inflate(bytes, start.toInt, bytes.length - start.toInt, raw = false)
    if (end == OutBuf.Capped) throw new graft.engine.ZipBombDetected
    if (end == OutBuf.NeedsDict || end == OutBuf.NeedsInput && out.len == 0)
      throw new java.io.IOException("stalled inflate")
    val cfbBytes = out.result
    meta.add("activemime:length", cfbBytes.length.toString)

    val cfb = Cfb.parse(cfbBytes)
    OleProps.fromCfb(cfb, meta)
    val modules = VbaMacros.readMacros(cfb)
    modules.foreach { m =>
      meta.add("embedded:macro", m.name)
      child(m.name + ".vba",
        m.source.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }
}
