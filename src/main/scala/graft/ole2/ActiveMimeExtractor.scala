package graft.ole2

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

  private val MaxInflated = 256L << 20

  def extract(bytes: Array[Byte], meta: graft.engine.MetaSink,
      child: (String, Array[Byte]) => Unit): Unit = {
    require(bytes.length > 46, "activemime too short")
    val zlibOffset = graft.core.Endian.le32(bytes, 30)
    val start = 46L + zlibOffset
    require(start < bytes.length, "zlib offset past end")

    val inflater = new java.util.zip.Inflater()
    inflater.setInput(bytes, start.toInt, bytes.length - start.toInt)
    val out = new java.io.ByteArrayOutputStream(64 << 10)
    val buf = new Array[Byte](64 << 10)
    while (!inflater.finished() && !inflater.needsInput()) {
      val n = inflater.inflate(buf)
      if (n == 0 && !inflater.finished()) throw new java.io.IOException("stalled inflate")
      out.write(buf, 0, n)
      if (out.size.toLong > MaxInflated)
        throw new graft.engine.ZipBombDetected
    }
    inflater.end()
    val cfbBytes = out.toByteArray
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
