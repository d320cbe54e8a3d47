package graft.ole2

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian

/** Microsoft Works word-processor (.wps) text — beyond reference
  * parity (the reference's OfficeParser lists WORKS as an excluded
  * POIFS type and extracts nothing).
  *
  * Two on-disk generations, both CFB:
  *  - Works 3/4 ("MatOST" marker): the `MN0` stream — header with the
  *    text-zone range at u32 0x22 (start, always 0x100) and 0x26
  *    (end), CP1252 body with CR/LF paragraph marks
  *  - Works 5/2000+ ("CONTENTS" + Quill96 CompObj): the `CONTENTS`
  *    stream is a Quill "CHNKWKS " chunk directory with the same
  *    24-byte bit descriptors as Publisher's CHNKINK — TEXT bits are
  *    UTF-16LE stories (shared walk in [[PubExtractor]])
  */
object WpsExtractor {

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val cfb = Cfb.parse(bytes)
    OleProps.fromCfb(cfb, meta)
    val mn0 = cfb.entries.find(e => e.objType == 2 && e.name == "MN0")
      .map(cfb.readStream)
    mn0 match {
      case Some(d) if d.length > 0x100 =>
        meta.set("works:format",
          if ((d(0) & 0xff) == 0x04) "3.0" else "4.0")
        extractMn0(d, sink)
      case _ =>
        // Quill CONTENTS route (CHNKWKS shares CHNKINK's layout)
        PubExtractor.extract(bytes, sink, meta)
        meta.set("works:format", "2000+")
    }
  }

  private def extractMn0(d: Array[Byte], sink: SpanSink): Unit = {
    var from = Endian.le32(d, 0x22)
    var to = Endian.le32(d, 0x26)
    if (from < 0x100 || from >= d.length || to <= from) { from = 0x100; to = d.length }
    if (to > d.length) to = d.length
    val cp1252 =
      try java.nio.charset.Charset.forName("windows-1252")
      catch { case _: Exception => java.nio.charset.StandardCharsets.ISO_8859_1 }
    val text = new String(d, from.toInt, (to - from).toInt, cp1252)
    val sb = new StringBuilder
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '\r') {
        sink.chars(sb.toString); sb.clear(); sink.newline()
        if (i + 1 < text.length && text.charAt(i + 1) == '\n') i += 1
      } else if (c == '\n') { sink.chars(sb.toString); sb.clear(); sink.newline() }
      else if (c == '\t') sb.append('\t')
      else if (c >= ' ') sb.append(c)
      i += 1
    }
    if (sb.nonEmpty) { sink.chars(sb.toString); sink.newline() }
  }
}
