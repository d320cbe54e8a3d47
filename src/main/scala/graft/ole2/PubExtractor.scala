package graft.ole2

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.le32

/** Microsoft Publisher (.pub) text extraction.
  *
  * Reference semantics: the OfficeParser's HPBF route
  * (tika-parsers .../microsoft/OfficeParser.java PUBLISHER case →
  * POI's PublisherTextExtractor over HPBF QuillContents): the document
  * text lives in the `Quill/QuillSub/CONTENTS` stream — a "CHNKINK "
  * header, then up to 20 twenty-four-byte bit descriptors at offset
  * 0x20, each naming a bit type; `TEXT` bits are UTF-16LE runs of the
  * publication text. Summary metadata (creator etc.) flows through the
  * shared [[OleProps]] property-set reader like every CFB type.
  */
object PubExtractor {

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val cfb = Cfb.parse(bytes)
    OleProps.fromCfb(cfb, meta)
    // the Quill stream lives at Quill/QuillSub/CONTENTS; fall back to any
    // CONTENTS stream that carries the CHNK signature (root `Contents`
    // property streams do not)
    val contents = cfb.entries.find(e => e.objType == 2 &&
        e.path.equalsIgnoreCase("Quill/QuillSub/") &&
        e.name.equalsIgnoreCase("CONTENTS")).map(cfb.readStream)
      .orElse(cfb.entries.filter(e => e.objType == 2 &&
          e.name.equalsIgnoreCase("CONTENTS")).map(cfb.readStream)
        .find(c => c.length > 4 && c(0) == 'C' && c(1) == 'H' &&
          c(2) == 'N' && c(3) == 'K'))
      .getOrElse(throw new IllegalArgumentException("no Quill CONTENTS"))
    if (contents.length < 0x20 + 24 ||
        !(contents(0) == 'C' && contents(1) == 'H' && contents(2) == 'N' &&
          contents(3) == 'K'))
      throw new IllegalArgumentException("not a Quill CONTENTS stream")
    var i = 0
    var emitted = false
    while (i < 20) {
      val off = 0x20 + i * 24
      if (off + 24 <= contents.length &&
          contents(off) == 0x18 && contents(off + 1) == 0x00) {
        val bitType = new String(contents, off + 12, 4,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val from = le32(contents, off + 16)
        val len = le32(contents, off + 20)
        if (bitType == "TEXT" && from >= 0 && len >= 0 &&
            from + len <= contents.length) {
          val text = new String(contents, from.toInt, len.toInt - (len.toInt & 1),
            java.nio.charset.StandardCharsets.UTF_16LE)
          if (text.nonEmpty) {
            sink.chars(text.replace('\r', '\n'))
            sink.newline()
            emitted = true
          }
        }
      }
      i += 1
    }
    if (!emitted) sink.newline()
  }
}
