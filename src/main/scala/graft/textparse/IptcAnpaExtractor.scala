package graft.textparse

import graft.engine.{MetaSink, SpanSink}

/** IPTC 7901 / ANPA-1312 newswire messages — reference:
  * tika-parser-news-module IptcAnpaParser.java (874 LoC; this is the
  * well-formed ANPA-1312 subset of its section machine).
  *
  * Framing: optional SYN SYN residual, SOH starts the envelope header
  * (service id + category line), STX starts the message, ETX ends it.
  * Inside the body, carat (^) marks functional sections: the first is
  * the heading (slug), the second the title, "^By ..." the byline;
  * everything else is body text. Sections may terminate with '<'
  * (AP/NYT/Bloomberg) or EOL (IptcAnpaParser.java:482-489).
  */
object IptcAnpaExtractor {

  private val SOH = 0x01; private val STX = 0x02; private val ETX = 0x03

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    val n = bytes.length
    def indexOf(b: Int, from: Int): Int = {
      var i = from
      while (i < n && bytes(i) != b) i += 1
      if (i < n) i else -1
    }
    val soh = indexOf(SOH, 0)
    val stx = indexOf(STX, math.max(soh, 0))
    val etx = indexOf(ETX, math.max(stx, 0))
    if (stx < 0) { // not framed: treat as plain text
      sink.chars(new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1))
      sink.newline()
      return
    }

    // envelope header: "<service-id> <category> ..." on the first line
    if (soh >= 0) {
      val header = new String(bytes, soh + 1, stx - soh - 1,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val firstLine = header.linesIterator.find(_.trim.nonEmpty).getOrElse("")
      val parts = firstLine.trim.split("\\s+").filter(_.nonEmpty)
      if (parts.nonEmpty) meta.set("anpa:service", parts.head)
      if (parts.length > 1) meta.set("anpa:category", parts(1))
    }

    val bodyEnd = if (etx > stx) etx else n
    val body = new String(bytes, stx + 1, bodyEnd - stx - 1,
      java.nio.charset.StandardCharsets.ISO_8859_1)

    // carat sections in order: heading, title, then bylines/body
    var sectionIdx = 0
    body.split("\\r?\\n").foreach { line0 =>
      val line = line0.replaceAll("[\\u0011\\u0013\\u001f\\u0004\\u0008\\u0016]", "").trim
      if (line.nonEmpty) {
        if (line.startsWith("^")) {
          val content = {
            val c = line.substring(1)
            val lt = c.indexOf('<')
            (if (lt >= 0) c.substring(0, lt) else c).trim
          }
          sectionIdx += 1
          if (content.nonEmpty) {
            if (sectionIdx == 1) meta.set("anpa:heading", content)
            else if (sectionIdx == 2) {
              meta.set("dc:title", clean(content))
              sink.chars(clean(content)); sink.newline()
            } else if (content.toLowerCase.startsWith("by ")) {
              meta.set("dc:creator", clean(content.substring(3).trim))
            } else {
              sink.chars(clean(content)); sink.newline()
            }
          }
        } else {
          val lt = line.indexOf('<')
          val content = (if (lt >= 0) line.substring(0, lt) else line).trim
          if (content.nonEmpty) { sink.chars(clean(content)); sink.newline() }
        }
      }
    }
  }

  /** IptcAnpaParser.clean: wire-service quote conventions. */
  private def clean(s: String): String =
    s.replace("``", "`").replace("''", "'")
      .replace('\u0091', '\'').replace('\u0092', '\'')
      .replace('\u0093', '"').replace('\u0094', '"').trim
}

/** Printable-string extraction from otherwise-unparseable binaries —
  * the reference's StringsParser semantics (tika-parser-code-module
  * strings/StringsParser.java shells out to GNU `strings`; this is the
  * same run-extraction inline). OPT-IN like the reference (the parser
  * requires explicit configuration there): enabled via
  * `Extractor.Config.stringsFallback`, never in the default chain.
  */
object StringsExtractor {

  def extract(bytes: Array[Byte], sink: SpanSink, minLen: Int = 4): Unit = {
    val sb = new StringBuilder
    var i = 0
    def flush(): Unit = {
      if (sb.length >= minLen) { sink.chars(sb.toString); sink.newline() }
      sb.setLength(0)
    }
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if ((b >= 0x20 && b < 0x7f) || b == '\t') sb.append(b.toChar)
      else flush()
      i += 1
    }
    flush()
  }
}
