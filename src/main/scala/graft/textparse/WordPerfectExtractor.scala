package graft.textparse

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian

/** WordPerfect 5.x / 6.x (.wpd/.wp) text extraction.
  *
  * Reference behavior: tika-parsers .../wordperfect/WordPerfectParser.java
  * + WP5/WP6DocumentAreaExtractor.java — prefix area (0xFF"WPC" id, doc
  * area pointer, major/minor version, encrypted flag), then a byte-wise
  * document-area walk: printable ASCII passes through, single-byte
  * function codes map to space/tab/paragraph breaks, fixed- and
  * variable-length multi-byte functions are skipped by their declared
  * sizes, and extended characters resolve through the WP character-set
  * tables ([[WpCharsets]] — public WordPerfect file-format data;
  * out-of-range charsets emit a space, the reference's fallback).
  */
object WordPerfectExtractor {

  final class WpMalformed(msg: String) extends Exception(msg)

  private final class Cursor(val data: Array[Byte], var p: Int) {
    def eof: Boolean = p >= data.length
    def read(): Int = {
      if (p >= data.length) throw new java.io.EOFException()
      val v = data(p) & 0xff; p += 1; v
    }
    def readShortLE(): Int = { val a = read(); val b = read(); (b << 8) | a }
    def skip(n: Int): Unit = { p += math.max(0, n) }
    def skipUntil(target: Int): Unit = {
      while (p < data.length && (data(p) & 0xff) != target) p += 1
      if (p < data.length) p += 1
    }
  }

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (bytes.length < 16 || (bytes(0) & 0xff) != 0xff ||
        bytes(1) != 'W' || bytes(2) != 'P' || bytes(3) != 'C')
      throw new WpMalformed("not a WPC file")
    val docPtr = Endian.leInt(bytes, 4)
    val major = bytes(10) & 0xff
    val minor = bytes(11) & 0xff
    val encrypted = Endian.le16(bytes, 12) != 0
    if (major != 0 && major != 2)
      throw new WpMalformed(s"unsupported WP major version $major")
    if (encrypted) throw new WpMalformed("document is encrypted")
    if (docPtr < 16 || docPtr >= bytes.length)
      throw new WpMalformed("document area pointer out of range")
    val version = if (major == 2) "6.x" else if (minor == 1) "5.1" else "5.0"
    meta.set("wp:version", version)
    meta.set("content-type-version", s"application/vnd.wordperfect; version=$version")

    val in = new Cursor(bytes, docPtr)
    val buf = new StringBuilder()
    def endParagraph(): Unit = {
      sink.chars(buf.toString)
      sink.newline()
      buf.setLength(0)
    }
    try {
      while (!in.eof) {
        val c = in.read()
        if (major == 2) wp6Char(c, in, buf, endParagraph _)
        else wp5Char(c, in, buf, endParagraph _)
      }
    } catch { case _: java.io.EOFException => () } // truncated tail function
    if (buf.nonEmpty) endParagraph()
  }

  /** WP6 fixed-length function sizes for codes 240-254. */
  private val Wp6Fixed: Array[Int] =
    Array(4, 5, 3, 3, 3, 3, 4, 4, 4, 5, 5, 6, 6, 8, 8)

  private def wp6Char(c: Int, in: Cursor, out: StringBuilder,
      endParagraph: () => Unit): Unit = {
    if (c == 241) {
      in.skip(Wp6Fixed(c - 240) - 1) // undo marker: content kept either way
    } else if (c > 0 && c <= 32) {
      out.append(WpCharsets.DefaultIntl(c))
    } else if (c >= 33 && c <= 126) {
      out.append(c.toChar)
    } else if (c == 128) {
      out.append(' ') // soft space
    } else if (c == 129) {
      out.append(' ') // hard space
    } else if (c == 132) {
      out.append('-') // hard hyphen
    } else if (c == 135 || c == 137) {
      endParagraph() // dormant hard return
    } else if (c == 138) {
      in.skipUntil(139) // page-number pair
    } else if (c == 198) {
      out.append('\t') // end of cell
    } else if (c >= 180 && c <= 207) {
      endParagraph()
    } else if (c >= 208 && c <= 239) {
      // variable-length: subgroup, u16 size (includes the 4 read bytes)
      val subgroup = in.read()
      val size = in.readShortLE()
      in.skip(size - 4)
      if (c == 208) { // end-of-line group
        if (subgroup >= 1 && subgroup <= 3) out.append(' ')
        else if (subgroup == 10) out.append('\t')
        else if (subgroup >= 4 && subgroup <= 19) endParagraph()
        else if (subgroup >= 20 && subgroup <= 22) out.append(' ')
        else if (subgroup >= 23 && subgroup <= 28) endParagraph()
      } else if (c == 213) out.append(' ')
      else if (c == 224) out.append('\t')
    } else if (c == 240) {
      val charval = in.read()
      val charset = in.read()
      in.read() // closing char
      WpCharsets.append(out, WpCharsets.Wp6, charset, charval)
    } else if (c >= 241 && c <= 254) {
      in.skip(Wp6Fixed(c - 240) - 1)
    } else if (c == 255) {
      in.skipUntil(c)
    }
    // other codes (soft hyphens, match functions, …) are ignored
  }

  /** WP5 fixed-length function sizes for codes 192-207. */
  private val Wp5Fixed: Array[Int] =
    Array(4, 9, 11, 3, 3, 5, 6, 7, 4, 5, 6, 6, 8, 10, 10, 12)

  private def wp5Char(c: Int, in: Cursor, out: StringBuilder,
      endParagraph: () => Unit): Unit = {
    if (c == 10) endParagraph() // hard return
    else if (c == 11) out.append(' ') // soft page break
    else if (c == 12) endParagraph() // hard page break
    else if (c == 13) out.append(' ') // soft return
    else if (c >= 32 && c <= 126) out.append(c.toChar)
    else if (c == 140) endParagraph() // hard return/soft page (5.1)
    else if (c >= 144 && c <= 149) out.append(' ')
    else if (c == 153) endParagraph() // dormant hard return (5.1)
    else if (c == 160) out.append(' ')
    else if (c >= 169 && c <= 171) out.append('-')
    else if (c == 192) {
      val charval = in.read()
      val charset = in.read()
      in.read() // closing char
      WpCharsets.append(out, WpCharsets.Wp5, charset, charval)
    } else if (c >= 193 && c <= 207) {
      in.skip(Wp5Fixed(c - 192) - 1)
    } else if (c >= 208 && c <= 255) {
      in.read() // subgroup
      val size = in.readShortLE()
      in.skip(size)
    }
  }
}
