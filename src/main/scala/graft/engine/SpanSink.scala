package graft.engine

import scala.collection.mutable.ArrayBuffer
import graft.core.Span

/** Signals that the per-document char budget was exhausted
  * (reference: tika-core sax/WriteOutContentHandler.java
  * WriteLimitReachedException; default limit 100k chars,
  * BodyContentHandler.java:83-92).
  */
final class WriteLimitReached extends Exception("write limit reached")

/** Zip-bomb guard trip (reference: tika-core sax/SecureContentHandler
  * .java:54-69 — stop when output chars exceed 1M AND output/input ratio
  * exceeds 100; shared across the whole embedded tree like
  * RecursiveParserWrapper's SecureHandlerCounter :319-340).
  */
final class ZipBombDetected extends Exception("zip bomb detected")

/** Per-document soft deadline exceeded (the reference kills and restarts
  * the forked parse JVM on task timeout — tika-pipes PipesServer
  * .java:488-503; under Spark we fail the DOCUMENT, not the task, so one
  * pathological row cannot burn a whole executor slot).
  */
final class DocTimeout extends Exception("document soft deadline exceeded")

/** The span builder all parsers emit into — materializes the reference's
  * XHTML SAX event stream as an ordered span array.
  *
  * Serialization rules ported from tika-core sax/XHTMLContentHandler.java:
  *  - '\n' after ENDLINE block elements (:46-49,294-301) — here
  *    [[newline]], which also terminates the current text span ("block-
  *    terminated character runs");
  *  - '\t' before INDENT elements (:71-72,281-283) — here [[tab]];
  *  - invalid control chars filtered (:358-365).
  *
  * One sink instance spans the entire embedded-document tree of a row, so
  * the write limit and bomb guard are global per document, mirroring
  * RecursiveParserWrapper.java:319-340.
  */
final class SpanSink(
    val writeLimit: Int = 100000,
    val inputBytes: Long = 0L,
    val deadlineNanos: Long = Long.MaxValue
) {
  private val out = new ArrayBuffer[Span]()
  private val buf = new StringBuilder()
  private var offset = 0
  private var spanStart = 0
  var limitReached = false

  // output-to-input ratio guard (SecureContentHandler.java:62): past
  // BombOutputThreshold chars, output over BombMaxRatio x the input bytes
  // is a detected bomb
  private final val BombOutputThreshold = 1000000L
  private final val BombMaxRatio = 100L

  private def checkBomb(): Unit = {
    val total = offset.toLong + buf.length
    if (total > BombOutputThreshold && inputBytes > 0 && total > BombMaxRatio * inputBytes)
      throw new ZipBombDetected
  }

  /** Append character content; filters C0 controls except \t\n\r.
    * Clean runs append in bulk (most strings contain no control chars,
    * so the common case is one scan + one array copy instead of a
    * per-char append with a per-char budget check); the write-limit
    * semantics are unchanged — the buffer fills to exactly the budget
    * and the first overflowing character trips the limit. A run's scan
    * stops one char past the remaining budget, so a huge string (a
    * bomb-shaped member) costs the budget, not its length.
    */
  def chars(s: String): Unit = {
    if (limitReached) return
    if (System.nanoTime() > deadlineNanos) throw new DocTimeout
    var i = 0
    val n = s.length
    while (i < n) {
      val room = writeLimit - offset - buf.length
      // scan at most room + 1 chars; i + budget + 1 <= n cannot overflow
      val budget = math.max(room, 0)
      val end = if (n - i <= budget) n else i + budget + 1
      var j = i
      while (j < end && {
        val c = s.charAt(j); c >= ' ' || c == '\t' || c == '\n' || c == '\r'
      }) j += 1
      if (j > i) {
        if (j - i <= room) buf.underlying.append(s, i, j)
        else {
          if (room > 0) buf.underlying.append(s, i, i + room)
          limitReached = true
          throw new WriteLimitReached
        }
      }
      i = j + 1 // skip the filtered char (or step past the end)
    }
    checkBomb()
  }

  /** End of a block element: newline + terminate the current text span. */
  def newline(): Unit = {
    if (limitReached) return
    chars("\n")
    flushText()
  }

  def tab(): Unit = chars("\t")

  /** Flush pending characters into a text span. */
  def flushText(): Unit = {
    if (buf.nonEmpty) {
      out += Span(Span.KindText, buf.toString, null, spanStart)
      offset += buf.length
      buf.setLength(0)
      spanStart = offset
    }
  }

  def media(ref: String): Unit = {
    flushText()
    out += Span(Span.KindMedia, "", ref, offset)
  }

  def embeddedOpen(idPath: String): Unit = {
    flushText()
    out += Span(Span.KindEmbeddedOpen, "", idPath, offset)
  }

  def embeddedClose(idPath: String): Unit = {
    flushText()
    out += Span(Span.KindEmbeddedClose, "", idPath, offset)
  }

  def result(): Vector[Span] = { flushText(); out.toVector }
  def charCount: Long = offset.toLong + buf.length
}

/** Multi-valued metadata accumulator (reference: tika-core
  * metadata/Metadata.java:99 — Map<String, String[]> with add vs set
  * :310,341).
  */
final class MetaSink private (
    private val m: scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[String]],
    prefix: String) {
  def this() = this(
    scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[String]](), "")

  /** View over the same map that namespaces document-level keys under
    * an embedded path — the RecursiveParserWrapper per-document
    * metadata-list analog: a child .doc's `dc:title` lands as
    * `embedded:/1:dc:title` instead of clobbering the root's. Keys the
    * caller already namespaces per-child (`embedded:`, `media:`,
    * `warc:`, `parse:`) pass through untouched.
    */
  def scoped(path: String): MetaSink = new MetaSink(m, s"embedded:$path:")

  private def k(key: String): String =
    if (prefix.isEmpty || key.startsWith("embedded:") ||
        key.startsWith("media:") || key.startsWith("warc:") ||
        key.startsWith("arc:") ||
        key.startsWith("parse:") || key.startsWith("tk:")) key
    else prefix + key

  def add(key: String, value: String): Unit =
    if (value != null && value.nonEmpty)
      m.getOrElseUpdate(k(key), new ArrayBuffer) += value
  def set(key: String, value: String): Unit = {
    if (value != null && value.nonEmpty) {
      val b = m.getOrElseUpdate(k(key), new ArrayBuffer); b.clear(); b += value
    }
  }
  def get(key: String): Option[String] = m.get(k(key)).flatMap(_.headOption)
  def contains(key: String): Boolean = m.contains(k(key))
  def remove(key: String): Option[String] = m.remove(k(key)).flatMap(_.headOption)
  def result(): Map[String, Seq[String]] = m.map { case (k, v) => k -> v.toSeq }.toMap
}
