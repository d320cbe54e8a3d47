package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.core.{DocRow, ExtractedDoc, Hex, Span}
import graft.engine.Extractor
import graft.mime.{MediaTypes, MimeRegistry}

/** One recorded span: a layer call for one document. The trace id is the
  * doc_id; the parent of every layer span is the document's `doc` span.
  */
final case class SpanRec(trace: String, name: String, parent: String,
    startNs: Long, endNs: Long, bytes: Long) {
  def ns: Long = endNs - startNs
}

/** Per-document timings of one traced extraction, in nanoseconds. */
final case class DocTiming(route: String, decode: Long, digest: Long,
    detect: Long, zipx: Long, ole2: Long, extract: Long) {
  def probes: Long = decode + digest + detect + zipx + ole2
  /** The route's self time: `extract` minus the same doc's decode, digest,
    * detect and specialize, which `extract` repeats internally. This is an
    * approximation: it also charges nested containers' detect calls and
    * the sinks to the route. Negative differences are clamped to zero.
    */
  def self: Long = math.max(0L, extract - probes)
}

/** Traced extraction: the benchmark's own `mapPartitions` body. It calls
  * the engine's public layer functions around `Extractor.extract` and keeps
  * the spans in memory (local mode runs tasks in this JVM) until the run
  * writes them out.
  */
object Trace {
  private val spans = new ConcurrentLinkedQueue[SpanRec]

  def clear(): Unit = spans.clear()
  def recorded: Seq[SpanRec] = spans.asScala.toSeq

  /** Top-level route of an extracted document, by its detected MIME. */
  def routeOf(mime: String): String =
    if (mime == null) "other"
    else if (mime == MediaTypes.Html || mime == "application/xhtml+xml") "html"
    else if (mime == MediaTypes.Pdf) "pdf"
    else if (mime.startsWith("application/vnd.openxmlformats-officedocument.")) "ooxml"
    else if (mime == MediaTypes.Zip) "zipx"
    else "other"

  val Routes: Seq[String] = Seq("html", "pdf", "ooxml", "zipx", "other")

  private def isCfb(b: Array[Byte]): Boolean =
    b.length >= 8 && (b(0) & 0xff) == 0xd0 && (b(1) & 0xff) == 0xcf &&
      (b(2) & 0xff) == 0x11 && (b(3) & 0xff) == 0xe0

  def extract(row: DocRow): ExtractedDoc = {
    val id = row.doc_id
    val hint = Option(id)
    def span(name: String, t0: Long, t1: Long, bytes: Long = 0L): Unit =
      spans.add(SpanRec(id, name, "doc", t0, t1, bytes))
    val tDoc = System.nanoTime()
    val payloads = row.spans.filter(_.kind != Span.KindMedia).map(Extractor.payloadBytes)
    val tDecode = System.nanoTime()
    span("engine.decode", tDoc, tDecode, payloads.map(_.length.toLong).sum)
    payloads.foreach { b =>
      if (b.nonEmpty)
        Hex.encode(java.security.MessageDigest.getInstance("SHA-256").digest(b))
    }
    val tDigest = System.nanoTime()
    span("engine.digest", tDecode, tDigest)
    val mimes = payloads.map(b => if (b.isEmpty) null else MimeRegistry.detect(b, hint))
    val tDetect = System.nanoTime()
    span("mime.detect", tDigest, tDetect, mimes.count(_ != null))
    payloads.zip(mimes).foreach { case (b, m) =>
      if (m == MediaTypes.Zip || m == MediaTypes.TikaOoxml) {
        val t0 = System.nanoTime()
        try graft.zipx.OpcDetector.specialize(b, hint) catch { case _: Exception => m }
        span("zipx.specialize", t0, System.nanoTime())
      } else if (m == MediaTypes.TikaMsOffice || isCfb(b)) {
        val t0 = System.nanoTime()
        try graft.ole2.Ole2Detector.specialize(b) catch { case _: Exception => m }
        span("ole2.specialize", t0, System.nanoTime())
      }
    }
    val t0 = System.nanoTime()
    val d = Extractor.extract(row)
    val t1 = System.nanoTime()
    span("extract." + routeOf(d.mime), t0, t1, d.n_chars)
    spans.add(SpanRec(id, "doc", null, tDoc, t1, d.n_spans.toLong))
    d
  }

  /** Folds the recorded spans into one [[DocTiming]] per document. */
  def timings(recs: Seq[SpanRec]): Seq[DocTiming] =
    recs.groupBy(_.trace).values.toSeq.flatMap { rs =>
      rs.find(_.name.startsWith("extract.")).map { ex =>
        def total(n: String) = rs.iterator.filter(_.name == n).map(_.ns).sum
        DocTiming(ex.name.stripPrefix("extract."), total("engine.decode"),
          total("engine.digest"), total("mime.detect"), total("zipx.specialize"),
          total("ole2.specialize"), ex.ns)
      }
    }

  /** Writes spans as TSV: trace, name, parent, start_ns, end_ns, bytes. */
  def writeTsv(path: String, recs: Seq[SpanRec]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("trace\tname\tparent\tstart_ns\tend_ns\tcount")
      recs.foreach(r => w.println(
        s"${r.trace}\t${r.name}\t${Option(r.parent).getOrElse("")}\t${r.startNs}\t${r.endNs}\t${r.bytes}"))
    } finally w.close()
  }
}
