package perfbench

import graft.core.{ExtractedDoc, Span, Status}

/** Checks of the benchmark's own logic on known data; exits non-zero on
  * the first failure. Run with `python3 perfbench/run.py selftest`.
  */
object SelfTest {

  private def check(what: String, ok: Boolean): Unit =
    if (!ok) throw new AssertionError(s"selftest failed: $what")

  def run(): Int = {
    // order statistics
    check("median odd", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val hundred = (1 to 100).map(_.toDouble)
    check("p99 nearest rank", Stats.percentile(hundred, 99) == 99.0)
    check("p100 is max", Stats.percentile(hundred, 100) == 100.0)
    check("p50 nearest rank", Stats.percentile(Seq(5.0, 1.0, 9.0, 7.0), 50) == 5.0)

    // the digest catches one changed span and one dropped row
    val w = Workload.byName("mixed")
    val block = 3
    val docs = (0 until Workload.BlockSize).map { o =>
      val i = block.toLong * Workload.BlockSize + o
      ExtractedDoc(graft.corpus.Corpus.docId(i),
        Gate.KindMime.getOrElse(graft.corpus.Corpus.kindOf(i), "text/plain"),
        Status.ParseSuccess, Seq(Span.text(s"doc $i", 0)),
        Map("k" -> Seq("a", "b")), 1, 5L)
    }
    val frozen = Gate.Scan.of(docs.iterator).sums
    def judge(ds: Seq[ExtractedDoc]) =
      Gate.judge(Gate.Scan.of(ds.iterator), w, Seq(block), frozen, None)
    check("identical output passes", judge(docs).ok)
    check("reordered output and meta pass", judge(docs.reverse.map(d =>
      d.copy(meta = d.meta.toSeq.reverse.toMap))).ok)
    val changed = docs.updated(17, docs(17).copy(spans = Seq(Span.text("doc x", 0))))
    check("one changed span fails", !judge(changed).ok)
    val dropped = docs.patch(500, Nil, 1)
    check("one dropped row fails", !judge(dropped).ok)
    check("dropped row counts as failed", judge(dropped).failedDocs == 1)
    val duplicated = docs.updated(500, docs(501))
    check("a duplicate doc_id fails", !judge(duplicated).ok)
    val split = Gate.Scan.of(docs.take(400).iterator).merge(Gate.Scan.of(docs.drop(399).iterator))
    check("a duplicate across partitions is found", split.duplicates == 1)
    val bad = docs.updated(0, docs(0).copy(status = Status.ParseException))
    check("parse_exception counts as failed", Gate.judge(
      Gate.Scan.of(bad.iterator), w, Seq(block), Gate.Scan.of(bad.iterator).sums, None).failedDocs == 1)
    check("lineage mismatch fails",
      !Gate.judge(Gate.Scan.of(docs.iterator), w, Seq(block), frozen, Some(999L)).ok)

    // route self time: extract minus the probes, clamped at zero
    val t = DocTiming("pdf", decode = 10, digest = 20, detect = 30, zipx = 0, ole2 = 5, extract = 1000)
    check("route self time", t.self == 935)
    check("self time clamps", t.copy(extract = 50).self == 0)
    val spans = Seq(
      SpanRec("d1", "engine.decode", "doc", 0, 10, 4),
      SpanRec("d1", "mime.detect", "doc", 10, 40, 1),
      SpanRec("d1", "extract.html", "doc", 40, 240, 7),
      SpanRec("d1", "doc", null, 0, 240, 2))
    check("timings from spans", Trace.timings(spans) == Seq(DocTiming("html", 10, 0, 30, 0, 0, 200)))
    check("route of mime", Trace.routeOf("application/vnd.openxmlformats-officedocument.spreadsheetml.sheet") == "ooxml" &&
      Trace.routeOf("application/zip") == "zipx" && Trace.routeOf("text/csv") == "other")
    println("selftest: ok")
    0
  }
}
