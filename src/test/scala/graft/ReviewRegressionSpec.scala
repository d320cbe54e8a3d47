package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1
import graft.core.{DocRow, Span, Status}
import graft.engine.Extractor
import graft.corpus.Corpus

/** Regressions for the round-1 code-review findings. */
class ReviewRegressionSpec extends AnyFunSuite {

  test("deep '[' nesting in a PDF fails the document, not the task") {
    val bomb = ("%PDF-1.7\n1 0 obj " + ("[" * 100000)).getBytes(ISO_8859_1)
    val out = Extractor.extract(DocRow("p",
      Seq(Span("bytes", Corpus.b64(bomb), null, 0))))
    assert(out.mime == "application/pdf")
    assert(out.status == Status.ParseException ||
      out.status == Status.ParseSuccessWithException)
  }

  test("rmeta JSON is valid for media-only rows (empty meta)") {
    val mediaIdx = (0L until 1000L).find(i => Corpus.kindOf(i) == "media").get
    val doc = Extractor.extract(Corpus.row(mediaIdx))
    val json = graft.ops.Projections.toRmetaJson(doc)
    assert(!json.contains(",}"), json)
    assert(!json.contains(",]"), json)
  }

  test("text after explicit </body> is kept (jsoup hoisting semantics)") {
    val out = Extractor.extract(DocRow("h",
      Seq(Span("html", "<html><body><p>a</p></body>trailing</html>", null, 0))))
    val t = out.spans.filter(_.kind == "text").map(_.text).mkString
    assert(t.contains("trailing"))
  }

  test("tsv whose cells contain a consistent comma splits on tabs") {
    val tsv = "Doe, John\t42\nRoe, Jane\t43"
    assert(graft.textparse.CsvExtractor.sniff(tsv).contains('\t'))
  }

  test("gzip recursion respects the embedded-resource budget") {
    val gz = Corpus.gzipBytes("inner text".getBytes("UTF-8"))
    val manyGz = Corpus.zip((1 to 30).map(i => s"f$i.gz" -> gz))
    val cfg = Extractor.DefaultConfig.copy(maxEmbedded = 10)
    val out = Extractor.extract(DocRow("g",
      Seq(Span("zip", Corpus.b64(manyGz), null, 0))), cfg)
    // zip entries consume the budget; gzip members past it must not parse
    val opens = out.spans.count(_.kind == "embedded-open")
    assert(opens <= 10, s"opens=$opens")
  }

  test("unpack digest covers full content and flags truncation") {
    import graft.engine.Unpack
    val big = ("x" * 1000).getBytes("UTF-8")
    val zip = Corpus.zip(Seq("big.bin" -> big))
    val cfg = Unpack.Config(maxBlobBytes = 100)
    val blobs = Unpack.unpackDoc(DocRow("u",
      Seq(Span("zip", Corpus.b64(zip), null, 0))), cfg)
    val b = blobs.head
    assert(b.truncated)
    assert(b.n_bytes == 1000)
    assert(b.bytes.length == 100)
    val fullSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(big).map(x => f"${x & 0xff}%02x").mkString
    assert(b.sha256 == fullSha)
  }

  test("pipeline reruns produce per-run lineage rows (no cross-run merge)") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graftrun2").toString
    val a = Corpus.docRows(spark, 100, 4)
    graft.engine.Pipeline.run(spark, a, s"$dir/out", s"$dir/metrics")
    // second run with the delta only (as resume would)
    val b = Corpus.docRows(spark, 150, 4)
    val delta = graft.engine.Pipeline.resumeFilter(b, s"$dir/out")
    graft.engine.Pipeline.run(spark, delta, s"$dir/out", s"$dir/metrics")
    val m = spark.read.parquet(s"$dir/metrics")
    import org.apache.spark.sql.functions._
    assert(m.select("run_id").distinct().count() == 2)
    val perRun = m.groupBy("run_id").agg(sum("n_docs").as("n")).collect()
      .map(_.getAs[Long]("n")).sorted
    assert(perRun.toSeq == Seq(50L, 100L))
  }
}
