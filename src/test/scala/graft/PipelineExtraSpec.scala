package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.engine.Pipeline
import graft.ops.{ExtractCompare, Projections, TopK}

class ProjectionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("text/media/url/standards projections from spans") {
    val out = Pipeline.extract(Corpus.docRows(spark, 100, 4)).toDF().cache()
    val proj = Projections.projectAll(out)
    val rows = proj.collect()
    assert(rows.length == 100)
    val htmlRow = proj.filter(col("mime") === "text/html").head
    assert(htmlRow.getAs[String]("text").nonEmpty)
    out.unpersist()
  }

  test("serializers: toXml escapes, toMarkdown embeds media") {
    import graft.core.Span
    val spans = Seq(Span("text", "a<b", null, 0), Span("media", "", "blob://x", 3),
      Span("embedded-open", "", "/1", 3), Span("text", "in", null, 3),
      Span("embedded-close", "", "/1", 5))
    val xml = Projections.toXml(spans)
    assert(xml.contains("a&lt;b"))
    assert(xml.contains("<media ref=\"blob://x\"/>"))
    assert(xml.contains("<embedded path=\"/1\">in</embedded>") ||
      xml.contains("<embedded path=\"/1\"><text offset=\"3\">in</text></embedded>"))
    val md = Projections.toMarkdown(spans)
    assert(md.contains("![](blob://x)"))
  }

  test("extract-compare: pipeline vs itself has span equality 1.0") {
    val a = Pipeline.extract(Corpus.docRows(spark, 150, 4)).toDF()
    val b = Pipeline.extract(Corpus.docRows(spark, 150, 4)).toDF()
    val prof = ExtractCompare.profile(ExtractCompare.compare(a, b)).head
    assert(prof.getAs[Long]("n_docs") == 150)
    assert(prof.getAs[Double]("span_equality_rate") == 1.0)
    assert(prof.getAs[Long]("total_char_delta") == 0L)
  }

  test("extract-compare flags differences") {
    val a = Pipeline.extract(Corpus.docRows(spark, 50, 4)).toDF()
    val b = Pipeline.extract(Corpus.docRows(spark, 60, 4)).toDF()
    val cmp = ExtractCompare.compare(a, b)
    assert(cmp.filter(!col("in_both")).count() == 10)
  }

  test("top-k tokens: bounded heap matches full sort") {
    val docs = spark.read.parquet(s"${TestSpark.SfDir}/documents.parquet")
    val viaHeap = TopK.topTokens(docs, 10)
    val viaSort = graft.ops.TextOps.tokenCounts(docs, 1)
      .orderBy(col("cnt").desc, col("token").asc).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaHeap == viaSort)
  }
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import graft.streaming.StreamingPipeline

  test("streaming extraction: incremental processing with checkpoint resume") {
    val base = java.nio.file.Files.createTempDirectory("graftstream").toString
    val in = s"$base/in"; val outDir = s"$base/out"; val cp = s"$base/cp"
    Corpus.docRows(spark, 100, 2).write.mode("append").parquet(in)
    val q1 = StreamingPipeline.run(spark, in, outDir, cp)
    q1.awaitTermination(120000)
    assert(spark.read.parquet(outDir).count() == 100)
    // new files arrive; same checkpoint → only the delta is processed
    Corpus.docRows(spark, 50, 2).withColumn("doc_id",
      concat(lit("new-"), col("doc_id"))).write.mode("append").parquet(in)
    val q2 = StreamingPipeline.run(spark, in, outDir, cp)
    q2.awaitTermination(120000)
    val out = spark.read.parquet(outDir)
    assert(out.count() == 150)
    assert(out.filter(col("doc_id").startsWith("new-")).count() == 50)
  }
}

class UnpackSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.engine.Unpack
  import graft.core.{DocRow, Span}
  import graft.corpus.Corpus

  test("unpack emits every container entry with bytes + digest") {
    val inner = Corpus.zip(Seq("a.txt" -> "deep".getBytes("UTF-8")))
    val outer = Corpus.zip(Seq(
      "one.html" -> "<html><body><p>x</p></body></html>".getBytes("UTF-8"),
      "inner.zip" -> inner))
    val blobs = Unpack.unpackDoc(
      DocRow("u1", Seq(Span("zip", Corpus.b64(outer), null, 0))))
    val byPath = blobs.map(b => b.id_path -> b.name).toMap
    assert(byPath("/1") == "one.html")
    assert(byPath("/2") == "inner.zip")
    assert(byPath("/2/3") == "a.txt")
    val leaf = blobs.find(_.id_path == "/2/3").get
    assert(new String(leaf.bytes, "UTF-8") == "deep")
    assert(leaf.sha256.length == 64)
    assert(leaf.mime == "text/plain")
  }

  test("unpack over the Dataset face") {
    val spark = TestSpark.spark
    val df = Unpack.unpack(Corpus.docRows(spark, 200, 4))
    assert(df.count() > 0)
    assert(df.filter(org.apache.spark.sql.functions.col("sha256").isNull).count() == 0)
  }

  test("eml attachments unpack") {
    val blobs = Unpack.unpackDoc(DocRow("u2",
      Seq(Span("bytes", Corpus.b64(Corpus.emlDoc(Corpus.rng(4))), null, 0))))
    assert(blobs.exists(_.name == "notes.txt"))
  }

  test("extraction meta carries the pre-parse sha256 digest") {
    val out = graft.engine.Extractor.extract(Corpus.row(1))
    assert(out.meta.get("tk:digest:sha256").exists(_.head.length == 64))
  }
}

class ProjectionExtractorsSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.ops.{Multimodal, Projections}
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("url/phone/standards regex extractors") {
    val df = Seq(
      ("See https://example.com/a?b=1 and http://x.org.", "+1 555-123-4567", "per ISO 9001 and RFC 2616")
    ).toDF("u", "p", "s")
    val r = df.select(
      Projections.extractUrls(col("u")).as("urls"),
      Projections.extractPhones(col("p")).as("phones"),
      Projections.extractStandards(col("s")).as("stds")).head
    assert(r.getSeq[String](0) == Seq("https://example.com/a?b=1", "http://x.org"))
    assert(r.getSeq[String](1).nonEmpty)
    assert(r.getSeq[String](2) == Seq("ISO 9001", "RFC 2616"))
  }

  test("video frame sampling plan") {
    val feats = Seq(("blob://v", "video", 640, 360, 95, Array(0f))).toDF(
      "media_ref", "media_type", "width", "height", "n_frames", "feature")
    val s = Multimodal.sampleFrames(feats, stride = 30, maxFrames = 8).head
    assert(s.getSeq[Long](s.fieldIndex("sampled_frames")) == Seq(0L, 30L, 60L, 90L))
  }
}
