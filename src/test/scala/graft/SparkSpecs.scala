package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val SfDir = "/root/testdata/sf0.001"
}

class PipelineSpec extends AnyFunSuite {
  import graft.corpus.Corpus
  import graft.engine.Pipeline

  lazy val spark: SparkSession = TestSpark.spark

  test("extract 300 docs end-to-end: all rows produce status + mime") {
    val out = Pipeline.extract(Corpus.docRows(spark, 300, 4)).toDF().cache()
    assert(out.count() == 300)
    assert(out.filter(col("mime").isNull || col("status").isNull).count() == 0)
    val mimes = out.groupBy("mime").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mimes.contains("text/html"))
    assert(mimes.contains("application/pdf"))
    assert(mimes.contains(
      "application/vnd.openxmlformats-officedocument.wordprocessingml.document"))
    out.unpersist()
  }

  test("pipeline run writes output + lineage metrics; resume skips done rows") {
    val dir = java.nio.file.Files.createTempDirectory("graftpipe").toString
    val input = Corpus.docRows(spark, 200, 4)
    Pipeline.run(spark, input, s"$dir/out", s"$dir/metrics")
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 200)
    val metrics = spark.read.parquet(s"$dir/metrics")
    assert(metrics.count() == 4) // one lineage row per partition
    assert(metrics.agg(sum("n_docs")).head.getLong(0) == 200)
    assert(metrics.select("parser_version").distinct().head.getString(0)
      == graft.core.Model.ParserVersion)
    // resume: nothing left to do
    val remaining = Pipeline.resumeFilter(input, s"$dir/out")
    assert(remaining.count() == 0)
    // resume with a larger input: only the delta remains
    val bigger = Corpus.docRows(spark, 250, 4)
    assert(Pipeline.resumeFilter(bigger, s"$dir/out").count() == 50)
  }

  test("lineage rows equal a re-aggregation of the committed output") {
    val dir = java.nio.file.Files.createTempDirectory("graftlineage").toString
    // ids descend within each input split, so no extracting task sees
    // its partition's ids in order
    import spark.implicits._
    val input = Corpus.docRows(spark, 300, 3).mapPartitions(_.toVector.reverseIterator)
    Pipeline.run(spark, input, s"$dir/out", s"$dir/metrics")
    val metrics = spark.read.parquet(s"$dir/metrics")
    val runId = metrics.select("run_id").distinct().collect()
      .map(_.getString(0)).toSeq match {
      case Seq(id) => id
      case ids => fail(s"expected one run_id, got $ids")
    }
    // the oracle: the grouping the job used to run over its own output
    val committed = spark.read.parquet(s"$dir/out/run_id=$runId")
    val oracle = committed.groupBy(col("partition_id")).agg(
      min(col("doc_id")).as("doc_id_min"), max(col("doc_id")).as("doc_id_max"),
      count(lit(1)).as("n_docs"), sum(col("n_spans")).as("n_spans"),
      sum(col("n_chars")).as("n_chars"),
      sum(when(col("status").startsWith("parse_success"), 1L).otherwise(0L))
        .as("n_success"),
      sum(when(col("status").startsWith("parse_success"), 0L).otherwise(1L))
        .as("n_failed"))
    val cols = Seq("partition_id", "doc_id_min", "doc_id_max", "n_docs",
      "n_spans", "n_chars", "n_success", "n_failed")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(rows(metrics) == rows(oracle))
    assert(metrics.filter(col("run_id") =!= runId ||
      col("parser_version") =!= graft.core.Model.ParserVersion ||
      col("wall_ms") < 0).count() == 0)
    val nLineage = metrics.count()
    assert(nLineage <= spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(committed.count() == 300)
    // a rerun whose resume delta is empty adds no lineage row and no output
    val delta = Pipeline.resumeFilter(input, s"$dir/out")
    Pipeline.run(spark, delta, s"$dir/out", s"$dir/metrics")
    assert(spark.read.parquet(s"$dir/metrics").count() == nLineage)
    assert(spark.read.parquet(s"$dir/out").count() == 300)
    // ... and leaves no run directory and no lineage file behind
    assert(visible(s"$dir/out") == Seq(s"run_id=$runId"))
    assert(visible(s"$dir/metrics") == Seq(s"part-$runId.parquet"))
  }

  /** Entry names a Spark reader would see in `dir`, sorted. */
  private def visible(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted

  /** Spark jobs that `body` submits from this thread (job group `tag`),
    * counted by a listener; `body`'s failure is returned, not thrown.
    */
  private def jobsOf(tag: String)(body: => Unit): (Int, Option[Throwable]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, tag)
      val failure = scala.util.Try(body).failed.toOption
      // listener events arrive in order: once this marker job is seen,
      // every job `body` submitted has been counted
      sc.setJobGroup(s"$tag-marker", tag)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(s"$tag-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(s"$tag-marker"), "listener never saw the marker job")
      (groups.toArray.count(_ == tag), failure)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a fresh resumable CLI pass submits at most two Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graftjobs").toString
    Corpus.docRows(spark, 200, 4).write.parquet(s"$dir/in")
    val (jobs, failure) = jobsOf(s"cli-pass-$dir") {
      Main.run(Array(s"$dir/in", s"$dir/out", "spans", s"$dir/metrics"), spark)
    }
    assert(failure.isEmpty, failure)
    // the doc_id shuffle's map stage and the data write; no
    // schema-inference job, no lineage write job
    assert(jobs <= 2, s"$jobs jobs")
    assert(spark.read.parquet(s"$dir/out").count() == 200)
    assert(visible(s"$dir/out").size == 1)
    // _SUCCESS is the run directory's own
    val run = visible(s"$dir/out").head
    assert(new java.io.File(s"$dir/out/$run/_SUCCESS").isFile)
    assert(!new java.io.File(s"$dir/out/_SUCCESS").exists)
  }

  test("driver-written lineage reads as one table with Spark-written lineage") {
    import spark.implicits._
    import graft.core.PartitionMetrics
    val dir = java.nio.file.Files.createTempDirectory("graftlinfile").toString
    Pipeline.run(spark, Corpus.docRows(spark, 100, 4), s"$dir/out", s"$dir/metrics")
    val Seq(file) = visible(s"$dir/metrics")
    assert(file.startsWith("part-") && file.endsWith(".parquet"))
    val driver = spark.read.parquet(s"$dir/metrics").as[PartitionMetrics].collect().toSeq
    assert(driver.map(_.n_docs).sum == 100)
    // the schema an old run's `Dataset[PartitionMetrics]` write gave
    val old = PartitionMetrics(9, "a", null, 1, 2, 3, 1, 0, "old-run", "v0", 5)
    Seq(old).toDS().coalesce(1).write.parquet(s"$dir/spark")
    def shape(path: String) = spark.read.parquet(path).schema.map(f => f.name -> f.dataType)
    assert(shape(s"$dir/metrics") == shape(s"$dir/spark"))
    // an old metricsDir keeps working: one file of each kind, one table
    val Seq(sparkFile) = visible(s"$dir/spark")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/spark/$sparkFile"),
      java.nio.file.Paths.get(s"$dir/metrics/$sparkFile"))
    assert(shape(s"$dir/metrics") == shape(s"$dir/spark"))
    val both = spark.read.parquet(s"$dir/metrics").as[PartitionMetrics].collect().toSeq
    assert(both.sortBy(_.partition_id) == (driver :+ old).sortBy(_.partition_id))
  }

  test("an input without DocRow columns fails before any job runs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftbadin").toString
    Seq("d1").toDF("doc_id").write.parquet(s"$dir/nospans")
    Seq(("d1", "x")).toDF("doc_id", "spans").write.parquet(s"$dir/stringspans")
    Seq(("d1", Seq(("text", "x")))).toDF("doc_id", "spans").write.parquet(s"$dir/tuplespans")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/empty"))
    for (in <- Seq("nospans", "stringspans", "tuplespans", "empty")) {
      val (jobs, failure) = jobsOf(s"bad-input-$dir-$in") {
        Main.run(Array(s"$dir/$in", s"$dir/out-$in", "spans", s"$dir/m-$in"), spark)
      }
      assert(failure.isDefined, in)
      assert(jobs == 0, in)
      assert(!new java.io.File(s"$dir/out-$in").exists, in)
      assert(!new java.io.File(s"$dir/m-$in").exists, in)
    }
  }

  test("an empty-delta rerun reads its outDir without a schema-inference job") {
    val dir = java.nio.file.Files.createTempDirectory("graftrerun").toString
    Corpus.docRows(spark, 200, 4).write.parquet(s"$dir/in")
    val cli = Array(s"$dir/in", s"$dir/out", "spans", s"$dir/metrics")
    Main.run(cli, spark)
    def rows = spark.read.parquet(s"$dir/out").collect().map(_.toString).sorted.toSeq
    val before = rows
    val (jobs, failure) = jobsOf(s"rerun-$dir") { Main.run(cli, spark) }
    assert(failure.isEmpty, failure)
    // reading outDir back with schema inference made this rerun 5 jobs;
    // read with the doc_id schema it is at least one fewer (3 measured)
    assert(jobs <= 4, s"$jobs jobs")
    assert(rows == before)
    assert(visible(s"$dir/out").size == 1)
    assert(visible(s"$dir/metrics").size == 1)
  }

  test("a committed file without a string doc_id fails the rerun before any job runs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftbadout").toString
    Corpus.docRows(spark, 20, 2).write.parquet(s"$dir/in")
    Seq(1L).toDF("doc_id").write.parquet(s"$dir/long/run_id=old")
    Seq("d1").toDF("id").write.parquet(s"$dir/noid/run_id=old")
    for (out <- Seq("long", "noid")) {
      val (jobs, failure) = jobsOf(s"bad-out-$dir-$out") {
        Main.run(Array(s"$dir/in", s"$dir/$out", "spans", s"$dir/m-$out"), spark)
      }
      assert(failure.isDefined, out)
      assert(jobs == 0, out)
      assert(visible(s"$dir/$out") == Seq("run_id=old"), out)
      assert(!new java.io.File(s"$dir/m-$out").exists, out)
    }
  }

  test("resume surfaces an unreadable outDir instead of re-extracting") {
    val dir = java.nio.file.Files.createTempDirectory("graftgarbage").toString
    val part = java.nio.file.Paths.get(dir, "out", "run_id=x", "part-0.parquet")
    java.nio.file.Files.createDirectories(part.getParent)
    java.nio.file.Files.write(part, "not parquet".getBytes("UTF-8"))
    val input = Corpus.docRows(spark, 20, 2)
    intercept[Exception] { Pipeline.resumeFilter(input, s"$dir/out") }
    // only a missing outDir, or one whose runs wrote no rows, reads as
    // "nothing committed"
    assert(Pipeline.resumeFilter(input, s"$dir/absent").count() == 20)
    Pipeline.run(spark, input.limit(0), s"$dir/empty", s"$dir/emptym")
    assert(Pipeline.resumeFilter(input, s"$dir/empty").count() == 20)
  }

  test("a failed run's leftover run directory reads as nothing committed") {
    val dir = java.nio.file.Files.createTempDirectory("graftaborted").toString
    Corpus.docRows(spark, 40, 2).write.parquet(s"$dir/in")
    // what an aborted write leaves (an empty run directory) and what a
    // killed driver leaves (task output still under the committer's
    // _temporary)
    val out = java.nio.file.Paths.get(dir, "out")
    java.nio.file.Files.createDirectories(out.resolve("run_id=aborted"))
    val staged = out.resolve("run_id=killed/_temporary/0/task/part-0.parquet")
    java.nio.file.Files.createDirectories(staged.getParent)
    java.nio.file.Files.write(staged, "not parquet".getBytes("UTF-8"))
    val cli = Array(s"$dir/in", s"$dir/out", "spans", s"$dir/metrics")
    Main.run(cli, spark)
    assert(spark.read.parquet(s"$dir/out").count() == 40)
    // a later rerun resumes past the completed run, leftovers and all
    Main.run(cli, spark)
    assert(spark.read.parquet(s"$dir/out").count() == 40)
    assert(visible(s"$dir/out").size == 3)
    assert(visible(s"$dir/metrics").size == 1)
  }

  test("entry smoke: rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("extraction is deterministic across runs and parallelism levels") {
    val a = Pipeline.extract(Corpus.docRows(spark, 100, 2)).toDF()
      .select("doc_id", "n_spans", "n_chars").collect().sortBy(_.getString(0))
    val b = Pipeline.extract(Corpus.docRows(spark, 100, 7)).toDF()
      .select("doc_id", "n_spans", "n_chars").collect().sortBy(_.getString(0))
    assert(a.map(_.toString) sameElements b.map(_.toString))
  }
}

class OpsSpec extends AnyFunSuite {
  import graft.ops.{Dedup, SimSearch, TextOps}

  lazy val spark: SparkSession = TestSpark.spark
  import org.apache.spark.sql.Row

  private def docsDf(rows: Seq[(Long, String)]) = {
    spark.createDataFrame(rows).toDF("doc_id", "text")
  }

  test("exact dedup finds planted duplicates") {
    val df = docsDf(Seq(
      (1L, "the same exact text"), (2L, "the same exact text"),
      (3L, "something different"), (4L, "the same exact text")))
    val dups = Dedup.exact(df).collect()
    assert(dups.length == 1)
    val r = dups.head
    assert(r.getAs[Long]("n_dups") == 3)
    assert(r.getAs[Long]("keep_id") == 1L)
  }

  test("ngram jaccard finds near-duplicates, skips dissimilar") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val far = "one two three four five six seven eight nine ten"
    val pairs = Dedup.ngramJaccard(
      docsDf(Seq((1L, base), (2L, near), (3L, far))), n = 3, threshold = 0.5)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("doc_a") == 1L)
    assert(pairs.head.getAs[Long]("doc_b") == 2L)
  }

  test("minhash LSH surfaces the same near-dup pair") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.replace("upsilon", "phi")
    val far = (1 to 20).map(i => s"word$i").mkString(" ")
    val out = Dedup.minhashLsh(
      docsDf(Seq((1L, base), (2L, near), (3L, far))), threshold = 0.5).collect()
    assert(out.exists(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L))
    assert(!out.exists(r => r.getAs[Long]("doc_b") == 3L))
  }

  test("simhash is repetition-invariant; near-dups within hamming ball") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base + " " + base // doubled token weights → same sign votes
    val far = (1 to 30).map(i => s"zzz$i qqq$i").mkString(" ")
    val out = Dedup.simhashNearDups(
      docsDf(Seq((1L, base), (2L, near), (3L, far))), maxHamming = 3).collect()
    assert(out.exists(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L))
    assert(!out.exists(r => r.getAs[Long]("doc_b") == 3L))
  }

  test("brute-force ANN matches manual cosine on embeddings table") {
    val e = spark.read.parquet(s"${TestSpark.SfDir}/embeddings.parquet")
    val out = SimSearch.bruteForceTopK(e, e.filter(col("vec_id") < 3), k = 3)
      .collect()
    assert(out.length == 9)
    // manual check for query 0
    val rows = e.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Float](r.fieldIndex("embedding")).toArray)
    val q = rows.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val expTop = rows.filter(_._1 != 0L).map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1)
    val gotTop = out.filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id"))
    assert(gotTop.toSeq == expTop.toSeq)
  }

  test("LSH ANN returns plausible neighbors (recall sanity)") {
    val e = spark.read.parquet(s"${TestSpark.SfDir}/embeddings.parquet")
    val brute = SimSearch.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = SimSearch.lshTopK(e, e.filter(col("vec_id") < 10), dim = 64, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // overlap is recall; LSH trades recall for scale — just needs signal
    assert(lsh.nonEmpty)
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall > 0.1, s"recall=$recall")
  }

  test("langid + quality + fingerprint run on documents table") {
    val d = spark.read.parquet(s"${TestSpark.SfDir}/documents.parquet")
    val lid = TextOps.langId(d)
    assert(lid.count() == d.count())
    // the corpus text is English-VOCAB gibberish (word salad), so
    // trigram LID legitimately spreads over Latin-script languages;
    // the invariant is that every prediction is a known code and no
    // non-Latin script is ever predicted for ASCII text
    val langs = graft.ops.LangProfiles.Langs.toSet
    val preds = lid.select("lang_pred").distinct()
      .collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(langs), preds)
    assert(!preds.exists(graft.ops.LangProfiles.ScriptDirect), preds)
    val q = TextOps.qualityScore(d)
    assert(q.filter(col("mean_token_len") <= 0).count() == 0)
    val fp = TextOps.fingerprint(d)
    assert(fp.select("profile_sig").distinct().count() > 1)
  }

  test("multimodal stub plumbing") {
    import graft.ops.Multimodal
    val refs = spark.createDataFrame(Seq(Tuple1("blob://a"), Tuple1("blob://b")))
      .toDF("media_ref")
    val feats = Multimodal.extractFeatures(refs).collect()
    assert(feats.length == 2)
    assert(feats.forall(_.getAs[Seq[Float]]("feature").length == 8))
  }
}
