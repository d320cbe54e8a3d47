package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.{DocRow, ExtractedDoc}
import graft.corpus.Corpus
import graft.engine.Pipeline

/** The timed output of one pass, kept on disk until dropped. */
final case class Pass(seconds: Double, out: String, metrics: String) {
  def drop(): Unit = { Pass.delete(out); Pass.delete(metrics) }
}

object Pass {
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
}

/** One benchmark run of one workload on one seed, in this JVM.
  *
  * A pass is one call of the real CLI body, `graft.Main.run(in, out,
  * "spans", metricsDir)`, into fresh output directories, timed from the
  * call to its return; the corpus already sits on disk.
  *
  * The untraced run starts a session at width nproc, from process launch
  * through one warm-up pass over the warm-up corpus, then times `TimedPasses`
  * passes within `seconds`. Two more set-ups follow (a session
  * restart and one small warm-up pass each), so setup_s is the median of
  * three; the last session gates the final pass's output.
  */
final class Runner(root: String, w: Workload, seed: Long, nproc: Int,
    seconds: Double, launchMs: Long) {

  private val work = s"$root/.work/run-${ProcessHandle.current().pid()}"
  private val cache = s"$root/.cache"
  private val blocks = Workload.blocksFor(w, seed)
  private val input = Workload.inputPath(cache, w, nproc, blocks)
  private val warmInput = Workload.inputPath(cache, w, nproc, Workload.warmBlocks(w))
  // a session restart warms up on the first warm-up block only
  private val restartInput = Workload.inputPath(cache, w, nproc, Workload.warmBlocks(w).take(1))
  private val frozen = Gate.readFrozen(Gate.frozenPath(root))
  private val listener = new TaskListener
  private var passNo = 0
  private var firstSetup = true

  import Pass.delete

  private def pass(spark: SparkSession, in: String): Pass = {
    passNo += 1
    val out = s"$work/out-$passNo"
    val md = s"$work/metrics-$passNo"
    val t0 = System.nanoTime()
    graft.Main.run(Array(in, out, "spans", md), spark)
    Pass((System.nanoTime() - t0) / 1e9, out, md)
  }

  /** Starts a session and runs one warm-up pass, over the whole warm-up
    * corpus in the first session and over its first block after that;
    * returns the session with its set-up time.
    */
  private def setUp(width: Int): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Main.session(root, width, nproc)
    spark.sparkContext.addSparkListener(listener)
    pass(spark, if (firstSetup) warmInput else restartInput).drop()
    val s =
      if (firstSetup) (System.currentTimeMillis() - launchMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    firstSetup = false
    (spark, s)
  }

  /** `TimedPasses` passes, fewer if `budget` seconds run out first, but at
    * least `min`. The last pass's output is kept for the gate.
    */
  private def timed(spark: SparkSession, budget: Double, min: Int): (Seq[Double], Pass) = {
    val times = mutable.ArrayBuffer[Double]()
    var last: Pass = null
    val t0 = System.nanoTime()
    HeapSampler.arm()
    while (times.length < min ||
        (times.length < Runner.TimedPasses && (System.nanoTime() - t0) / 1e9 < budget)) {
      if (last != null) last.drop()
      last = pass(spark, input)
      times += last.seconds
    }
    HeapSampler.disarm()
    (times.toSeq, last)
  }

  private def gate(spark: SparkSession, p: Pass): Gate.Result =
    Gate.check(spark, p.out, Some(p.metrics), w, blocks, frozen)

  private def splits(spark: SparkSession): Int =
    spark.read.parquet(input).rdd.getNumPartitions

  private def failedTasks(spark: SparkSession): Long =
    listener.take(spark.sparkContext)._1.count(_.failed).toLong

  private def provenance: Map[String, Any] = Map(
    "nproc" -> nproc,
    "widths" -> Seq(nproc, 1),
    "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jdk" -> System.getProperty("java.vm.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "corpus_version" -> Corpus.Version)

  private def corpusFacts: Map[String, Any] = Map(
    "blocks" -> blocks,
    "docs" -> Workload.indexes(w, blocks).length,
    "input_files" -> inputFiles.length,
    "input_bytes" -> inputFiles.map(_.length).sum)

  private def inputFiles: Seq[File] =
    Workload.parquetFiles(blocks.map(Workload.blockDir(cache, w, nproc, _)))

  private def gateJson(gs: Seq[Gate.Result]): Map[String, Any] = Map(
    "ok" -> gs.forall(_.ok),
    "problems" -> gs.flatMap(_.problems).distinct,
    "outputs_checked" -> gs.length,
    "failed_docs" -> gs.map(_.failedDocs).max,
    "missing_docs" -> gs.map(_.missing).max,
    "statuses" -> gs.last.statuses)

  def untraced(): Map[String, Any] = try {
    HeapSampler.install()
    val (s1, setupCold) = setUp(nproc)
    listener.mark(s1.sparkContext)
    val (times, last) = timed(s1, seconds, min = 3)
    val failed = failedTasks(s1)
    val splitsN = splits(s1)
    s1.stop()
    // two more set-ups, each a session restart plus one warm-up pass, so
    // setup_s is a median of three; the last session gates the output
    val (s2, setup2) = setUp(nproc)
    s2.stop()
    val (s3, setup3) = setUp(nproc)
    val g = gate(s3, last)
    s3.stop()

    corpusFacts ++ Map(
      "workload" -> w.name,
      "seed" -> seed,
      "trace" -> false,
      "provenance" -> provenance,
      "input_splits" -> splitsN,
      "setup_s" -> Seq(setupCold, setup2, setup3),
      "pass_s" -> times,
      "run_s" -> (System.currentTimeMillis() - launchMs) / 1e3,
      "peak_heap_mb" -> HeapSampler.peakMb,
      "failed_tasks" -> failed,
      "gate" -> gateJson(Seq(g)))
  } finally delete(work)

  // ---- traced run ---------------------------------------------------------

  /** Spark-level figures of one CLI pass from the listener. */
  private def sparkFigures(p: Pass, tasks: Seq[TaskRec], jobs: Seq[JobRec],
      gcMs: Long, width: Int): Map[String, Double] = {
    val wallMs = p.seconds * 1e3
    // the stage that did the most work is the extraction stage
    val heavyStage = tasks.groupBy(_.stage).maxBy(_._2.map(_.runMs).sum)._2
    val durs = heavyStage.map(_.durationMs.toDouble)
    // the data write is the job whose tasks wrote the most output bytes;
    // every job after it (read-back, lineage aggregation and its write)
    // is the lineage layer
    val byJob = jobs.map(j => j -> tasks.filter(t => j.stages.contains(t.stage)))
    val writeJob = byJob.maxBy(_._2.map(_.outputBytes).sum)._1
    val lineageMs = jobs.filter(_.id > writeJob.id).map(j => j.endMs - j.startMs).sum
    Map(
      "spark.tasks" -> tasks.length.toDouble,
      "spark.cpu_busy_frac" -> tasks.map(_.cpuNs).sum / 1e6 / (wallMs * width),
      "spark.task_max_over_p50" -> durs.max / math.max(1.0, Stats.median(durs)),
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / 1048576.0,
      "spark.output_mb" -> tasks.map(_.outputBytes).sum / 1048576.0,
      "spark.gc_ms" -> gcMs.toDouble,
      "engine.lineage_s" -> lineageMs / 1e3,
      "spark.failed_tasks" -> tasks.count(_.failed).toDouble)
  }

  private def medianOf(n: Int)(f: => Double): Double = Stats.median((1 to n).map(_ => f))

  private def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Encode and write seconds of a pre-extracted table at `dir`: the
    * `ExtractedDoc` encoder round trip (identity map to noop) and a
    * parquet write, each minus the table's own scan to noop. Medians of 5.
    */
  private def encodeAndWrite(spark: SparkSession, dir: String): (Double, Double) = {
    import spark.implicits._
    val pre = spark.read.parquet(dir).drop("partition_id", "run_id")
    val scan = medianOf(5)(secs(pre.write.format("noop").mode("overwrite").save()))
    val encode = medianOf(5)(secs(pre.as[ExtractedDoc].map(identity)
      .write.format("noop").mode("overwrite").save()))
    val probe = s"$work/write-probe"
    val write = medianOf(5)(secs(pre.write.mode("overwrite").parquet(probe)))
    delete(probe)
    (encode - scan, write - scan)
  }

  def traced(traceDir: String): Map[String, Any] = try {
    HeapSampler.install()
    val (s1, _) = setUp(nproc)
    import s1.implicits._
    val figures = mutable.ArrayBuffer[Map[String, Double]]()
    val passSecs = mutable.ArrayBuffer[Double]()
    var last: Pass = null
    val tA = System.nanoTime()
    while (figures.length < 2 || (System.nanoTime() - tA) / 1e9 < seconds / 4) {
      if (last != null) last.drop()
      listener.mark(s1.sparkContext)
      val gc0 = HeapSampler.gcMillis
      last = pass(s1, input)
      val (tasks, jobs) = listener.take(s1.sparkContext)
      figures += sparkFigures(last, tasks, jobs, HeapSampler.gcMillis - gc0, nproc)
      passSecs += last.seconds
    }
    val gA = gate(s1, last)
    // layer jobs at width nproc: scan of the input; encode and write of the
    // pre-extracted table (the last pass's output), each minus that
    // table's own scan
    val scanS = medianOf(3)(secs(s1.read.parquet(input).as[DocRow]
      .mapPartitions(it => Iterator.single(it.size)).collect()))
    val (encode, write) = encodeAndWrite(s1, last.out)
    val splitsN = splits(s1)
    last.drop()
    s1.stop()

    // width 1: the CLI pass (for scaling), then traced (T) and untraced
    // (P) extract -> parquet passes in the order T P P T, so the JIT
    // warm-up favours neither side
    val (s2, _) = setUp(1)
    val rows = s2.read.parquet(input).as[DocRow]
    val w1 = pass(s2, input)
    w1.drop()
    val tracedOut = s"$work/traced"
    val plainOut = s"$work/plain"
    def plainPass(): Double = {
      val t = secs(Pipeline.extract(rows).toDF().write.parquet(plainOut))
      delete(plainOut)
      t
    }
    def tracedPass(): Double = {
      delete(tracedOut)
      Trace.clear()
      secs(rows.mapPartitions(_.map(Trace.extract)).toDF().write.parquet(tracedOut))
    }
    val tracedS = Seq(tracedPass(), plainPass(), plainPass(), tracedPass())
    val spans = Trace.recorded // the last traced pass's
    // the traced job's own scan, encode and write at width 1
    val scan1 = medianOf(2)(secs(rows.mapPartitions(it => Iterator.single(it.size)).collect()))
    val (encode1, write1) = encodeAndWrite(s2, tracedOut)
    val gT = Gate.check(s2, tracedOut, None, w, blocks, frozen)
    s2.stop()

    new File(traceDir).mkdirs()
    Trace.writeTsv(s"$traceDir/spans-${w.name}-seed$seed.tsv", spans)
    val docs = Workload.indexes(w, blocks).length.toDouble
    val med = (k: String) => Stats.median(figures.map(_(k)).toSeq)
    val docsPerS = docs / Stats.median(passSecs.toSeq)
    val docsPerSW1 = docs / w1.seconds
    val layers = layerFigures(spans, gT.statuses, tracedS(3), scan1 + encode1 + write1)
    corpusFacts ++ Map(
      "workload" -> w.name,
      "seed" -> seed,
      "trace" -> true,
      "provenance" -> provenance,
      "trace_file" -> s"spans-${w.name}-seed$seed.tsv",
      "gate" -> gateJson(Seq(gA, gT)),
      "failed_tasks" -> figures.map(_("spark.failed_tasks")).sum,
      "metrics" -> (layers ++ Map(
        "spark.tasks" -> med("spark.tasks"),
        "spark.cpu_busy_frac" -> med("spark.cpu_busy_frac"),
        "spark.task_max_over_p50" -> med("spark.task_max_over_p50"),
        "spark.shuffle_write_mb" -> med("spark.shuffle_write_mb"),
        "spark.output_mb" -> med("spark.output_mb"),
        "spark.gc_ms" -> med("spark.gc_ms"),
        "spark.scan_s" -> scanS,
        "spark.docs_per_s_w1" -> docsPerSW1,
        "spark.scaling_eff" -> docsPerS / (nproc * docsPerSW1),
        "spark.input_splits" -> splitsN.toDouble,
        "engine.encode_s" -> encode,
        "engine.write_s" -> write,
        "engine.lineage_s" -> med("engine.lineage_s"),
        "engine.failed_frac" -> (gA.failedDocs + figures.map(_("spark.failed_tasks")).sum) / docs,
        "trace.overhead_frac" -> (1 - (tracedS(1) + tracedS(2)) / (tracedS(0) + tracedS(3))))))
  } finally delete(work)

  /** Per-layer figures from the traced width-1 pass's spans. The
    * attributed share is the pass's document spans plus the Spark layers
    * measured around it (scan, encode, write), over its wall time.
    */
  def layerFigures(spans: Seq[SpanRec], statuses: Map[String, Long],
      tracedSeconds: Double, sparkLayerSeconds: Double): Map[String, Double] = {
    val byName = spans.groupBy(_.name)
    def ms(n: String) = byName.getOrElse(n, Nil).map(_.ns).sum / 1e6
    def count(n: String) = byName.getOrElse(n, Nil).length.toDouble
    def bytes(n: String) = byName.getOrElse(n, Nil).map(_.bytes).sum.toDouble
    val docs = Trace.timings(spans)
    val ex = docs.map(_.extract / 1e3)
    val pct = (xs: Seq[Double], p: Double) => if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)
    val routes = Trace.Routes.flatMap { r =>
      val ds = docs.filter(_.route == r)
      Seq(s"$r.docs" -> ds.length.toDouble,
        s"$r.self_ms" -> ds.map(_.self).sum / 1e6,
        s"$r.p99_us" -> pct(ds.map(_.self / 1e3), 99))
    }
    val attributed = (ms("doc") / 1e3 + sparkLayerSeconds) / tracedSeconds
    Map(
      "engine.decode_ms" -> ms("engine.decode"),
      "engine.bytes_decoded" -> bytes("engine.decode"),
      "engine.digest_ms" -> ms("engine.digest"),
      "engine.extract_ms" -> ex.sum / 1e3,
      "engine.extract_p50_us" -> pct(ex, 50),
      "engine.extract_p99_us" -> pct(ex, 99),
      "engine.extract_max_us" -> pct(ex, 100),
      "engine.spans_out" -> bytes("doc"),
      "engine.chars_out" -> byName.keys.filter(_.startsWith("extract.")).toSeq.map(bytes).sum,
      "mime.detect_ms" -> ms("mime.detect"),
      "mime.detect_calls" -> bytes("mime.detect"),
      "zipx.specialize_ms" -> ms("zipx.specialize"),
      "zipx.specialize_calls" -> count("zipx.specialize"),
      "ole2.specialize_ms" -> ms("ole2.specialize"),
      "ole2.specialize_calls" -> count("ole2.specialize"),
      "trace.attributed_frac" -> attributed,
      "trace.unattributed_frac" -> (1 - attributed)) ++
      Gate.AllStatuses.map(s => s"engine.status.$s" -> statuses.getOrElse(s, 0L).toDouble) ++
      routes
  }
}

object Runner {
  /** Timed passes per run. The JIT keeps warming up for some 70k
    * documents after a cold start, more than a run can afford, so the
    * passes sit on the warm-up curve; a fixed count keeps every run at the
    * same point of it.
    */
  val TimedPasses = 5
}
