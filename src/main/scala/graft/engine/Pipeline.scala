package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.core._

/** The Dataset-level extraction pipeline — the reference's tika-pipes
  * fetch→parse→emit loop (tika-pipes/.../async/AsyncProcessor.java:64-513)
  * re-expressed as Spark stages:
  *
  *  - the table scan IS the PipesIterator (partition = work queue);
  *  - one typed `mapPartitions` runs detect+parse per row (parser state
  *    initialized once per partition, mirroring Tika's parser reuse —
  *    parser/Parser.java thread-safety contract);
  *  - per-partition lineage rows (doc_id ranges, parser version, span
  *    counts, the task's own wall time) are the resume checkpoint
  *    (PipesReporter / the north rule's Iceberg metrics table). The
  *    extracting task folds them from the rows it yields, so the job
  *    never reads its own output back;
  *  - skew: [[run]] hash-partitions on doc_id into the session's
  *    `spark.sql.shuffle.partitions` before the parse stage, so oversized
  *    docs generated in runs (or packed into one input file) land on
  *    distinct partitions.
  *
  * At 100 TB the input is a partitioned Parquet/Iceberg table: Catalyst
  * prunes to the (doc_id, spans) columns. Resume is one exact anti-join
  * on doc_id ([[resumeFilter]]), which stays correct when ids arrive
  * late or are backfilled inside ranges already committed.
  */
object Pipeline {

  /** Core transform: detect→parse→spans, no shuffle. */
  def extract(ds: Dataset[DocRow],
      cfg: Extractor.Config = Extractor.DefaultConfig): Dataset[ExtractedDoc] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition init happens here (the registry is a JVM singleton;
      // at cluster scale it would be a broadcast value)
      it.map(row => Extractor.extract(row, cfg))
    }
  }

  /** End-to-end job: hash-partition on doc_id → extract → write output
    * table → append per-partition lineage. Idempotent per run; see
    * [[resumeFilter]].
    */
  def run(spark: SparkSession, input: Dataset[DocRow], outDir: String,
      metricsDir: String,
      cfg: Extractor.Config = Extractor.DefaultConfig): Unit =
    // one output file and one lineage row per partition of this width
    writeWithLineage(spark, input.repartition(
      spark.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id")),
      outDir, metricsDir, cfg)

  /** The entries of `dir` a Spark reader would see (not `_`/`.`-named);
    * none when `dir` is missing or holds only the `_SUCCESS` of a job that
    * wrote no rows — exactly "nothing committed".
    */
  private def entries(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
  }

  /** Extract, write output into its own `run_id=<uuid>/` directory
    * (readers get `run_id` back via partition discovery), then append this
    * run's lineage.
    *
    * Each extracting task folds the rows it yields into its partition's
    * [[PartitionMetrics]] and adds that row to a per-run accumulator. The
    * extraction runs in the write job's result stage, and Spark applies a
    * result task's accumulator update once per partition, from the
    * successful (committed) attempt only, so the driver holds one row per
    * non-empty committed partition once the write returns. A failed write
    * throws before any lineage is written; an empty input (a fully-resumed
    * rerun) writes neither a run directory nor a lineage row.
    */
  private def writeWithLineage(spark: SparkSession, input: Dataset[DocRow],
      outDir: String, metricsDir: String, cfg: Extractor.Config): Unit = {
    import spark.implicits._
    // Legacy-layout guard: an outDir written by the flat pre-run_id
    // layout (parquet files at the top level) cannot take a run_id=
    // append — partition discovery would fail at READ time with an
    // inscrutable mixed-depth error. Fail the write with an explicit
    // migration message instead (see FIXTURES.md "Output layout").
    if (entries(spark, outDir).exists(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet")))
      throw new IllegalStateException(
        s"outDir $outDir holds a legacy flat (pre-run_id) layout; " +
          "write this run into a fresh directory — mixing layouts breaks " +
          "partition discovery for every reader")
    val runId = java.util.UUID.randomUUID().toString
    val lineage = spark.sparkContext.collectionAccumulator[PartitionMetrics]("lineage")
    input.mapPartitions { it =>
      val t0 = System.nanoTime()
      val pid = TaskContext.getPartitionId()
      var lo, hi: String = null
      var n, spans, chars, ok = 0L
      val docs = it.map { row =>
        val d = Extractor.extract(row, cfg)
        // bounds skip null ids, as SQL min/max do
        if (d.doc_id != null) {
          if (lo == null || sqlOrder(d.doc_id, lo) < 0) lo = d.doc_id
          if (hi == null || sqlOrder(d.doc_id, hi) > 0) hi = d.doc_id
        }
        n += 1; spans += d.n_spans; chars += d.n_chars
        if (d.status.startsWith(Status.ParseSuccess)) ok += 1
        (pid, d.doc_id, d.mime, d.status, d.spans, d.meta, d.n_spans, d.n_chars)
      }
      // the by-name tail runs once, after the writer drained the last row
      docs ++ {
        if (n > 0) lineage.add(PartitionMetrics(pid, lo, hi, n, spans, chars,
          ok, n - ok, runId, Model.ParserVersion, (System.nanoTime() - t0) / 1000000))
        Iterator.empty
      }
    }.toDF("partition_id", "doc_id", "mime", "status", "spans", "meta",
      "n_spans", "n_chars")
      .withColumn("run_id", lit(runId))
      .write.mode("append").partitionBy("run_id").parquet(outDir)
    val rows = lineage.value.asScala.toSeq.sortBy(_.partition_id)
    if (rows.nonEmpty) rows.toDS().coalesce(1).write.mode("append").parquet(metricsDir)
  }

  /** Spark's string order (UTF-8 bytes), the order SQL `min`/`max`
    * compare doc ids in, so lineage bounds match a re-aggregation of the
    * output.
    */
  private def sqlOrder(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Per-partition wall-time instrumentation: runs the full extraction on
    * each partition and emits one timing row per partition — the
    * max/median spread is the skew evidence the bench reports
    * (BASELINE.md "max/median partition wall time before and after
    * salting").
    */
  def partitionTimings(ds: Dataset[DocRow],
      cfg: Extractor.Config = Extractor.DefaultConfig): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val t0 = System.nanoTime()
      var n = 0L
      var chars = 0L
      while (it.hasNext) {
        val d = Extractor.extract(it.next(), cfg)
        n += 1
        chars += d.n_chars
      }
      Iterator.single((pid, n, chars, (System.nanoTime() - t0) / 1000000))
    }.toDF("partition_id", "n_docs", "n_chars", "wall_ms")
  }

  /** Resume: drop rows already present in the committed output
    * (left-anti on doc_id; the anti-join broadcast-builds on the *done*
    * side only when it is small).
    */
  def resumeFilter(input: Dataset[DocRow], outDir: String): Dataset[DocRow] = {
    val spark = input.sparkSession
    import spark.implicits._
    // only an outDir with nothing in it means "nothing committed"; any
    // read failure must surface, or the job would re-extract and
    // duplicate every committed row
    if (entries(spark, outDir).isEmpty) return input
    val done = spark.read.parquet(outDir).select("doc_id").distinct()
    input.join(done, Seq("doc_id"), "left_anti").as[DocRow]
  }
}
