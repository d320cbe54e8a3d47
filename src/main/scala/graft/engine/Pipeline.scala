package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.{ParquetToSparkSchemaConverter,
  SparkToParquetSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}
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
  *    extracting task folds them from the rows it yields, and the driver
  *    writes them as one file per run, so a run is one Spark job (plus
  *    its shuffle's map stage) that never reads its own output back;
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

  /** The one `DocRow` encoder: the CLI's read schema, its input check
    * and every `.as[DocRow]` here.
    */
  val DocRowEncoder: ExpressionEncoder[DocRow] = ExpressionEncoder[DocRow]()

  /** The Spark schema of parquet `file`'s footer, read on the driver, so
    * checking a file's columns submits no job.
    */
  def footerSchema(spark: SparkSession, file: String): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration))
    try new ParquetToSparkSchemaConverter(SQLConf.get)
      .convert(reader.getFooter.getFileMetaData.getSchema) finally reader.close()
  }

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
    * none when `dir` is missing.
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

  /** Extract, write output straight into its own `run_id=<uuid>/`
    * directory (readers get `run_id` back via partition discovery; the
    * job's `_SUCCESS` sits inside it), then add this run's lineage file.
    *
    * Each extracting task folds the rows it yields into its partition's
    * [[PartitionMetrics]] and adds that row to a per-run accumulator. The
    * extraction runs in the write job's result stage, and Spark applies a
    * result task's accumulator update once per partition, from the
    * successful (committed) attempt only, so the driver holds one row per
    * non-empty committed partition once the write returns. A failed write
    * throws before any lineage is written; an empty input (a fully-resumed
    * rerun) writes neither a run directory nor a lineage row: Spark leaves
    * a schema-only part file for it, so its run directory is deleted.
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
    val runDir = new Path(outDir, s"run_id=$runId")
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
      .write.parquet(runDir.toString)
    val rows = lineage.value.asScala.toSeq.sortBy(_.partition_id)
    if (rows.nonEmpty) writeLineage(spark, rows, new Path(metricsDir), runId)
    else runDir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(runDir, true)
  }

  /** One run's lineage rows as one driver-written file, renamed from a
    * hidden `_part-<runId>.parquet` to `part-<runId>.parquet`, with the
    * columns of a Spark write of `Dataset[PartitionMetrics]`, so lineage
    * files that older runs wrote through Spark read as one table with it.
    */
  private def writeLineage(spark: SparkSession, rows: Seq[PartitionMetrics],
      metricsDir: Path, runId: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = new SparkToParquetSchemaConverter()
      .convert(Encoders.product[PartitionMetrics].schema)
    val tmp = new Path(metricsDir, s"_part-$runId.parquet")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(schema).build()
    try rows.foreach { r =>
      val g = new SimpleGroup(schema)
      r.productElementNames.zip(r.productIterator).foreach {
        case (k, v: Int) => g.add(k, v)
        case (k, v: Long) => g.add(k, v)
        case (k, v: String) => g.add(k, v)
        case (_, null) => // the optional field stays unset
        // any other type fails with a MatchError naming the field
      }
      writer.write(g)
    } finally writer.close()
    if (!tmp.getFileSystem(conf).rename(tmp, new Path(metricsDir, s"part-$runId.parquet")))
      throw new java.io.IOException(s"could not commit lineage file $tmp")
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
    // committed = some visible file, at the top level or in a run
    // directory (a failed or killed run leaves at most its committer's
    // _temporary); past this any read failure must surface, or the job
    // would re-extract and duplicate every committed row
    val committed = entries(spark, outDir).iterator.flatMap { st =>
      if (st.isFile) Iterator(st) else entries(spark, st.getPath.toString).filter(_.isFile)
    }.nextOption() match {
      case Some(st) => st.getPath.toString
      case None => return input
    }
    // outDir is read with a given schema (no schema-inference job), so
    // one committed file's footer vouches for doc_id's type
    if (!footerSchema(spark, committed).exists(f =>
          f.name == "doc_id" && f.dataType == StringType))
      throw new IllegalStateException(s"committed output $committed has no string doc_id")
    val done = spark.read.schema("doc_id STRING").parquet(outDir)
    input.join(done, Seq("doc_id"), "left_anti").as(DocRowEncoder)
  }
}
