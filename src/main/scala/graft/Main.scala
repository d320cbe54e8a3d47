package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import graft.engine.Pipeline

/** spark-submit entry point — the tika-app CLI analog
  * (tika-app/.../cli/TikaCLI.java:560-575; SURVEY.md §2.1).
  *
  * Usage:
  * {{{
  *   graft.Main <inputParquet> <outputDir> [mode] [metricsDir]
  *     mode ∈ spans (default) | text | xml | markdown | rmeta | unpack
  *            | xhtml (safe-whitelist markup) | xhtml-identity
  * }}}
  *
  * Input: a (doc_id, spans) parquet table, read with the `DocRow` schema.
  * Output: parquet in the chosen projection. With a metricsDir, spans mode
  * writes each run into `outputDir/run_id=<uuid>/` and one lineage file
  * per run into metricsDir (Pipeline.run); rerunning with the same dirs
  * skips already-committed doc_ids.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.Main <inputParquet> <outputDir> " +
        "[spans|text|xml|markdown|rmeta|unpack|xhtml|xhtml-identity] [metricsDir]")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .appName(s"graft-extract-${if (args.length > 2) args(2) else "spans"}")
      // spark-submit injects spark.master; standalone runs default local
      .config("spark.master", sys.props.getOrElse("spark.master", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(args, spark) finally spark.stop()
  }

  /** CLI body on a caller-provided session (testable without tearing the
    * shared session down).
    */
  def run(args: Array[String], spark: SparkSession): Unit = {
    val input = args(0)
    val outDir = args(1)
    val mode = if (args.length > 2) args(2) else "spans"
    val metricsDir = if (args.length > 3) Some(args(3)) else None
    import spark.implicits._

    // Read with the DocRow schema, so Spark runs no schema-inference job.
    // Resolving the DocRow encoder against the first file's footer schema,
    // as `Dataset.as` does, fails here, before any job runs, on a path
    // with no files or a missing or mistyped doc_id/spans (or Span field).
    val enc = Pipeline.DocRowEncoder
    val in = spark.read.schema(enc.schema).parquet(input)
    val first = in.inputFiles.minOption.getOrElse(
      throw new IllegalArgumentException(s"no parquet files under $input"))
    enc.resolveAndBind(DataTypeUtils.toAttributes(Pipeline.footerSchema(spark, first)),
      spark.sessionState.analyzer)
    val docs = in.as(enc)
    val rows = if (metricsDir.isEmpty) docs else Pipeline.resumeFilter(docs, outDir)

    mode match {
      case "unpack" =>
        graft.engine.Unpack.unpack(rows).write.mode("append").parquet(outDir)
      case "spans" =>
        metricsDir match {
          case Some(md) => Pipeline.run(spark, rows, outDir, md)
          case None =>
            Pipeline.extract(rows).toDF()
              .write.mode("append").parquet(outDir)
        }
      case m =>
        val extracted = Pipeline.extract(rows)
        val projected = m match {
          case "text" =>
            extracted.toDF().select(col("doc_id"), col("mime"), col("status"),
              graft.ops.Projections.textOf(col("spans")).as("text"))
          case "xml" =>
            extracted.map(d => (d.doc_id, d.mime, d.status,
              graft.ops.Projections.toXml(d.spans)))
              .toDF("doc_id", "mime", "status", "xml")
          case "markdown" =>
            extracted.map(d => (d.doc_id, d.mime, d.status,
              graft.ops.Projections.toMarkdown(d.spans)))
              .toDF("doc_id", "mime", "status", "markdown")
          case "rmeta" =>
            extracted.map(d => (d.doc_id, graft.ops.Projections.toRmetaJson(d)))
              .toDF("doc_id", "rmeta")
          case "xhtml" | "xhtml-identity" =>
            // mapped-markup projection over raw HTML payloads (HtmlMapper
            // strategies: strict whitelist vs markup-preserving identity)
            val mapper: graft.html.HtmlMapper =
              if (m == "xhtml") graft.html.DefaultMapper
              else graft.html.IdentityMapper
            rows.map(r =>
              (r.doc_id, graft.ops.Projections.toMappedXhtml(r.spans, mapper)))
              .toDF("doc_id", "xhtml")
          case other =>
            throw new IllegalArgumentException(s"unknown mode: $other")
        }
        projected.write.mode("append").parquet(outDir)
    }
  }
}
