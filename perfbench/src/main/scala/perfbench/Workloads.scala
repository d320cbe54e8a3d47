package perfbench

import java.io.File

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.DocRow
import graft.corpus.Corpus

/** The benchmark's workloads and their corpora.
  *
  * `Corpus.row(i)` is a pure function of the index `i`, and `Corpus.kindOf`
  * repeats its 27-kind mix in every aligned block of 1000 indexes. A
  * corpus is therefore a seeded choice of `blocks` blocks out of the first
  * [[UniverseBlocks]]: every seed gets different documents with the same
  * kind mix, and the frozen per-block digests (see [[Gate]]) cover every
  * seed. The warm-up corpus is `warmBlocks` blocks from [[UniverseBlocks]]
  * on, outside the universe, so no timed document is seen in warm-up.
  */
final case class Workload(
    name: String,
    heavyOnly: Boolean, // only the Heavy kinds of each block
    blocks: Int,
    warmBlocks: Int)

object Workload {
  val UniverseBlocks = 40
  val BlockSize = 1000
  val WarmupBlock: Int = UniverseBlocks

  /** Kinds whose documents are PDF, ZIP or OOXML packages. */
  val HeavyKinds: Set[String] = Set("pdf", "zip", "docx", "xlsx", "pptx")

  val All: Seq[Workload] = Seq(
    Workload("mixed", heavyOnly = false, blocks = 4, warmBlocks = 2),
    Workload("heavy", heavyOnly = true, blocks = 10, warmBlocks = 4))

  def byName(name: String): Workload =
    All.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${All.map(_.name).mkString(", ")})"))

  /** The seed's blocks, ascending. */
  def blocksFor(w: Workload, seed: Long): Seq[Int] =
    new scala.util.Random(seed).shuffle((0 until UniverseBlocks).toVector)
      .take(w.blocks).sorted

  def isHeavy(index: Long): Boolean = HeavyKinds.contains(Corpus.kindOf(index))

  def indexes(w: Workload, blocks: Seq[Int]): Seq[Long] =
    blocks.flatMap(b => (b.toLong * BlockSize) until ((b + 1).toLong * BlockSize))
      .filter(i => !w.heavyOnly || isHeavy(i))

  /** Files each block is written as; a corpus is `blocks` blocks, so it
    * has 8 files per core and the scan never starves a core.
    */
  def filesPerBlock(w: Workload, nproc: Int): Int =
    (8 * nproc + w.blocks - 1) / w.blocks

  private def blockRoot(cache: String, w: Workload, nproc: Int): String =
    s"$cache/blocks-v${Corpus.Version}-${if (w.heavyOnly) "heavy" else "mixed"}" +
      s"-f${filesPerBlock(w, nproc)}"

  def blockDir(cache: String, w: Workload, nproc: Int, block: Int): String =
    f"${blockRoot(cache, w, nproc)}/b$block%03d"

  /** The input path handed to the CLI: a glob over the blocks' directories. */
  def inputPath(cache: String, w: Workload, nproc: Int, blocks: Seq[Int]): String =
    f"${blockRoot(cache, w, nproc)}/{${blocks.map(b => f"b$b%03d").mkString(",")}}"

  def warmBlocks(w: Workload): Seq[Int] = WarmupBlock until WarmupBlock + w.warmBlocks

  /** Writes each block that is not cached yet, `nproc` blocks at a time.
    * A block is written to a temporary directory and renamed into place
    * only when complete.
    */
  def materialize(spark: SparkSession, cache: String, w: Workload, nproc: Int,
      blocks: Seq[Int]): Unit = {
    import spark.implicits._
    val missing = blocks.map(b => b -> blockDir(cache, w, nproc, b))
      .filterNot { case (_, dir) => new File(dir).isDirectory }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    try missing.map { case (b, dir) =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}"
          val rows: Dataset[DocRow] = spark.createDataset(indexes(w, Seq(b)))
            .repartition(filesPerBlock(w, nproc)).mapPartitions(_.map(Corpus.row))
          rows.write.parquet(tmp)
          if (!new File(tmp).renameTo(new File(dir)))
            throw new IllegalStateException(s"could not move $tmp to $dir")
        }
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  def parquetFiles(dirs: Seq[String]): Seq[File] =
    dirs.flatMap(d => Option(new File(d).listFiles()).getOrElse(Array.empty[File]))
      .filter(_.getName.endsWith(".parquet"))
}
