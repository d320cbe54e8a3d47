package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.corpus.Corpus

/** JVM side of the benchmark; run.py builds it and calls these commands.
  *
  * {{{
  *   version                                   print Corpus.Version
  *   prepare <root> <workload> <seed> <nproc>  materialize the corpora
  *   run     <root> <workload> <seed> <nproc> <seconds> <launchMs> <out.json> [traceDir]
  *   freeze  <root> <nproc>                    recompute frozen/digests-v*.tsv
  *   selftest
  * }}}
  * `root` is the benchmark directory; corpora are cached under
  * `root/.cache` and scratch output goes to `root/.work`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val code = args.headOption match {
      case Some("version") => println(Corpus.Version); 0
      case Some("prepare") => prepare(args(1), Workload.byName(args(2)), args(3).toLong, args(4).toInt); 0
      case Some("run") =>
        val r = new Runner(args(1), Workload.byName(args(2)), args(3).toLong,
          args(4).toInt, args(5).toDouble, args(6).toLong)
        val result = if (args.length > 8) r.traced(args(8)) else r.untraced()
        java.nio.file.Files.write(java.nio.file.Paths.get(args(7)),
          org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats)
            .getBytes("UTF-8"))
        0
      case Some("freeze") => freeze(args(1), args(2).toInt); 0
      case Some("selftest") => SelfTest.run()
      case _ =>
        System.err.println("usage: perfbench.Main version|prepare|run|freeze|selftest ...")
        2
    }
    sys.exit(code)
  }

  def session(root: String, width: Int, nproc: Int): SparkSession = {
    val work = new File(s"$root/.work").getAbsolutePath
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$width]")
      // the settings graft.Main.main gives its session, with
      // SPARK_GRAFT_CPUS = nproc at both widths: only the width changes
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Materializes the blocks this run needs. When any is missing, every
    * block of the universe and the warm-up blocks are written in the same
    * session, so later runs on other seeds find them cached.
    */
  def prepare(root: String, w: Workload, seed: Long, nproc: Int): Unit = {
    val cache = s"$root/.cache"
    val needed = Workload.blocksFor(w, seed) ++ Workload.warmBlocks(w)
    if (needed.forall(b => new File(Workload.blockDir(cache, w, nproc, b)).isDirectory)) return
    new File(cache).mkdirs()
    val spark = session(root, nproc, nproc)
    try Workload.materialize(spark, cache, w, nproc,
      (0 until Workload.UniverseBlocks) ++ Workload.warmBlocks(w))
    finally spark.stop()
  }

  /** Recomputes the frozen per-block digests by calling the extractor
    * directly on every document of the universe (no Spark encode, scan or
    * write on this path).
    */
  def freeze(root: String, nproc: Int): Unit = {
    val spark = session(root, nproc, nproc)
    try {
      val n = Workload.UniverseBlocks.toLong * Workload.BlockSize
      val parts = spark.sparkContext.parallelize(0L until n, nproc * 16).mapPartitions { it =>
        val sums = mutable.Map[Gate.Key, Gate.Sum]()
        val kinds = mutable.Map[(String, String, String), Long]()
        it.foreach { i =>
          val d = graft.engine.Extractor.extract(Corpus.row(i))
          val k = Gate.keyOf(i)
          sums(k) = sums.getOrElse(k, Gate.Sum(0, 0)) + Gate.Sum(1, Gate.docHash(d))
          val kk = (Corpus.kindOf(i), d.mime, d.status)
          kinds(kk) = kinds.getOrElse(kk, 0L) + 1
        }
        Iterator.single((sums.toMap, kinds.toMap))
      }.collect()
      val sums = parts.flatMap(_._1).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).reduce(_ + _) }
      Gate.writeFrozen(Gate.frozenPath(root), sums)
      parts.flatMap(_._2).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        .toSeq.sortBy(_._1).foreach { case ((kind, mime, status), c) =>
          println(s"$kind\t$mime\t$status\t$c")
        }
    } finally spark.stop()
  }
}
