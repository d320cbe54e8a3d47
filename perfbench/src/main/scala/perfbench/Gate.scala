package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

import graft.core.{ExtractedDoc, Status}
import graft.corpus.Corpus

/** The output gate run on every benchmark run.
  *
  * It reads the written output back and checks, per corpus block, that
  * every input doc_id is present exactly once and that the order-free sum
  * of per-document hashes over (doc_id, mime, status, spans, meta) equals
  * the value frozen in `frozen/digests-v<Corpus.Version>.tsv`. Those
  * frozen sums were computed by calling `Extractor.extract` directly, not
  * through Spark, so the scan, shuffle, encode and write layers are
  * checked against a path that does not use them. For single-MIME kinds
  * the top-level MIME is also checked against the generator's
  * `Corpus.kindOf`.
  */
object Gate {

  /** Top-level MIME each single-format generator kind must detect as. */
  val KindMime: Map[String, String] = Map(
    "html" -> "text/html",
    "pdf" -> "application/pdf",
    "docx" -> "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "xlsx" -> "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    "pptx" -> "application/vnd.openxmlformats-officedocument.presentationml.presentation",
    "zip" -> "application/zip",
    "eml" -> "message/rfc822",
    "rtf" -> "application/rtf",
    "csv" -> "text/csv",
    "doc" -> "application/msword",
    "xls" -> "application/vnd.ms-excel",
    "ppt" -> "application/vnd.ms-powerpoint",
    "msg" -> "application/vnd.ms-outlook",
    "pst" -> "application/vnd.ms-outlook-pst",
    "onenote" -> "application/onenote",
    "text" -> "text/plain",
    "xml" -> "application/xml")

  /** Statuses that count as a failed document. */
  val FailedStatuses: Set[String] = Set(Status.Timeout, Status.ParseException)

  val AllStatuses: Seq[String] = Seq(Status.ParseSuccess,
    Status.ParseSuccessWithException, Status.UnsupportedType,
    Status.ParseException, Status.WriteLimitReached, Status.ZipBomb,
    Status.EmptyDoc, Status.Timeout)

  /** Corpus index of a row id: `doc-<12 digits>`, sometimes followed by a
    * file extension the generator adds as a name hint. */
  def indexOf(docId: String): Long = docId.substring(4, 16).toLong

  /** Digest class of a document: its block and whether it is heavy. */
  final case class Key(block: Int, heavy: Boolean)
  def keyOf(index: Long): Key =
    Key((index / Workload.BlockSize).toInt, Workload.isHeavy(index))

  /** Count and wrapping sum of document hashes for one key. */
  final case class Sum(docs: Long, digest: Long) {
    def +(o: Sum): Sum = Sum(docs + o.docs, digest + o.digest)
  }

  /** SHA-256 of a canonical, length-prefixed encoding; first 8 bytes. */
  def docHash(d: ExtractedDoc): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    def int(v: Int): Unit = {
      md.update((v >>> 24).toByte); md.update((v >>> 16).toByte)
      md.update((v >>> 8).toByte); md.update(v.toByte)
    }
    def str(s: String): Unit =
      if (s == null) int(-1)
      else { val b = s.getBytes(UTF_8); int(b.length); md.update(b) }
    str(d.doc_id); str(d.mime); str(d.status)
    val spans = Option(d.spans).getOrElse(Nil)
    int(spans.length)
    spans.foreach { s => str(s.kind); str(s.text); str(s.media_ref); int(s.offset) }
    val meta = Option(d.meta).getOrElse(Map.empty[String, Seq[String]])
    int(meta.size)
    meta.toSeq.sortBy(_._1).foreach { case (k, vs) =>
      str(k)
      val v = Option(vs).getOrElse(Nil)
      int(v.length)
      v.foreach(str)
    }
    val h = md.digest()
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (h(i) & 0xffL); i += 1 }
    x
  }

  // ---- frozen table ----------------------------------------------------

  def frozenPath(root: String): String = s"$root/frozen/digests-v${Corpus.Version}.tsv"

  def readFrozen(path: String): Map[Key, Sum] = {
    val f = new java.io.File(path)
    if (!f.isFile) throw new IllegalStateException(
      s"no frozen digests for Corpus.Version ${Corpus.Version} at $path " +
        "(run `python3 perfbench/run.py freeze` on the parent commit)")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.isEmpty).map { l =>
      val Array(b, cls, n, h) = l.split("\t")
      Key(b.toInt, cls == "heavy") -> Sum(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
    }.toMap
    finally src.close()
  }

  def writeFrozen(path: String, sums: Map[Key, Sum]): Unit = {
    val lines = sums.toSeq.sortBy { case (k, _) => (k.block, k.heavy) }.map {
      case (k, s) =>
        s"${k.block}\t${if (k.heavy) "heavy" else "light"}\t${s.docs}\t" +
          java.lang.Long.toUnsignedString(s.digest, 16)
    }
    val header = s"# block\tclass\tdocs\tdigest (Corpus.Version ${Corpus.Version})"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (header +: lines).mkString("", "\n", "\n").getBytes(UTF_8))
  }

  // ---- checking an output ----------------------------------------------

  /** What one pass over an output table found. */
  final case class Scan(
      sums: Map[Key, Sum],
      seen: Map[Int, mutable.BitSet],
      duplicates: Long,
      mimeMismatches: Seq[String],
      statuses: Map[String, Long]) {

    def merge(o: Scan): Scan = {
      var dups = duplicates + o.duplicates
      val seenAll = mutable.Map[Int, mutable.BitSet]()
      (seen.toSeq ++ o.seen.toSeq).foreach { case (b, bits) =>
        val acc = seenAll.getOrElseUpdate(b, mutable.BitSet())
        dups += (acc & bits).size
        acc |= bits
      }
      Scan(
        (sums.keySet ++ o.sums.keySet).map(k =>
          k -> (sums.getOrElse(k, Sum(0, 0)) + o.sums.getOrElse(k, Sum(0, 0)))).toMap,
        seenAll.toMap, dups, (mimeMismatches ++ o.mimeMismatches).take(20),
        (statuses.keySet ++ o.statuses.keySet).map(s =>
          s -> (statuses.getOrElse(s, 0L) + o.statuses.getOrElse(s, 0L))).toMap)
    }
  }

  object Scan {
    val empty: Scan = Scan(Map.empty, Map.empty, 0, Nil, Map.empty)

    def of(docs: Iterator[ExtractedDoc]): Scan = {
      val sums = mutable.Map[Key, Sum]()
      val seen = mutable.Map[Int, mutable.BitSet]()
      val statuses = mutable.Map[String, Long]()
      val mismatches = mutable.ArrayBuffer[String]()
      var dups = 0L
      docs.foreach { d =>
        val i = indexOf(d.doc_id)
        val k = keyOf(i)
        sums(k) = sums.getOrElse(k, Sum(0, 0)) + Sum(1, docHash(d))
        val bits = seen.getOrElseUpdate(k.block, mutable.BitSet())
        val off = (i % Workload.BlockSize).toInt
        if (bits(off)) dups += 1 else bits += off
        statuses(d.status) = statuses.getOrElse(d.status, 0L) + 1
        KindMime.get(Corpus.kindOf(i)).foreach { want =>
          if (d.mime != want && mismatches.length < 20)
            mismatches += s"${d.doc_id}: ${Corpus.kindOf(i)} detected as ${d.mime}"
        }
      }
      Scan(sums.toMap, seen.toMap, dups, mismatches.toSeq, statuses.toMap)
    }
  }

  /** The outcome of gating one output. */
  final case class Result(problems: Seq[String], docs: Long, missing: Long,
      failedDocs: Long, statuses: Map[String, Long]) {
    def ok: Boolean = problems.isEmpty
  }

  /** Compares one scanned output against the expected documents. */
  def judge(scan: Scan, w: Workload, blocks: Seq[Int], frozen: Map[Key, Sum],
      lineageDocs: Option[Long]): Result = {
    val problems = mutable.ArrayBuffer[String]()
    val keys = blocks.flatMap(b =>
      if (w.heavyOnly) Seq(Key(b, heavy = true)) else Seq(Key(b, heavy = true), Key(b, heavy = false)))
    val expectedDocs = keys.map(k => frozen.getOrElse(k,
      throw new IllegalStateException(s"no frozen digest for $k")).docs).sum
    val foreign = scan.sums.keySet -- keys
    if (foreign.nonEmpty)
      problems += s"output holds documents from outside the corpus: ${foreign.take(5).mkString(", ")}"
    var missing = 0L
    keys.foreach { k =>
      val want = frozen(k)
      val got = scan.sums.getOrElse(k, Sum(0, 0))
      if (got.docs < want.docs) missing += want.docs - got.docs
      if (got != want) problems += s"block ${k.block} ${if (k.heavy) "heavy" else "light"}: " +
        s"${got.docs} docs digest ${java.lang.Long.toUnsignedString(got.digest, 16)}, " +
        s"frozen ${want.docs} docs digest ${java.lang.Long.toUnsignedString(want.digest, 16)}"
    }
    if (scan.duplicates > 0) problems += s"${scan.duplicates} doc_ids appear more than once"
    scan.mimeMismatches.foreach(m => problems += s"mime oracle: $m")
    lineageDocs.foreach { n =>
      if (n != expectedDocs) problems += s"lineage n_docs sums to $n, corpus has $expectedDocs"
    }
    val failed = missing + FailedStatuses.toSeq.map(s => scan.statuses.getOrElse(s, 0L)).sum
    Result(problems.toSeq, expectedDocs, missing, failed, scan.statuses)
  }

  /** Reads `outDir` back and judges it. */
  def check(spark: SparkSession, outDir: String, metricsDir: Option[String],
      w: Workload, blocks: Seq[Int], frozen: Map[Key, Sum]): Result = {
    import spark.implicits._
    val scan = spark.read.parquet(outDir).as[ExtractedDoc].rdd
      .mapPartitions(it => Iterator.single(Scan.of(it)))
      .collect().foldLeft(Scan.empty)(_ merge _)
    val lineage = metricsDir.map { md =>
      spark.read.parquet(md).agg(sum(col("n_docs"))).head().getLong(0)
    }
    judge(scan, w, blocks, frozen, lineage)
  }
}
