package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, TextOps}

/** Composite quality gate (q44) and incremental snapshot dedup (q45).
  * The DuckDB oracle replays both end-to-end; these pin the rule order,
  * edge thresholds, and join shape on hand-built rows.
  */
class QualityGateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("quality gate: first failing rule wins, fixed order") {
    val stop20 = Seq.fill(20)("the").mkString(" ")      // stop-heavy, 20 toks
    val d = docs(
      (1L, "the of and in"),                            // 4 toks -> too_short
      (2L, Seq.fill(25)("zzz").mkString(" ")),          // no stopwords
      (3L, stop20 + " .,;:!?.,;:!?.,;:!?.,;:!?.,;:!?.,;:!?.,;:!?.,;:!?"), // punct
      (4L, (1 to 10).map(_ => "the line is here").mkString("\n")), // dup lines
      (5L, stop20 + " alpha beta gamma delta"))         // clean -> keep
    val out = TextOps.qualityGate(d).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("reason") == "too_short")
    assert(out(1).getAs[String]("reason") == "low_stopwords")
    assert(out(2).getAs[String]("reason") == "high_punct")
    assert(out(3).getAs[String]("reason") == "repetitive")
    assert(out(4).getAs[String]("reason") == "keep" &&
      out(4).getAs[Int]("keep") == 1)
    assert(out.take(4).forall(_.getAs[Int]("keep") == 0))
  }

  test("snapshot dedup: re-crawled content flags, new content passes") {
    val prior = docs((0L, "seen before"), (3L, "also seen"))
    val incoming = docs(
      (10L, "seen before"),   // exact re-crawl -> dup
      (11L, "brand new text"),
      (12L, "also seen"))
    val out = Dedup.snapshotDedup(incoming, prior)
      .orderBy("doc_id").collect()
    assert(out.map(r => r.getLong(0) -> r.getAs[Int]("is_dup")).toSeq ==
      Seq(10L -> 1, 11L -> 0, 12L -> 1))
  }

  test("snapshot dedup keys on two independently seeded xxhash64 values") {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // analyzed: the optimizer folds the hashes of local rows to constants
    val plan = Dedup.snapshotDedup(docs((10L, "a")), docs((0L, "a")))
      .queryExecution.analyzed
    // a real 64-bit collision cannot be built, so check the key itself
    val seeds = plan.flatMap(_.expressions.flatMap(_.collect {
      case h: XxHash64 => h.seed })).distinct
    assert(seeds.size == 2, plan)
    val keys = plan.collect { case j: Join => j.condition.get.references.map(_.name).toSet }
    assert(keys == Seq(Set("sig1", "sig2")), plan)
  }

  test("snapshot dedup plan: only hashes join, text never shuffles") {
    val prior = docs((0L, "a"), (3L, "b"))
    val incoming = docs((10L, "a"))
    val plan = Dedup.snapshotDedup(incoming, prior)
      .queryExecution.executedPlan.toString
    // the join keys are md5 sigs; raw text must not appear in any
    // exchange output schema
    assert(!plan.contains("text#") ||
      !plan.split("Exchange").tail.exists(_.take(200).contains("text#")),
      s"text crossed an exchange:\n$plan")
  }
}
