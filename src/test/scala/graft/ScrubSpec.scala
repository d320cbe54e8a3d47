package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{PiiScrub, TextNorm}

/** PII redaction + Unicode normalization operators (q40/q41). The
  * DuckDB oracle replays both end-to-end; these pin the operator-level
  * semantics on hand-built rows where the expected output is computed
  * by eye, plus the plan-shape guarantees (no UDF, no shuffle).
  */
class ScrubSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("pii scrub: each category found, redacted, and counted") {
    val d = docs(
      (1L, "mail a.b-c_d%x+1@sub.example.co.uk now"),
      (2L, "card 4111 1111 1111 1111 and 5500-0000-0000-0004 ok"),
      (3L, "host 192.168.0.1 and 10.0.0.255 up"),
      (4L, "call +44 207 946-0958 or 1 800 5550 199"),
      (5L, "clean text with no pii at all"))
    val out = PiiScrub.profile(d).orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("n_emails") == 1)
    assert(out(1).getAs[Int]("n_cards") == 2)
    assert(out(2).getAs[Int]("n_ips") == 2)
    assert(out(3).getAs[Int]("n_phones") == 2)
    assert(out(4).getAs[Int]("n_emails") == 0 &&
      out(4).getAs[Int]("n_cards") == 0 &&
      out(4).getAs[Int]("n_ips") == 0 &&
      out(4).getAs[Int]("n_phones") == 0)
  }

  test("pii scrub: redaction order keeps composite strings whole") {
    val d = docs((1L,
      "user@example.org 4111 1111 1111 1111 10.0.0.1 +1 555-0100"))
    val s = spark
    import s.implicits._
    val scrubbed = d.select(PiiScrub.scrub(col("text"))).as[String].head
    assert(scrubbed == "<EMAIL> <CARD> <IP> <PHONE>")
  }

  test("pii scrub: sig differs from plain md5 only when pii present") {
    val d = docs((1L, "no pii here"), (2L, "mail me x@y.io"))
    val s = spark
    import s.implicits._
    val sigs = PiiScrub.profile(d).orderBy("doc_id")
      .select("scrub_sig").as[String].collect()
    val plain = d.orderBy("doc_id").select(md5(col("text"))).as[String].collect()
    assert(sigs(0) == plain(0)) // untouched text hashes identically
    assert(sigs(1) != plain(1))
  }

  test("normalize: NFC composes, ctrl strips, whitespace collapses") {
    val s = spark
    import s.implicits._
    // "cafe" + combining acute; BEL between x,y; tab run; trailing spaces
    val d = docs((1L, "café x\u0007y\t\t z  "))
    val out = TextNorm.normalize(d).select("norm_text").as[String].head
    assert(out == "café xy z")
    val p = TextNorm.profile(d).head
    assert(p.getAs[Int]("n_before") == 15)
    assert(p.getAs[Int]("n_after") == 9)
  }

  test("normalize: NFC: composed text unchanged, decomposed recomposes") {
    val s = spark
    import s.implicits._
    val d = docs((1L, "café Å"))
    val out = TextNorm.normalize(d).select("norm_text").as[String].head
    assert(out == "café Å")
  }

  test("plan shape: scrub is a single codegen projection, no key shuffle") {
    val d = docs((1L, "x@y.io"))
    val plan = PiiScrub.profile(d).queryExecution.executedPlan.toString
    // the only permitted exchange is the conditional round-robin input
    // spread (a no-op whenever the scan yields >= defaultParallelism
    // splits, i.e. at any real corpus scale), at most once; the scrub
    // itself must never shuffle by key
    assert("RoundRobinPartitioning".r.findAllIn(plan).length <= 1, plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    assert(!plan.toLowerCase.contains("batchevalpython"))
    // no scala UDF either — built-in regexp expressions only
    assert(!plan.contains("UDF"), plan)
  }
}
