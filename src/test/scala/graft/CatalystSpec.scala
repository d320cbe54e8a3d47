package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.engine.Pipeline
import graft.functions.DetectMime

/** Catalyst-level checks: the custom expression stays codegen'd and the
  * plans keep pushdown/pruning working (SURVEY.md §4).
  */
class CatalystSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  test("detect_mime expression: column API + codegen + SQL registration") {
    val df = Seq(
      ("h", "<html><body>x</body></html>"),
      ("p", "%PDF-1.7 rest"),
      ("t", "plain text content here")
    ).toDF("id", "payload")
      .withColumn("bytes", col("payload").cast("binary"))

    val out = df.select(col("id"), DetectMime.detect_mime(col("bytes")).as("mime"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("h") == "text/html")
    assert(out("p") == "application/pdf")
    assert(out("t") == "text/plain")

    // codegen: the projection with detect_mime sits inside WholeStageCodegen
    // (use a file-backed relation — a LocalTableScan is constant-folded)
    val dir = java.nio.file.Files.createTempDirectory("graftmime").toString
    df.write.parquet(s"$dir/p")
    val filePlan = spark.read.parquet(s"$dir/p")
      .select(DetectMime.detect_mime(col("bytes")))
      .queryExecution.executedPlan.toString
    // "*(n)" marks a WholeStageCodegen stage in the simple plan string
    assert(filePlan.contains("*(1) Project [detect_mime"), filePlan)

    DetectMime.register(spark)
    df.createOrReplaceTempView("payloads")
    val viaSql = spark.sql(
      "SELECT id, detect_mime(bytes) AS mime FROM payloads WHERE id = 'p'")
      .head.getString(1)
    assert(viaSql == "application/pdf")
  }

  test("parquet scan prunes columns and pushes filters") {
    val dir = java.nio.file.Files.createTempDirectory("graftscan").toString
    Pipeline.extract(Corpus.docRows(spark, 200, 4)).toDF()
      .write.parquet(s"$dir/out")
    val q = spark.read.parquet(s"$dir/out")
      .filter(col("doc_id") > "doc-000000000100")
      .select("doc_id", "mime")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id"),
      physical)
    assert(physical.contains("ReadSchema: struct<doc_id:string,mime:string>"), physical)
  }

  test("resume anti-join broadcasts the done side") {
    val dir = java.nio.file.Files.createTempDirectory("graftresume").toString
    Pipeline.extract(Corpus.docRows(spark, 100, 4)).toDF()
      .write.parquet(s"$dir/out")
    val remaining = Pipeline.resumeFilter(Corpus.docRows(spark, 120, 4), s"$dir/out")
    val plan = remaining.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan)
    assert(plan.toLowerCase.contains("leftanti"), plan)
  }

  test("skew: hash-spreading oversized docs narrows the partition-time spread") {
    // size-sorted layout (ingest clustered by size) → oversized docs pile
    // into the last partitions
    val rows = Corpus.docRows(spark, 3000, 4).toDF()
      .withColumn("sz", length(to_json(col("spans"))))
      .orderBy(col("sz")).drop("sz").as[graft.core.DocRow]
    // unsalted: keep the size-clustered range partitions as they land
    val unsalted = Pipeline.partitionTimings(rows)
    val salted = Pipeline.partitionTimings(rows.repartition(8, col("doc_id")))
    def spread(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val t = df.select("wall_ms").as[Long].collect().sorted
      (t.last, t(t.length / 2))
    }
    val (maxU, medU) = spread(unsalted)
    val (maxS, medS) = spread(salted)
    // salted max should be no worse than unsalted max (usually much better)
    assert(maxS <= maxU * 2, s"unsalted=($maxU,$medU) salted=($maxS,$medS)")
  }
}

class PlanShapeSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("sessionize: windows and aggregation share one user_id shuffle") {
    val q = SparkEntry.queries("q05_sessionize")(spark, TestSpark.SfDir)
    val plan = q.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    // lag-window, running-sum window and groupBy(user_id, session_id)
    // must all reuse the hashpartitioning(user_id) exchange
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("token counts: map-side partial aggregation before the shuffle") {
    val q = SparkEntry.queries("q11_token_counts")(spark, TestSpark.SfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges")
  }

  test("q04: dimension side broadcast, date filters pushed to the scans") {
    val q = SparkEntry.queries("q04_shipping_priority")(spark, TestSpark.SfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // both date predicates reach the parquet scans as pushed filters
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(o_orderdate"),
      plan)
    assert(plan.contains("GreaterThan(l_shipdate"), plan)
  }

  test("q07: 6-table join keeps all three dimension joins broadcast") {
    val q = SparkEntry.queries("q07_local_supplier_volume")(spark, TestSpark.SfDir)
    val plan = q.queryExecution.executedPlan.toString
    val bc = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bc >= 3, s"expected >=3 broadcast joins, got $bc:\n$plan")
    // the fact-side join keys shuffle at most twice (customer⋈orders,
    // orders⋈lineitem); region/nation/supplier must NOT add exchanges
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 4, s"too many shuffles ($exchanges):\n$plan")
  }

  test("ANN scorers: no interpreted higher-order-function cosine remains") {
    // r3 verdict item 1: every SimSearch scorer must run the primitive
    // mapPartitions kernel, not aggregate(zip_with(...)) lambdas
    for (q <- Seq("q19_ann_brute", "q20_ann_lsh", "q26_ann_ivf",
        "q28_ann_ivf_recall")) {
      val plan = SparkEntry.queries(q)(spark, TestSpark.SfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("zip_with") && !plan.contains("aggregate("),
        s"$q still scores through HOF expressions:\n$plan")
    }
  }

  test("q37: repetition signals are a pure per-row map — no key shuffle") {
    val q = SparkEntry.queries("q37_repetition")(spark, TestSpark.SfDir)
    val plan = q.queryExecution.executedPlan.toString
    // only the conditional round-robin input spread may appear, at most
    // once (no-op at real corpus scale); the signals themselves never
    // shuffle by key
    assert("RoundRobinPartitioning".r.findAllIn(plan).length <= 1, plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    // native array expressions, not interpreted lambdas
    assert(!plan.contains("lambdafunction"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
  }

  test("q38: paragraph dedup shuffles hashes only, one sig exchange") {
    val q = SparkEntry.queries("q38_para_dedup")(spark, TestSpark.SfDir)
    val plan = q.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(plan.contains("hashpartitioning(sig"), plan)
  }

  test("q06: pure scan+filter+agg — no hash-partition exchange at all") {
    val q = SparkEntry.queries("q06_revenue_forecast")(spark, TestSpark.SfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("PushedFilters"), plan)
  }
}
