package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.SparkSession
import graft.functions.GraftExtensions
import graft.plans.{Fence, FenceExec, FenceNode, FenceStrategy}

/** The custom Catalyst fence operator: semantics (identity), the barrier
  * property (expensive upstream expressions stay single-instance in the
  * optimized plan instead of being inlined per consumer), and the
  * zero-cost pass-through contract (no exchange, partitioning preserved).
  */
class FenceSpec extends SparkSpecBase {
  import spark.implicits._

  private def optimized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("fence is a row-identical identity") {
    val src = Tables.documents(spark, sfDir).select("doc_id", "text")
    val fenced = Fence(src)
    assert(fenced.schema === src.schema)
    assert(fenced.exceptAll(src).count() === 0)
    assert(src.exceptAll(fenced).count() === 0)
  }

  test("fence keeps the tokenizer out of HOF lambda bodies (per-element trap)") {
    // THE trap the fence exists for: a single downstream reference inside
    // a higher-order-function lambda. CollapseProject's cheap/multi-
    // reference guard permits inlining a singly-referenced producer — but once the
    // tokenizer sits INSIDE the lambda, it re-runs on every iteration of
    // the enclosing loop (the measured O(len²)/19× textLmScore failure,
    // which Checkpoints.cp used to paper over with a materialization).
    def pipeline(base: org.apache.spark.sql.DataFrame) = base
      .select(col("doc_id"),
        aggregate(sequence(lit(1), lit(20)), lit(0L),
          (acc, i) => acc + coalesce(length(try_element_at(col("toks"), i)), lit(0))).as("s"))
    val proj = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
    def lambdaLine(plan: String): String =
      plan.linesIterator.find(_.contains("aggregate(")).getOrElse("")
    val unfenced = optimized(pipeline(proj))
    val fencedPlan = optimized(pipeline(Fence(proj)))
    assert(lambdaLine(unfenced).contains("regexp_extract_all"),
      s"premise: unfenced plan inlines the tokenizer into the lambda:\n$unfenced")
    assert(!lambdaLine(fencedPlan).contains("regexp_extract_all"),
      s"fenced lambda must see a bound reference, not the tokenizer:\n$fencedPlan")
    assert(fencedPlan.contains("FenceNode"))
    // and the results are identical either way
    val a = pipeline(Fence(proj))
    val b = pipeline(proj)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("fence is free: no exchange added, pre-split partitioning preserved") {
    val pre = Tables.documents(spark, sfDir)
      .repartition(4, col("doc_id"))
      .select(col("doc_id"), lower(col("text")).as("t"))
    val q = Fence(pre).withColumn("n", length(col("t")))
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val _ = q.write.format("noop").mode("overwrite").save()
    assert(plan.exists(_.isInstanceOf[FenceExec]), plan.toString.take(400))
    // exactly the one explicit repartition exchange, nothing added by the fence
    assert("Exchange".r.findAllIn(plan.toString).size <= 1, plan.toString.take(600))
  }

  test("filters and pruning below the fence still reach the parquet scan") {
    val q = Fence(
      Tables.documents(spark, sfDir)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("n_chars")))
      .withColumn("k", col("n_chars") * 2)
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]")
      || scan.contains("EqualTo(lang,en)"), scan.take(600))
    assert(!scan.contains("text"), "pruned: the text column must not be read")
  }

  test("chunk_documents plan carries the fence and a single tokenizer") {
    val plan = optimized(graft.llm.Packing.chunkDocuments(spark, sfDir))
    assert(plan.contains("FenceNode"))
    assert("regexp_extract_all".r.findAllIn(plan).size === 1, plan.take(800))
  }

  test("a GraftExtensions session plans fences with exactly one FenceStrategy") {
    // the shared session made the SparkContext the new session builds on;
    // restore it as active/default afterwards
    spark.range(1).count()
    val s2 = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try {
      val q = Fence(Fence(s2.range(10).toDF("id")).filter(col("id") > 3))
      val planner = s2.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.planner
      assert(planner.strategies.count(_ == FenceStrategy) === 1)
      assert(q.queryExecution.executedPlan.exists(_.isInstanceOf[FenceExec]))
      assert(q.count() === 6)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
