package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Zero-cost projection fence — the engine's custom Catalyst operator
  * (LogicalPlan + SparkStrategy, registered by `Fence.apply` on the
  * session of the frame it fences).
  *
  * Why it exists: Catalyst's CollapseProject merges adjacent projections by
  * SUBSTITUTING the upstream expression into every downstream reference.
  * For cheap expressions that's free; for an expensive common subexpression
  * feeding several consumers (a tokenizer array consumed by a size, an
  * explode bound, and a slice — or a HOF lambda's per-element accesses) the
  * substitution DUPLICATES the computation per consumer, and codegen's
  * subexpression elimination cannot always recover it (lambda bodies
  * defeat it). The engine's historical workaround is `Checkpoints.cp` —
  * correct, and still right when the frame is genuinely REUSED by several
  * plans — but it pays a full materialization (compute + store + re-read)
  * just to pin an expression boundary.
  *
  * `Fence(df)` pins the boundary for free: a logical node no rewrite rule
  * knows how to cross (CollapseProject only matches Project-over-Project;
  * predicate pushdown and column pruning likewise stop at an unknown
  * unary node), planned as a pure pass-through physical operator (row and
  * columnar iterators forwarded untouched, partitioning/ordering
  * preserved). Execution cost: one pipeline-stage boundary, zero copies.
  *
  * Contract: fence AFTER the narrow projection being frozen — the barrier
  * that stops harmful inlining also stops helpful pushdown, so the child
  * must already carry its filters and column selection (same discipline
  * every `cp` call site follows today).
  */
case class FenceNode(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): FenceNode =
    copy(child = newChild)
}

/** Pass-through physical fence: forwards the child's row or columnar
  * iterators without touching them; partitioning and ordering survive, so
  * downstream exchanges are not re-planned.
  */
case class FenceExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def supportsColumnar: Boolean = child.supportsColumnar
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override def doExecuteColumnar(): RDD[ColumnarBatch] = child.executeColumnar()
  override protected def withNewChildInternal(newChild: SparkPlan): FenceExec =
    copy(child = newChild)
}

object FenceStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case FenceNode(child) => FenceExec(planLater(child)) :: Nil
    case _ => Nil
  }
}

object Fence {
  /** Expression barrier over `df`: upstream expressions evaluate once per
    * row and downstream operators see bound column references, never the
    * inlined expression trees.
    */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // idempotent per-session registration: this call is the only source
    // of a FenceNode, so the session that plans one always has the strategy
    if (!spark.experimental.extraStrategies.contains(FenceStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ FenceStrategy
    GraftPlanBridge.ofRows(spark, FenceNode(df.queryExecution.logical))
  }
}
