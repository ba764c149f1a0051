package graft.plans

import org.apache.spark.sql.{DataFrame, GraftPlanApi}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/**
 * An optimizer barrier over a frame that several branches of ONE query
 * read. No optimizer rule knows the node, so none pushes a filter, a limit
 * or a join through it, and it references its child's whole output, so
 * ColumnPruning cannot prune beneath it. Every consumer therefore plans the
 * same child subtree, and exchange reuse (AQE's stage cache) runs the
 * frame's shuffles once for all of them. Nothing is cached or checkpointed
 * and no Spark job runs while the query is built; the barrier lives and
 * dies with the plan that holds it.
 */
case class SharedPlan(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override lazy val references: AttributeSet = child.outputSet
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): SharedPlan =
    copy(child = newChild)
}

/** Plans the barrier away: its child stands in its place. */
object SharedStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SharedPlan(child) => planLater(child) :: Nil
    case _ => Nil
  }
}

object Shared {

  /** `df` behind a [[SharedPlan]] barrier. Consumers share the frame's
    * last exchange and recompute whatever sits above it, so `df` must be
    * deterministic. */
  def apply(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val plan = df.queryExecution.analyzed
    require(plan.deterministic,
      "Shared needs a deterministic frame: each consumer recomputes what sits above its last exchange")
    GraftPlanApi.ensureStrategy(s, SharedStrategy)
    GraftPlanApi.ofRows(s, SharedPlan(plan))
  }
}
