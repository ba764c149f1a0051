package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftPlanApi, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}

/**
 * Group-wise top-k as a first-class whole-plan operator: for each group
 * (e.g. per language, per source, per user) keep the first `k` rows under
 * a total ordering — the "best k documents per bucket" primitive every
 * training-data curation pipeline runs.
 *
 * Why a custom operator instead of the window formulation
 * (`row_number().over(partitionBy(g).orderBy(o)) <= k`, cf. q03/q22):
 * Spark 4 plans that as partial WindowGroupLimit → Exchange → Sort →
 * WindowGroupLimit → Sort → Window → filter. The rank-limit pushdown
 * already bounds what crosses the shuffle (both forms ship ≤ tasks ×
 * groups × k rows), but every surviving partition is still SORTED —
 * twice — and then runs a full window pass. This operator replaces each
 * sort+limit with a bounded heap (O(n log k) admission, no sort buffers,
 * no window pass): PARTIAL heaps before the exchange — the top-k
 * analogue of map-side partial aggregation — and FINAL heaps after it.
 * Same mechanism as TopKPairs (functions/TopKAggregate.scala) but for
 * whole rows as a plan node: logical node + planner strategy + physical
 * partial/final execution, the (c) rung of the custom-operator ladder
 * (custom Expression < custom plan + Strategy), registered via
 * SparkSessionExtensions or per-session via experimental strategies.
 * A second capability the window form lacks: k=1 is a whole-row argmax
 * that can carry array columns (q54's inverted file), where an aggregate
 * formulation degrades to SortAggregate (array-typed buffers are not
 * hash-aggregable).
 *
 * Determinism: callers must pass a TOTAL ordering (include a unique
 * tiebreaker column); then output is independent of partitioning — the
 * heap keeps exactly the rows the window formulation keeps.
 *
 * Memory envelope (the honest trade against the window form): per-task
 * state is O(distinct groups in the task × k) pinned rows, and the heaps
 * do NOT spill — the window form's sort does. For the curation shapes
 * this operator targets (groups = languages/sources/query batches;
 * cardinality ≤ millions, k small) that's MBs; for very-high-cardinality
 * groups with large rows, size partitions accordingly or keep the window
 * form. The partial pass bounds its own state the same way because a map
 * task only ever sees its slice's groups.
 */
case class GroupTopKPlan(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopKPlan =
    copy(child = newChild)
}

/** Plans GroupTopKPlan as partial heaps → (exchange inserted by
  * EnsureRequirements) → final heaps. */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopKPlan(g, o, k, child) =>
      GroupTopKExec(g, o, k, partial = false,
        GroupTopKExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class GroupTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** The final pass needs all rows of a group in one partition; the
    * partial pass runs wherever the data already is (that's the point).
    * With no group columns this is GLOBAL top-k: the final pass needs all
    * (≤ tasks × k, thanks to the partial pass) rows in one partition —
    * ClusteredDistribution(Nil) is not a legal way to say that. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numGroups" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of groups"))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val groupLocal = groupExprs
    val orderLocal = order
    val outputLocal = child.output
    val numOutputRows = longMetric("numOutputRows")
    val numGroups = longMetric("numGroups")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupLocal, outputLocal)
      val ord: Ordering[InternalRow] = GenerateOrdering.generate(orderLocal, outputLocal)
      // Per-group bounded heap: worst row at the head (reverse ordering),
      // so admission is O(log k) and eviction is poll().
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      val worstFirst = ord.reverse
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          // Initial capacity only — the queue grows as needed, so clamp
          // instead of risking kLocal + 1 overflow for extreme k.
          val cap = math.min(kLocal.toLong + 1L, 1024L).toInt
          heap = new java.util.PriorityQueue[UnsafeRow](cap, worstFirst)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kLocal) heap.add(row.copy().asInstanceOf[UnsafeRow])
        else if (ord.lt(row, heap.peek())) {
          heap.poll()
          heap.add(row.copy().asInstanceOf[UnsafeRow])
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      heaps.values.forEach(h => h.forEach(r => out += r))
      numGroups += heaps.size()
      numOutputRows += out.size
      out.iterator
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupTopKExec =
    copy(child = newChild)
}

object GroupTopK {

  /** Install the full GroupTopK machinery into an existing session: the
    * planner strategy plus the optimizer rewrite that turns window-top-k
    * idioms ([[GroupTopKRewrite]]) into this operator. Idempotent. */
  def install(spark: SparkSession): Unit = {
    GraftPlanApi.ensureStrategy(spark, GroupTopKStrategy)
    GraftPlanApi.ensureOptimizerRule(spark, GroupTopKRewrite)
  }

  /** Public face: top-k rows per group under `order` (must be total). */
  def apply(df: DataFrame, groupCols: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    GraftPlanApi.ensureStrategy(spark, GroupTopKStrategy)
    val plan = df.queryExecution.analyzed
    val groupExprs = groupCols.map(GraftPlanApi.expression(spark, _))
    val sortOrders = order.map { c =>
      GraftPlanApi.expression(spark, c) match {
        case so: SortOrder => so
        case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    GraftPlanApi.ofRows(spark, GroupTopKPlan(groupExprs, sortOrders, k, plan))
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` registration path
  * (the per-session runtime fallbacks are [[GroupTopK.install]] and the
  * GlobalRank faces' `ensureStrategy`, for sessions built without it).
  * Installs both planner strategies and the window-top-k rewrite rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
    ext.injectPlannerStrategy(_ => GlobalRankStrategy)
    ext.injectOptimizerRule(_ => GroupTopKRewrite)
  }
}
