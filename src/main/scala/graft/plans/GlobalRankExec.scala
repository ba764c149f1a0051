package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/**
 * Global rank over a unique total order as a planner operator: appends a
 * 1-based row number and the row count, optionally with a running fold of
 * one LONG value over the same order. `out` names the appended columns:
 *  - [[GlobalRankPlan.RankOnly]]: (rank, n);
 *  - [[GlobalRankPlan.Sum]]: (rank, n, prefix, total) — INCLUSIVE running
 *    sum and the grand sum, with SQL `sum` semantics: NULL until a
 *    non-NULL value has been ranked, overflow per the session's ANSI mode;
 *  - [[GlobalRankPlan.Max]]: (rank, n, prefix) — EXCLUSIVE running max,
 *    NULL where no non-NULL value ranks strictly before the row.
 * The faces are [[graft.ops.GlobalRank]]'s `withGlobal*` methods.
 */
case class GlobalRankPlan(
    order: Seq[SortOrder],
    value: Option[Expression],
    fold: GlobalRankPlan.Fold,
    out: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GlobalRankPlan =
    copy(child = newChild)
}

object GlobalRankPlan {
  sealed trait Fold
  case object RankOnly extends Fold
  case object Sum extends Fold
  case object Max extends Fold
}

object GlobalRankStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GlobalRankPlan(o, v, f, out, child) => GlobalRankExec(o, v, f, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

/**
 * Two passes over ONE range-partitioned, sorted input. The required
 * distribution and ordering make EnsureRequirements insert the range
 * exchange and the sort, so every row of partition i sorts before every
 * row of partition i+1 — and under AQE contiguous range partitions are
 * coalesced, which sizes the read to the data.
 *  1. One small job collects (rows, value fold) per partition; the driver
 *     turns them into per-partition carry-ins.
 *  2. The same RDD is mapped: rank = carry-in + local counter, and the
 *     running fold continues from its carry-in.
 * Both passes read one `ShuffleDependency`, so the `RangePartitioner` is
 * sampled once and the map stage runs once: both passes see the same
 * partitioning without copying the data. Pass 1 reads the sort's input,
 * so only pass 2 sorts.
 * An input that already satisfies the distribution (one partition, or a
 * range layout on the same order) gets no exchange and is evaluated once
 * per pass, so it must be deterministic — as any ranked input must be.
 */
case class GlobalRankExec(
    order: Seq[SortOrder],
    value: Option[Expression],
    fold: GlobalRankPlan.Fold,
    out: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  /** What pass 1 reads: counts and folds ignore row order, so when the
    * child is the required local sort, its input — the same partitions. */
  private def unsorted: SparkPlan = child match {
    case WholeStageCodegenExec(SortExec(_, false, InputAdapter(in), _)) => in
    case SortExec(_, false, in, _) => in
    case _ => child
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val rows = child.execute()
    val input = child.output
    val v = value
    val isMax = fold == GlobalRankPlan.Max
    val combine: (Long, Long) => Long = if (isMax) math.max else _ + _
    // Pass 1, per partition: rows and the fold of the non-NULL values.
    // Sums wrap here: a partition's sum may overflow while every prefix
    // stays in range; pass 2 checks the prefixes themselves.
    val stats = sparkContext.runJob(unsorted.execute(), (it: Iterator[InternalRow]) => {
      val proj = v.map(e => UnsafeProjection.create(Seq(e), input))
      var n = 0L
      var acc = 0L
      var seen = false
      while (it.hasNext) {
        val r = it.next()
        n += 1
        if (proj.isDefined) {
          val x = proj.get(r)
          if (!x.isNullAt(0)) {
            acc = if (seen) combine(acc, x.getLong(0)) else x.getLong(0)
            seen = true
          }
        }
      }
      (n, if (seen) Some(acc) else None)
    })
    // Carry-ins of every partition; the last entries are the totals.
    val offsets = stats.map(_._1).scanLeft(0L)(_ + _)
    val carries = stats.map(_._2).scanLeft(Option.empty[Long])((a, b) => (a ++ b).reduceOption(combine))

    val total = offsets.last
    val grand = if (fold == GlobalRankPlan.Sum) carries.last else None
    val ansi = conf.ansiEnabled
    val ranksOnly = fold == GlobalRankPlan.RankOnly
    val outAttrs = output
    val width = out.size
    val numOutputRows = longMetric("numOutputRows")
    rows.mapPartitionsWithIndex({ (i, it) =>
      val proj = v.map(e => UnsafeProjection.create(Seq(e), input))
      val toUnsafe = UnsafeProjection.create(outAttrs, outAttrs)
      val extra = new GenericInternalRow(width)
      val joined = new JoinedRow
      var rank = offsets(i)
      var run = carries(i).getOrElse(0L)
      var seen = carries(i).isDefined
      extra.setLong(1, total)
      grand.foreach(extra.setLong(3, _))
      it.map { r =>
        rank += 1
        extra.setLong(0, rank)
        if (!ranksOnly) {
          // the running max is exclusive: set before this row joins it
          if (isMax) extra.update(2, if (seen) run else null)
          val x = proj.get(r)
          if (!x.isNullAt(0)) {
            val l = x.getLong(0)
            run = if (!seen) l else if (isMax) math.max(run, l)
              else if (ansi) MathUtils.addExact(run, l) else run + l
            seen = true
          }
          if (!isMax) extra.update(2, if (seen) run else null)
        }
        numOutputRows += 1
        toUnsafe(joined(r, extra))
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GlobalRankExec =
    copy(child = newChild)
}
