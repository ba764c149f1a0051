package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/**
 * Optimizer rule: rewrite the window top-k idiom
 *
 *   Project(cols without rk,
 *     Filter(rk <= k,
 *       Window(rk := row_number() OVER (PARTITION BY g ORDER BY o), ...)))
 *
 * into the [[GroupTopKPlan]] operator, so SQL-face and DataFrame queries
 * written in the standard pattern automatically execute on partial/final
 * bounded heaps (no per-partition sorts, no window pass) without being
 * rewritten by hand.
 *
 * Safety conditions, all required:
 *  - the window computes exactly one expression: a plain `row_number`
 *    (optionally CAST) over the default ROWS UNBOUNDED PRECEDING..CURRENT
 *    frame with a non-empty ORDER BY;
 *  - the filter is a single `rk <= k` / `rk < k` / `rk = 1` against an
 *    integer literal;
 *  - the projection does not reference the rank attribute (if the query
 *    keeps ranks, the window must run).
 * Ties: row_number over a non-total ORDER BY is already nondeterministic
 * in Spark; the rewrite preserves the same guarantee level (some row from
 * each tie class), identical to Spark's own WindowGroupLimit pushdown.
 *
 * Registered only by [[GraftExtensions]] (`injectOptimizerRule`), so it
 * rewrites the plans of sessions built with `spark.sql.extensions` and of
 * no other session.
 */
object GroupTopKRewrite extends Rule[LogicalPlan] {

  /** Strip a cast around the window expression (queries often widen the
    * rank to long for oracle-type alignment). */
  private def unwrapCast(e: Expression): Expression = e match {
    case Cast(child, _, _, _) => unwrapCast(child)
    case other => other
  }

  private def isRowNumberWindow(e: Expression): Option[(Seq[Expression], Seq[SortOrder])] =
    unwrapCast(e) match {
      case WindowExpression(_: RowNumber,
          WindowSpecDefinition(part, order,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)))
          if order.nonEmpty =>
        Some((part, order))
      case _ => None
    }

  /** k from the filter shape, if it is a pure rank bound. Bounds above
    * Int.MaxValue abstain (a .toInt would silently truncate a
    * keep-everything filter into a tiny k). */
  private def rankBound(cond: Expression, rank: Attribute): Option[Int] = {
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      case _ => None
    }
    // Strictly below Int.MaxValue: a bound that large is a keep-everything
    // filter, and downstream heap sizing must be able to form k + 1.
    def toK(l: Long): Option[Int] =
      if (l >= 1L && l < Int.MaxValue.toLong) Some(l.toInt) else None
    cond match {
      case LessThanOrEqual(a: Attribute, l) if a.semanticEquals(rank) =>
        lit(l).flatMap(toK)
      case LessThan(a: Attribute, l) if a.semanticEquals(rank) =>
        lit(l).flatMap(k => toK(k - 1))
      case EqualTo(a: Attribute, l) if a.semanticEquals(rank) =>
        lit(l).filter(_ == 1L).map(_.toInt)
      case GreaterThanOrEqual(l, a: Attribute) if a.semanticEquals(rank) =>
        lit(l).flatMap(toK)
      case GreaterThan(l, a: Attribute) if a.semanticEquals(rank) =>
        lit(l).flatMap(k => toK(k - 1))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList, Filter(cond, w: Window))
        if w.windowExpressions.size == 1 =>
      val alias = w.windowExpressions.head
      isRowNumberWindow(alias match {
        case a: Alias => a.child
        case other => other
      }) match {
        case Some((part, order)) =>
          val rank = alias.toAttribute
          rankBound(cond, rank) match {
            case Some(k) if k > 0 &&
                projectList.forall(ne => !ne.references.contains(rank)) =>
              // Spark may already have inserted its own WindowGroupLimit
              // below the window (it would be at w.child); it is kept
              // as-is — it only pre-prunes the heap's input.
              Project(projectList, GroupTopKPlan(part, order, k, w.child))
            case _ => p
          }
        case None => p
      }
  }
}
