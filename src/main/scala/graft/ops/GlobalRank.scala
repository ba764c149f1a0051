package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftPlanApi}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.functions.{lit, pmod, when}
import org.apache.spark.sql.types.LongType

import graft.plans.{GlobalRankPlan, GlobalRankStrategy}

/**
 * Distributed global ranking over a total order — the scale-safe replacement
 * for `Window.orderBy(...)` with no partition key, which moves EVERY row into
 * a single partition (one task sorts the world; fine at 1.5k customers, fatal
 * at 100 TB).
 *
 * Each face adds one [[GlobalRankPlan]] node, planned as
 * [[graft.plans.GlobalRankExec]]: a range exchange plus a per-partition sort
 * (inserted by EnsureRequirements, coalesced by AQE), then two passes inside
 * the one exec over that one shuffle — per-partition counts (and value
 * folds) to the driver, then rank = partition offset + local counter. No
 * Spark job runs while the query is built, nothing is pinned, and the rank
 * shows in EXPLAIN.
 *
 * Ordering columns must form a UNIQUE total order (callers append a tiebreak
 * key): with no ties, row_number == rank == dense_rank, and percent_rank /
 * cume_dist / ntile are pure arithmetic over (rank, n) — computed below
 * without any further shuffle.
 */
object GlobalRank {

  private def ranked(
      df: DataFrame,
      order: Seq[Column],
      value: Option[Column],
      fold: GlobalRankPlan.Fold,
      cols: Seq[(String, Boolean)]): DataFrame = {
    val s = df.sparkSession
    GraftPlanApi.ensureStrategy(s, GlobalRankStrategy)
    val sortOrders = order.map { c =>
      GraftPlanApi.expression(s, c) match {
        case so: SortOrder => so
        case e => SortOrder(e, Ascending)
      }
    }
    val out = cols.map { case (name, nullable) => AttributeReference(name, LongType, nullable)() }
    GraftPlanApi.ofRows(s, GlobalRankPlan(sortOrders,
      value.map(v => GraftPlanApi.expression(s, v.cast("long"))), fold, out,
      df.queryExecution.analyzed))
  }

  /**
   * Adds `rankCol` (1-based global row number over `order`) and `nCol`
   * (total row count) to `df`. `order` must be a unique total order.
   */
  def withGlobalRank(
      df: DataFrame,
      order: Seq[Column],
      rankCol: String,
      nCol: String): DataFrame =
    ranked(df, order, None, GlobalRankPlan.RankOnly, Seq(rankCol -> false, nCol -> false))

  /**
   * [[withGlobalRank]] plus an INCLUSIVE running sum of `value` (cast to
   * LONG — integer prefix sums are exact and order-independent, so the
   * result is deterministic under any partitioning) over the same total
   * order: `prefixCol` = Σ value over rows ranked ≤ this row, `totalCol` =
   * the grand total. Both follow SQL `sum`: NULL until a non-NULL value has
   * been ranked, overflow per the session's ANSI mode — exactly the
   * unpartitioned running-sum window. The distributed-cumsum shape behind
   * coverage curves (vocab coverage, token budgets, Lorenz/Gini style
   * analyses).
   */
  def withGlobalPrefixSum(
      df: DataFrame,
      order: Seq[Column],
      value: Column,
      rankCol: String,
      nCol: String,
      prefixCol: String,
      totalCol: String): DataFrame =
    ranked(df, order, Some(value), GlobalRankPlan.Sum,
      Seq(rankCol -> false, nCol -> false, prefixCol -> true, totalCol -> true))

  /**
   * [[withGlobalRank]] plus an EXCLUSIVE running maximum of `value` (LONG)
   * over the same total order: `prefixCol` = max(value) over rows ranked
   * STRICTLY BEFORE this row, NULL for the global first row. The
   * distributed-cummax shape behind skyline/Pareto-frontier scans (a point
   * survives iff no earlier point beats it) and high-water-mark analyses —
   * exclusive because the row must not shadow itself. Max is idempotent
   * and order-insensitive, so the result is deterministic under any
   * partitioning, like the integer prefix sums.
   */
  def withGlobalPrefixMax(
      df: DataFrame,
      order: Seq[Column],
      value: Column,
      rankCol: String,
      nCol: String,
      prefixCol: String): DataFrame =
    ranked(df, order, Some(value), GlobalRankPlan.Max,
      Seq(rankCol -> false, nCol -> false, prefixCol -> true))

  /**
   * Exact long floor-division. Subtracting the modulo first makes the
   * numerator an exact multiple, so the double division (Spark's `/` on
   * longs) has an integer true quotient and IEEE rounds it exactly — naive
   * `floor(a/b)` can round UP across an integer boundary for near-multiple
   * numerators once values are large.
   */
  private def ldiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /**
   * SQL NTILE(k) from a unique-order global rank: with n = qk + r, the first
   * r buckets take q+1 rows, the rest q. Pure integer arithmetic — exact.
   * (`floor(rank*k/n)`-style assignment is NOT ntile when k ∤ n: it can
   * interleave big and small buckets.)
   */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    val q = ldiv(n, lit(k.toLong))
    val r = n % lit(k.toLong)
    val cut = r * (q + lit(1L))
    when(rank <= cut, ldiv(rank + q, q + lit(1L)))
      .otherwise(r + ldiv(rank - cut + q - lit(1L), q))
  }

  /** percent_rank over a unique total order: (rank-1)/(n-1); 0 when n=1. */
  def percentRankFromRank(rank: Column, n: Column): Column =
    when(n === lit(1L), lit(0.0))
      .otherwise((rank - lit(1L)).cast("double") / (n - lit(1L)).cast("double"))

  /** cume_dist over a unique total order: rank/n. */
  def cumeDistFromRank(rank: Column, n: Column): Column =
    rank.cast("double") / n.cast("double")
}
