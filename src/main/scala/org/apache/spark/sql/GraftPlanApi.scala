package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{ExpressionUtils, Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/**
 * Minimal bridge into the `private[sql]` plan-construction API: wraps a
 * custom [[LogicalPlan]] node as a user-facing DataFrame, and a native
 * Catalyst expression as a Column. This is the one sanctioned way
 * third-party whole-operator extensions (custom logical node + strategy,
 * the same mechanism Spark's own `Dataset` operators use) and native
 * expressions become visible to the public Dataset API; everything else
 * in this repo stays on public Spark APIs.
 */
object GraftPlanApi {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Column (public API) → Catalyst Expression, eagerly converted through
    * the session's ColumnNode converter (possibly unresolved; the analyzer
    * resolves it against the custom node's child). The plan-node faces
    * (GroupTopK, GlobalRank) need this form: their expressions live in a
    * custom logical node that no converter ever visits again. */
  def expression(spark: SparkSession, col: Column): Expression =
    spark.asInstanceOf[ClassicSparkSession].expression(col)

  /** A Column face over a native expression: `build` applied to the
    * argument columns, with no session and no function registry. The
    * session-free `ExpressionUtils.expression` leaves each argument that
    * is not already an expression as a `columnnodeexpression(…)`
    * placeholder, which the session's converter replaces when it converts
    * the returned Column. That is why it is for Column faces only: inside
    * a custom logical node the placeholder is never replaced (tried on
    * GroupTopK and GlobalRank, it changed 47 of 283 plans and failed five
    * queries with "Task not serializable"). */
  def face(args: Column*)(build: Seq[Expression] => Expression): Column =
    ExpressionUtils.column(build(args.map(ExpressionUtils.expression)))

  /** Session-scoped strategy registration that works on ANY session handed
    * to us (the driver contract passes sessions we didn't build), not just
    * ones constructed with `spark.sql.extensions`. Idempotent. */
  def ensureStrategy(spark: SparkSession, strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[ClassicSparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Test hook: the planner strategies an extensions setup would install
    * into a session built with `spark.sql.extensions`. */
  def plannerStrategies(spark: SparkSession,
                        ext: SparkSessionExtensions => Unit): Seq[org.apache.spark.sql.execution.SparkStrategy] = {
    val e = new SparkSessionExtensions
    ext(e)
    e.buildPlannerStrategies(spark.asInstanceOf[ClassicSparkSession])
  }

  /** Test hook: the optimizer rules the same setup would inject. */
  def optimizerRules(spark: SparkSession, ext: SparkSessionExtensions => Unit): Seq[Rule[LogicalPlan]] = {
    val e = new SparkSessionExtensions
    ext(e)
    e.buildOptimizerRules(spark.asInstanceOf[ClassicSparkSession])
  }
}
