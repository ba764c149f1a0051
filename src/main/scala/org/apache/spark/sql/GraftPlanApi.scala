package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/**
 * Minimal bridge into the `private[sql]` plan-construction API: wraps a
 * custom [[LogicalPlan]] node as a user-facing DataFrame. This is the one
 * sanctioned way third-party whole-operator extensions (custom logical
 * node + strategy, the same mechanism Spark's own `Dataset` operators use)
 * become visible to the public Dataset API; everything else in this repo
 * stays on public Spark APIs.
 */
object GraftPlanApi {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Column (public API) → Catalyst Expression, eagerly converted through
    * the session's ColumnNode converter (possibly unresolved; the analyzer
    * resolves it against the custom node's child). */
  def expression(spark: SparkSession, col: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.asInstanceOf[ClassicSparkSession].expression(col)

  /** Catalyst Expression → Column: the inverse of [[expression]]. Lets a
    * native expression built with per-call constants (literal centers,
    * projection vectors) become a Column directly, without registering a
    * session function for data that changes every call. */
  def column(expr: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(expr)

  /** Session-scoped strategy registration that works on ANY session handed
    * to us (the driver contract passes sessions we didn't build), not just
    * ones constructed with `spark.sql.extensions`. Idempotent. */
  def ensureStrategy(spark: SparkSession, strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[ClassicSparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Idempotent runtime registration of an optimizer rule (the
    * `spark.sql.extensions`-less counterpart of injectOptimizerRule). */
  def ensureOptimizerRule(spark: SparkSession,
                          rule: org.apache.spark.sql.catalyst.rules.Rule[
                            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[ClassicSparkSession].experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }

  /** Test hook: drop all runtime-registered strategies/rules. */
  def clearExperimental(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[ClassicSparkSession].experimental
    exp.extraStrategies = Nil
    exp.extraOptimizations = Nil
  }

  /** Test hook: the planner strategies an extensions setup would install
    * into a session built with `spark.sql.extensions`. */
  def plannerStrategies(spark: SparkSession,
                        ext: SparkSessionExtensions => Unit): Seq[org.apache.spark.sql.execution.SparkStrategy] = {
    val e = new SparkSessionExtensions
    ext(e)
    e.buildPlannerStrategies(spark.asInstanceOf[ClassicSparkSession])
  }
}
