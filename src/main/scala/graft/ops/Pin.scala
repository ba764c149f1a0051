package graft.ops

import org.apache.spark.sql.DataFrame

/**
 * Materialize a frame and cut its lineage — the pinning primitive under the
 * iterative/branching operators (dedup shingles, connected-components
 * rounds).
 *
 * `localCheckpoint()` stores blocks on executors: cheap, but the blocks die
 * with an executor, and at cluster scale an hours-long dedup loop WILL see
 * executor churn — the job then fails irrecoverably instead of recomputing.
 * Deployments opt into durability by configuring a reliable checkpoint
 * directory (`SparkContext.setCheckpointDir`, an HDFS/object-store path);
 * when one is set, every pin below automatically upgrades to a reliable
 * `checkpoint()`. Local runs and tests leave it unset and keep the
 * executor-local fast path. See SCALE.md "Lineage pinning".
 */
object Pin {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Lazy pin: the checkpoint materializes on FIRST use and is shared by
    * every later branch — unlike apply(), nothing executes at plan-
    * construction time. The right form inside `queries` lambdas, which
    * must stay lazy: a frame consumed by N downstream branches executes
    * its subtree once instead of N times. */
  def lazily(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)
}
