package graft.ops

import org.apache.spark.sql.DataFrame

/**
 * Materialize a frame now and cut its lineage. `Pin` is for a frame that
 * later Spark JOBS read again: an iterative loop's rounds (connected
 * components, k-means, BFS, BPE merges), whose lineage would otherwise
 * grow by one round per iteration, a memo frame that later queries read,
 * and a frame that a collect run while the query is built reads before
 * the returned plan reads it again. It runs a job while the query is
 * built. A frame that several branches of ONE query read is not a pin:
 * wrap it in [[graft.plans.Shared]], which shares its shuffle by exchange
 * reuse and runs nothing at build. SCALE.md "Lineage pinning" lists every
 * remaining pin and its reason.
 *
 * `localCheckpoint()` stores blocks on executors: cheap, but the blocks die
 * with an executor, and at cluster scale an hours-long dedup loop WILL see
 * executor churn — the job then fails irrecoverably instead of recomputing.
 * Deployments opt into durability by configuring a reliable checkpoint
 * directory (`SparkContext.setCheckpointDir`, an HDFS/object-store path);
 * when one is set, every pin automatically upgrades to a reliable
 * `checkpoint()`. Local runs and tests leave it unset and keep the
 * executor-local fast path.
 */
object Pin {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
