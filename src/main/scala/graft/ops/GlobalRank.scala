package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distributed global ranking over a total order — the scale-safe replacement
 * for `Window.orderBy(...)` with no partition key, which moves EVERY row into
 * a single partition (one task sorts the world; fine at 1.5k customers, fatal
 * at 100 TB).
 *
 * Two-pass shape, all data movement bounded:
 *  1. `repartitionByRange` + `sortWithinPartitions` gives a globally ordered
 *     layout: every row in partition i sorts before every row in partition
 *     i+1, and rows are sorted within each partition. One range shuffle —
 *     the same cost the single-partition window pays, but spread over all
 *     executors.
 *  2. `monotonically_increasing_id()` on that layout encodes
 *     (partitionId << 33) | localRowIndex (Spark's documented bit layout),
 *     so partition id and the 1-based local rank fall out of one narrow
 *     projection — no window, no second shuffle over the data.
 *  3. Per-partition row counts form a control-plane frame (ONE ROW PER
 *     PARTITION — 32 here, a few thousand on a real cluster). The prefix-sum
 *     window over that frame is the only unpartitioned window in the plan and
 *     it runs over partition-count rows, never data rows. Offsets broadcast
 *     back; global rank = local rank + partition offset.
 *
 * Ordering columns must form a UNIQUE total order (callers append a tiebreak
 * key): with no ties, row_number == rank == dense_rank, and percent_rank /
 * cume_dist / ntile are pure arithmetic over (rank, n) — computed below
 * without any further shuffle.
 *
 * The tagged frame is pinned (via [[Pin]]) before fan-out because
 * the counts job and the output job would otherwise each re-execute the
 * range exchange, and `RangePartitioner` re-samples boundaries per planned
 * RDD — borderline rows could land in different partitions across the two
 * jobs, corrupting offsets. Same executor-local durability trade as the
 * dedup pipeline's shingle frame; see SCALE.md for the reliable-checkpoint
 * variant at cluster scale.
 */
object GlobalRank {

  private val LocalIdxMask = (1L << 33) - 1

  /** Range-partition count from the MEASURED bytes of the pinned rank
    * input: one partition per `spark.graft.rank.targetBytes` (default
    * 64 MB — guide §2.2's "fewer, larger partitions" band), floor 1, cap
    * 2²⁰. The r10 default (inherit `spark.sql.shuffle.partitions`) sized
    * the range shuffle to the CLUSTER, which over-splits the small
    * aggregate frames most ranks run on (32 near-empty sort tasks + a
    * 32-partition pin per rank at any core count) and under-splits a
    * genuinely large rank input on a small-conf cluster. Bytes come from
    * the block manager's storage info for the pinned RDD — exact, already
    * materialized, driver-side O(partitions); when the input is a caller's
    * RELIABLE checkpoint there are no storage blocks, and the conf count is
    * the honest fallback. An explicit positive `partitions` argument still
    * wins (tests pin small counts). */
  private[graft] def derivedRangePartitions(pinned: DataFrame): Int = {
    val s = pinned.sparkSession
    val target = s.conf.get("spark.graft.rank.targetBytes",
      (64L * 1024 * 1024).toString).toLong
    pinnedBytes(pinned) match {
      case Some(b) =>
        math.max(1L, math.min((b + target - 1) / target, 1L << 20)).toInt
      case None => s.sessionState.conf.numShufflePartitions
    }
  }

  /** Measured storage size of an eagerly local-checkpointed frame; None
    * when the frame is not a single in-memory checkpoint (reliable
    * checkpoint, or an unexpected plan shape). */
  private def pinnedBytes(pinned: DataFrame): Option[Long] =
    (pinned.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }).flatMap { rdd =>
      pinned.sparkSession.sparkContext.getRDDStorageInfo
        .find(_.id == rdd.id).map(i => i.memSize + i.diskSize)
    }

  /** Drop a private input pin's blocks once the downstream tagged frame is
    * materialized — the blocks are this method's scratch copy, never the
    * caller's frame, so holding them to context GC would only add storage
    * pressure (32 concurrent tasks share one heap in local mode). */
  private def dropPin(pinned: DataFrame): Unit =
    pinned.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /**
   * Shared first pass: PIN the input (the range exchange executes its
   * child TWICE — once for the boundary sampler, once for the shuffle —
   * so both now read checkpoint blocks instead of re-running the child's
   * post-exchange segment; the pin also yields the measured bytes the
   * partition derivation needs), then range-layout over `order`, derive
   * (_gr_pid, _gr_lrn) from `monotonically_increasing_id`'s bit layout,
   * and PIN the result — two downstream jobs must agree on the range
   * partitioning, and `RangePartitioner` re-samples boundaries per
   * planned RDD (reliable checkpoint when a dir is configured — see Pin).
   * The input pin is a scratch local checkpoint, dropped as soon as the
   * tagged pin is materialized or its construction fails.
   */
  private def tagByRange(df: DataFrame, order: Seq[Column], partitions: Int): DataFrame = {
    val pinned = df.queryExecution.analyzed match {
      // already a bare pinned frame (e.g. a caller's Pin) — don't copy it
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      // always executor-local, not Pin: a reliable checkpoint's files
      // would outlive the drop below and leak a full input copy per rank
      case _ => df.localCheckpoint()
    }
    // dropped on failure too, so a rank that throws leaves no blocks
    try {
      val n = if (partitions > 0) partitions else derivedRangePartitions(pinned)
      pinned.repartitionByRange(n, order: _*)
        .sortWithinPartitions(order: _*)
        .withColumn("_gr_mid", monotonically_increasing_id())
        .withColumn("_gr_pid", shiftright(col("_gr_mid"), 33))
        .withColumn("_gr_lrn", col("_gr_mid").bitwiseAND(lit(LocalIdxMask)) + lit(1L))
        .drop("_gr_mid")
        .transform(Pin(_))
    } finally { if (!(pinned eq df)) dropPin(pinned) }
  }

  // Control-plane windows: ordered over ≤`partitions` one-row-per-partition
  // rows — the only unpartitioned windows in any GlobalRank plan.
  private val wPrefix = Window.orderBy(col("_gr_pid"))
    .rowsBetween(Window.unboundedPreceding, -1)
  private val wAll = Window.orderBy(col("_gr_pid"))
    .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  /**
   * Adds `rankCol` (1-based global row number over `order`) and `nCol`
   * (total row count) to `df`. `order` must be a unique total order.
   */
  def withGlobalRank(
      df: DataFrame,
      order: Seq[Column],
      rankCol: String,
      nCol: String,
      partitions: Int = 0): DataFrame = {
    val tagged = tagByRange(df, order, partitions)
    // One row per partition. max(local rank) == count because local ranks
    // are consecutive from 1 within a partition.
    val counts = tagged.groupBy(col("_gr_pid"))
      .agg(max(col("_gr_lrn")).as("_gr_cnt"))
    val offsets = counts
      .withColumn("_gr_off", coalesce(sum(col("_gr_cnt")).over(wPrefix), lit(0L)))
      .withColumn("_gr_n", sum(col("_gr_cnt")).over(wAll))
      .select(col("_gr_pid"), col("_gr_off"), col("_gr_n"))

    tagged
      .join(broadcast(offsets), "_gr_pid")
      .withColumn(rankCol, col("_gr_lrn") + col("_gr_off"))
      .withColumn(nCol, col("_gr_n"))
      .drop("_gr_pid", "_gr_lrn", "_gr_off", "_gr_n")
  }

  /**
   * [[withGlobalRank]] plus an INCLUSIVE running sum of `value` (a LONG
   * column — integer prefix sums are exact and order-independent, so the
   * result is deterministic under any partitioning) over the same total
   * order: `prefixCol` = Σ value over rows ranked ≤ this row, `totalCol` =
   * the grand total. The distributed-cumsum shape behind coverage curves
   * (vocab coverage, token budgets, Lorenz/Gini style analyses).
   *
   * Same two-pass skeleton as the rank: the control-plane frame additionally
   * carries each partition's value sum, whose prefix over ≤`partitions` rows
   * broadcasts back as the partition's base offset. The within-partition
   * running sum is a window PARTITIONED by `_gr_pid` — never unpartitioned;
   * each window group is one range partition of the input, so group size is
   * bounded by the range partitioner's balance, not by n. (Catalyst inserts
   * one hash exchange on `_gr_pid` for that window — acceptable: the frame
   * this runs on is an aggregate, e.g. vocabulary-bounded token counts,
   * already orders of magnitude smaller than the corpus.)
   */
  def withGlobalPrefixSum(
      df: DataFrame,
      order: Seq[Column],
      value: Column,
      rankCol: String,
      nCol: String,
      prefixCol: String,
      totalCol: String,
      partitions: Int = 0): DataFrame = {
    val tagged = tagByRange(df.withColumn("_gp_v", value.cast("long")), order,
      partitions)
    val counts = tagged.groupBy(col("_gr_pid"))
      .agg(max(col("_gr_lrn")).as("_gr_cnt"), sum(col("_gp_v")).as("_gp_psum"))
    val offsets = counts
      .withColumn("_gr_off", coalesce(sum(col("_gr_cnt")).over(wPrefix), lit(0L)))
      .withColumn("_gr_n", sum(col("_gr_cnt")).over(wAll))
      .withColumn("_gp_voff", coalesce(sum(col("_gp_psum")).over(wPrefix), lit(0L)))
      .withColumn("_gp_vtot", sum(col("_gp_psum")).over(wAll))
      .select(col("_gr_pid"), col("_gr_off"), col("_gr_n"), col("_gp_voff"), col("_gp_vtot"))

    // Running sum within each former range partition; local rank is already
    // a unique total order inside a pid, so the frame is unambiguous.
    val wLocal = Window.partitionBy(col("_gr_pid")).orderBy(col("_gr_lrn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .join(broadcast(offsets), "_gr_pid")
      .withColumn(rankCol, col("_gr_lrn") + col("_gr_off"))
      .withColumn(nCol, col("_gr_n"))
      .withColumn(prefixCol, sum(col("_gp_v")).over(wLocal) + col("_gp_voff"))
      .withColumn(totalCol, col("_gp_vtot"))
      .drop("_gr_pid", "_gr_lrn", "_gr_off", "_gr_n", "_gp_v", "_gp_voff", "_gp_vtot")
  }

  /**
   * [[withGlobalRank]] plus an EXCLUSIVE running maximum of `value` (LONG)
   * over the same total order: `prefixCol` = max(value) over rows ranked
   * STRICTLY BEFORE this row, NULL for the global first row. The
   * distributed-cummax shape behind skyline/Pareto-frontier scans (a point
   * survives iff no earlier point beats it) and high-water-mark analyses —
   * exclusive because the row must not shadow itself.
   *
   * Same two-pass skeleton as [[withGlobalPrefixSum]]: the control-plane
   * frame carries each partition's max, whose EXCLUSIVE prefix max over
   * ≤`partitions` rows broadcasts back as the partition's carry-in; within
   * a partition the running max window excludes the current row. `greatest`
   * combines the two (it ignores NULLs unless both sides are NULL — exactly
   * the first-row semantics wanted). Max is idempotent and
   * order-insensitive, so the result is deterministic under any
   * partitioning, like the integer prefix sums.
   */
  def withGlobalPrefixMax(
      df: DataFrame,
      order: Seq[Column],
      value: Column,
      rankCol: String,
      nCol: String,
      prefixCol: String,
      partitions: Int = 0): DataFrame = {
    val tagged = tagByRange(df.withColumn("_gm_v", value.cast("long")), order,
      partitions)
    val counts = tagged.groupBy(col("_gr_pid"))
      .agg(max(col("_gr_lrn")).as("_gr_cnt"), max(col("_gm_v")).as("_gm_pmax"))
    val offsets = counts
      .withColumn("_gr_off", coalesce(sum(col("_gr_cnt")).over(wPrefix), lit(0L)))
      .withColumn("_gr_n", sum(col("_gr_cnt")).over(wAll))
      .withColumn("_gm_voff", max(col("_gm_pmax")).over(wPrefix))
      .select(col("_gr_pid"), col("_gr_off"), col("_gr_n"), col("_gm_voff"))

    val wLocalExcl = Window.partitionBy(col("_gr_pid")).orderBy(col("_gr_lrn"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tagged
      .join(broadcast(offsets), "_gr_pid")
      .withColumn(rankCol, col("_gr_lrn") + col("_gr_off"))
      .withColumn(nCol, col("_gr_n"))
      .withColumn(prefixCol, greatest(
        max(col("_gm_v")).over(wLocalExcl), col("_gm_voff")))
      .drop("_gr_pid", "_gr_lrn", "_gr_off", "_gr_n", "_gm_v", "_gm_voff")
  }

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
