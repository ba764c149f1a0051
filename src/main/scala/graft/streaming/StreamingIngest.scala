package graft.streaming

import graft.ingest.FeedIngest
import graft.model.FeedSpec
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Structured Streaming re-expression of the reference's polled batch loop
 * (process_raw_dump, ua2sql.py:250–278) — SURVEY.md §2.J.
 *
 * Mapping from the reference's moving parts:
 *  - 5 s job-poll loop (ua2sql.py:263–265)  → file-source micro-batches with
 *    `Trigger.AvailableNow` (drain-and-stop, like one daily run) or
 *    `ProcessingTime` (continuous).
 *  - job ledger continuation (ua2sql.py:165–176, 278) → the checkpoint's
 *    offset/commit logs; no hand-rolled high-watermark.
 *  - at-least-once duplicate window (crash between load and ledger append,
 *    ua2sql.py:274–278) → `dropDuplicatesWithinWatermark` over the feed's
 *    natural key: exactly-once output for any replayed input inside the
 *    watermark.
 *  - staging cleanup (remove_files_in_directory, ua2sql.py:180–184) →
 *    `cleanSource` option on the file source.
 *
 * The reference never had a late-data story (Unity jobs carry explicit
 * time ranges); here lateness beyond the watermark is dropped — a
 * documented semantic delta (SURVEY.md §2.J).
 */
object StreamingIngest {

  val DefaultWatermark = "1 hour"

  /**
   * Streaming scan of a feed staging directory: explicit wire schema
   * (same lossy-projection semantics as batch, §1.3), epoch-ms → UTC
   * timestamps, watermark + natural-key dedup.
   */
  def streamFeed(spark: SparkSession, feed: FeedSpec, stagingDir: String,
                 watermark: String = DefaultWatermark,
                 cleanSource: Boolean = false): DataFrame = {
    val reader = spark.readStream
      .schema(feed.wire)
      .option("maxFilesPerTrigger", "64")
    val withClean =
      if (cleanSource) reader.option("cleanSource", "delete") else reader
    FeedIngest.normalize(withClean.json(stagingDir))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(feed.naturalKey.head, feed.naturalKey.tail: _*)
  }

  /**
   * Partitioned parquet sink via foreachBatch (the shape a JDBC/warehouse
   * sink takes too — swap the batch writer). AvailableNow = one
   * reference-style "daily run" that drains everything staged and stops.
   */
  def sinkToParquet(df: DataFrame, feed: FeedSpec, root: String,
                    checkpoint: String): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batchId-scoped overwrite: a replayed micro-batch (crash between
        // sink write and checkpoint commit) rewrites its own directory
        // instead of appending duplicates — exactly-once end to end.
        FeedIngest.writePartitioned(batch, feed, root, s"batch-$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Tumbling-window event rollup (watermarked, append-safe). */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String,
                     every: String, watermark: String = DefaultWatermark): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), every), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Gap-based sessionization — the streaming face of q15_sessions. */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    gap: String, watermark: String = DefaultWatermark): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /**
   * Streaming incremental dedup — the stream-static face of the batch
   * q64_incremental_dedup: arriving documents join anti against a STATIC
   * corpus fingerprint table, so only content never seen in the corpus
   * flows on. The static side is a plain DataFrame (at warehouse scale, a
   * parquet/bucketed fingerprint table re-read per micro-batch — Spark
   * re-plans the static side each batch, so a corpus refreshed between
   * batches is picked up without restarting the query). Combined with
   * `dropDuplicatesWithinWatermark` upstream this gives: no dups within
   * the stream (watermark-bounded state) AND no dups against history
   * (stateless anti-join, no state-store growth — the corpus is the
   * state, stored where it belongs).
   */
  def dedupAgainstCorpus(stream: DataFrame, corpusFingerprints: DataFrame,
                         textCol: String): DataFrame = {
    val fp = corpusFingerprints.select(col("text_md5"))
    stream.withColumn("text_md5", md5(col(textCol)))
      .join(fp, Seq("text_md5"), "left_anti")
  }

  /**
   * Incremental NEAR-dup gate with a persistent LSH index — the streaming
   * operating mode of q85, for use inside `foreachBatch`: each arriving
   * document batch is shingled, MinHash-signed and banded with the SAME
   * family as the batch dedup operators (graft.ops.DedupQueries helpers),
   * its band rows join the parquet band index (strictly new×index — the
   * archive is never re-deduped), band-collision candidates are verified
   * by estimated Jaccard (fraction of agreeing signature slots — the
   * 64-int signature is the persisted verify structure, so the index
   * stores ~288 bytes/doc and NO text), and only the surviving documents'
   * bands + signatures are appended to the index. State lives where
   * cross-batch state belongs at scale: parquet tables keyed by
   * (band, bkey) — bucketed at warehouse scale — not in the streaming
   * state store, so index size never pressures checkpoint state and a
   * re-run of the same batch is idempotent BY CONSTRUCTION only after
   * its append lands; callers needing exactly-once wrap the append in
   * the foreachBatch (batchId, commit-log) pattern used by
   * [[sinkToParquet]].
   *
   * Returns the accepted subset of `docs` (schema preserved).
   */
  def lshNearDupGate(docs: DataFrame, indexRoot: String,
                     estJaccardThreshold: Double = 0.5): DataFrame = {
    import graft.ops.{DedupQueries, Pin}
    val spark = docs.sparkSession
    val rows = DedupQueries.shingleRowsOf(docs)
    val hashed = rows.select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    val sigs = Pin(DedupQueries.minhashSignatures(hashed))
    val bands = DedupQueries.bandsOf(sigs)
    val bandsPath = s"$indexRoot/bands"
    val sigsPath = s"$indexRoot/sigs"
    def readOr(path: String, empty: => DataFrame): DataFrame = {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(hPath)) spark.read.parquet(path) else empty
    }
    val idxBands = readOr(bandsPath, bands.limit(0))
      .toDF("i_doc", "band", "bkey")
    val idxSigs = readOr(sigsPath, sigs.limit(0)).toDF("i_doc", "i_sig")
    val cand = bands.join(idxBands, Seq("band", "bkey"))
      .select(col("doc_id"), col("i_doc")).distinct()
    // Verify on signatures only (the candidate set is band-pruned, so the
    // interpreted slot-compare fold touches few rows).
    val dropIds = cand
      .join(sigs, "doc_id").join(idxSigs, "i_doc")
      .withColumn("est",
        expr("aggregate(zip_with(sig, i_sig, (x, y) -> IF(x = y, 1, 0)), 0, (a, v) -> a + v)")
          .cast("double") / size(col("sig")))
      .filter(col("est") >= estJaccardThreshold)
      .select(col("doc_id")).distinct()
    val kept = Pin(docs.join(dropIds, Seq("doc_id"), "left_anti"))
    val keptIds = kept.select(col("doc_id"))
    bands.join(keptIds, Seq("doc_id"), "left_semi")
      .write.mode("append").parquet(bandsPath)
    sigs.join(keptIds, Seq("doc_id"), "left_semi")
      .write.mode("append").parquet(sigsPath)
    kept
  }

  /**
   * Watermarked stream-stream inner join — the streaming face of the
   * batch as-of/attribution queries (q23/q25): purchases join to the
   * clicks that preceded them within `within`, as BOTH sides arrive.
   * Correctness at scale rests on the two things Spark needs to bound
   * buffered state: a watermark on each side (how late either stream can
   * be) and a time-range join condition (how long a click stays
   * joinable). Together they let the state store evict a click once
   * `click_ts + within` passes the purchase-side watermark — without the
   * range bound the join would buffer every click forever. State is
   * partitioned by the equi-join key, so it scales out with executors
   * like any shuffle.
   */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
                       userCol: String, tsCol: String,
                       within: String = "30 minutes",
                       watermark: String = DefaultWatermark): DataFrame = {
    val c = clicks.select(col(userCol).as("user"), col(tsCol).as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col(userCol).as("p_user"), col(tsCol).as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
        col("user") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $within"))
      .select(col("user"), col("click_ts"), col("purchase_ts"))
  }

  /**
   * Stateless streaming curation gate — the quality + repetition filter
   * applied to a document stream as it lands: rows below `minQuality`
   * (q38/q68's formula) or above `maxTopWordShare` (q69's boilerplate
   * signal) are dropped at the micro-batch map stage. The column
   * definitions are SHARED with the batch queries
   * (graft.ops.TextQueries.withQuality / topWordShare), so batch and
   * stream provably score identically — StreamingSpec pins the
   * equivalence. Pure per-row projections ⇒ no watermark, no state
   * store; chain with `dropDuplicatesWithinWatermark` and
   * [[dedupAgainstCorpus]] for the full arrival-time curation pipeline.
   */
  def curationGate(docs: DataFrame, minQuality: Double,
                   maxTopWordShare: Double): DataFrame = {
    val withChars =
      if (docs.columns.contains("n_chars")) docs
      else docs.withColumn("n_chars", length(col("text")).cast("long"))
    graft.ops.TextQueries.withQuality(withChars)
      .withColumn("w", split(lower(col("text")), " "))
      .withColumn("top_word_share", graft.ops.TextQueries.topWordShare)
      .filter(col("quality") >= minQuality && col("top_word_share") <= maxTopWordShare)
      .drop("w")
  }

  /**
   * Stateless streaming anomaly gate — q98's volume-anomaly detector at
   * arrival time: each micro-batch's (key, window) counts are z-scored
   * against a BROADCAST frame of historical per-key moments (n, Σx, Σx²
   * from the batch warehouse — exactly the integer-moment form q98
   * computes, so batch and stream score identically) and windows beyond
   * `zLimit` are flagged. The stats frame is static per trigger ⇒ a
   * stream-static broadcast join, no state store; refresh it by
   * restarting the query or via foreachBatch re-read at the cadence the
   * warehouse re-aggregates.
   */
  def anomalyGate(events: DataFrame, tsCol: String, keyCol: String,
                  stats: DataFrame, windowLen: String,
                  zLimit: Double): DataFrame = {
    val nD = col("n").cast("double")
    val mean = col("sx").cast("double") / nD
    // sd from the EXACT integer moments: Var = (n·Σx² − (Σx)²)/(n(n−1)).
    // The numerator is computed in integer arithmetic BEFORE the double
    // cast, so when the hasVariance branch below selected this
    // expression, the radicand is a positive-integer quotient — the
    // float subtraction that could cancel to ≤0 (and make sd 0 or NaN,
    // with NaN passing abs(z) > zLimit) never happens.
    val sd = sqrt((col("n") * col("sx2") - col("sx") * col("sx")).cast("double")
      / (col("n") * (col("n") - 1)).cast("double"))
    // Keys whose history can't define a deviation are unscoreable and
    // must not reach the division: n=1 makes sd = sqrt(0/0) = NaN, and in
    // Spark NaN compares GREATER than any number, so an unguarded
    // abs(z) > zLimit would flag every window of a single-sample key.
    // Zero variance (sd = 0) with a deviating count IS an anomaly —
    // scored as signed infinity, not NaN; an exactly-on-mean count is 0.
    // The variance branch tests the EXACT integer moments (n·Σx² − (Σx)²,
    // q98's predicate), not `sd > 0` — the same integer form sd's
    // radicand numerator uses, so branch and value cannot disagree.
    val scoreable = stats.filter(col("n") >= 2)
    val hasVariance =
      col("n") * col("sx2") - col("sx") * col("sx") > 0
    val xd = col("x").cast("double")
    events
      .withWatermark(tsCol, "10 minutes")
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("x"))
      .join(broadcast(scoreable), keyCol)
      .withColumn("z",
        when(hasVariance, (xd - mean) / sd)
          .when(xd === mean, lit(0.0))
          .otherwise(signum(xd - mean) * lit(Double.PositiveInfinity)))
      .filter(abs(col("z")) > zLimit)
      .select(col(keyCol), col("window"), col("x").as("n_events"), col("z"))
  }

  /**
   * Per-window trending top-k — the "what is spiking right now" query,
   * shaped for `foreachBatch`: count keys per tumbling window inside the
   * micro-batch, then keep each window's k heaviest through the custom
   * GroupTopK plan operator (partial bounded heaps map-side, one exchange
   * of ≤ tasks × windows × k rows — the same operator the batch queries
   * q44/q51/q80 ride, executing unchanged inside a streaming batch).
   * Per-batch semantics are deliberate: trend detection wants "top keys
   * among THIS trigger's arrivals"; cross-batch totals are
   * [[tumblingCounts]]'s job.
   */
  def trendingTopK(batch: DataFrame, tsCol: String, keyCol: String,
                   windowLen: String, k: Int): DataFrame = {
    val counts = batch
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
    graft.plans.GroupTopK(counts, Seq(col("window")),
        Seq(col("n").desc, col(keyCol).asc), k)
      .select(col("window"), col(keyCol), col("n"))
  }

  /**
   * Cross-batch count–min accumulator for `foreachBatch` — the streaming
   * face of q110. Each micro-batch reduces distributedly to ONE grid row
   * (the same TypedImperativeAggregate the batch query uses); the driver
   * adds grids elementwise, so the running frequency state is depth×width
   * longs REGARDLESS of stream length — no per-key state store, no
   * growth. Because merge is elementwise addition, the accumulated grid
   * is bit-identical to a single batch sketch over the concatenated
   * stream (pinned by StreamingSpec), which is the property that makes
   * estimates stable under any micro-batch slicing. The ~8 KB driver
   * state is control-plane data, same class as KMeans' k centroid rows.
   * Point queries (`estimate`) answer "how often has THIS key occurred so
   * far" with the classic CM guarantee: never under, over by ≤ 2N/width
   * w.h.p. — the gate a streaming curation run uses to cap runaway keys
   * (hot boilerplate, stuck clients) without tracking every key ever seen.
   */
  final class StreamingCountMin(depth: Int, width: Int) extends Serializable {
    private val grid = new Array[Long](depth * width)
    private var total = 0L

    /** Fold one micro-batch's keys in (runs one distributed aggregate). */
    def update(batch: DataFrame, keyCol: String): Unit = {
      val row = batch
        .agg(graft.functions.CountMin.sketch(col(keyCol), depth, width).as("sk"))
        .select(col("sk.n"), col("sk.cells")).head()
      total += row.getLong(0)
      val cells = row.getSeq[Long](1)
      var i = 0
      while (i < grid.length) { grid(i) += cells(i); i += 1 }
    }

    def n: Long = total

    def estimate(key: String): Long = {
      var best = Long.MaxValue
      var d = 0
      while (d < depth) {
        val c = grid(d * width + graft.functions.CountMin.bucket(d, key, width))
        if (c < best) best = c
        d += 1
      }
      if (best == Long.MaxValue) 0L else best
    }

    /** The raw grid (row-major), for parity checks against a batch sketch. */
    def cells: Seq[Long] = grid.toSeq
  }

  /**
   * Cross-batch mergeable quantile sketch — q125's bottom-k-by-hash sample
   * maintained incrementally over micro-batches in `foreachBatch`. Each
   * update runs ONE distributed GroupTopK over the arriving batch (bounded
   * heaps; only k rows per group per task cross the wire), and the driver
   * retains groups × k (priority, id, value) entries — control-plane
   * state, same footprint class as the count-min grid above. Bottom-k by
   * a deterministic hash is a MERGEABLE sketch: bottom-k(A ∪ B) =
   * bottom-k(bottom-k(A) ∪ bottom-k(B)), so the accumulated state after
   * ANY micro-batch slicing equals the one-shot batch sketch of the whole
   * stream (StreamingSpec pins this), and quantile reads are therefore
   * replay-consistent. Estimates are q125's order statistics: exact
   * selection over the retained sample, ±O(1/√k) CDF error.
   */
  final class StreamingBottomK(k: Int) extends Serializable {
    private var state = Map.empty[String, Vector[(String, Long, Double)]]

    /** Fold one micro-batch (group, id, value) in. */
    def update(batch: DataFrame, groupCol: String, idCol: String, valueCol: String): Unit = {
      val hashed = batch.select(
          col(groupCol).cast("string").as("g"),
          col(idCol).cast("long").as("id"),
          col(valueCol).cast("double").as("v"))
        .filter(col("v").isNotNull)
        .withColumn("h", md5(concat(col("id").cast("string"), lit(":qs"))))
      val top = graft.plans.GroupTopK(hashed,
          Seq(col("g")), Seq(col("h").asc, col("id").asc), k)
        .select("g", "h", "id", "v").collect()
      val incoming = top
        .map(r => (r.getString(0), (r.getString(1), r.getLong(2), r.getDouble(3))))
        .groupBy(_._1).map { case (g, rows) => g -> rows.map(_._2).toVector }
      state = (state.keySet ++ incoming.keySet).iterator.map { g =>
        // distinct guards idempotent replay of an already-folded batch
        // (foreachBatch is at-least-once); (h, id) is the unique priority.
        val merged = (state.getOrElse(g, Vector.empty) ++ incoming.getOrElse(g, Vector.empty))
          .distinct.sortBy(t => (t._1, t._2)).take(k)
        g -> merged
      }.toMap
    }

    def groups: Set[String] = state.keySet
    def sampleSize(g: String): Int = state.getOrElse(g, Vector.empty).size

    /** Retained (priority, id) set — for merge-parity checks. */
    def retained(g: String): Vector[(String, Long)] =
      state.getOrElse(g, Vector.empty).map(t => (t._1, t._2))

    /** q125's estimator: 1-based order statistic at ceil(q·n), q ∈ (0, 1]
      * (q small enough that ceil(q·n) = 0 would index before the first
      * order statistic — reject rather than underflow). */
    def quantile(g: String, q: Double): Option[Double] = {
      require(q > 0.0 && q <= 1.0, s"quantile q must be in (0, 1], got $q")
      val vs = state.getOrElse(g, Vector.empty).map(_._3).sorted
      if (vs.isEmpty) None
      else Some(vs(math.max(1, math.ceil(q * vs.size).toInt) - 1))
    }
  }

  /** Per-key running state for one update cycle. */
  final case class KeyState(key: String, totalEvents: Long, batches: Long)

  /** Token-bucket state carried between micro-batches by [[rateLimitGate]]:
    * tokens remaining and the event-time the bucket was last advanced to. */
  final case class BucketState(tokens: Double, lastMs: Long)

  /** One admission decision from [[rateLimitGate]]. */
  final case class Admission(key: String, id: Long, ms: Long, admitted: Boolean)

  /**
   * Per-key EVENT-TIME token-bucket admission control — the quota /
   * rate-limit gate an ingest pipeline puts in front of a hot source so
   * one feed can't starve the rest (a per-source fairness knob, not a
   * dedup: every event gets an explicit admit/reject decision row).
   *
   * Bucket semantics: capacity `capacity` tokens, refilled at
   * `refillPerSec` scaled by EVENT-time progress (deterministic and
   * replayable — a processing-time bucket would admit a different set on
   * every run; the trade is that a burst with identical timestamps
   * refills nothing, which is exactly what a quota should do). Admission
   * consumes one token. Events within a micro-batch are sorted by
   * (ms, id) before the fold, so per-batch decisions are deterministic;
   * across batches the usual streaming stance applies (arrival order,
   * no retroactive replay). State is one (tokens, lastMs) pair per key
   * in the checkpointed store — O(keys), bounded.
   */
  def rateLimitGate(spark: SparkSession, events: DataFrame,
                    keyCol: String, idCol: String, msCol: String,
                    capacity: Double, refillPerSec: Double): Dataset[Admission] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    events.select(col(keyCol).cast("string").as("k"),
        col(idCol).cast("long").as("id"), col(msCol).cast("long").as("ms"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, Admission](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[BucketState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var st = state.getOption.getOrElse(
            BucketState(capacity, sorted.headOption.map(_._3).getOrElse(0L)))
          val out = sorted.map { case (_, id, ms) =>
            val advanced = math.max(0L, ms - st.lastMs)
            val refilled = math.min(capacity,
              st.tokens + advanced / 1000.0 * refillPerSec)
            val admit = refilled >= 1.0
            st = BucketState(if (admit) refilled - 1.0 else refilled,
              math.max(st.lastMs, ms))
            Admission(key, id, ms, admit)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Funnel progress for one user: highest stage reached (0 none,
    * 1 view, 2 view→click, 3 view→click→purchase) and when. */
  final case class FunnelState(userId: String, stage: Int, stageMs: Long)

  /**
   * Streaming face of the batch funnel (q57_funnel): per-user ordered
   * view → click → purchase progression tracked as arbitrary state.
   * A stage only advances on an event of the next type with a strictly
   * later timestamp; events within a micro-batch are sorted by timestamp
   * first, and stale events can never regress state. One snapshot is
   * emitted per stage ADVANCE (not per batch), so a downstream per-stage
   * count over the append stream sees every transition.
   *
   * Semantic delta vs the batch twin, stated plainly: ordering is exact
   * within a micro-batch but arrival-order across batches — an event that
   * arrives in a later batch than a logically-later event it should have
   * preceded (e.g. the click lands a batch after the purchase) is not
   * retroactively applied; exact retroactive ordering would need unbounded
   * per-user event buffering. This is the same late-data stance as the
   * rest of the streaming module (lateness beyond the watermark is
   * dropped); q57 is the exact batch reconciliation.
   *
   * State lifecycle: pass `idleTimeout = Some(duration)` for long-running
   * deployments — per-user state then lapses after that much
   * processing-time inactivity; without it, state accumulates one entry
   * per user EVER seen (including fully-converted users who can never
   * advance again) and the state store grows without bound. The default
   * stays None because a processing-time timeout keeps a drain-and-stop
   * (`processAllAvailable`) run spinning on timeout-only batches — use it
   * with continuous triggers.
   */
  def funnelStages(spark: SparkSession, events: DataFrame,
                   userCol: String, typeCol: String, msCol: String,
                   idleTimeout: Option[String] = None): Dataset[FunnelState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val next = Map(0 -> "view", 1 -> "click", 2 -> "purchase")
    val timeoutConf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
                      else GroupStateTimeout.NoTimeout()
    events.select(col(userCol).cast("string").as("u"),
        col(typeCol).cast("string").as("t"), col(msCol).cast("long").as("ms"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelState](
        OutputMode.Append(), timeoutConf) {
        (user: String, rows: Iterator[(String, String, Long)],
         state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelState(user, 0, Long.MinValue))
            val snapshots = Seq.newBuilder[FunnelState]
            rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, t, ms) =>
              if (st.stage < 3 && next(st.stage) == t && ms > st.stageMs) {
                st = FunnelState(user, st.stage + 1, ms)
                snapshots += st
              }
            }
            val out = snapshots.result()
            if (out.nonEmpty) state.update(st)
            idleTimeout.foreach(d => if (state.exists) state.setTimeoutDuration(d))
            out.iterator
          }
      }
  }

  /**
   * Arbitrary stateful processing via flatMapGroupsWithState: a running
   * per-key event counter that emits an updated snapshot whenever a key
   * receives data — the escape hatch for state machines the built-in
   * windowed aggregations can't express (SURVEY.md §2.J). State lives in
   * the checkpointed state store, partitioned by key, so it scales with
   * executors like any shuffle — but is unbounded in TIME by design here
   * (a lifetime counter never expires); for state that should lapse,
   * follow funnelStages' idle-timeout pattern.
   */
  def statefulKeyCounts(spark: SparkSession, events: DataFrame,
                        keyCol: String): Dataset[KeyState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    events.select(col(keyCol).cast("string").as("k")).as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState[KeyState, KeyState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[String], state: GroupState[KeyState]) =>
          val prev = state.getOption.getOrElse(KeyState(key, 0L, 0L))
          val next = KeyState(key, prev.totalEvents + rows.size, prev.batches + 1)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Emitted by [[ttlDedupGate]] for each batch a key appears in. */
  final case class FirstSeen(key: String, emitted: Boolean, suppressed: Long)

  /** [[ttlDedupGate]]'s processor — Spark 4's `transformWithState` API
    * (the successor to flatMapGroupsWithState): typed state variables
    * created against a handle, with DECLARATIVE per-state TTL — the
    * store evicts expired entries itself, so the dedup horizon is
    * bounded without the manual timeout bookkeeping funnelStages does.
    * Requires the RocksDB state store provider (bundled with Spark);
    * state is checkpointed and key-partitioned like any other store. */
  private final class FirstSeenProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, String, FirstSeen] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig(ttl))

    override def handleInputRows(key: String, rows: Iterator[String],
                                 timerValues: TimerValues): Iterator[FirstSeen] = {
      val n = rows.size.toLong
      if (seen.exists()) Iterator.single(FirstSeen(key, emitted = false, n))
      else {
        seen.update(true)
        Iterator.single(FirstSeen(key, emitted = true, n - 1))
      }
    }
  }

  /** Accumulating session state for [[sessionCloseGate]]. */
  final case class SessAcc(startMs: Long, endMs: Long, n: Long)

  /** Emitted by [[sessionCloseGate]] when the watermark passes a
    * session's inactivity gap. */
  final case class ClosedSession(key: String, startMs: Long, endMs: Long, nEvents: Long)

  /** [[sessionCloseGate]]'s processor — the TIMER face of
    * transformWithState: per-key EVENT-TIME timers fire when the
    * watermark passes sessionEnd + gap, finalizing the session exactly
    * once. session_window (q127 / sessionCounts) aggregates; this is the
    * arbitrary-state form for when the close must run custom logic
    * (ledger append, notification, downstream handoff). Stale timers
    * (from a session later extended) are detected by re-checking the
    * CURRENT state's deadline at expiry. */
  private final class SessionCloseProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Long), ClosedSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var sess: ValueState[SessAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessAcc]("sess",
        org.apache.spark.sql.Encoders.product[SessAcc], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                 timerValues: TimerValues): Iterator[ClosedSession] = {
      var lo = Long.MaxValue; var hi = Long.MinValue; var n = 0L
      rows.foreach { case (_, ms) =>
        if (ms < lo) lo = ms
        if (ms > hi) hi = ms
        n += 1
      }
      val prev = if (sess.exists()) sess.get() else SessAcc(lo, hi, 0L)
      val next = SessAcc(math.min(prev.startMs, lo), math.max(prev.endMs, hi), prev.n + n)
      sess.update(next)
      getHandle.registerTimer(next.endMs + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
      if (!sess.exists()) Iterator.empty
      else {
        val st = sess.get()
        // A timer registered before the session was extended fires early:
        // the CURRENT deadline is the truth.
        if (expiredTimerInfo.getExpiryTimeInMs() >= st.endMs + gapMs) {
          sess.clear()
          Iterator.single(ClosedSession(key, st.startMs, st.endMs, st.n))
        } else Iterator.empty
      }
    }
  }

  /**
   * Event-time session finalization with timers: events accumulate into
   * per-key session state; when the WATERMARK passes last-event + gap,
   * the timer fires and the closed session is emitted exactly once.
   * Emission is driven by stream progress, not by new data for the key —
   * the semantics a ledger/handoff close-out needs (a key that goes
   * silent still closes). Input needs a watermarked event-time column;
   * state and timers shard by key like any shuffle.
   */
  def sessionCloseGate(spark: SparkSession, events: DataFrame, tsCol: String,
                       keyCol: String, gapMs: Long,
                       watermark: String): Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"),
        unix_millis(col(tsCol)).as("ms"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionCloseProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /**
   * Streaming first-occurrence gate with a bounded memory horizon: the
   * first time a key arrives (within the TTL) it is emitted; repeats are
   * suppressed and counted. The streaming face of exact dedup (q30) for
   * an UNBOUNDED stream — `dropDuplicatesWithinWatermark` bounds its
   * state by event-time watermark; this bounds it by state TTL instead,
   * which also works for keys that carry no event time at all (content
   * digests). At scale the state store shards by key exactly like a
   * shuffle, and TTL eviction keeps each shard's footprint proportional
   * to the distinct-key arrival rate × horizon, not stream length.
   */
  def ttlDedupGate(spark: SparkSession, events: DataFrame, keyCol: String,
                   ttl: java.time.Duration): Dataset[FirstSeen] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    events.select(col(keyCol).cast("string").as("k")).as[String]
      .groupByKey(identity)
      // TTL state requires TimeMode.ProcessingTime (expiry is judged
      // against the batch's processing clock).
      .transformWithState(new FirstSeenProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
