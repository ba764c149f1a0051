package graft.ingest

import graft.model.{FeedSpec, Schemas}
import org.apache.spark.sql.SparkSession

/**
 * Batch orchestration of one ingest cycle — the Spark face of the
 * reference's process_raw_dump (ua2sql.py:250–278) and its serial 3-feed
 * main loop (ua2sql.py:281–297).
 *
 * Differences by design:
 *  - feeds are independent, so `runAll` can run them as parallel Spark
 *    jobs (the reference serializes them only because it shares one
 *    staging dir and one DB connection);
 *  - the load is idempotent per jobId: the warehouse write lands under a
 *    jobId-scoped partition directory with OVERWRITE (plus natural-key
 *    dedup upstream), so re-running a run that crashed between the write
 *    and the ledger append replaces its own output — the reference's
 *    crash-between-load-and-ledger duplicate window (ua2sql.py:274–278)
 *    is closed, not merely narrowed, for the warehouse. The ledger append
 *    is a no-op for a (jobId, jobType) the ledger already holds, so a
 *    rerun is recorded once; the DB sink still appends its rows again;
 *  - the continuation lookup and the ledger append are driver-side reads
 *    and writes of the ledger's `_log` ([[Ledger]]), with no Spark job;
 *  - request/poll/download of the export job (ua2sql.py:95–161) is
 *    driver-side control I/O handled by [[graft.sources.UnityExportClient]];
 *    this function starts where bytes are staged locally.
 */
object Pipeline {

  final case class FeedRun(feed: FeedSpec, stagingDir: String, jobId: String)

  /**
   * Ledger continuation for a feed: the jobId to pass as `continueFrom`
   * (ua2sql.py:252–259); None → caller requests the initial 30-day window.
   * A driver-side read of the ledger's `_log` ([[Ledger.latest]]): no Spark
   * job, and `ledgerPath` may be a local path or any Hadoop URI.
   */
  def continuation(spark: SparkSession, ledgerPath: String, feed: FeedSpec): Option[String] =
    Ledger.latest(spark, ledgerPath, feed.name)

  /** One feed: staged NDJSON → normalize → dedup → partitioned warehouse →
    * optional DB load (create-first) → optional raw-dump backup → ledger
    * append → staging cleanup (exactly the E1 dataflow, ua2sql.py:250–278,
    * minus the HTTP legs).
    *
    * The DB load reads back the just-written parquet rather than re-running
    * scan+normalize+dedup, and projects exactly the feed's declared columns
    * (the warehouse adds partition columns the PG schema doesn't have). */
  def runFeed(spark: SparkSession, run: FeedRun, warehouseRoot: String,
              ledgerPath: String, paritySeconds: Boolean = false,
              cleanStaging: Boolean = false,
              dbSink: Option[graft.sink.BatchSink] = None,
              backupRoot: Option[String] = None,
              ensureDdl: Boolean = true): Long = {
    val df = FeedIngest.ingest(spark, run.feed, run.stagingDir, paritySeconds)
    // Count AFTER the write, from the written parquet: counting the
    // DataFrame first would execute the whole scan+normalize+dedup
    // pipeline twice (once for count, once for the write), while a
    // parquet count is footer metadata only.
    val dir = FeedIngest.writePartitioned(df, run.feed, warehouseRoot, run.jobId)
    val n = spark.read.parquet(dir).count()
    dbSink.foreach { s => // rows into PostgreSQL, ua2sql.py:209–246
      // ensureDdl=false when the caller (runAll) already ran the DDL
      // serially: PostgreSQL's CREATE TABLE IF NOT EXISTS is not
      // concurrency-safe (concurrent creates race to a pg_type/pg_class
      // duplicate-key error), so parallel feeds must not each fire it.
      if (ensureDdl) s.ensureTable(run.feed)
      val cols = run.feed.table.fieldNames.toSeq
      s.write(spark.read.parquet(dir).select(cols.head, cols.tail: _*), run.feed.name)
      // DB-side continuation ledger, after the load it records
      // (ua2sql.py:277–278) — without this row the reference's
      // find_previous_job_id sees a permanently empty "JobId" table.
      s.appendJob(run.jobId, run.feed.name)
    }
    backupRoot.foreach(Backup.copyRawDump(run.feed.name, run.stagingDir, _))
    Ledger.append(spark, ledgerPath, run.jobId, run.feed.name)
    if (cleanStaging) FeedIngest.clearStaging(run.stagingDir) // ua2sql.py:275
    n
  }

  /** All three reference feeds (ua2sql.py:293–295), submitted concurrently
    * (independent Spark jobs share the cluster; the reference serialized
    * them only because of its single staging dir + DB connection). */
  def runAll(spark: SparkSession, runs: Seq[FeedRun], warehouseRoot: String,
             ledgerPath: String,
             dbSink: Option[graft.sink.BatchSink] = None,
             backupRoot: Option[String] = None): Map[String, Long] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // All DDL up front, serially: IF NOT EXISTS is not concurrency-safe
    // in PostgreSQL, so the per-feed creates (and the shared "JobId"
    // ledger create) must not race across the parallel feed futures.
    dbSink.foreach(s => runs.foreach(r => s.ensureTable(r.feed)))
    val fs = runs.map(r => Future(
      r.feed.name -> runFeed(spark, r, warehouseRoot, ledgerPath,
        dbSink = dbSink, backupRoot = backupRoot, ensureDdl = false)))
    Await.result(Future.sequence(fs), Duration.Inf).toMap
  }

  def feeds: Seq[FeedSpec] = Schemas.feeds
}
