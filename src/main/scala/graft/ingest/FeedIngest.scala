package graft.ingest

import graft.model.FeedSpec
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Batch ingestion of Unity-style NDJSON export feeds, re-expressing the
 * reference's download→transform→load loop (ua2sql.py:209–278) as a
 * declarative Spark pipeline.
 *
 * Reference semantics preserved (SURVEY.md §1.3–1.4):
 *  - **Lossy schema projection** (ua2sql.py:226–235): reading with an
 *    explicit wire schema drops undeclared JSON fields and maps missing
 *    declared fields to NULL — byte-for-byte the reference's column
 *    intersection, with no inference.
 *  - **Epoch-ms → UTC timestamp** (ua2sql.py:232–233): `ts`/`submit_time`
 *    arrive as epoch milliseconds; the reference truncates to whole
 *    seconds via `time.gmtime(int(v)/1000)`. `normalize` keeps millisecond
 *    fidelity by default; `paritySeconds = true` reproduces the truncation.
 *  - **Gzip fan-out** (ua2sql.py:128–161): the reference downloads and
 *    gunzips each export file by hand; Spark's JSON source decompresses
 *    `.gz` natively and parallelizes across files, so ingest is just a
 *    glob — at cluster scale each file becomes ≥1 task with no driver
 *    involvement.
 *
 * Upgrades over the reference, by design (SURVEY.md §2 D2–D4):
 *  - `dedup` fixes the at-least-once duplication window (crash between
 *    final INSERT and ledger append, ua2sql.py:274–278) by dropping
 *    duplicate natural keys before the write.
 *  - `writePartitioned` lands Hive-style
 *    `jobType=<feed>/jobId=<id>/ingest_date=<d>` parquet instead of the
 *    hand-rolled `<root>/<jobType>/<YYYY-MM-DD>/` copy tree
 *    (ua2sql.py:188–204), enabling partition pruning and per-job
 *    idempotent overwrite.
 */
object FeedIngest {

  /**
   * Scan one feed's staging directory of (possibly gzipped) NDJSON.
   * FAILFAST matches the reference, which would raise on a corrupt line
   * (bare `json.loads`, ua2sql.py:222).
   */
  def readFeed(spark: SparkSession, feed: FeedSpec, path: String,
               failFast: Boolean = true): DataFrame =
    spark.read
      .schema(feed.wire)
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
      .json(path)

  /**
   * Quarantine scan — the production middle ground between the
   * reference's FAILFAST (one corrupt line kills the whole job,
   * ua2sql.py:222) and bare PERMISSIVE (corrupt lines silently become
   * all-NULL rows): parse with a corrupt-record column, split into
   * (good, quarantined) frames, and keep the raw text of every bad line
   * so the quarantine sink preserves evidence for replay after a fix.
   * The scan is cached before the split — Spark disallows filtering raw
   * JSON on only the internal corrupt column (SPARK-21610), and the two
   * consumers would otherwise re-parse the staging dir twice anyway.
   * Call [[QuarantineScan.release]] once both frames are consumed: the
   * cache otherwise pins the parsed dataset for the session's lifetime,
   * and a long-running per-batch ingest loop would accumulate pinned
   * blocks until storage pressure evicts the working set.
   */
  final case class QuarantineScan(good: DataFrame, quarantined: DataFrame,
                                  private val raw: DataFrame) {
    /** Unpersist the shared parse (frames re-parse if used afterwards). */
    def release(): Unit = { raw.unpersist(); () }
  }

  def readFeedQuarantine(spark: SparkSession, feed: FeedSpec,
                         path: String): QuarantineScan = {
    val corrupt = "_corrupt_record"
    val schema = org.apache.spark.sql.types.StructType(
      feed.wire.fields :+ org.apache.spark.sql.types.StructField(
        corrupt, org.apache.spark.sql.types.StringType))
    val raw = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path)
      .cache()
    val good = raw.filter(col(corrupt).isNull).drop(corrupt)
    val quarantined = raw.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"))
    QuarantineScan(good, quarantined, raw)
  }

  /**
   * Schema-evolution-tolerant scan over warehouse epochs whose parquet
   * schemas drifted (columns added/retired between backfills — the fate
   * of every long-lived feed): each epoch is read AS IT IS, the epochs
   * align by column NAME (`unionByName(allowMissingColumns = true)` —
   * absent columns become NULL, exactly the lossy-projection semantics
   * the wire scan applies per-row). The target projection runs PER EPOCH,
   * before the union: extras dropped, declared types via cast, stated
   * order — so epochs whose physical type drifted (int id → string id)
   * still align, which a bare unionByName would reject as incompatible.
   * Deliberately NOT `mergeSchema=true` on a single read: merge unions
   * the FOOTER schemas of every file — a driver-side footer sweep that
   * costs minutes at 100 TB and widens the scan to every column that
   * ever existed; per-epoch reads keep column pruning per epoch and make
   * the target projection explicit and testable.
   */
  def readEvolved(spark: SparkSession, paths: Seq[String],
                  target: org.apache.spark.sql.types.StructType): DataFrame =
    paths.map { p =>
      val df = spark.read.parquet(p)
      df.select(target.fields.toIndexedSeq.map { f =>
        (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)
      }: _*)
    }.reduce(_.union(_))

  /** Epoch-ms wire columns → UTC timestamps (ua2sql.py:232–233). */
  def normalize(df: DataFrame, paritySeconds: Boolean = false): DataFrame =
    FeedSpec.epochMillisColumns.foldLeft(df) { (d, c) =>
      if (!d.columns.contains(c)) d
      else {
        val t = timestamp_millis(col(c))
        d.withColumn(c, if (paritySeconds) date_trunc("second", t) else t)
      }
    }

  /** Exactly-once repair: one row per natural key (replayed export rows
    * are full-row identical, so which survivor is kept is immaterial). */
  def dedup(df: DataFrame, feed: FeedSpec): DataFrame =
    df.dropDuplicates(feed.naturalKey)

  /** Full ingest of one staged export: scan → normalize → dedup. */
  def ingest(spark: SparkSession, feed: FeedSpec, path: String,
             paritySeconds: Boolean = false): DataFrame =
    dedup(normalize(readFeed(spark, feed, path), paritySeconds), feed)

  /**
   * Date-partitioned analytics sink (supersedes backup_job_results,
   * ua2sql.py:188–204). Partition layout keys every downstream scan's
   * pruning; at 100 TB this is the difference between reading a day and
   * reading the archive.
   *
   * Each feed writes under its own `jobType=<feed>` directory (still the
   * Hive layout partition discovery expects) rather than `partitionBy`-ing
   * jobType into a shared root: concurrent feed loads then use disjoint
   * output-committer temp dirs, so they can run in parallel safely.
   *
   * The layout is uniformly `jobType=<feed>/jobId=<id>/ingest_date=<d>`
   * (one shape — mixing a flat and a jobId-scoped layout under one
   * jobType root breaks Spark's partition discovery, so there is no
   * optional flat mode). Each load is **idempotent per job**: its
   * directory is OVERWRITTEN, so re-running a job that crashed after the
   * write but before the ledger append replaces its own output instead of
   * appending duplicates — this (not just upstream dedup) is what closes
   * the reference's crash-between-load-and-ledger window
   * (ua2sql.py:274–278). Distinct jobs write disjoint directories, so
   * concurrency stays safe, and readers get jobId as a partition column —
   * per-load lineage for free.
   */
  /** Characters allowed in a jobId: it becomes a literal partition-path
    * segment, so anything else (esp. '/', '..', '%', ':') is either path
    * traversal — `jobId=x/../..` + OVERWRITE would delete the warehouse
    * root — or a value Hive partition decoding mangles. */
  private val SafeJobId = "[A-Za-z0-9._-]+".r

  /** Migration note: roots written by the pre-jobId flat layout
    * (`jobType=<feed>/ingest_date=<d>`) must be migrated once (move each
    * feed's date dirs under a `jobId=legacy` level) before new loads land
    * beside them — partition discovery rejects mixed depths. */
  def writePartitioned(df: DataFrame, feed: FeedSpec, root: String,
                       jobId: String): String = {
    require(SafeJobId.matches(jobId),
      s"jobId must match ${SafeJobId.regex}, got '$jobId'")
    val dir = s"$root/jobType=${feed.name}/jobId=$jobId"
    df.withColumn("ingest_date", to_date(col("ts")))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("ingest_date")
      .parquet(dir)
    dir
  }

  /**
   * Staging cleanup (remove_files_in_directory, ua2sql.py:180–184):
   * deletes files directly under `path` (non-recursive, like the
   * reference), used after a successful load and to clear a previous
   * failed run's leftovers (ua2sql.py:275, 286). Returns files removed.
   */
  def clearStaging(path: String): Int = {
    val dir = new java.io.File(path)
    if (!dir.isDirectory) 0
    else dir.listFiles.filter(_.isFile).count(_.delete())
  }
}

