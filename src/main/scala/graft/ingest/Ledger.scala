package graft.ingest

import com.fasterxml.jackson.databind.ObjectMapper
import graft.model.Schemas
import java.io.{BufferedReader, FileNotFoundException, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.time.temporal.ChronoUnit
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * Job ledger — the reference's `JobId` table (ua2sql.py:39–44) plus its
 * latest-per-key lookup (find_previous_job_id, ua2sql.py:165–176).
 *
 * The reference answers the lookup with one indexed SQL query. Here the
 * ledger is a driver-side metadata log in the style of Structured
 * Streaming's (SIGMOD 2018): a lookup or an append launches no Spark job
 * and reads at most [[CompactInterval]] small files, however old the
 * ledger is. Layout under `<path>/_log/` (the `_` prefix keeps Spark's
 * parquet listing of `<path>` from seeing it):
 *  - `<seq>`: one appended entry, one JSON line
 *    `{"ts":<epoch micros>,"jobId":…,"jobType":…}`;
 *  - `<seq>.compact` for every seq divisible by [[CompactInterval]]: the
 *    whole ledger up to and including that entry. Once it is written, the
 *    deltas and the older compact file it covers are deleted.
 *
 * Every file is written with `CheckpointFileManager.createAtomic` (temp
 * file + rename, never overwriting), so a writer in another process that
 * loses a seq re-reads the log and retries with the next one; in one JVM a
 * lock orders the writers. (On the local file system the no-overwrite
 * check and the rename are two steps, so two processes racing for one seq
 * there are not excluded.) All paths go through Hadoop `FileSystem`, so
 * `file:` and `hdfs:` URIs work.
 *
 * A ledger written before the log existed (parquet, one file per append)
 * is folded into `_log/0.compact` once, by one Spark read, the first time
 * any call touches it. From then on the log is the only source of truth
 * and the parquet files are never read again.
 */
object Ledger {

  /** One ledger row; `ts` is epoch microseconds, a Spark timestamp's precision. */
  private final case class Entry(ts: Long, jobId: String, jobType: String)

  /** Every 10th seq is a compact file: a lookup reads ≤ 10 files. */
  private val CompactInterval = 10
  private val EntryFile = """(\d+)(\.compact)?""".r
  private val json = new ObjectMapper()

  /** The ledger as a [[Schemas.jobLedger]] frame, built on the driver from the log. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val rows = new Log(spark, path).current().entries.map { e =>
      Row(java.sql.Timestamp.from(Instant.EPOCH.plus(e.ts, ChronoUnit.MICROS)), e.jobId, e.jobType)
    }
    spark.createDataFrame(rows.asJava, Schemas.jobLedger)
  }

  /**
   * find_previous_job_id (ua2sql.py:165–176) on the driver: the newest
   * jobId for one jobType, ties on `ts` going to the larger jobId as in
   * [[latestJobId]] and [[latestPerType]]. Launches no Spark job.
   */
  def latest(spark: SparkSession, path: String, jobType: String): Option[String] =
    new Log(spark, path).current().entries.filter(_.jobType == jobType)
      .maxByOption(e => (e.ts, e.jobId)).map(_.jobId)

  /**
   * The same lookup over a ledger frame. Catalyst plans the single-key form
   * as TakeOrderedAndProject — no full sort, no full shuffle.
   */
  def latestJobId(ledger: DataFrame, jobType: String): Option[String] =
    ledger.filter(col("jobType") === jobType)
      .orderBy(col("ts").desc, col("jobId").desc)
      .limit(1)
      .collect()
      .headOption
      .map(_.getAs[String]("jobId"))

  /**
   * All feeds at once — the generalized "latest record per key" operator
   * (one shuffle, no per-key driver loop; scales to any key count).
   */
  def latestPerType(ledger: DataFrame): DataFrame = {
    val w = Window.partitionBy("jobType").orderBy(col("ts").desc, col("jobId").desc)
    ledger.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Ledger append after a successful load (ua2sql.py:278). Appending a
    * (jobId, jobType) the ledger already holds is a no-op, so a rerun of a
    * job is recorded once. The JVM-wide lock orders `Pipeline.runAll`'s
    * concurrent feed appends, which would otherwise all pick the same seq. */
  def append(spark: SparkSession, path: String, jobId: String, jobType: String): Unit =
    lock.synchronized {
      val log = new Log(spark, path)
      @tailrec def attempt(): Unit = {
        val s = log.current()
        if (!s.entries.exists(e => e.jobId == jobId && e.jobType == jobType)) {
          val seq = s.seq + 1
          val e = Entry(ChronoUnit.MICROS.between(Instant.EPOCH, Instant.now()), jobId, jobType)
          val compact = seq % CompactInterval == 0
          if (!log.create(seq, if (compact) s.entries :+ e else Seq(e))) attempt()
          else if (compact) log.dropBefore(seq)
        }
      }
      attempt()
    }

  private object lock

  /** The newest seq (-1 for an empty log) and every entry, oldest first. */
  private final case class Snapshot(seq: Long, entries: Vector[Entry])

  private final case class LogFile(seq: Long, compact: Boolean, path: Path)

  private final class Log(spark: SparkSession, root: String) {
    private val dir = new Path(root, "_log")
    // The FileSystem-based manager, not the FileContext one that
    // `CheckpointFileManager.create` picks: without Hadoop's native library
    // a FileContext rename on the local file system forks `stat` for each
    // path it checks, 35 ms per entry file against 7 ms on a 4-vCPU Linux
    // VM. On HDFS a FileSystem rename onto an existing file fails, so
    // no-overwrite still holds there.
    private val fm: CheckpointFileManager =
      new FileSystemBasedCheckpointFileManager(dir, spark.sessionState.newHadoopConf())

    private def files(): Seq[LogFile] =
      if (!fm.exists(dir)) Nil
      else fm.list(dir).toSeq.map(_.getPath).flatMap { p =>
        p.getName match {
          case EntryFile(seq, c) => Some(LogFile(seq.toLong, c != null, p))
          case _ => None
        }
      }

    /** The newest compact file plus the deltas after it. A file that
      * another process's compaction deleted between the listing and the
      * read sends the read round again. */
    @tailrec def snapshot(): Snapshot = {
      val fs = files()
      val base = fs.filter(_.compact).maxByOption(_.seq)
      val live = base.toSeq ++
        fs.filter(f => !f.compact && f.seq > base.fold(-1L)(_.seq)).sortBy(_.seq)
      val read = try Some(live.flatMap(f => parse(f.path)))
        catch { case _: FileNotFoundException => None }
      read match {
        case Some(es) => Snapshot(fs.map(_.seq).maxOption.getOrElse(-1L), es.toVector)
        case None => snapshot()
      }
    }

    /** The log, after folding a legacy parquet ledger into `0.compact` if
      * the log is still empty. The fold runs under the lock, so the
      * concurrent first touches of one JVM fold once; a path without
      * parquet part files folds without a Spark job. */
    def current(): Snapshot = {
      val s = snapshot()
      if (s.seq >= 0) s else lock.synchronized {
        val again = snapshot()
        if (again.seq >= 0 || !hasLegacyFiles) again
        else {
          val legacy = spark.read.schema(Schemas.jobLedger).parquet(root)
            .select(unix_micros(col("ts")), col("jobId"), col("jobType"))
            .collect()
            .map(r => Entry(r.getLong(0), r.getString(1), r.getString(2)))
          create(0, legacy.toSeq)
          snapshot()
        }
      }
    }

    private def hasLegacyFiles: Boolean = {
      val r = new Path(root)
      fm.exists(r) && fm.list(r).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    }

    /** Writes seq's file (a compact file for every [[CompactInterval]]-th
      * seq); false when another writer already holds that seq. */
    def create(seq: Long, entries: Seq[Entry]): Boolean = {
      fm.mkdirs(dir)
      val name = if (seq % CompactInterval == 0) s"$seq.compact" else seq.toString
      val out = fm.createAtomic(new Path(dir, name), false)
      try {
        val w = new OutputStreamWriter(out, UTF_8)
        entries.foreach { e =>
          w.append(json.createObjectNode().put("ts", e.ts)
            .put("jobId", e.jobId).put("jobType", e.jobType).toString).append('\n')
        }
        w.close() // renames the temp file into place
        true
      } catch {
        case _: FileAlreadyExistsException => false
        case NonFatal(t) => out.cancel(); throw t
      }
    }

    /** Deletes the deltas and the older compact file that `seq`'s compact covers. */
    def dropBefore(seq: Long): Unit = files().filter(_.seq < seq).foreach(f => fm.delete(f.path))

    private def parse(p: Path): Seq[Entry] = {
      val in = new BufferedReader(new InputStreamReader(fm.open(p), UTF_8))
      try in.lines().iterator().asScala.filter(_.nonEmpty).map { l =>
        val n = json.readTree(l)
        Entry(n.get("ts").asLong, n.get("jobId").textValue, n.get("jobType").textValue)
      }.toVector
      finally in.close()
    }
  }
}
