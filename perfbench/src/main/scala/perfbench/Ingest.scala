package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import graft.ingest.{Backup, FeedIngest, Ledger, Pipeline}
import graft.model.{FeedSpec, Schemas}
import graft.sink.JdbcSink

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * `ingest_daily`: the reference's daily cadence with continuation. The
 * ledger starts with `LedgerDays` days of daily jobs; each op is
 * `Pipeline.continuation` for every feed, then `Pipeline.runAll` of a
 * one-day export with the raw-dump backup and the Derby DB leg. Fixed
 * per-cycle costs (ledger listing, Spark job and JDBC round trips) weigh as
 * much as the rows, so per-call overhead added for bulk throughput shows.
 */
final class Ingest(seed: Long, trace: Trace,
                   pool: java.util.concurrent.ExecutorService) extends Workload {
  import Ingest._

  /** First day loaded; the seed moves it. */
  private val firstDay = LocalDate.of(2025, 1, 1).plusDays(math.floorMod(seed, 180L))
  private val feeds: Seq[FeedSpec] = Schemas.feeds
  private val minPasses = 3

  private var dir: File = _
  private var staged: Seq[Staged] = Nil
  private var ledger: String = _
  private var warehouse: String = _
  private var derby: DerbyLeg = _
  private var sink: TimingSink = _
  private var expectedLast: Map[String, String] = Map.empty
  private var day = 0
  private val distinctLoaded = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val missingLoaded = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var extraSeen = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def prepare(spark: SparkSession, roundDir: File): Unit = {
    if (derby != null) derby.shutdown()
    dir = roundDir
    day = 0
    distinctLoaded.clear()
    missingLoaded.clear()
    extraSeen = 0L
    failures.clear()
    ledger = new File(dir, "ledger").getPath
    warehouse = new File(dir, "warehouse").getPath
    expectedLast = Gen.seedLedger(spark, ledger, seed, firstDay, LedgerDays)
    derby = new DerbyLeg(new File(dir, "derby").getPath)
    sink = new TimingSink(new JdbcSink(derby.url, Map.empty, batchSize = 1000,
      ddlRunner = Some(derby.ddl)), spark, trace)
    staged = nextDay()
  }

  /** The first daily cycle of the round (DDL, first Derby writes, JIT). */
  def warmup(spark: SparkSession): Unit = {
    cycle(spark)
    staged = nextDay()
  }

  private def nextDay(): Seq[Staged] = {
    val d = firstDay.plusDays(day.toLong)
    day += 1
    Gen.exports(new File(dir, s"staging/$d"), seed * 1000 + day, d, 1, DayRows, DayFiles, pool)
  }

  private def jobIdOf(feed: String): String = Gen.jobId(firstDay.plusDays(day - 1L), feed)

  /** One cycle over the staged day; returns the rows loaded. */
  private def cycle(spark: SparkSession): Long = {
    feeds.foreach { f =>
      val last = trace.span("ledger.lookup", spark)(Pipeline.continuation(spark, ledger, f))
      if (!last.contains(expectedLast(f.name)))
        failures += s"continuation(${f.name}) = $last, expected ${expectedLast(f.name)}"
    }
    val counts = Pipeline.runAll(spark,
      staged.map(s => Pipeline.FeedRun(Schemas.feed(s.feed), s.dir, jobIdOf(s.feed))),
      warehouse, ledger, dbSink = Some(sink), backupRoot = Some(new File(dir, "backup").getPath))
    expectedLast = staged.map(s => s.feed -> jobIdOf(s.feed)).toMap
    staged.foreach { s =>
      distinctLoaded(s.feed) += s.distinct
      missingLoaded(s.feed) += s.missingPlatform
      extraSeen += s.extraRows
      if (!counts.get(s.feed).contains(s.distinct))
        failures += s"${s.feed}: runAll loaded ${counts.get(s.feed)} rows, expected ${s.distinct} distinct keys"
    }
    counts.values.sum
  }

  /** Cycles loaded into the current round's warehouse (a day is staged
    * ahead of each cycle). */
  private def loadedDays: Int = day - 1

  def measure(spark: SparkSession, deadline: Long): Measured = {
    val ops = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    val opSpans = mutable.ArrayBuffer.empty[Long]
    val sinkWrite = mutable.ArrayBuffer.empty[Double]
    val sinkDdl = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[(Long, Long)]
    val replays = mutable.ArrayBuffer.empty[Map[String, Double]]
    val rowsIn = staged.map(_.rowsIn).sum.toDouble
    val rowsOut = staged.map(_.distinct).sum.toDouble
    var failed = 0
    var k = 0
    while (k < minPasses || System.nanoTime() < deadline) {
      trace.op(k.toLong)
      val w0 = sink.writeSeconds.sum
      val d0 = sink.ddlSeconds.sum
      val before = if (trace.enabled) Files.parquetFiles(new File(warehouse)) else (0L, 0L)
      val t0 = System.nanoTime()
      val loaded = try Some(trace.span("op", spark)(cycle(spark))) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op $k failed: $e"); failed += 1; None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      ops += dt
      loaded.foreach(n => rates += n / dt)
      sinkWrite += sink.writeSeconds.sum - w0
      sinkDdl += sink.ddlSeconds.sum - d0
      if (trace.enabled) {
        opSpans += trace.allSpans.filter(_.name == "op").last.id
        val after = Files.parquetFiles(new File(warehouse))
        written += ((after._1 - before._1, after._2 - before._2))
        replays += replay(spark, k)
      }
      staged = nextDay()
      k += 1
    }
    System.err.println(s"[perfbench] cycles: ${ops.map(t => f"$t%.3f").mkString(" ")}")
    val layers = if (!trace.enabled) Map.empty[String, Double] else {
      trace.drain(spark)
      val incl = trace.inclusive(trace.countersBySpan())
      val opC = opSpans.map(incl).toSeq
      val spans = trace.allSpans
      def children(id: Long, name: String) = spans.filter(s => s.name == name && s.parent == id)
      def med(xs: Iterable[Double]) = Stats.median(xs.toSeq)
      Map(
        "ingest.decode_s" -> med(replays.map(_("decode"))),
        "ingest.dedup_s" -> med(replays.map(_("dedup"))),
        "ingest.write_s" -> med(replays.map(_("write"))),
        "ingest.shuffle_write_bytes" -> med(opC.map(_.shuffleWrite.toDouble)),
        "ingest.spill_bytes" -> med(opC.map(_.spill.toDouble)),
        "ingest.task_cpu_s" -> med(opC.map(_.cpuNs / 1e9)),
        "ingest.gc_s" -> med(opC.map(_.gcMs / 1e3)),
        "ingest.jobs" -> med(opC.map(_.jobs.toDouble)),
        "ingest.files_written" -> med(written.map(_._1.toDouble)),
        "ingest.bytes_written" -> med(written.map(_._2.toDouble)),
        "ingest.bytes_per_row" -> med(written.map(_._2 / rowsOut)),
        "ingest.rows_in" -> rowsIn,
        "ingest.rows_out" -> rowsOut,
        "ingest.dedup_ratio" -> rowsOut / rowsIn,
        "ledger.lookup_s" -> med(opSpans.map(id => children(id, "ledger.lookup").map(_.seconds).sum)),
        "ledger.append_s" -> med(replays.map(_("append"))),
        "ledger.files" -> Files.count(new File(ledger)).toDouble,
        "backup.copy_s" -> med(replays.map(_("backup"))),
        "sink.write_s" -> med(sinkWrite),
        "sink.rows_per_s" -> med(sinkWrite.map(rowsOut / _)),
        "sink.tasks" -> med(opSpans.map(id =>
          children(id, "sink.write").map(s => incl(s.id).tasks.toDouble).sum)),
        "sink.ddl_s" -> med(sinkDdl))
    }
    Measured(ops.toSeq, ops.map(Seq(_)).toSeq, Stats.median(rates.toSeq), failed, layers)
  }

  /**
   * The traced run's step-by-step replay of one cycle's ingest, per feed:
   * the decode alone (`readFeed`), decode plus `normalize`+`dedup`, and the
   * full `writePartitioned`, each run to completion; then `Ledger.append`
   * and `Backup.copyRawDump` against scratch targets. A step's self time
   * is its time minus the time of the prefix before it.
   */
  private def replay(spark: SparkSession, k: Int): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      trace.span(name, spark)(body)
      (System.nanoTime() - t0) / 1e9
    }
    val root = new File(dir, "replay")
    trace.span("replay", spark) {
      staged.foreach { s =>
        val feed = Schemas.feed(s.feed)
        val jobId = s"replay-$k-${s.feed}"
        val dec = timed("ingest.decode") {
          FeedIngest.readFeed(spark, feed, s.dir).write.format("noop").mode("overwrite").save()
        }
        val ded = timed("ingest.dedup") {
          FeedIngest.ingest(spark, feed, s.dir).write.format("noop").mode("overwrite").save()
        }
        val wr = timed("ingest.write") {
          FeedIngest.writePartitioned(FeedIngest.ingest(spark, feed, s.dir), feed,
            new File(root, "warehouse").getPath, jobId)
        }
        acc("decode") += dec
        acc("dedup") += ded - dec
        acc("write") += wr - ded
        acc("append") += timed("ledger.append") {
          Ledger.append(spark, new File(root, "ledger").getPath, jobId, s.feed)
        }
        acc("backup") += timed("backup.copy") {
          Backup.copyRawDump(s.feed, s.dir, new File(root, "backup").getPath)
        }
      }
    }
    Files.rm(root)
    acc.toMap
  }

  def check(spark: SparkSession): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String] ++ failures
    // The drop and NULL checks below only mean something if the inputs
    // held such rows.
    if (extraSeen == 0 || missingLoaded.values.sum == 0)
      out += s"inputs held $extraSeen rows with an extra field and ${missingLoaded.values.sum} without platform"
    feeds.foreach { f =>
      val df = spark.read.parquet(s"$warehouse/jobType=${f.name}")
      val n = df.count()
      if (n != distinctLoaded(f.name))
        out += s"${f.name}: warehouse holds $n rows, expected ${distinctLoaded(f.name)} distinct keys"
      val dups = df.groupBy(f.naturalKey.map(col): _*).count().filter(col("count") > 1).count()
      if (dups != 0) out += s"${f.name}: $dups natural keys appear more than once"
      val cols = df.columns.toSet -- Set("jobId", "ingest_date")
      if (cols != f.table.fieldNames.toSet)
        out += s"${f.name}: warehouse columns ${cols.toSeq.sorted} != declared ${f.table.fieldNames.sorted.toSeq}"
      val nulls = df.filter(col("platform").isNull).count()
      if (nulls != missingLoaded(f.name))
        out += s"${f.name}: $nulls rows with NULL platform, expected ${missingLoaded(f.name)}"
      val whole = df.filter(unix_millis(col("ts")) % 1000 === 0).count()
      if (whole != 0) out += s"${f.name}: $whole timestamps lost their milliseconds"
      val db = derby.count(f.name)
      if (db != n) out += s"${f.name}: Derby holds $db rows, warehouse $n"
      val last = Pipeline.continuation(spark, ledger, f)
      if (!last.contains(expectedLast(f.name)))
        out += s"continuation(${f.name}) = $last after the run, expected ${expectedLast(f.name)}"
    }
    val ledgerRows = Ledger.read(spark, ledger).count()
    val expectedRows = (LedgerDays + loadedDays).toLong * feeds.size
    if (ledgerRows != expectedRows) out += s"ledger holds $ledgerRows rows, expected $expectedRows"
    val jobs = derby.count("JobId")
    if (jobs != loadedDays.toLong * feeds.size)
      out += s"Derby JobId holds $jobs rows, expected ${loadedDays * feeds.size}"
    derby.shutdown()
    out.toSeq
  }
}

object Ingest {
  /** Distinct rows per feed in one day's export, and its files. */
  val DayRows = 10000
  val DayFiles = 2
  /** Days of daily jobs the ledger holds before the first cycle. */
  val LedgerDays = 30
}
