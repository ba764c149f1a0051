package graft

import graft.ingest.{Ledger, Pipeline}
import graft.model.Schemas
import org.scalatest.funsuite.AnyFunSuite

/** Pins the job-ledger semantics: latest-per-key lookup (ua2sql.py:165–176),
  * append (ua2sql.py:278), and the `_log` layout behind them. */
class LedgerSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def ledger = {
    import spark.implicits._
    Seq(
      (ts("2024-01-01 00:00:00"), "jobA1", "appStart"),
      (ts("2024-01-02 00:00:00"), "jobA2", "appStart"),
      (ts("2024-01-01 12:00:00"), "jobC1", "custom")
    ).toDF("ts", "jobId", "jobType")
  }

  test("latestJobId returns the newest job for one feed, None for unknown") {
    assert(Ledger.latestJobId(ledger, "appStart") === Some("jobA2"))
    assert(Ledger.latestJobId(ledger, "custom") === Some("jobC1"))
    assert(Ledger.latestJobId(ledger, "transaction") === None)
  }

  test("latestPerType returns one newest row per feed in a single pass") {
    val got = Ledger.latestPerType(ledger).collect()
      .map(r => r.getAs[String]("jobType") -> r.getAs[String]("jobId")).toMap
    assert(got === Map("appStart" -> "jobA2", "custom" -> "jobC1"))
  }

  test("append + read roundtrip preserves the ledger schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger").toString + "/ledger"
    ledger.write.parquet(dir)
    Ledger.append(spark, dir, "jobT9", "transaction")
    val re = Ledger.read(spark, dir)
    assert(re.count() === 4)
    assert(Ledger.latestJobId(re, "transaction") === Some("jobT9"))
  }

  private def tmpLedger(): String =
    java.nio.file.Files.createTempDirectory("graft-ledger").toString + "/ledger"

  private def logFiles(path: String): Seq[String] =
    Option(new java.io.File(path, "_log").list()).map(_.toSeq.sorted).getOrElse(Nil)

  test("latest, latestJobId and latestPerType break a ts tie by the larger jobId") {
    import spark.implicits._
    val dir = tmpLedger()
    val t = ts("2024-05-01 00:00:00")
    Seq((t, "jobA", "appStart"), (t, "jobB", "appStart"), (ts("2024-04-30 00:00:00"), "jobC", "appStart"))
      .toDF("ts", "jobId", "jobType").write.option("maxRecordsPerFile", 1L).parquet(dir)
    assert(Ledger.latest(spark, dir, "appStart") === Some("jobB"))
    for (df <- Seq(Ledger.read(spark, dir), Seq((t, "jobA", "appStart"), (t, "jobB", "appStart"))
        .toDF("ts", "jobId", "jobType"))) {
      assert(Ledger.latestJobId(df, "appStart") === Some("jobB"))
      assert(Ledger.latestPerType(df).collect().map(_.getAs[String]("jobId")).toSeq === Seq("jobB"))
    }
  }

  test("a one-file-per-append parquet ledger folds into the log once, row for row") {
    import spark.implicits._
    val dir = tmpLedger()
    // perfbench's seeded layout: one row per file, microsecond timestamps
    val rows = (0 until 12).map { i =>
      (ts(f"2024-02-${i + 1}%02d 10:00:00.${123456 + i}%06d"), s"job$i",
        Schemas.feeds(i % Schemas.feeds.size).name)
    }
    rows.toDF("ts", "jobId", "jobType").write.option("maxRecordsPerFile", 1L).parquet(dir)

    val (first, foldJobs) = jobsIn(Ledger.read(spark, dir))
    assert(foldJobs >= 1)
    assert(logFiles(dir).filterNot(_.startsWith(".")) === Seq("0.compact"))
    val got = first.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getString(2)))
    assert(got.sortBy(_._2).toSeq === rows.sortBy(_._2))
    assert(got.forall(_._1.getNanos % 1000000 != 0)) // the micros survived

    val folded = new java.io.File(dir, "_log/0.compact").lastModified()
    val (second, againJobs) = jobsIn(Ledger.read(spark, dir))
    assert(againJobs === 0)
    assert(new java.io.File(dir, "_log/0.compact").lastModified() === folded)
    assert(second.count() === 12)
  }

  test("continuation on a one-year ledger reads a bounded log and runs no Spark job") {
    val dir = tmpLedger()
    val feeds = Schemas.feeds
    // After every append the log holds one compact file and at most 9
    // deltas; the local file system adds a hidden `.crc` sidecar per file
    // and nothing else (no leaked temp file).
    for (day <- 0 until 365; f <- feeds) {
      Ledger.append(spark, dir, s"d$day-${f.name}", f.name)
      val (hidden, entries) = logFiles(dir).partition(_.startsWith("."))
      assert(entries.size <= 10 && entries.count(_.endsWith(".compact")) === 1, entries)
      assert(hidden.toSet.subsetOf(entries.map(e => s".$e.crc").toSet), hidden)
    }
    val feed = feeds.head
    val (last, jobs) = jobsIn(Pipeline.continuation(spark, dir, feed))
    assert(last === Some(s"d364-${feed.name}"))
    assert(jobs === 0)
    val best = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      Pipeline.continuation(spark, dir, feed)
      (System.nanoTime() - t0) / 1e9
    }.min
    assert(best < 0.1, s"best of 5 continuation calls took $best s")
    assert(Ledger.read(spark, dir).count() === 1095)
  }

  test("concurrent appends across compactions lose and duplicate no entry") {
    val dir = tmpLedger()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val done = (0 until 4).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 25).foreach(i => Ledger.append(spark, dir, s"t$t-$i", s"feed$t"))
        })
      }
      done.foreach(_.get())
    } finally pool.shutdown()
    val ids = Ledger.read(spark, dir).collect().map(_.getAs[String]("jobId")).toSeq
    assert(ids.size === 100)
    assert(ids.toSet === (for (t <- 0 until 4; i <- 0 until 25) yield s"t$t-$i").toSet)
    assert(logFiles(dir).filterNot(_.startsWith(".")).count(_.endsWith(".compact")) === 1)
    for (t <- 0 until 4) assert(Ledger.latest(spark, dir, s"feed$t") === Some(s"t$t-24"))
  }

  test("spark.read.parquet of the ledger path never sees _log") {
    val dir = tmpLedger()
    ledger.write.option("maxRecordsPerFile", 1L).parquet(dir)
    Ledger.append(spark, dir, "jobT1", "transaction")
    Ledger.append(spark, dir, "jobT2", "transaction")
    assert(logFiles(dir).nonEmpty)
    val raw = spark.read.parquet(dir)
    assert(raw.inputFiles.nonEmpty && !raw.inputFiles.exists(_.contains("_log")))
    assert(raw.count() === 3)
    assert(Ledger.read(spark, dir).count() === 5)
  }
}
