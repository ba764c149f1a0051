package graft

import graft.ingest.{GraftConfig, Ledger, Pipeline}
import graft.model.Schemas
import graft.sink.{ParquetSink, PgDdl}
import graft.sources.UnityExportClient
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end batch orchestration (E1–E4) + sink DDL + client payloads. */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("runFeed stages → warehouse → ledger; continuation resumes from it") {
    val wh = tmp("graft-wh")
    val ledger = tmp("graft-led") + "/ledger"
    val feed = Schemas.feed("appStart")
    assert(Pipeline.continuation(spark, ledger, feed) === None) // initial 30-day window

    val n1 = Pipeline.runFeed(spark,
      Pipeline.FeedRun(feed, "src/test/resources/feeds/appStart/job1", "job-001"),
      wh, ledger)
    assert(n1 === 3)
    assert(Pipeline.continuation(spark, ledger, feed) === Some("job-001"))

    val n2 = Pipeline.runFeed(spark,
      Pipeline.FeedRun(feed, "src/test/resources/feeds/appStart/job2", "job-002"),
      wh, ledger)
    assert(n2 === 2)
    assert(Pipeline.continuation(spark, ledger, feed) === Some("job-002"))

    val warehouse = spark.read.parquet(wh)
    assert(warehouse.count() === 5)
    assert(warehouse.columns.contains("ingest_date"))
    // partition pruning works on the Hive layout
    val pruned = warehouse.filter(org.apache.spark.sql.functions.col("jobType") === "appStart")
    assert(pruned.count() === 5)
  }

  test("a file: URI ledger path resumes like a plain path") {
    val ledger = new java.io.File(tmp("graft-led-uri"), "ledger").toURI.toString
    assert(ledger.startsWith("file:"))
    val feed = Schemas.feed("appStart")
    assert(Pipeline.continuation(spark, ledger, feed) === None)
    Pipeline.runFeed(spark,
      Pipeline.FeedRun(feed, "src/test/resources/feeds/appStart/job1", "job-uri-1"),
      tmp("graft-wh-uri"), ledger)
    assert(Pipeline.continuation(spark, ledger, feed) === Some("job-uri-1"))
  }

  test("runAll loads all three reference feeds concurrently") {
    val wh = tmp("graft-wh3")
    val ledger = tmp("graft-led3") + "/ledger"
    val runs = Seq(
      Pipeline.FeedRun(Schemas.feed("appStart"), "src/test/resources/feeds/appStart/job1", "a1"),
      Pipeline.FeedRun(Schemas.feed("custom"), "src/test/resources/feeds/custom/job1", "c1"),
      Pipeline.FeedRun(Schemas.feed("transaction"), "src/test/resources/feeds/transaction/job1", "t1"))
    val counts = Pipeline.runAll(spark, runs, wh, ledger)
    assert(counts === Map("appStart" -> 3, "custom" -> 2, "transaction" -> 2))
    val led = Ledger.latestPerType(Ledger.read(spark, ledger)).count()
    assert(led === 3)
  }

  test("staging cleanup removes loaded files non-recursively (ua2sql.py:180-184)") {
    val staging = tmp("graft-clean")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("src/test/resources/feeds/appStart/job1/part-0.json"),
      java.nio.file.Paths.get(s"$staging/part-0.json"))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$staging/subdir"))
    val wh = tmp("graft-clean-wh")
    val n = Pipeline.runFeed(spark,
      Pipeline.FeedRun(Schemas.feed("appStart"), staging, "jc1"),
      wh, tmp("graft-clean-led") + "/ledger", cleanStaging = true)
    assert(n === 3)
    val left = new java.io.File(staging).listFiles.toSeq
    assert(left.map(_.getName) === Seq("subdir")) // files gone, dirs kept
  }

  test("JdbcSink rows land in the quoted tables the DDL created (embedded Derby)") {
    import org.apache.spark.sql.types._
    val root = tmp("graft-derby")
    System.setProperty("derby.stream.error.file", s"$root/derby.log")
    val db = s"$root/db"
    val url = s"jdbc:derby:$db;create=true"
    def withConn[A](f: java.sql.Connection => A): A = {
      val c = java.sql.DriverManager.getConnection(url)
      try f(c) finally c.close()
    }
    def exec(sql: String): Unit = withConn { c =>
      val st = c.createStatement(); try st.execute(sql) finally st.close()
    }
    // Derby form of the PgDdl statements: same quoted table names, Derby
    // types (no IF NOT EXISTS, SERIAL, INET, JSONB or TIMESTAMP '…').
    val CreateTable = """(?s)CREATE TABLE IF NOT EXISTS "([A-Za-z]+)".*""".r
    def derbyType(t: DataType, ledger: Boolean): String = t match {
      case TimestampType => "TIMESTAMP"
      case LongType => "BIGINT"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case _ if ledger => "VARCHAR(256)"
      case _ => "CLOB" // Spark binds NULL strings as CLOB on Derby
    }
    val ddl: String => Unit = {
      case CreateTable(name) =>
        val ledger = name == "JobId"
        val fields = if (ledger) Schemas.jobLedger.fields else Schemas.feed(name).table.fields
        try exec(s"CREATE TABLE \"$name\" (" + fields.map(f =>
          s"${PgDdl.quoteIdent(f.name)} ${derbyType(f.dataType, ledger)}").mkString(", ") + ")")
        catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () } // exists
      case sql => exec("""TIMESTAMP '([^']+)'""".r.replaceAllIn(sql, m => s"TIMESTAMP('${m.group(1)}')"))
    }
    val sink = new graft.sink.JdbcSink(url, Map.empty, ddlRunner = Some(ddl))
    try {
      val wh = tmp("graft-derby-wh")
      val ledger = tmp("graft-derby-led") + "/ledger"
      Seq("appStart" -> "a1", "transaction" -> "t1").foreach { case (feed, job) =>
        Pipeline.runFeed(spark, Pipeline.FeedRun(Schemas.feed(feed),
          s"src/test/resources/feeds/$feed/job1", job), wh, ledger, dbSink = Some(sink))
      }
      def count(table: String): Long = withConn { c =>
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM ${PgDdl.quoteIdent(table)}")
        rs.next(); rs.getLong(1)
      }
      assert(count("appStart") === 3)
      assert(count("transaction") === 2)
      assert(count("JobId") === 2)
      // no case-folded twin was auto-created beside the DDL's table
      val tables = withConn { c =>
        val rs = c.getMetaData.getTables(null, null, "%", Array("TABLE"))
        Iterator.continually(rs).takeWhile(_.next()).map(_.getString("TABLE_NAME")).toSet
      }
      assert(tables === Set("appStart", "transaction", "JobId"))
      // an already-quoted name passes through unchanged
      sink.write(spark.read.parquet(wh).filter(org.apache.spark.sql.functions.col("jobType") === "appStart")
        .select(Schemas.feed("appStart").table.fieldNames.map(org.apache.spark.sql.functions.col): _*),
        "\"appStart\"")
      assert(count("appStart") === 6)
    } finally {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
      catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
    }
  }

  test("parquet sink appends per table") {
    val root = tmp("graft-sink")
    val sink = new ParquetSink(root)
    import spark.implicits._
    sink.write(Seq((1L, "a")).toDF("id", "v"), "t1")
    sink.write(Seq((2L, "b")).toDF("id", "v"), "t1")
    assert(spark.read.parquet(s"$root/t1").count() === 2)
  }

  test("PG DDL mirrors the reference schema incl. INET/JSONB/NUMERIC") {
    val custom = PgDdl.createTableSql(Schemas.feed("custom"))
    assert(custom.contains("CREATE TABLE IF NOT EXISTS \"custom\""))
    assert(custom.contains("\"remote_ip\" INET"))
    assert(custom.contains("\"custom_params\" JSONB"))
    assert(custom.contains("\"ts\" TIMESTAMP"))
    assert(custom.contains("\"sessionid\" BIGINT"))
    val tx = PgDdl.createTableSql(Schemas.feed("transaction"))
    assert(tx.contains("\"amount\" NUMERIC(18,4)"))
    assert(tx.contains("\"receipt\" JSONB"))
    assert(PgDdl.jobLedgerSql.contains("\"JobId\""))
  }

  test("export request payload: continueFrom replaces startDate (ua2sql.py:101-104)") {
    import java.time.LocalDate
    val end = LocalDate.of(2024, 2, 1)
    val initial = UnityExportClient.requestBody(end, "appStart", None, None)
    assert(initial.contains("\"startDate\": \"2024-01-02\"")) // end - 30d backfill
    assert(!initial.contains("continueFrom"))
    val continued = UnityExportClient.requestBody(end, "appStart", None, Some("job-9"))
    assert(continued.contains("\"continueFrom\": \"job-9\""))
    assert(!continued.contains("startDate"))
    assert(continued.contains("\"dataset\": \"appStart\""))
    assert(continued.contains("\"format\": \"json\""))
  }

  test("config parse: required keys, optional backup, ~ expansion (ua2sql.py:15-35)") {
    val cfg = GraftConfig.fromJson(
      """{"projectId": "p1", "apiKey": "k1", "warehouseRoot": "~/wh",
        |"stagingPath": "/tmp/stage", "ledgerPath": "/tmp/ledger"}""".stripMargin)
    assert(cfg.projectId === "p1")
    assert(cfg.warehouseRoot === System.getProperty("user.home") + "/wh")
    assert(cfg.backupPath === None)
    assert(cfg.db === None)
    val err = intercept[IllegalArgumentException] {
      GraftConfig.fromJson("""{"projectId": "p1"}""")
    }
    assert(err.getMessage.contains("apiKey"))
  }

  test("config parse: the reference README's exact keys load verbatim (README.md:15-26)") {
    // This is the reference README's config example, keys and all.
    val cfg = GraftConfig.fromJson(
      """{
        |  "postgres_server": "db.example.com",
        |  "database": "analytics",
        |  "user": "loader",
        |  "password": "s3cret",
        |  "local_collection_path": "~/ua-dumps",
        |  "backup_collection_path": "/mnt/backup",
        |  "unity_project_id": "proj-123",
        |  "unity_export_api_key": "key-456"
        |}""".stripMargin)
    assert(cfg.projectId === "proj-123")
    assert(cfg.apiKey === "key-456")
    val home = System.getProperty("user.home")
    assert(cfg.stagingPath === s"$home/ua-dumps")
    assert(cfg.backupPath === Some("/mnt/backup"))
    // warehouse/ledger (no reference equivalent) root NEXT TO the per-feed
    // staging dirs, where staging cleanup can't reach them
    assert(cfg.warehouseRoot === s"$home/ua-dumps/graft-warehouse")
    assert(cfg.ledgerPath === s"$home/ua-dumps/graft-ledger")
    val db = cfg.db.get
    assert(db.jdbcUrl === "jdbc:postgresql://db.example.com/analytics")
    assert(db.user === "loader" && db.password === "s3cret")
  }

  test("backup copies raw dumps to <root>/<jobType>/<date>/ pre-cleanup (ua2sql.py:188-204)") {
    val staging = tmp("graft-bak-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("src/test/resources/feeds/appStart/job1/part-0.json"),
      java.nio.file.Paths.get(s"$staging/part-0.json"))
    val bakRoot = tmp("graft-bak-dst")
    val day = java.time.LocalDate.of(2026, 8, 12)
    val n = graft.ingest.Backup.copyRawDump("appStart", staging, bakRoot, day)
    assert(n === 1)
    val dest = java.nio.file.Paths.get(s"$bakRoot/appStart/2026-08-12/part-0.json")
    assert(java.nio.file.Files.exists(dest))
    // byte-identical raw retention, not a normalized rewrite
    assert(java.nio.file.Files.mismatch(
      java.nio.file.Paths.get(s"$staging/part-0.json"), dest) === -1L)
    // empty staging dir: no folder is created (ua2sql.py:193-194)
    val empty = tmp("graft-bak-empty")
    assert(graft.ingest.Backup.copyRawDump("custom", empty, bakRoot, day) === 0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$bakRoot/custom")))
  }

  test("runFeed drives the DB sink create-first with the declared columns only") {
    val recorded = new RecordingSink
    val wh = tmp("graft-db-wh")
    val n = Pipeline.runFeed(spark,
      Pipeline.FeedRun(Schemas.feed("appStart"), "src/test/resources/feeds/appStart/job1", "dbj1"),
      wh, tmp("graft-db-led") + "/ledger", dbSink = Some(recorded))
    assert(n === 3)
    assert(recorded.ddl.exists(_.contains("CREATE TABLE IF NOT EXISTS \"appStart\"")))
    assert(recorded.ddl.exists(_.contains("\"JobId\"")))
    val (table, cols, rows) = recorded.writes.head
    assert(table === "appStart")
    assert(rows === 3)
    // PG schema columns only — no warehouse partition columns leak into DB
    assert(!cols.contains("ingest_date") && !cols.contains("jobId"))
    assert(cols.toSet === Schemas.feed("appStart").table.fieldNames.toSet)
    // the DB-side continuation ledger row lands after the load (ua2sql.py:277-278)
    assert(recorded.jobs.toList === List(("dbj1", "appStart")))
    assert(recorded.events.toList === List("ddl", "write", "job"))
  }

  test("runAll serializes all DDL before the parallel feed writes") {
    val recorded = new RecordingSink
    val wh = tmp("graft-ddl-wh")
    val runs = Seq(
      Pipeline.FeedRun(Schemas.feed("appStart"), "src/test/resources/feeds/appStart/job1", "p1"),
      Pipeline.FeedRun(Schemas.feed("custom"), "src/test/resources/feeds/custom/job1", "p2"),
      Pipeline.FeedRun(Schemas.feed("transaction"), "src/test/resources/feeds/transaction/job1", "p3"))
    val counts = Pipeline.runAll(spark, runs, wh, tmp("graft-ddl-led") + "/ledger",
      dbSink = Some(recorded))
    assert(counts.values.sum === 7)
    // PostgreSQL's CREATE TABLE IF NOT EXISTS is not concurrency-safe, so
    // every DDL call must precede every write — no interleaving.
    val ev = recorded.events.toList
    assert(ev.lastIndexOf("ddl") < ev.indexOf("write"), s"DDL raced a write: $ev")
    assert(ev.count(_ == "ddl") === 3 && ev.count(_ == "write") === 3 && ev.count(_ == "job") === 3)
    // every feed recorded its continuation row
    assert(recorded.jobs.map(_._2).toSet === Set("appStart", "custom", "transaction"))
  }

  test("JobId insert SQL matches the reference row shape and escapes quotes") {
    val sql = PgDdl.insertJobSql(java.time.Instant.parse("2026-08-12T10:20:30.400Z"),
      "job-1", "appStart")
    assert(sql === """INSERT INTO "JobId" ("ts", "jobId", "jobType") VALUES (TIMESTAMP '2026-08-12 10:20:30.400', 'job-1', 'appStart')""")
    assert(PgDdl.insertJobSql(java.time.Instant.EPOCH, "o'brien", "t").contains("'o''brien'"))
  }

  test("default jobId fingerprint ignores warehouse/ledger outputs under stagingPath") {
    val staging = tmp("graft-fp")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$staging/appStart"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("src/test/resources/feeds/appStart/job1/part-0.json"),
      java.nio.file.Paths.get(s"$staging/appStart/part-0.json"))
    val before = Main.stagingFingerprint(staging)
    // a first run leaves warehouse/ledger trees under stagingPath (the
    // reference-dialect defaults); they must not change the next jobId
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$staging/graft-warehouse/x"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$staging/graft-warehouse/x/part-0.parquet"), Array[Byte](1, 2, 3))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$staging/graft-ledger"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$staging/graft-ledger/l.parquet"), Array[Byte](9))
    assert(Main.stagingFingerprint(staging) === before)
    // but changing the staged input itself does change it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$staging/appStart/part-1.json"), Array[Byte](7))
    assert(Main.stagingFingerprint(staging) !== before)
  }
}

/** Offline stand-in for the JDBC sink: records DDL, write, and ledger
  * calls, plus their interleaving (runAll invokes write/appendJob from
  * parallel futures, hence the synchronization). */
class RecordingSink extends graft.sink.BatchSink {
  val ddl = scala.collection.mutable.ListBuffer.empty[String]
  val writes = scala.collection.mutable.ListBuffer.empty[(String, Seq[String], Long)]
  val jobs = scala.collection.mutable.ListBuffer.empty[(String, String)]
  /** Ordered call kinds ("ddl" | "write" | "job") across all threads. */
  val events = scala.collection.mutable.ListBuffer.empty[String]
  override def ensureTable(feed: graft.model.FeedSpec): Unit = synchronized {
    ddl ++= Seq(graft.sink.PgDdl.jobLedgerSql, graft.sink.PgDdl.createTableSql(feed))
    events += "ddl"
  }
  override def write(df: org.apache.spark.sql.DataFrame, table: String): Unit = {
    val row = (table, df.columns.toSeq, df.count())
    synchronized { writes += row; events += "write" }
  }
  override def appendJob(jobId: String, jobType: String): Unit = synchronized {
    jobs += ((jobId, jobType)); events += "job"
  }
}
