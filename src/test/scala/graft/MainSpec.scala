package graft

import org.scalatest.funsuite.AnyFunSuite

/** The CLI contract end to end — graft.Main IS the engine's face of
  * `python ua2sql.py config.json` (README.md:4–6), so it gets driven as a
  * user would drive it: a JSON config on disk, staged feed directories,
  * one main() call. */
class MainSpec extends AnyFunSuite with SparkSuite {

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("main(config.json) loads every staged feed and reports counts") {
    spark // force the shared session so Main's getOrCreate attaches to it
    val root = tmp("graft-main")
    val staging = s"$root/staging"
    for (feed <- Seq("appStart", "custom", "transaction")) {
      val dir = java.nio.file.Paths.get(s"$staging/$feed")
      java.nio.file.Files.createDirectories(dir)
      val src = java.nio.file.Paths.get(s"src/test/resources/feeds/$feed/job1")
      java.nio.file.Files.list(src).forEach { f =>
        java.nio.file.Files.copy(f, dir.resolve(f.getFileName.toString))
      }
    }
    val cfg = s"$root/config.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg),
      s"""{"projectId": "p1", "apiKey": "k1",
         |"warehouseRoot": "$root/wh", "stagingPath": "$staging",
         |"ledgerPath": "$root/ledger"}""".stripMargin)

    Main.main(Array(cfg, "--job-id", "e2e-1"))

    val wh = spark.read.parquet(s"$root/wh")
    assert(wh.count() === 7) // 3 appStart + 2 custom + 2 transaction
    assert(wh.columns.contains("jobType") && wh.columns.contains("jobId")
      && wh.columns.contains("ingest_date"))
    val led = graft.ingest.Ledger.latestPerType(
      graft.ingest.Ledger.read(spark, s"$root/ledger"))
      .collect().map(r => r.getAs[String]("jobType") -> r.getAs[String]("jobId")).toMap
    assert(led === Map("appStart" -> "e2e-1-appStart",
      "custom" -> "e2e-1-custom", "transaction" -> "e2e-1-transaction"))

    // idempotency, the CLI way: re-running the same jobId replaces, never
    // duplicates (the crash-and-rerun path a cron job actually takes)
    Main.main(Array(cfg, "--job-id", "e2e-1"))
    assert(spark.read.parquet(s"$root/wh").count() === 7)
  }

  test("re-running main with the same --job-id adds no ledger rows") {
    spark
    val root = tmp("graft-main-rerun")
    val staging = s"$root/staging"
    for (feed <- Seq("appStart", "custom", "transaction")) {
      val dir = java.nio.file.Paths.get(s"$staging/$feed")
      java.nio.file.Files.createDirectories(dir)
      val src = java.nio.file.Paths.get(s"src/test/resources/feeds/$feed/job1")
      java.nio.file.Files.list(src).forEach { f =>
        java.nio.file.Files.copy(f, dir.resolve(f.getFileName.toString))
      }
    }
    val cfg = s"$root/config.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg),
      s"""{"projectId": "p1", "apiKey": "k1",
         |"warehouseRoot": "$root/wh", "stagingPath": "$staging",
         |"ledgerPath": "$root/ledger"}""".stripMargin)
    def ledgerRows = graft.ingest.Ledger.read(spark, s"$root/ledger").count()

    Main.main(Array(cfg, "--job-id", "rerun-1"))
    assert(ledgerRows === 3)
    Main.main(Array(cfg, "--job-id", "rerun-1"))
    assert(ledgerRows === 3)
  }

  test("a verbatim reference config drives the full CLI path: DB load + backup") {
    spark
    val root = tmp("graft-main-ref")
    val staging = s"$root/dumps"
    for (feed <- Seq("appStart", "custom")) {
      val dir = java.nio.file.Paths.get(s"$staging/$feed")
      java.nio.file.Files.createDirectories(dir)
      val src = java.nio.file.Paths.get(s"src/test/resources/feeds/$feed/job1")
      java.nio.file.Files.list(src).forEach { f =>
        java.nio.file.Files.copy(f, dir.resolve(f.getFileName.toString))
      }
    }
    val cfg = s"$root/config.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg),
      s"""{
         |  "postgres_server": "localhost",
         |  "database": "ua",
         |  "user": "u",
         |  "password": "p",
         |  "local_collection_path": "$staging",
         |  "backup_collection_path": "$root/backup",
         |  "unity_project_id": "proj",
         |  "unity_export_api_key": "key"
         |}""".stripMargin)

    // No PostgreSQL driver ships offline: substitute a recording sink for
    // the default JDBC one, but keep every other wire the same.
    val recorded = new RecordingSink
    val prevFactory = Main.jdbcSinkFactory
    Main.jdbcSinkFactory = _ => recorded
    try Main.main(Array(cfg, "--job-id", "ref-1"))
    finally Main.jdbcSinkFactory = prevFactory

    // DB load happened, create-first, one write per staged feed
    assert(recorded.ddl.exists(_.contains("CREATE TABLE IF NOT EXISTS \"appStart\"")))
    assert(recorded.ddl.exists(_.contains("INET")) && recorded.ddl.exists(_.contains("JSONB")))
    assert(recorded.writes.map(w => w._1 -> w._3).toMap === Map("appStart" -> 3L, "custom" -> 2L))
    // raw dumps backed up under <backup>/<jobType>/<date>/
    for (feed <- Seq("appStart", "custom")) {
      val bak = java.nio.file.Paths.get(s"$root/backup/$feed")
      assert(java.nio.file.Files.isDirectory(bak), s"no backup dir for $feed")
      val day = java.nio.file.Files.list(bak).findFirst().get()
      assert(java.nio.file.Files.list(day).count() > 0)
    }
    // parquet warehouse twin landed at the derived default location
    assert(spark.read.parquet(s"$staging/graft-warehouse").count() === 5)
  }

  test("driver auto-detection selects the live JDBC sink iff a driver accepts the URL") {
    val db = graft.ingest.DbConfig("h", "d", "u", "p")
    // This environment ships no PostgreSQL jar, so detection must choose the
    // dry-run fallback (rows still reach the parquet warehouse; DB leg logs).
    assert(!graft.sink.JdbcSink.driverAvailable(db.jdbcUrl))
    val offline = Main.jdbcSinkFactory(db)
    assert(offline.isInstanceOf[graft.sink.DryRunSink])
    // Register a driver that accepts jdbc:postgresql: URLs — the situation
    // after a driver jar is dropped on the classpath (ServiceLoader
    // self-registration) — and the SAME factory must flip to the live sink
    // with the reference's 1000-row batching (ua2sql.py:238-246).
    val fake = new java.sql.Driver {
      override def acceptsURL(url: String): Boolean = url.startsWith("jdbc:postgresql:")
      override def connect(url: String, info: java.util.Properties): java.sql.Connection = null
      override def getMajorVersion: Int = 0
      override def getMinorVersion: Int = 0
      override def getPropertyInfo(u: String, i: java.util.Properties): Array[java.sql.DriverPropertyInfo] = Array.empty
      override def jdbcCompliant(): Boolean = false
      override def getParentLogger: java.util.logging.Logger =
        throw new java.sql.SQLFeatureNotSupportedException()
    }
    java.sql.DriverManager.registerDriver(fake)
    try {
      assert(graft.sink.JdbcSink.driverAvailable(db.jdbcUrl))
      val live = Main.jdbcSinkFactory(db).asInstanceOf[graft.sink.JdbcSink]
      assert(live.batchSize === 1000) // ua2sql.py:238-246
    } finally java.sql.DriverManager.deregisterDriver(fake)
  }

  test("the dry-run sink records the statements the live sink would run") {
    val s = new graft.sink.DryRunSink("jdbc:postgresql://h/d")
    graft.model.Schemas.feeds.headOption.foreach(s.ensureTable)
    s.appendJob("job-1", "appStart")
    import scala.jdk.CollectionConverters._
    val recorded = s.statements.asScala.toList
    assert(recorded.exists(_.contains("CREATE TABLE")))
    assert(recorded.exists(_.contains("job-1")))
  }

  test("Prof conf overrides trim entries, keys and values") {
    assert(Prof.confOverrides("a=1; b = 2 ;;c=x=y; nokv ") ===
      Seq("a" -> "1", "b" -> "2", "c" -> "x=y"))
    assert(Prof.confOverrides("") === Seq.empty)
  }

  test("main without staged feeds fails with a clear message") {
    val root = tmp("graft-main-empty")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/staging"))
    val cfg = s"$root/config.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg),
      s"""{"projectId": "p", "apiKey": "k", "warehouseRoot": "$root/wh",
         |"stagingPath": "$root/staging", "ledgerPath": "$root/ledger"}""".stripMargin)
    val err = intercept[IllegalArgumentException](Main.main(Array(cfg)))
    assert(err.getMessage.contains("no feed staging dirs"))
  }
}
