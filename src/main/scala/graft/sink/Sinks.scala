package graft.sink

import graft.model.FeedSpec
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types._

/** A batch table sink — the seam between the engine and its warehouse.
  * JDBC/PostgreSQL is the reference's target (ua2sql.py:88–91, 209–246);
  * parquet is the native analytics target and the one exercised in tests
  * (no PostgreSQL driver jar ships offline — SURVEY.md §7.4). */
trait BatchSink {
  def write(df: DataFrame, table: String): Unit
  /** Create-first DDL hook (the reference's metadata.create_all,
    * ua2sql.py:91): called before the first write of a feed. No-op for
    * schemaless sinks (parquet infers; PostgreSQL needs real DDL). */
  def ensureTable(feed: FeedSpec): Unit = ()
  /** Records a completed load in the sink-side "JobId" ledger — the row
    * the reference's find_previous_job_id continuation query reads
    * (ua2sql.py:165–176, 277–278). Called once per feed after a
    * successful write; no-op for sinks without a DB-side ledger (the
    * parquet warehouse has its own ledger file). */
  def appendJob(jobId: String, jobType: String): Unit = ()
}

/** Parquet warehouse sink (directory per table). */
final class ParquetSink(root: String) extends BatchSink {
  override def write(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).parquet(s"$root/$table")
}

/**
 * JDBC sink with the reference's batching semantics: 1000-row buffered
 * inserts (ua2sql.py:238–246) become the jdbc writer's `batchsize`, applied
 * per partition in parallel rather than single-threaded.
 *
 * The target table should be pre-created with [[PgDdl.createTableSql]]
 * (Spark's `createTableColumnTypes` only accepts Spark SQL types, so the
 * PostgreSQL-specific INET/JSONB columns need real DDL, matching the
 * reference's create_all at ua2sql.py:91).
 */
final class JdbcSink(url: String, options: Map[String, String],
                     val batchSize: Int = 1000,
                     ddlRunner: Option[String => Unit] = None) extends BatchSink {

  /** DDL goes through a plain driver-manager statement (Spark's jdbc
    * writer can only CREATE from a Spark schema, which cannot express
    * INET/JSONB). Injectable so offline tests can record the SQL. */
  private val runDdl: String => Unit =
    ddlRunner.getOrElse(JdbcSink.driverManagerDdl(url, options))

  /** Idempotent create-first: the feed table and the job ledger
    * (IF NOT EXISTS ≙ the reference's create_all, ua2sql.py:91).
    * JVM-wide lock because PostgreSQL's IF NOT EXISTS is not
    * concurrency-safe (concurrent creates race to a pg_type/pg_class
    * duplicate-key error): Pipeline.runAll also serializes DDL before its
    * parallel fan-out, but the lock protects every OTHER caller that
    * reaches ensureTable concurrently — same pattern as Ledger.append. */
  override def ensureTable(feed: FeedSpec): Unit = JdbcSink.ddlLock.synchronized {
    runDdl(PgDdl.jobLedgerSql)
    runDdl(PgDdl.createTableSql(feed))
  }

  /** The DB-side ledger row the next run's continuation reads
    * (ua2sql.py:278 inserts ts=utcnow). Goes through the same statement
    * runner as DDL so offline tests record it. */
  override def appendJob(jobId: String, jobType: String): Unit =
    runDdl(PgDdl.insertJobSql(java.time.Instant.now(), jobId, jobType))

  /** `table` is the feed name, quoted here as [[PgDdl]] quotes it when it
    * creates the table: Spark passes `dbtable` into its SQL verbatim, so an
    * unquoted `appStart` would fold to `appstart` (a table PostgreSQL
    * auto-creates on write) and `transaction` is reserved on some
    * databases. A name that is already double-quoted passes unchanged. */
  override def write(df: DataFrame, table: String): Unit = {
    val quoted =
      if (table.length >= 2 && table.startsWith("\"") && table.endsWith("\"")) table
      else PgDdl.quoteIdent(table)
    val w = df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", quoted)
      .option("batchsize", batchSize.toString)
    options.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
      .mode(SaveMode.Append)
      .save()
  }
}

object JdbcSink {
  /** Serializes DDL across this JVM's sinks (see ensureTable). */
  private[sink] val ddlLock = new Object

  /** True when a registered JDBC driver accepts `url`. Drivers on the
    * classpath self-register through the ServiceLoader manifest, so this
    * lights up automatically the moment a postgresql (or any other) driver
    * jar is added to the deployment — no config change needed. URL-based
    * (DriverManager.getDriver) rather than Class.forName on a hard-coded
    * driver class so non-PG JDBC URLs are detected too. */
  def driverAvailable(url: String): Boolean =
    try { java.sql.DriverManager.getDriver(url); true }
    catch { case _: java.sql.SQLException => false }

  /** One autocommitted statement per DDL string over a fresh connection. */
  def driverManagerDdl(url: String, options: Map[String, String]): String => Unit = sql => {
    val props = new java.util.Properties()
    options.foreach { case (k, v) => props.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try st.execute(sql) finally st.close()
    } finally conn.close()
  }
}

/**
 * Fallback DB sink selected when no JDBC driver accepting the configured
 * URL is on the classpath (this offline environment ships none). The
 * parquet warehouse — the engine's primary store — still receives every
 * row; this sink records the DB statements it WOULD have run and warns
 * once, so a run with a db config degrades loudly-but-safely instead of
 * crashing in DriverManager mid-pipeline. The moment a driver jar is
 * present, [[graft.Main.jdbcSinkFactory]] selects the live [[JdbcSink]]
 * instead (MainSpec pins the selection both ways).
 */
final class DryRunSink(url: String) extends BatchSink {
  /** Statements the live sink would have executed, for observability and
    * tests; bounded because ensureTable/appendJob are once-per-feed. */
  val statements = new java.util.concurrent.CopyOnWriteArrayList[String]()
  private def note(s: String): Unit = {
    statements.add(s)
    System.err.println(s"[graft] DRY-RUN db sink (no JDBC driver for $url): $s")
  }
  override def ensureTable(feed: FeedSpec): Unit = {
    note(PgDdl.jobLedgerSql.linesIterator.next() + " ...")
    note(PgDdl.createTableSql(feed).linesIterator.next() + " ...")
  }
  override def appendJob(jobId: String, jobType: String): Unit =
    note(s"INSERT JobId jobId=$jobId jobType=$jobType")
  override def write(df: DataFrame, table: String): Unit =
    note(s"APPEND ${df.schema.fields.length}-column batch INTO $table")
}

/**
 * Idempotent PostgreSQL DDL for the reference schema — the declarative
 * twin of the SQLAlchemy Table definitions (ua2sql.py:37–91), including
 * the PG-specific types Spark cannot express (INET, JSONB) per the
 * SURVEY.md §1.2 mapping. `IF NOT EXISTS` ≙ metadata.create_all.
 */
object PgDdl {

  /** PG column type for one Spark field, feed-aware (ua2sql.py:46–86). */
  def pgType(field: StructField): String = field.name match {
    case "remote_ip" => "INET"
    case "custom_params" | "receipt" => "JSONB"
    case _ => field.dataType match {
      case TimestampType => "TIMESTAMP"
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case d: DecimalType => s"NUMERIC(${d.precision},${d.scale})"
      case DoubleType => "DOUBLE PRECISION"
      case StringType => "TEXT"
      case other => sys.error(s"no PG mapping for ${other.simpleString}")
    }
  }

  /** A case-preserving quoted identifier; embedded quotes are doubled. */
  def quoteIdent(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  /** CREATE TABLE IF NOT EXISTS with a SERIAL surrogate id, mirroring the
    * reference's autoincrement primary keys (ua2sql.py:40,47,58,72). */
  def createTableSql(feed: FeedSpec): String = {
    val cols = feed.table.fields
      .map(f => s"${quoteIdent(f.name)} ${pgType(f)}")
      .mkString(",\n  ")
    s"""CREATE TABLE IF NOT EXISTS ${quoteIdent(feed.name)} (
       |  id SERIAL PRIMARY KEY,
       |  $cols
       |)""".stripMargin
  }

  /** One ledger row per completed load (ua2sql.py:277–278: ts=utcnow,
    * jobId, jobType). Values are inlined as escaped literals so the
    * statement flows through the same single-statement runner as DDL;
    * jobIds are charset-validated upstream, and single quotes are doubled
    * here anyway. */
  def insertJobSql(ts: java.time.Instant, jobId: String, jobType: String): String = {
    def q(s: String) = s.replace("'", "''")
    val tsLit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(ts)
    s"""INSERT INTO "JobId" ("ts", "jobId", "jobType") VALUES (TIMESTAMP '$tsLit', '${q(jobId)}', '${q(jobType)}')"""
  }

  /** The ledger table (ua2sql.py:39–44). */
  val jobLedgerSql: String =
    """CREATE TABLE IF NOT EXISTS "JobId" (
      |  id SERIAL PRIMARY KEY,
      |  "ts" TIMESTAMP,
      |  "jobId" TEXT,
      |  "jobType" TEXT
      |)""".stripMargin
}
