package perfbench

import java.util.concurrent.atomic.DoubleAdder

import graft.model.{FeedSpec, Schemas}
import graft.sink.{BatchSink, JdbcSink}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/**
 * The DB leg of `ingest_daily`: `JdbcSink` with the 1000-row batches `Main`
 * selects, writing into an embedded Derby database inside the benchmark's
 * work directory.
 *
 * `JdbcSink` emits PostgreSQL statements (`PgDdl`: IF NOT EXISTS, SERIAL,
 * INET, JSONB, `TIMESTAMP '…'` literals), which Derby does not parse. Its
 * `ddlRunner` hook receives each statement; [[ddl]] runs the Derby
 * equivalent instead.
 */
final class DerbyLeg(dbDir: String) {
  val url: String = s"jdbc:derby:$dbDir;create=true"

  private def connection() = java.sql.DriverManager.getConnection(url)

  private def exec(sql: String): Unit = {
    val c = connection()
    try { val st = c.createStatement(); try st.execute(sql) finally st.close() }
    finally c.close()
  }

  private val CreateFeed = """(?s)CREATE TABLE IF NOT EXISTS "([A-Za-z]+)".*""".r
  private val CreateLedger = """(?s)CREATE TABLE IF NOT EXISTS "JobId".*""".r
  private val TsLiteral = """TIMESTAMP '([0-9: .-]+)'""".r

  /** Runs the Derby form of one `PgDdl` statement. */
  def ddl(sql: String): Unit = sql match {
    case CreateLedger() => createIfMissing("JobId", Seq(
      "\"ts\" TIMESTAMP", "\"jobId\" VARCHAR(256)", "\"jobType\" VARCHAR(64)"))
    case CreateFeed(name) =>
      createIfMissing(name, Schemas.feed(name).table.fields.toSeq
        .map(f => s""""${f.name}" ${derbyType(f)}"""))
    case _ => exec(TsLiteral.replaceAllIn(sql, m => s"TIMESTAMP('${m.group(1)}')"))
  }

  private def derbyType(f: StructField): String = f.dataType match {
    case TimestampType => "TIMESTAMP"
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case DoubleType => "DOUBLE"
    case _ => "CLOB"
  }

  // Derby has no IF NOT EXISTS; X0Y32 is "table already exists". No
  // surrogate id: Derby allocates identity values under a catalog lock, and
  // concurrent feed transactions then time out on each other.
  private def createIfMissing(table: String, cols: Seq[String]): Unit =
    try exec(s"""CREATE TABLE "$table" (${cols.mkString(", ")})""")
    catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }

  def count(table: String): Long = {
    val c = connection()
    try {
      val rs = c.createStatement().executeQuery(s"""SELECT COUNT(*) FROM "$table"""")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** Closes this database (the engine stays up); Derby reports a clean
    * close as SQLState 08006. */
  def shutdown(): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir;shutdown=true")
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
}

/**
 * A timing `BatchSink` around `JdbcSink`. It quotes the table name it passes
 * on: `JdbcSink.write` hands `dbtable` to Spark unquoted, so Derby folds
 * `appStart` to APPSTART (a table `PgDdl` never created) and rejects
 * `transaction`, a reserved word. Every call is a `sink.*` span whose Spark
 * jobs are attributed through the job group the span sets on the feed
 * thread.
 */
final class TimingSink(inner: JdbcSink, spark: SparkSession, trace: Trace) extends BatchSink {
  val writeSeconds = new DoubleAdder
  val ddlSeconds = new DoubleAdder

  private def timed[A](acc: DoubleAdder)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally acc.add((System.nanoTime() - t0) / 1e9)
  }

  override def write(df: DataFrame, table: String): Unit = timed(writeSeconds) {
    trace.span(s"${Trace.ConcurrentPrefix}write", spark)(inner.write(df, "\"" + table + "\""))
  }

  override def ensureTable(feed: FeedSpec): Unit = timed(ddlSeconds) {
    trace.span(s"${Trace.ConcurrentPrefix}ddl", spark)(inner.ensureTable(feed))
  }

  override def appendJob(jobId: String, jobType: String): Unit = timed(ddlSeconds) {
    trace.span(s"${Trace.ConcurrentPrefix}ddl", spark)(inner.appendJob(jobId, jobType))
  }
}
