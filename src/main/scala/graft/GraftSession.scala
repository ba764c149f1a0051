package graft
import org.apache.spark.sql.SparkSession
/** The one builder of local tool sessions: Bench, Verify, Plans, Prof and
  * the test suites all come from here, so the plans a tool prints are the
  * plans that get benched and tested. `graft.Main` keeps its own builder:
  * its master comes from spark-submit and it may reuse an embedding
  * session, so its settings are deployment settings, not tool settings.
  */
object GraftSession {
  /** Local threads = shuffle partitions; `SPARK_GRAFT_CPUS`, else 4. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** `extra` confs are applied last, before `getOrCreate`, so static confs
    * (Prof's `SPARK_GRAFT_CONF` experiments) take effect too. */
  def local(cpus: Int = defaultCpus, extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Fixture timestamp encodings drift across fixture regenerations
      // (ns-as-long in early ones, naive µs/NTZ later); Tables.t/events
      // normalize either form, and this conf keeps the ns form readable.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
