package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (JVM-wide, lazy). */
trait SparkSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSuite {
  // cpus pinned: SPARK_GRAFT_CPUS follows the box, test parallelism must not
  lazy val session: SparkSession = GraftSession.local(cpus = 4)
}
