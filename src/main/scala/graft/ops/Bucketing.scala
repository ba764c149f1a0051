package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import Tables._

/**
 * Bucketed-table co-location — the write-once / join-many layout strategy
 * for repeatedly-joined big tables (SURVEY.md §2.G; spark_guide bucketing).
 *
 * `bucketBy(k, key) + sortBy(key)` hashes rows into k bucket files at
 * WRITE time, so every later equi-join on the bucket key reads co-located,
 * pre-sorted buckets and plans a SortMergeJoin with NO Exchange and NO
 * Sort on either side (BucketingSpec + PlanSpec pin this on the physical
 * plan). At 100 TB this converts the dominant recurring cost of a star
 * schema — re-shuffling both fact tables on every join — into a one-off
 * write-side cost paid when the table lands.
 *
 * The bucket count sizes per-task work: k tasks read one bucket each, so
 * k should be ≳ cluster parallelism and small enough that one bucket pair
 * fits in executor memory (at 100 TB use thousands of buckets, not 8 —
 * the fixture value keeps file counts sane at test scale). Both sides
 * MUST agree on k, or Spark silently reintroduces the shuffle on the
 * mismatched side.
 */
object Bucketing {

  val Buckets = 8

  /** Writes `orders` and `customer` co-bucketed by customer key under a
    * per-process temp warehouse path — AT MOST ONCE per (application,
    * dir) — and returns the co-located equi-join. Write-once/join-many is
    * the operator's whole thesis, so repeated invocations (bench
    * iterations, repeated Verify runs) must pay only the JOIN: the
    * [[AppCaches.memo]] skips the bucket writes when this application
    * already laid out this `dir`. The catalog entries die with the
    * SparkContext, so a second application in the same JVM writes again.
    * The path derives from (`dir`, pid): distinct ACROSS processes, so a
    * concurrent test/Verify/Bench pair can't Overwrite-delete each
    * other's bucket files mid-read; it is removed when the JVM exits
    * cleanly. The saveAsTable names are catalog-wide within the
    * application — callers must run queries sequentially (the
    * Verify/Bench/test contract). The memo holds the two table frames
    * resolved right after the write, so a `dir` switch (cross-SF sweeps)
    * repoints the catalog names without disturbing an earlier dir's
    * frames or files. A real deployment points the layout at per-dataset
    * warehouse storage, where write-once is the whole point. */
  def colocatedOrdersCustomer(s: SparkSession, dir: String): DataFrame = {
    val (orders, c) = AppCaches.memo(s, dir, "bucketedLayout") {
      val root = AppCaches.scratchDir(sys.props("java.io.tmpdir"),
        s"graft-bucketed-${Integer.toHexString(dir.hashCode)}-" +
          ProcessHandle.current().pid()).toString
      writeBucketed(t(s, dir, "orders"), "graft_b_orders", "o_custkey", root)
      writeBucketed(t(s, dir, "customer"), "graft_b_customer", "c_custkey", root)
      (s.table("graft_b_orders"), s.table("graft_b_customer"))
    }
    // merge hint: at fixture scale Catalyst would broadcast the customer
    // side and hide the co-location property; at the scales bucketing is
    // FOR, neither side broadcasts and SMJ is what the planner picks anyway
    val o = orders.hint("merge")
    o.join(c, o("o_custkey") === c("c_custkey"))
  }

  private def writeBucketed(df: DataFrame, name: String, key: String,
                            root: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", s"$root/$name")
      .bucketBy(Buckets, key).sortBy(key)
      .saveAsTable(name)
}
