package graft.ops

import graft.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/**
 * SQL face of the engine: registers every fixture table as a temp view and
 * every native function under its SQL name, so the whole operator surface
 * is reachable through `spark.sql(...)` as well as the DataFrame API (same
 * Catalyst plans either way). This is the one place the engine writes the
 * session's function registry; the DataFrame faces build their
 * expressions directly. Window-top-k idioms in SQL run on GroupTopK's
 * bounded heaps only in a session built with
 * `spark.sql.extensions=graft.plans.GraftExtensions` (see
 * plans/GroupTopKRewrite); registering views installs no rule.
 */
object Views {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** SQL name → arity → builder of every native function. */
  private val sqlFunctions: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    (VectorFunctions.CosineName, 2, x => CosineSimilarity(x(0), x(1))),
    (VectorFunctions.LongDotName, 2, x => LongDotProduct(x(0), x(1))),
    (VectorFunctions.OverlapName, 2, x => LongOverlapCount(x(0), x(1))),
    (VectorFunctions.AndAnyName, 2, x => LongAndAny(x(0), x(1))),
    (VectorFunctions.TopKName, 3, x => TopKPairs(x(0), x(1), x(2))),
    (VectorFunctions.SrpName, 1, x => SrpSignature(x(0), VectorFunctions.srpPlanes)),
    (BloomFunctions.AggName, 3, x => new BloomFilterAggregate(x(0), x(1), x(2))),
    (BloomFunctions.ContainsName, 2, x => new BloomFilterMightContain(x(0), x(1))),
    (FrequentItems.Name, 2, x => FrequentItemsSketch(x(0), x(1))),
    (CountMin.Name, 3, x => CountMinSketchAgg(x(0), x(1), x(2))),
    (PHashFunctions.Name, 1, x => PHash128(x(0))),
    (StringSimilarity.JaroWinklerName, 2, x => JaroWinkler(x(0), x(1))))

  /** Register `<table>` views over `dir`, plus [[sqlFunctions]]; `events`
    * gets the normalized ts_ns/ms/ts columns from [[Tables.events]]. The
    * arity guard runs in the builder (= at analysis time), so a malformed
    * SQL call fails resolution with a message, not an index error. */
  def register(spark: SparkSession, dir: String): Unit = {
    sqlFunctions.foreach { case (name, arity, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, args => {
        if (args.length != arity)
          throw new IllegalArgumentException(
            s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}, got ${args.length}")
        build(args)
      }, "built-in")
    }
    tables.foreach { name =>
      val df = if (name == "events") Tables.events(spark, dir)
               else Tables.t(spark, dir, name)
      df.createOrReplaceTempView(name)
    }
    registeredDir.put(spark, dir)
  }

  // One registration per session-and-dir: sql() is a hot entry point, and
  // re-reading 10 parquet footers + replacing 10 views per query is pure
  // churn. The views are session-global, so the cache tracks the CURRENT
  // dir per session — switching dirs re-registers (and invalidates the
  // other dir), and register() can always be called explicitly to force.
  private val registeredDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    if (registeredDir.get(spark) != dir) register(spark, dir)
    spark.sql(query)
  }
}
