package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftPlanApi}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/**
 * Column-API face over Spark's own Bloom-filter expressions — the pair
 * Catalyst uses for runtime join pruning (`BloomFilterAggregate` /
 * `BloomFilterMightContain`, both codegen-capable), surfaced as Column
 * faces the same way as [[VectorFunctions]]. Re-using the engine's
 * sketch keeps the build distributive (partial bitsets OR-merge like any
 * aggregate) and the membership probe inside whole-stage codegen — no
 * UDF, no custom serialization.
 *
 * The built filter is inlined as a binary literal on the probe side
 * (`might_contain` requires a constant — the same constraint Spark's own
 * runtime filters satisfy via scalar subqueries), so the driver holds one
 * bitset of ~1.44·log₂(1/fpp)·n bits: ~180 MB for 10⁸ keys at 1% fpp,
 * an order of magnitude under the exact string set it replaces.
 */
object BloomFunctions {

  val AggName = "graft_bloom_agg"
  val ContainsName = "graft_might_contain"

  /** Distributed Bloom build over `xxhash64(col)`: only the final bitset
    * (never the keys) reaches the driver.
    *
    * `BloomFilterAggregate` SILENTLY clamps its arguments to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`
    * (defaults 4e6 / 6.7e7): a 10⁸-key filter sized per the class doc
    * would quietly degrade to an 8 MB bitset with fpp ≈ 1 and the
    * prefilter would stop pruning. Raise the caps for the build (and
    * restore them after) so the caller gets the filter they asked for. */
  def build(df: DataFrame, col: Column, expectedItems: Long, numBits: Long): Array[Byte] = {
    val spark = df.sparkSession
    val caps = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> expectedItems,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits)
    val prev = caps.map { case (k, v) => (k, spark.conf.getOption(k), v) }
    try {
      prev.foreach { case (k, cur, want) =>
        if (cur.forall(_.toLong < want)) spark.conf.set(k, want)
      }
      df.select(GraftPlanApi.face(xxhash64(col))(x => new BloomFilterAggregate(
          x(0), Literal(expectedItems), Literal(numBits)).toAggregateExpression()).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    } finally prev.foreach {
      case (k, Some(v), _) => spark.conf.set(k, v)
      case (k, None, _) => spark.conf.unset(k)
    }
  }

  /** Membership probe against a built filter. No false negatives; false
    * positives at the filter's fpp — callers needing exactness follow
    * with a verify join (see q73). */
  def mightContain(bloom: Array[Byte], col: Column): Column =
    GraftPlanApi.face(xxhash64(col))(x => new BloomFilterMightContain(Literal(bloom), x(0)))
}
