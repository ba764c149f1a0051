package graft

import graft.functions.BloomFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Bloom prefilter contract behind q73: zero false negatives
  * (membership is never missed, so the verify join loses nothing) and a
  * false-positive rate compatible with the filter's sizing. */
class BloomSpec extends AnyFunSuite with SparkSuite {

  test("no false negatives: every inserted key passes might_contain") {
    import spark.implicits._
    val keys = (0 until 5000).map(i => s"key-$i").toDF("k")
    val bloom = BloomFunctions.build(keys, $"k", expectedItems = 5000L, numBits = 60000L)
    val missed = keys.filter(!BloomFunctions.mightContain(bloom, $"k")).count()
    assert(missed === 0L)
  }

  test("false positives stay near the designed rate") {
    import spark.implicits._
    val keys = (0 until 5000).map(i => s"key-$i").toDF("k")
    // ~12 bits/key with the sketch's optimal hash count → fpp well under 1%
    val bloom = BloomFunctions.build(keys, $"k", expectedItems = 5000L, numBits = 60000L)
    val probes = (0 until 20000).map(i => s"absent-$i").toDF("k")
    val fp = probes.filter(BloomFunctions.mightContain(bloom, $"k")).count()
    assert(fp.toDouble / 20000 < 0.02, s"fp rate ${fp / 20000.0}")
  }

  test("build sizes past Spark's runtime-filter caps are honored, not clamped") {
    import spark.implicits._
    val keys = (0 until 100).map(i => s"k$i").toDF("k")
    // numBits above spark.sql.optimizer.runtime.bloomFilter.maxNumBits
    // (6.7e7): BloomFilterAggregate silently clamps unless build() lifts
    // the cap — a clamped filter here would serialize to ~8 MB.
    val wantBits = 100000000L
    val bloom = BloomFunctions.build(keys, $"k",
      expectedItems = 5000000L, numBits = wantBits)
    assert(bloom.length.toLong > 67108864L / 8,
      s"bitset ${bloom.length} bytes — the requested $wantBits bits were clamped")
    // and the session caps are restored afterwards
    assert(spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits").forall(_.toLong == 67108864L))
  }

  test("bloom prefilter + verify join equals the exact decontamination answer") {
    val exact = SparkEntry.queries("q53_decontamination")(spark, sf0001).collect().toSeq
    val bloomed = SparkEntry.queries("q73_decontamination_bloom")(spark, sf0001).collect().toSeq
    assert(bloomed === exact)
  }
}
