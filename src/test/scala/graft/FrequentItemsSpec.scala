package graft

import graft.functions.FrequentItems
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Misra–Gries guarantees behind q74: bounded undercount, no false
  * negatives above the error floor, merge-shape independence. */
class FrequentItemsSpec extends AnyFunSuite with SparkSuite {

  private def sketchOf(items: Seq[String], cap: Int, parts: Int): (Long, Map[String, Long]) = {
    import spark.implicits._
    val row = items.toDF("item").repartition(parts)
      .agg(FrequentItems.sketch($"item", cap).as("sk"))
      .select($"sk.n", $"sk.entries").head()
    val entries = row.getAs[scala.collection.Seq[Row]](1)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (row.getLong(0), entries)
  }

  // skewed synthetic stream: item-i appears ~1000/(i+1) times (vocab 60 ≫ cap)
  private val stream: Seq[String] =
    (0 until 60).flatMap(i => Seq.fill(1000 / (i + 1))(s"item-$i"))
  private val exact: Map[String, Long] =
    stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("counts never exceed the truth and undercount at most N/(cap+1)") {
    for (parts <- Seq(1, 7)) {
      val (n, sk) = sketchOf(stream, cap = 16, parts = parts)
      assert(n === stream.size.toLong)
      val bound = n / 17 + 1 // N/(cap+1), integer slack
      sk.foreach { case (item, c) =>
        val t = exact(item)
        assert(c <= t, s"$item overcounted: sketch $c > true $t (parts=$parts)")
        assert(c >= t - bound, s"$item undercounted past bound: $c < $t - $bound (parts=$parts)")
      }
    }
  }

  test("every item above the error floor is present (no false negatives)") {
    for (parts <- Seq(1, 7)) {
      val (n, sk) = sketchOf(stream, cap = 16, parts = parts)
      val floor = n.toDouble / 17
      val mustHave = exact.collect { case (k, v) if v > floor => k }
      val missing = mustHave.filterNot(sk.contains)
      assert(missing.isEmpty, s"heavy items missing (parts=$parts): $missing")
    }
  }

  test("a vocabulary within capacity is counted exactly") {
    val (n, sk) = sketchOf(stream.take(1500), cap = 256, parts = 5)
    val exactHead = stream.take(1500).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    assert(n === 1500L)
    assert(sk === exactHead)
  }

  test("q74 equals the plain exact heavy-hitter query on the fixture") {
    import spark.implicits._
    val got = SparkEntry.queries("q74_heavy_hitters")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(explode(split(lower($"text"), " ")).as("token"))
    val n = toks.count()
    val expected = toks.groupBy($"token").agg(count(lit(1)).as("c"))
      .filter($"c" > n * 0.02)
      .orderBy($"c".desc, $"token")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
  }
}
