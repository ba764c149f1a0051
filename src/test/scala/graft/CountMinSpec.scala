package graft

import graft.functions.{CmsBuffer, CountMin}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Count–min guarantees behind q110: never-undercount, the classic
  * overcount bound, merge-shape independence (what makes the grid
  * oracle-checkable), and JVM-vs-SQL hash-family agreement. */
class CountMinSpec extends AnyFunSuite with SparkSuite {

  private val Depth = 4
  private val Width = 256

  private def gridOf(items: Seq[String], parts: Int): (Long, Seq[Long]) = {
    import spark.implicits._
    val row = items.toDF("item").repartition(parts)
      .agg(CountMin.sketch($"item", Depth, Width).as("sk"))
      .select($"sk.n", $"sk.cells").head()
    (row.getLong(0), row.getSeq[Long](1))
  }

  // skewed stream: item-i appears ~2000/(i+1) times, vocab 80
  private val stream: Seq[String] =
    (0 until 80).flatMap(i => Seq.fill(2000 / (i + 1))(s"w$i"))
  private val exact: Map[String, Long] =
    stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  private def estimate(cells: Seq[Long], item: String): Long =
    (0 until Depth).map(d => cells(d * Width + CountMin.bucket(d, item, Width))).min

  test("estimates never undercount and respect the 2N/width bound") {
    val (n, cells) = gridOf(stream, parts = 7)
    assert(n === stream.size.toLong)
    val bound = 2.0 * n / Width
    exact.foreach { case (item, t) =>
      val e = estimate(cells, item)
      assert(e >= t, s"$item undercounted: est $e < true $t")
      assert(e <= t + bound * Depth, // loose deterministic ceiling for the fixture
        s"$item overcounted far past bound: est $e vs true $t (+${bound * Depth})")
    }
  }

  test("the grid is identical under any partitioning (merge = elementwise add)") {
    val a = gridOf(stream, parts = 1)
    val b = gridOf(stream, parts = 13)
    assert(a === b)
  }

  test("JVM updater and Spark's conv(md5) SQL face compute the same buckets") {
    import spark.implicits._
    val items = exact.keys.toSeq.sorted
    val viaSql = items.toDF("tok")
      .crossJoin(spark.range(0, Depth).select($"id".cast("int").as("seed")))
      .withColumn("bucket",
        (conv(substring(md5(concat($"seed".cast("string"), lit(":"), $"tok")), 1, 8),
          16, 10).cast("long") % Width).cast("int"))
      .select($"tok", $"seed", $"bucket")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    items.foreach { item =>
      (0 until Depth).foreach { d =>
        assert(viaSql((item, d)) === CountMin.bucket(d, item, Width),
          s"hash family drift for ($d, $item)")
      }
    }
  }

  test("serialization round-trips the exact grid") {
    val buf = new CmsBuffer(Depth, Width)
    stream.take(500).foreach(buf.offer)
    val agg = graft.functions.CountMinSketchAgg(
      org.apache.spark.sql.catalyst.expressions.Literal("x"),
      org.apache.spark.sql.catalyst.expressions.Literal(Depth),
      org.apache.spark.sql.catalyst.expressions.Literal(Width))
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.n === buf.n)
    assert(back.cells.toSeq === buf.cells.toSeq)
    assert(back.estimate("w0") === buf.estimate("w0"))
  }

  test("q110 estimates equal or exceed the exact counts on the fixture") {
    val df = graft.SparkEntry.queries("q110_countmin_freq")(spark, sf0001)
    val rows = df.collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"${r.getString(0)}: cms_est $est < exact_n $exact")
    }
  }
}
