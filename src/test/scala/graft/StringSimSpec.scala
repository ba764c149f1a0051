package graft

import graft.functions.StringSimilarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The native Jaro–Winkler Catalyst expression: pinned reference values,
 * null/empty semantics, metric properties over random strings, and the
 * q226 blocking query against a brute-force driver replay. The DuckDB
 * oracle gate then cross-checks the same doubles engine-to-engine (the
 * expression was pinned bit-for-bit against jaro_winkler_similarity over
 * 30k random pairs before landing).
 */
class StringSimSpec extends AnyFunSuite with SparkSuite {

  private def jw(a: String, b: String): Double = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(StringSimilarity.jaroWinkler($"a", $"b").as("j"))
      .collect().head.getDouble(0)
  }

  test("pinned reference values (Winkler 1990 classics + DuckDB edge cases)") {
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-15)
    assert(math.abs(jw("dwayne", "duane") - 0.8400000000000001) < 1e-15)
    assert(math.abs(jw("jellyfish", "smellyfish") - 0.8962962962962964) < 1e-15)
    // boost threshold: jaro 0.6 ≤ 0.7 → NO Winkler boost despite prefix 4
    assert(jw("abcdefghij", "abcdxyzuvw") === 0.6)
    // DuckDB's empty-string convention: 0, even for two empties
    assert(jw("", "") === 0.0)
    assert(jw("", "abc") === 0.0)
    // the max(0, window) clamp: identical 1-char strings are 1, not 0
    assert(jw("a", "a") === 1.0)
    assert(jw("a", "b") === 0.0)
    assert(jw("ab", "ba") === 0.0)
  }

  test("null inputs propagate null") {
    import spark.implicits._
    val r = Seq((Option("x"), Option.empty[String]))
      .toDF("a", "b")
      .select(StringSimilarity.jaroWinkler($"a", $"b").as("j"))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("metric properties over random strings: symmetry, identity, range") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val strs = Seq.fill(60)(
      (0 until rnd.nextInt(12)).map(_ => "abcde xyz".charAt(rnd.nextInt(9))).mkString)
    val df = strs.flatMap(a => strs.map(b => (a, b))).toDF("a", "b")
      .select($"a", $"b", StringSimilarity.jaroWinkler($"a", $"b").as("j"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    df.foreach { case ((a, b), j) =>
      assert(j >= 0.0 && j <= 1.0, (a, b))
      assert(j === df((b, a)), s"asymmetric at ($a, $b)")
      if (a == b && a.nonEmpty) assert(j === 1.0, a)
    }
  }

  test("q226 blocking: equals the brute-force all-pairs scan restricted to blocks") {
    import spark.implicits._
    val got = graft.ops.StatsQueries.queries("q226_jw_blocking")(spark, sf0001)
      .collect()
      .map(r => ((r.getString(1), r.getString(2)),
        (r.getString(0), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    val names = spark.read.parquet(s"$sf0001/part.parquet")
      .groupBy($"p_name").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent scorer: the same published algorithm, written against
    // the test's own state machine rather than the expression's
    def ref(s1: String, s2: String): Double = {
      if (s1.isEmpty || s2.isEmpty) return 0.0
      val w = math.max(0, math.max(s1.length, s2.length) / 2 - 1)
      val used = Array.fill(s2.length)(false)
      val ms1 = s1.indices.flatMap { i =>
        (math.max(0, i - w) to math.min(s2.length - 1, i + w))
          .find(j => !used(j) && s1(i) == s2(j))
          .map { j => used(j) = true; (i, j) }
      }
      if (ms1.isEmpty) return 0.0
      val m = ms1.length.toDouble
      val s2matched = ms1.map(_._2).sorted.map(s2(_))
      val t = ms1.map(_._1).map(s1(_)).zip(s2matched).count(p => p._1 != p._2) / 2
      val j = (m / s1.length + m / s2.length + (m - t) / m) / 3.0
      if (j <= 0.7) j
      else j + s1.zip(s2).take(4).takeWhile(p => p._1 == p._2).length * 0.1 * (1 - j)
    }
    val exp = (for {
      (a, na) <- names; (b, nb) <- names
      if a < b && a.split(" ").head == b.split(" ").head
      s = ref(a, b) if s >= 0.85
    } yield ((a, b), (a.split(" ").head, na, nb, s))).toMap
    assert(got.keySet === exp.keySet)
    got.foreach { case (k, (blk, pa, pb, j)) =>
      val (eb, ea, eb2, es) = exp(k)
      assert(blk === eb && pa === ea && pb === eb2, k)
      // the query ROUNDs to 6dp on output; compare at that grain
      assert(math.abs(j - es) < 5.1e-7, k)
    }
    assert(got.nonEmpty)
  }
}
