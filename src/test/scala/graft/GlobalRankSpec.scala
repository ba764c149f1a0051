package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GlobalRank

/**
 * GlobalRank must equal the single-partition window formulation bit-for-bit
 * (it replaces it in q45/q56), and the queries that ride it must carry no
 * unpartitioned window over DATA rows — only the documented control-plane
 * prefix-sum over the one-row-per-partition counts frame.
 */
class GlobalRankSpec extends AnyFunSuite with SparkSuite {

  private def fixture(n: Int) = {
    import spark.implicits._
    // Values with duplicates; (v, id) is the unique total order.
    (1 to n).map(i => ((i * 7919) % 23, i.toLong)).toDF("v", "id")
  }

  private def ranked(n: Int) = {
    import spark.implicits._
    GlobalRank.withGlobalRank(fixture(n), Seq($"v", $"id"), "rk", "n_total", partitions = 4)
  }

  test("default partition count derives from measured pinned bytes (r11: was conf-inherited)") {
    import spark.implicits._
    // correctness under the byte-derived default path: exact 1..n ranks
    val w = Window.orderBy($"v", $"id")
    val expected = fixture(61)
      .withColumn("rk_w", row_number().over(w).cast("long"))
      .select($"id", $"rk_w")
    val got = GlobalRank.withGlobalRank(fixture(61), Seq($"v", $"id"), "rk", "n")
    assert(got.join(expected, "id").filter($"rk" =!= $"rk_w").count() === 0)
    assert(got.agg(org.apache.spark.sql.functions.max($"n")).head().getLong(0) === 61L)
  }

  test("derivedRangePartitions: one partition per targetBytes of measured pin, floor 1") {
    import spark.implicits._
    val pinned = graft.ops.Pin(fixture(1000))
    // a ~KB-scale frame derives 1 partition under the 64 MB default
    assert(GlobalRank.derivedRangePartitions(pinned) === 1)
    val prev = spark.conf.getOption("spark.graft.rank.targetBytes")
    try {
      spark.conf.set("spark.graft.rank.targetBytes", "1024")
      // tiny target: the same measured bytes now derive several partitions
      assert(GlobalRank.derivedRangePartitions(pinned) > 1)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.rank.targetBytes", v)
      case None    => spark.conf.unset("spark.graft.rank.targetBytes")
    }
    // a frame that is NOT an in-memory pin falls back to the conf count
    assert(GlobalRank.derivedRangePartitions(fixture(10)) ===
      spark.sessionState.conf.numShufflePartitions)
  }

  test("global rank equals row_number over the unpartitioned window") {
    import spark.implicits._
    val w = Window.orderBy($"v", $"id")
    val expected = fixture(97)
      .withColumn("rk_w", row_number().over(w).cast("long"))
      .select($"id", $"rk_w")
    val got = ranked(97).select($"id", $"rk")
    val diff = got.join(expected, "id").filter($"rk" =!= $"rk_w").count()
    assert(diff === 0)
  }

  test("withGlobalPrefixSum equals the unpartitioned running-sum window") {
    import spark.implicits._
    val w = Window.orderBy($"v", $"id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for (parts <- Seq(1, 3, 4, 7)) {
      val df = fixture(97).withColumn("wt", ($"id" % 5) + 1)
      val expected = df
        .withColumn("cum_w", sum($"wt").over(w))
        .select($"id", $"cum_w")
      val got = GlobalRank.withGlobalPrefixSum(df, Seq($"v", $"id"), $"wt",
        "rk", "n_total", "cum", "total", partitions = parts)
      val diff = got.join(expected, "id").filter($"cum" =!= $"cum_w").count()
      assert(diff === 0, s"prefix-sum mismatch at partitions=$parts")
      // total is the grand sum on every row; final rank's cum == total
      val totals = got.select($"total").distinct().as[Long].collect()
      val grand = df.agg(sum($"wt")).as[Long].head()
      assert(totals.toSeq === Seq(grand))
      assert(got.filter($"rk" === $"n_total").select($"cum").as[Long].head() === grand)
    }
  }

  test("withGlobalPrefixMax equals the unpartitioned exclusive running-max window") {
    import spark.implicits._
    val w = Window.orderBy($"v", $"id")
      .rowsBetween(Window.unboundedPreceding, -1)
    for (parts <- Seq(1, 3, 4, 7)) {
      val df = fixture(53).withColumn("wt", ($"id" * 37) % 29)
      val expected = df
        .withColumn("cm_w", max($"wt").over(w))
        .select($"id", $"cm_w")
      val got = GlobalRank.withGlobalPrefixMax(df, Seq($"v", $"id"), $"wt",
        "rk", "n_total", "cm", partitions = parts)
      // null-safe compare: the global first row is NULL on both sides
      val diff = got.join(expected, "id")
        .filter(!($"cm" <=> $"cm_w")).count()
      assert(diff === 0, s"prefix-max mismatch at partitions=$parts")
      assert(got.filter($"rk" === 1).select($"cm").head().isNullAt(0))
    }
  }

  test("ntileFromRank matches SQL NTILE for every n in 1..40 (k=10)") {
    import spark.implicits._
    for (n <- Seq(1, 3, 9, 10, 11, 19, 20, 21, 26, 37, 40)) {
      val w = Window.orderBy($"v", $"id")
      val expected = fixture(n)
        .withColumn("nt", ntile(10).over(w).cast("long"))
        .select($"id", $"nt")
      val got = ranked(n)
        .withColumn("nt2", GlobalRank.ntileFromRank($"rk", $"n_total", 10))
        .select($"id", $"nt2")
      val diff = got.join(expected, "id").filter($"nt2" =!= $"nt").count()
      assert(diff === 0, s"ntile mismatch at n=$n")
    }
  }

  test("percent_rank and cume_dist ratios are bit-identical to the window functions") {
    import spark.implicits._
    val w = Window.orderBy($"v", $"id")
    val expected = fixture(53)
      .withColumn("pr_w", percent_rank().over(w))
      .withColumn("cd_w", cume_dist().over(w))
      .select($"id", $"pr_w", $"cd_w")
    val got = ranked(53)
      .withColumn("pr", GlobalRank.percentRankFromRank($"rk", $"n_total"))
      .withColumn("cd", GlobalRank.cumeDistFromRank($"rk", $"n_total"))
      .select($"id", $"pr", $"cd")
    val diff = got.join(expected, "id")
      .filter($"pr" =!= $"pr_w" || $"cd" =!= $"cd_w").count()
    assert(diff === 0)
  }

  test("percent_rank of a single row is 0, not NaN") {
    import spark.implicits._
    val r = ranked(1)
      .select(GlobalRank.percentRankFromRank($"rk", $"n_total").as("pr"))
      .collect().head.getDouble(0)
    assert(r === 0.0)
  }

  test("under a reliable checkpoint dir a rank writes only its tagged pin") {
    import spark.implicits._
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-rank-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      GlobalRank.withGlobalRank(fixture(50), Seq($"v", $"id"), "rk", "n")
      // the scratch input copy must stay executor-local: its reliable
      // files would outlive the drop and leak one input copy per rank
      def rddDirs(p: java.io.File): Seq[java.io.File] =
        Option(p.listFiles).map(_.toSeq).getOrElse(Nil).filter(_.isDirectory)
          .flatMap(d => if (d.getName.startsWith("rdd-")) Seq(d) else rddDirs(d))
      assert(rddDirs(new java.io.File(dir)).size === 1)
    } finally sc.setCheckpointDir(null)
  }

  test("a rank whose order does not resolve drops its scratch input pin") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    intercept[org.apache.spark.sql.AnalysisException] {
      GlobalRank.withGlobalRank(fixture(50), Seq($"no_such_col"), "rk", "n")
    }
    // new ids only: earlier suites' pins may be reclaimed meanwhile
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  // ---- plan guards -------------------------------------------------------

  /** Unpartitioned WindowExec nodes whose input is NOT reduced to the
    * control-plane counts frame (an aggregate keyed by _gr_pid). */
  private def dataSizedGlobalWindows(plan: SparkPlan): Seq[WindowExec] = {
    def hasPidAgg(p: SparkPlan): Boolean = p.collectFirst {
      case a: HashAggregateExec if a.groupingExpressions.exists(_.name == "_gr_pid") => a
      case a: ObjectHashAggregateExec if a.groupingExpressions.exists(_.name == "_gr_pid") => a
      case a: SortAggregateExec if a.groupingExpressions.exists(_.name == "_gr_pid") => a
    }.isDefined
    plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty && !hasPidAgg(w.child) => w
    }
  }

  test("q45/q56: no single-partition window over data rows") {
    for (q <- Seq("q45_acctbal_deciles", "q56_acctbal_dist")) {
      val p = SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan
      val bad = dataSizedGlobalWindows(p)
      assert(bad.isEmpty, s"$q has a data-sized global window:\n${bad.mkString("\n")}")
    }
  }

  test("no registered query has an unpartitioned window over data rows") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val p = SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan
      if (dataSizedGlobalWindows(p).nonEmpty) Some(q) else None
    }
    assert(offenders.isEmpty, s"unpartitioned data windows in: $offenders")
  }
}
