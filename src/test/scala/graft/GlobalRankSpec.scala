package graft

import org.apache.spark.sql.{DataFrame, GraftPlanApi, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GlobalRank
import graft.plans.{GlobalRankExec, GlobalRankStrategy, GraftExtensions}

/**
 * GlobalRank must equal the single-partition window formulation bit-for-bit
 * (it replaces it in q45/q56) at any range-partition count, with AQE on or
 * off; the queries that ride it must carry no unpartitioned window over
 * data rows and must build without running a Spark job.
 */
class GlobalRankSpec extends AnyFunSuite with SparkSuite with AdaptiveSparkPlanHelper {

  private def fixture(n: Int) = {
    import spark.implicits._
    // Values with duplicates; (v, id) is the unique total order.
    (1 to n).map(i => ((i * 7919) % 23, i.toLong)).toDF("v", "id")
  }

  private def ranked(n: Int) = {
    import spark.implicits._
    GlobalRank.withGlobalRank(fixture(n), Seq($"v", $"id"), "rk", "n_total")
  }

  /** Runs `body` once per (AQE on/off, range-partition count): the rank's
    * exchange takes `spark.sql.shuffle.partitions`, uncoalesced. */
  private def forEachLayout(parts: Seq[Int])(body: String => Unit): Unit =
    for (aqe <- Seq(true, false); p <- parts)
      withConfs("spark.sql.adaptive.enabled" -> aqe.toString,
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> p.toString) {
        body(s"aqe=$aqe partitions=$p")
      }

  test("under AQE the rank's range read is coalesced") {
    import spark.implicits._
    withConfs("spark.sql.shuffle.partitions" -> "16") {
      val cust = graft.ops.Tables.t(spark, sf0001, "customer")
        .select($"c_custkey", $"c_acctbal")
      val got = GlobalRank.withGlobalRank(cust, Seq($"c_acctbal", $"c_custkey"), "rk", "n")
      val w = Window.orderBy($"c_acctbal", $"c_custkey")
      val expected = cust.withColumn("rk_w", row_number().over(w).cast("long"))
      val rows = got.collect()
      val n = cust.count()
      assert(rows.length.toLong === n && rows.forall(_.getAs[Long]("n") === n))
      assert(got.join(expected, "c_custkey").filter($"rk" =!= $"rk_w").count() === 0)
      // the executed plan's rank reads the range exchange through AQE's
      // coalesced reader: fewer partitions than the exchange wrote
      val finalPlan = got.queryExecution.executedPlan
      val rank = collect(finalPlan) { case g: GlobalRankExec => g }
      assert(rank.size === 1, finalPlan.toString)
      val reads = collect(rank.head) { case r: AQEShuffleReadExec => r }
      assert(reads.exists(r => r.isCoalescedRead && r.partitionSpecs.size < 16), finalPlan.toString)
    }
  }

  test("under default confs the rank is exact 1..n") {
    import spark.implicits._
    val w = Window.orderBy($"v", $"id")
    val expected = fixture(61)
      .withColumn("rk_w", row_number().over(w).cast("long"))
      .select($"id", $"rk_w")
    val got = GlobalRank.withGlobalRank(fixture(61), Seq($"v", $"id"), "rk", "n")
    assert(got.join(expected, "id").filter($"rk" =!= $"rk_w").count() === 0)
    assert(got.agg(max($"n")).head().getLong(0) === 61L)
  }

  test("global rank equals row_number over the unpartitioned window") {
    import spark.implicits._
    forEachLayout(Seq(1, 3, 4, 7)) { layout =>
      val w = Window.orderBy($"v", $"id")
      val expected = fixture(97)
        .withColumn("rk_w", row_number().over(w).cast("long"))
        .select($"id", $"rk_w")
      val got = ranked(97).select($"id", $"rk")
      val diff = got.join(expected, "id").filter($"rk" =!= $"rk_w").count()
      assert(diff === 0, layout)
    }
  }

  test("withGlobalPrefixSum equals the unpartitioned running-sum window") {
    import spark.implicits._
    val w = Window.orderBy($"v", $"id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    forEachLayout(Seq(1, 3, 4, 7)) { layout =>
      val df = fixture(97).withColumn("wt", ($"id" % 5) + 1)
      val expected = df
        .withColumn("cum_w", sum($"wt").over(w))
        .select($"id", $"cum_w")
      val got = GlobalRank.withGlobalPrefixSum(df, Seq($"v", $"id"), $"wt",
        "rk", "n_total", "cum", "total")
      val diff = got.join(expected, "id").filter($"cum" =!= $"cum_w").count()
      assert(diff === 0, s"prefix-sum mismatch at $layout")
      // total is the grand sum on every row; final rank's cum == total
      val totals = got.select($"total").distinct().as[Long].collect()
      val grand = df.agg(sum($"wt")).as[Long].head()
      assert(totals.toSeq === Seq(grand), layout)
      assert(got.filter($"rk" === $"n_total").select($"cum").as[Long].head() === grand, layout)
    }
  }

  /** (id, wt) rows with a nullable LONG weight. */
  private def idWeights(rows: Seq[(Long, java.lang.Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, w) => Row(i, w) }, 4),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("wt", LongType, nullable = true))))

  test("withGlobalPrefixSum is NULL exactly where the running-sum window is") {
    import spark.implicits._
    // ids 1..40, NULL weight where id mod 10 < 6: whole runs of NULLs, so
    // some range partitions begin with NULLs after earlier values
    val df = idWeights((1L to 40L).map(i =>
      (i, if (i % 10 < 6) null else java.lang.Long.valueOf(i * 3))))
    val w = Window.orderBy($"id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    forEachLayout(Seq(1, 3, 4, 7)) { layout =>
      val expected = df.withColumn("cum_w", sum($"wt").over(w))
        .withColumn("tot_w", sum($"wt").over(Window.orderBy($"id")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select($"id", $"cum_w", $"tot_w")
      val got = GlobalRank.withGlobalPrefixSum(df, Seq($"id"), $"wt",
        "rk", "n", "cum", "total")
      val diff = got.join(expected, "id")
        .filter(!($"cum" <=> $"cum_w") || !($"total" <=> $"tot_w")).count()
      assert(diff === 0, s"prefix-sum NULL mismatch at $layout")
    }
    // all-NULL values: every prefix and the total are NULL
    val allNull = GlobalRank.withGlobalPrefixSum(
      idWeights((1L to 5L).map(i => (i, null))), Seq($"id"), $"wt", "rk", "n", "cum", "total")
    assert(allNull.filter($"cum".isNotNull || $"total".isNotNull).count() === 0)
  }

  test("withGlobalPrefixSum overflows exactly as the running-sum window does") {
    import spark.implicits._
    val M = Long.MaxValue
    val cases = Seq(
      // a partition's own sum overflows while every prefix stays in range
      "in-range prefixes" -> Seq(-M, M, M, -M, 7L),
      // the third prefix leaves the long range
      "overflowing prefix" -> Seq(M - 5, 4L, 10L, -20L))
    for ((name, vs) <- cases; ansi <- Seq("true", "false"))
      withConfs("spark.sql.ansi.enabled" -> ansi) {
        val df = idWeights(vs.zipWithIndex.map { case (v, i) => (i.toLong + 1, java.lang.Long.valueOf(v)) })
        val want = scala.util.Try(df.withColumn("cum", sum($"wt").over(Window.orderBy($"id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy($"id").select($"cum").as[Long].collect().toSeq)
        forEachLayout(Seq(1, 3, 4)) { layout =>
          val got = scala.util.Try(GlobalRank.withGlobalPrefixSum(df, Seq($"id"), $"wt",
              "rk", "n", "cum", "total")
            .orderBy($"id").select($"cum").as[Long].collect().toSeq)
          assert(got.isSuccess === want.isSuccess, s"$name ansi=$ansi $layout: $got vs $want")
          if (want.isSuccess) assert(got.get === want.get, s"$name ansi=$ansi $layout")
        }
      }
  }

  test("withGlobalPrefixMax equals the unpartitioned exclusive running-max window") {
    import spark.implicits._
    val w = Window.orderBy($"v", $"id")
      .rowsBetween(Window.unboundedPreceding, -1)
    forEachLayout(Seq(1, 3, 4, 7)) { layout =>
      val df = fixture(53).withColumn("wt", ($"id" * 37) % 29)
      val expected = df
        .withColumn("cm_w", max($"wt").over(w))
        .select($"id", $"cm_w")
      val got = GlobalRank.withGlobalPrefixMax(df, Seq($"v", $"id"), $"wt",
        "rk", "n_total", "cm")
      // null-safe compare: the global first row is NULL on both sides
      val diff = got.join(expected, "id")
        .filter(!($"cm" <=> $"cm_w")).count()
      assert(diff === 0, s"prefix-max mismatch at $layout")
      assert(got.filter($"rk" === 1).select($"cm").head().isNullAt(0), layout)
    }
  }

  test("ntileFromRank matches SQL NTILE for every n in 1..40 (k=10)") {
    import spark.implicits._
    forEachLayout(Seq(4)) { layout =>
      for (n <- Seq(1, 3, 9, 10, 11, 19, 20, 21, 26, 37, 40)) {
        val w = Window.orderBy($"v", $"id")
        val expected = fixture(n)
          .withColumn("nt", ntile(10).over(w).cast("long"))
          .select($"id", $"nt")
        val got = ranked(n)
          .withColumn("nt2", GlobalRank.ntileFromRank($"rk", $"n_total", 10))
          .select($"id", $"nt2")
        val diff = got.join(expected, "id").filter($"nt2" =!= $"nt").count()
        assert(diff === 0, s"ntile mismatch at n=$n $layout")
      }
    }
  }

  test("percent_rank and cume_dist ratios are bit-identical to the window functions") {
    import spark.implicits._
    forEachLayout(Seq(4)) { layout =>
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
      assert(diff === 0, layout)
    }
  }

  test("percent_rank of a single row is 0, not NaN") {
    import spark.implicits._
    val r = ranked(1)
      .select(GlobalRank.percentRankFromRank($"rk", $"n_total").as("pr"))
      .collect().head.getDouble(0)
    assert(r === 0.0)
  }

  test("a rank writes no checkpoint files") {
    import spark.implicits._
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-rank-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val got = GlobalRank.withGlobalRank(fixture(50), Seq($"v", $"id"), "rk", "n")
      assert(got.count() === 50)
      def rddDirs(p: java.io.File): Seq[java.io.File] =
        Option(p.listFiles).map(_.toSeq).getOrElse(Nil).filter(_.isDirectory)
          .flatMap(d => if (d.getName.startsWith("rdd-")) Seq(d) else rddDirs(d))
      assert(rddDirs(new java.io.File(dir)).isEmpty)
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

  test("GraftExtensions installs GlobalRankStrategy") {
    assert(GraftPlanApi.plannerStrategies(spark, new GraftExtensions())
      .contains(GlobalRankStrategy))
  }

  // ---- build-time jobs and plan guards ----------------------------------

  /** Rank-family queries whose build ran GlobalRank's eager pins and no
    * other Spark job. The rest of the family still builds with jobs of
    * its own: eager pins (q197, q223, q233), a driver collect (q186), or
    * a lazy pin over the rank, which executes its input's stages (q126,
    * q195, q200, q219, q261, q269). */
  private val lazyRankQueries = Seq(
    "q45_acctbal_deciles", "q56_acctbal_dist", "q58b_exact_percentiles",
    "q97_quality_calibration", "q101_rfm_segments", "q119_vocab_coverage",
    "q159_mann_whitney_u", "q168_gini_spend", "q169_revenue_changepoint",
    "q172_zipf_slope", "q183_padding_waste", "q187_classifier_auc",
    "q213_uplift_deciles", "q227_compaction_plan", "q254_spearman",
    "q259_sequence_packing", "q260_curriculum_interleave", "q273_quantile_normalize")

  test("building a rank-family query runs no Spark job") {
    val built = lazyRankQueries.map { q =>
      // the first build may list the fixture's files; time the second
      SparkEntry.queries(q)(spark, sf0001)
      q -> jobsIn(SparkEntry.queries(q)(spark, sf0001))._2
    }
    assert(built.forall(_._2 == 0), s"build-time jobs: ${built.filter(_._2 > 0)}")
  }

  test("q56/q254: the rank plans as GlobalRankExec, with no _gr_pid aggregate or offset broadcast") {
    for (q <- Seq("q56_acctbal_dist", "q254_spearman")) {
      val p = SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan
      assert(collect(p) { case g: GlobalRankExec => g }.nonEmpty, s"$q:\n$p")
      assert(!p.toString.contains("_gr_"), s"$q:\n$p")
    }
  }

  /** Unpartitioned WindowExec nodes: each moves its whole input into one
    * task. */
  private def dataSizedGlobalWindows(plan: SparkPlan): Seq[WindowExec] =
    plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }

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
