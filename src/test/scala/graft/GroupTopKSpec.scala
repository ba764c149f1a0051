package graft

import graft.plans.{GraftExtensions, GroupTopK, GroupTopKExec, GroupTopKRewrite, GroupTopKStrategy}
import org.apache.spark.sql.{DataFrame, GraftPlanApi}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom group-wise top-k plan operator (logical node + strategy +
  * partial/final physical exec) against its window-formulation twin. */
class GroupTopKSpec extends AnyFunSuite with SparkSuite {

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select(col("doc_id"), col("lang"), col("n_chars"))

  /** `query` over a `docs_v` view, with [[GroupTopKRewrite]] applied to
    * its optimized plan: the rewrite a session built with GraftExtensions
    * runs, without installing it in the shared session. */
  private def rewritten(query: String): DataFrame = {
    docs.createOrReplaceTempView("docs_v")
    GraftPlanApi.ensureStrategy(spark, GroupTopKStrategy)
    GraftPlanApi.ofRows(spark, GroupTopKRewrite(spark.sql(query).queryExecution.optimizedPlan))
  }

  test("GroupTopK equals the row_number window formulation") {
    val k = 3
    val got = GroupTopK(docs, Seq(col("lang")),
        Seq(col("n_chars").desc, col("doc_id").asc), k)
      .orderBy(col("lang"), col("n_chars").desc, col("doc_id"))
      .collect().map(_.toSeq)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val want = docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).drop("rk")
      .orderBy(col("lang"), col("n_chars").desc, col("doc_id"))
      .collect().map(_.toSeq)
    assert(got.toSeq === want.toSeq)
  }

  test("plans as partial heaps -> one exchange -> final heaps") {
    val df = GroupTopK(docs, Seq(col("lang")), Seq(col("n_chars").desc), 2)
    df.collect() // materialize so AQE finalizes the physical plan
    // Traverse into AQE query stages (leaf nodes hiding their subtree).
    def all(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val through = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: through.flatMap(all)
    }
    val nodes = all(df.queryExecution.executedPlan)
    val execs = nodes.collect { case g: GroupTopKExec => g }
    assert(execs.map(_.partial).sorted === Seq(false, true))
    val exchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.size === 1,
      s"expected exactly one shuffle, got:\n${nodes.mkString("\n")}")
  }

  test("output is independent of input partitioning") {
    val byOne = GroupTopK(docs.repartition(1), Seq(col("lang")),
        Seq(col("n_chars").desc, col("doc_id").asc), 3)
      .orderBy(col("lang"), col("n_chars").desc, col("doc_id")).collect().toSeq
    val byMany = GroupTopK(docs.repartition(7, col("doc_id")), Seq(col("lang")),
        Seq(col("n_chars").desc, col("doc_id").asc), 3)
      .orderBy(col("lang"), col("n_chars").desc, col("doc_id")).collect().toSeq
    assert(byOne === byMany)
  }

  test("property: GroupTopK equals sort-and-take per group on arbitrary data") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val rowGen = for {
      key <- Gen.choose(0, 5)
      score <- Gen.choose(-100, 100)
      id <- Gen.choose(0L, 50L)
    } yield (key, score, id)
    val gen = for {
      rows <- Gen.listOfN(60, rowGen)
      k <- Gen.choose(1, 4)
    } yield (rows, k)
    val prop = Prop.forAll(gen) { case (rows, k) =>
      val df = rows.toDF("key", "score", "id").repartition(3)
      val got = GroupTopK(df, Seq(col("key")),
          Seq(col("score").desc, col("id").asc), k)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(t => (-t._2, t._3)).toSeq).toMap
      // Duplicate (score, id) rows are identical whole rows, so multiset
      // sort-and-take is the exact reference even though the ordering is
      // only total up to row identity.
      val want = rows.map(t => (t._1, t._2, t._3))
        .groupBy(_._1).view
        .mapValues(_.sortBy(t => (-t._2, t._3)).take(k).toSeq).toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("GraftExtensions installs the strategy via SparkSessionExtensions") {
    val strategies = GraftPlanApi.plannerStrategies(spark, new GraftExtensions())
    assert(strategies.contains(GroupTopKStrategy))
  }

  test("GraftExtensions injects the window-top-k rewrite rule") {
    assert(GraftPlanApi.optimizerRules(spark, new GraftExtensions()).contains(GroupTopKRewrite))
  }

  test("optimizer rule rewrites the SQL window-top-k idiom onto GroupTopK") {
    val sql =
      """SELECT lang, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM docs_v) t
        |WHERE rk <= 3
        |ORDER BY lang, n_chars DESC, doc_id""".stripMargin
    val df = rewritten(sql)
    val execs = df.queryExecution.executedPlan.toString
    assert(execs.contains("GroupTopK"), s"rewrite did not fire:\n$execs")
    assert(df.collect().toSeq === spark.sql(sql).collect().toSeq)
  }

  test("rewrite leaves rank-keeping queries alone") {
    val df = rewritten(
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM docs_v) t
        |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin)
    assert(!df.queryExecution.executedPlan.toString.contains("GroupTopK"))
    assert(df.count() > 0)
  }

  test("global top-k (no group columns) works and uses a single final partition") {
    val df = GroupTopK(docs.repartition(4), Nil,
      Seq(col("n_chars").desc, col("doc_id").asc), 5)
    val got = df.orderBy(col("n_chars").desc, col("doc_id"))
      .collect().map(_.getLong(0)).toSeq
    val want = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(got === want)
    // the distribution property itself: the final GroupTopKExec must see
    // a single partition (AllTuples), not per-partition tops unioned
    def all(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val through = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: through.flatMap(all)
    }
    df.collect()
    val finalExec = all(df.queryExecution.executedPlan)
      .collect { case g: GroupTopKExec if !g.partial => g }
    assert(finalExec.nonEmpty)
    assert(finalExec.head.outputPartitioning.numPartitions === 1,
      s"final global top-k must run on one partition:\n${df.queryExecution.executedPlan}")
  }

  test("SQL global top-k idiom (empty PARTITION BY) survives the rewrite") {
    val df = rewritten(
      """SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM docs_v) t
        |WHERE rk <= 3 ORDER BY doc_id""".stripMargin)
    assert(df.queryExecution.executedPlan.toString.contains("GroupTopK"))
    val want = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(3)
      .select(col("doc_id")).orderBy(col("doc_id")).collect().toSeq
    assert(df.collect().toSeq === want)
  }

  test("huge rank bounds abstain instead of truncating to a tiny k") {
    val df = rewritten(
      """SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
        |  FROM docs_v) t
        |WHERE rk <= 4294967297""".stripMargin)
    assert(!df.queryExecution.executedPlan.toString.contains("GroupTopK"))
    assert(df.count() === docs.count()) // keep-everything bound keeps everything
  }

  test("groups smaller than k pass through whole") {
    val small = docs.limit(2)
    val out = GroupTopK(small, Seq(col("lang")),
      Seq(col("doc_id").asc), 100).count()
    assert(out === 2)
  }
}
