package graft.ops

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSuite}

/** The one application-lifetime memo: nesting, eviction, retry after a
  * failed build, key isolation — and the bucketed layout riding it. */
class AppCachesSpec extends AnyFunSuite with SparkSuite {

  private def appId = spark.sparkContext.applicationId

  // "Aa" and "BB" share a String hashCode, so keys ending in them land in
  // one ConcurrentHashMap bin — where a nested computeIfAbsent is detected.
  test("a build may memo another name; a bare computeIfAbsent cannot nest") {
    val d = "/memo-nesting"
    val outer = AppCaches.memo(spark, d, "Aa") {
      AppCaches.memo(spark, d, "BB")("b") + "a"
    }
    assert(outer === "ba")
    assert(AppCaches.memo[String](spark, d, "BB")(fail("BB rebuilt")) === "b")

    val bare = new ConcurrentHashMap[String, String]()
    val e = intercept[IllegalStateException] {
      bare.computeIfAbsent(s"$appId@$d#Aa",
        _ => bare.computeIfAbsent(s"$appId@$d#BB", _ => "b") + "a")
    }
    assert(e.getMessage.contains("Recursive update"))
  }

  test("evicting the application drops every former map's entries") {
    // one entry each from the former Dedup map, the Stats frame map and
    // the Stats manifest map, built by their real consumers
    DedupQueries.tfidfVectors(spark, sf0001)
    StatsQueries.queries("q163_revenue_autocorr")(spark, sf0001)
    StatsQueries.queries("q174_manifest_pruned_scan")(spark, sf0001)
    val names = Seq("tfidfFrames", "day", "priceManifest")
    val held = names.map(n =>
      AppCaches.memo[AnyRef](spark, sf0001, n)(fail(s"$n was not memoized")))

    AppCaches.evict(appId)
    var builds = 0
    // each build re-seeds the held value, so later suites keep sharing it
    names.zip(held).foreach { case (n, v) =>
      AppCaches.memo[AnyRef](spark, sf0001, n) { builds += 1; v }
    }
    assert(builds === names.size)
    names.zip(held).foreach { case (n, v) =>
      assert(AppCaches.memo[AnyRef](spark, sf0001, n)(fail(s"$n rebuilt")) eq v)
    }
  }

  test("a build that throws is retried on the next call") {
    val d = "/memo-retry"
    var calls = 0
    intercept[RuntimeException] {
      AppCaches.memo[String](spark, d, "flaky") {
        calls += 1; throw new RuntimeException("boom")
      }
    }
    assert(AppCaches.memo(spark, d, "flaky") { calls += 1; "ok" } === "ok")
    assert(calls === 2)
    assert(AppCaches.memo[String](spark, d, "flaky")(fail("rebuilt")) === "ok")
  }

  test("names under one dir and one name under two dirs never share a value") {
    assert(AppCaches.memo(spark, "/memo-a", "x")("ax") === "ax")
    assert(AppCaches.memo(spark, "/memo-a", "y")("ay") === "ay")
    assert(AppCaches.memo(spark, "/memo-b", "x")("bx") === "bx")
    assert(AppCaches.memo(spark, "/memo-a", "x")("?") === "ax")
    assert(AppCaches.memo(spark, "/memo-a", "y")("?") === "ay")
    assert(AppCaches.memo(spark, "/memo-b", "x")("?") === "bx")
  }

  test("after eviction q91 writes its bucketed layout again and returns the same rows") {
    val q91 = SparkEntry.queries("q91_bucketed_join")
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft-bucketed-${Integer.toHexString(sf0001.hashCode)}-" +
        ProcessHandle.current().pid())
    // every write names its part files with a fresh job uuid
    def parts(): Set[String] =
      new File(root, "graft_b_orders").list().filter(_.startsWith("part-")).toSet

    val rows = q91(spark, sf0001).collect().toSeq
    val written = parts()
    assert(q91(spark, sf0001).collect().toSeq === rows)
    assert(parts() === written, "a memo hit must not rewrite the layout")

    AppCaches.evict(appId)
    assert(q91(spark, sf0001).collect().toSeq === rows)
    assert(parts() !== written, "the layout was not written again")

    // the rewritten tables still join co-located (the BucketingSpec /
    // IntervalJoinSpec plan shape)
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Bucketing.colocatedOrdersCustomer(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(p.contains("Bucketed: true"), s"scan did not use the bucket layout:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }
}
