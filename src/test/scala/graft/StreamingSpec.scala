package graft

import graft.model.Schemas
import graft.streaming.StreamingIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming ingest + windowed analytics (SURVEY.md §2.J). */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("streaming feed ingest dedups replayed jobs (exactly-once repair)") {
    val stream = StreamingIngest.streamFeed(spark, Schemas.feed("appStart"),
      "src/test/resources/feeds/appStart/*")
    val q = stream.writeStream
      .format("memory").queryName("appstart_stream")
      .option("checkpointLocation", tmp("graft-ckpt"))
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT userid FROM appstart_stream").collect().map(_.getString(0))
    assert(rows.sorted.toSeq === Seq("u1", "u2", "u3", "u4")) // u3 replayed in job2, kept once
  }

  test("tumbling window counts aggregate by window and key") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val df = ms.toDF().toDF("ts", "k")
    val q = StreamingIngest.tumblingCounts(df, "ts", "k", "10 minutes")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    ms.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "b"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:15:00"), "a"))
    q.processAllAvailable()
    val got = spark.sql("SELECT k, n FROM tumbling").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    q.stop()
    assert(got("a") === Seq(1L, 2L)) // two windows: [00:00,00:10) ×2, [00:10,00:20) ×1
    assert(got("b") === Seq(1L))
  }

  test("session windows split on the inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val df = ms.toDF().toDF("ts", "k")
    val q = StreamingIngest.sessionCounts(df, "ts", "k", "5 minutes")
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("complete").start()
    ms.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "u"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "u"),  // same session
      (java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), "u"))  // gap > 5m → new session
    q.processAllAvailable()
    val counts = spark.sql("SELECT n FROM sessions_stream").collect()
      .map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(counts === Seq(1L, 2L))
  }

  test("flatMapGroupsWithState keeps running per-key counts across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val df = ms.toDF().toDF("ts", "k")
    val q = StreamingIngest.statefulKeyCounts(spark, df, "k")
      .writeStream.format("memory").queryName("stateful")
      .option("checkpointLocation", tmp("graft-state-ckpt"))
      .outputMode("append").start()
    ms.addData((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "b"))
    q.processAllAvailable()
    ms.addData((java.sql.Timestamp.valueOf("2024-01-01 00:00:10"), "a"))
    q.processAllAvailable()
    val snaps = spark.sql("SELECT key, totalEvents, batches FROM stateful").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    // batch 1 emits a→2, b→1; batch 2 emits a→3 (state carried across batches)
    assert(snaps === Set(("a", 2L, 1L), ("b", 1L, 1L), ("a", 3L, 2L)))
  }

  test("stateful funnel advances in order and ignores stale/out-of-stage events") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String, Long)]
    val df = ms.toDF().toDF("u", "t", "ms")
    val q = StreamingIngest.funnelStages(spark, df, "u", "t", "ms")
      .writeStream.format("memory").queryName("funnel")
      .option("checkpointLocation", tmp("graft-funnel-ckpt"))
      .outputMode("append").start()
    // u1 completes view→click in one (out-of-order) batch; u2's click
    // precedes any view and must not advance
    ms.addData(("u1", "click", 2L), ("u1", "view", 1L), ("u2", "click", 1L))
    q.processAllAvailable()
    // u1 converts; u2 starts the funnel at ms=5
    ms.addData(("u1", "purchase", 3L), ("u2", "view", 5L))
    q.processAllAvailable()
    // stale click (ms=4 < view's ms=5) must not advance u2
    ms.addData(("u2", "click", 4L))
    q.processAllAvailable()
    val snaps = spark.sql("SELECT userId, stage, stageMs FROM funnel").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    q.stop()
    // one snapshot PER ADVANCE: u1 passes stages 1 and 2 inside batch 1
    assert(snaps === Set(("u1", 1, 1L), ("u1", 2, 2L), ("u1", 3, 3L), ("u2", 1, 5L)))
  }

  test("typed Dataset boundaries round-trip the ingested feeds") {
    val app = graft.model.Records.appStarts(spark,
      graft.ingest.FeedIngest.ingest(spark, Schemas.feed("appStart"),
        "src/test/resources/feeds/appStart/job1"))
    assert(app.collect().map(_.userid).sorted.toSeq === Seq("u1", "u2", "u3"))
    assert(app.filter((a: graft.model.AppStart) => a.submit_time.isEmpty).count() === 1)
    val tx = graft.model.Records.transactions(spark,
      graft.ingest.FeedIngest.ingest(spark, Schemas.feed("transaction"),
        "src/test/resources/feeds/transaction/job1"))
    val total = tx.collect().flatMap(_.amount).map(BigDecimal(_)).sum
    assert(total === BigDecimal("5.98"))
  }

  test("streaming ingest is batch-equivalent on the same staged input") {
    val stream = StreamingIngest.streamFeed(spark, Schemas.feed("appStart"),
      "src/test/resources/feeds/appStart/*")
    val q = stream.writeStream
      .format("memory").queryName("equiv_stream")
      .option("checkpointLocation", tmp("graft-equiv-ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.sql("SELECT * FROM equiv_stream")
      .orderBy("userid").collect().toSeq
    val batch = graft.ingest.FeedIngest.dedup(
      graft.ingest.FeedIngest.normalize(
        graft.ingest.FeedIngest.readFeed(spark, Schemas.feed("appStart"),
          "src/test/resources/feeds/appStart/*")),
      Schemas.feed("appStart"))
      .orderBy("userid").collect().toSeq
    assert(streamed === batch)
  }

  test("stream-static anti-join dedups arriving docs against the corpus") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq("seen before", "also seen")
      .toDF("text").select(md5($"text").as("text_md5"))
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF().toDF("doc_id", "text")
    val q = StreamingIngest.dedupAgainstCorpus(stream, corpus, "text")
      .writeStream.format("memory").queryName("incr_dedup")
      .outputMode("append").start()
    ms.addData((1L, "seen before"), (2L, "brand new"), (3L, "also seen"))
    q.processAllAvailable()
    // second batch: replays of corpus content still rejected, fresh passes
    ms.addData((4L, "seen before"), (5L, "another new"))
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id FROM incr_dedup")
      .collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(got === Seq(2L, 5L))
  }

  test("LSH near-dup gate drops against the persistent index across batches") {
    import spark.implicits._
    val root = tmp("lshgate")
    val base = "the quick brown fox jumps over the lazy sleeping dog " +
      "again and again every single night without fail apparently"
    val other = "completely different words forming a second independent " +
      "document body with no shared five gram runs at all"
    val b1 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val g1 = StreamingIngest.lshNearDupGate(b1, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(g1 === Array(1L, 2L), "empty index must pass everything")
    // batch 2: an exact replay under a new id, a last-word edit (shingle
    // Jaccard 17/19 of doc 1 — well over the 0.5 gate), and a novel doc.
    val b2 = Seq(
      (10L, base),
      (11L, base.dropRight("apparently".length) + "allegedly"),
      (12L, "entirely novel content sentence with nothing in common " +
        "with anything the index has stored so far tonight")).toDF("doc_id", "text")
    val g2 = StreamingIngest.lshNearDupGate(b2, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(g2 === Array(12L), s"expected only the novel doc, got ${g2.toSeq}")
    // replaying batch 1 verbatim now hits the index: nothing passes
    val g3 = StreamingIngest.lshNearDupGate(b1, root)
      .select("doc_id").collect()
    assert(g3.isEmpty, "replayed content must be rejected by the index")
    // the persisted index holds exactly the accepted docs' signatures
    val idx = spark.read.parquet(s"$root/sigs").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(idx === Array(1L, 2L, 12L))
  }

  test("stream-stream join attributes purchases to clicks within the window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, String)]
    val purchases = MemoryStream[(java.sql.Timestamp, String)]
    val joined = StreamingIngest.clickAttribution(
      clicks.toDF().toDF("ts", "user_id"), purchases.toDF().toDF("ts", "user_id"),
      "user_id", "ts", within = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .option("checkpointLocation", tmp("graft-join-ckpt"))
      .outputMode("append").start()
    clicks.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "u1"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), "u2"))
    purchases.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "u1"),  // within 30m → match
      (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "u2"))  // 55m after → no match
    q.processAllAvailable()
    // the u2 click arriving AFTER its purchase was already seen still
    // joins nothing (purchase outside the range), and a second u1
    // purchase in a later batch still matches the buffered click
    purchases.addData((java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), "u1"))
    q.processAllAvailable()
    val got = spark.sql("SELECT user, click_ts, purchase_ts FROM attrib").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString))
      .sortBy(t => (t._1, t._3)).toSeq
    q.stop()
    assert(got === Seq(
      ("u1", "2024-01-01 00:00:00.0", "2024-01-01 00:10:00.0"),
      ("u1", "2024-01-01 00:00:00.0", "2024-01-01 00:20:00.0")))
  }

  test("streaming curation gate filters exactly like the batch formulas") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // real fixture text so the thresholds actually bite both ways
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").limit(200).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val ms = MemoryStream[(Long, String)]
    val q = StreamingIngest.curationGate(
        ms.toDF().toDF("doc_id", "text"), minQuality = 0.8, maxTopWordShare = 0.12)
      .select("doc_id", "quality", "top_word_share")
      .writeStream.format("memory").queryName("curation_gate")
      .outputMode("append").start()
    ms.addData(docs.take(100): _*)
    q.processAllAvailable()
    ms.addData(docs.drop(100): _*) // gate is stateless: batching must not matter
    q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM curation_gate")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    q.stop()
    val batch = StreamingIngest.curationGate(
        docs.toDF("doc_id", "text"), minQuality = 0.8, maxTopWordShare = 0.12)
      .select("doc_id", "quality", "top_word_share")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(streamed === batch)
    // the gate genuinely filters (neither pass-all nor drop-all)
    assert(batch.nonEmpty && batch.size < docs.size)
  }

  test("streaming anomaly gate flags windows beyond the z-limit against broadcast moments") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // historical moments: key "a" averages 2 events/min with sd 1
    // (n=5, sx=10, sx2=24 -> mean 2, var (24-20)/4 = 1)
    val stats = Seq(("a", 5L, 10L, 24L), ("b", 5L, 10L, 24L))
      .toDF("k", "n", "sx", "sx2")
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val q = StreamingIngest.anomalyGate(
        ms.toDF().toDF("ts", "k"), "ts", "k", stats, "1 minute", zLimit = 2.0)
      .writeStream.format("memory").queryName("anomaly_gate")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // minute 00: 6 "a" events -> z = 4 (flagged); 2 "b" events -> z = 0
    ms.addData((1 to 6).map(i => (t(f"2024-01-01 00:00:${i}%02d"), "a")) ++
      Seq((t("2024-01-01 00:00:10"), "b"), (t("2024-01-01 00:00:20"), "b")): _*)
    // advance the watermark past minute 00 so append mode emits it
    ms.addData((t("2024-01-01 00:30:00"), "a"))
    q.processAllAvailable()
    val got = spark.sql("SELECT k, n_events, z FROM anomaly_gate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    q.stop()
    assert(got === Seq(("a", 6L, 4.0)))
  }

  test("trending top-k runs GroupTopK inside foreachBatch micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val q = ms.toDF().toDF("ts", "k").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val top = StreamingIngest.trendingTopK(batch, "ts", "k", "1 minute", 2)
        // the custom plan operator must actually be in the executed plan
        assert(top.queryExecution.executedPlan.toString.contains("GroupTopK"))
        seen.synchronized {
          seen ++= top.collect().map(r =>
            (r.getStruct(0).getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        }
        ()
      }
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // minute 00: a×3, b×2, c×1 → top-2 = a, b
    ms.addData(
      (t("2024-01-01 00:00:01"), "a"), (t("2024-01-01 00:00:02"), "a"),
      (t("2024-01-01 00:00:03"), "a"), (t("2024-01-01 00:00:04"), "b"),
      (t("2024-01-01 00:00:05"), "b"), (t("2024-01-01 00:00:06"), "c"))
    q.processAllAvailable()
    q.stop()
    val got = seen.sortBy(x => (x._1, -x._3, x._2)).toSeq
    assert(got === Seq(
      ("2024-01-01 00:00:00.0", "a", 3L),
      ("2024-01-01 00:00:00.0", "b", 2L)))
  }

  test("cross-batch count-min accumulator equals the one-shot batch sketch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val cms = new StreamingIngest.StreamingCountMin(4, 64)
    val q = ms.toDF().toDF("k").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        cms.update(batch, "k")
        ()
      }
      .start()
    // three deliberately uneven micro-batches; any slicing must yield the
    // same grid because merge is elementwise addition
    val all = Seq.tabulate(60)(i => s"k${i % 7}")
    ms.addData(all.take(5): _*); q.processAllAvailable()
    ms.addData(all.slice(5, 41): _*); q.processAllAvailable()
    ms.addData(all.drop(41): _*); q.processAllAvailable()
    q.stop()
    assert(cms.n === 60L)
    graft.functions.CountMin.register(spark)
    val direct = all.toDF("k")
      .agg(graft.functions.CountMin.sketch($"k", 4, 64).as("sk"))
      .select($"sk.cells").head().getSeq[Long](0)
    assert(cms.cells === direct, "accumulated grid differs from one-shot sketch")
    val exact = all.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    exact.foreach { case (k, t) =>
      assert(cms.estimate(k) >= t, s"$k undercounted")
    }
    assert(cms.estimate("never-seen-key") <= 60L)
  }

  test("streaming bottom-k quantile sketch: any batch slicing equals the one-shot sketch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Double)]
    val sk = new StreamingIngest.StreamingBottomK(32)
    val q = ms.toDF().toDF("g", "id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sk.update(batch, "g", "id", "v")
        ()
      }
      .start()
    // two groups, 200 rows, deliberately uneven batch slicing
    val all = Seq.tabulate(200)(i => (s"t${i % 2}", i.toLong, (i * 37 % 101).toDouble))
    ms.addData(all.take(13): _*); q.processAllAvailable()
    ms.addData(all.slice(13, 150): _*); q.processAllAvailable()
    ms.addData(all.drop(150): _*); q.processAllAvailable()
    q.stop()
    // one-shot reference: the same bottom-32 sketch over the whole data
    val oneShot = new StreamingIngest.StreamingBottomK(32)
    oneShot.update(all.toDF("g", "id", "v"), "g", "id", "v")
    assert(sk.groups === oneShot.groups)
    for (g <- sk.groups) {
      assert(sk.retained(g) === oneShot.retained(g),
        s"$g: accumulated sample differs from one-shot sketch")
      for (p <- Seq(0.5, 0.9, 0.99))
        assert(sk.quantile(g, p) === oneShot.quantile(g, p))
      assert(sk.sampleSize(g) === 32)
    }
    // idempotent replay: re-folding a batch must not change the state
    val before = sk.groups.map(g => g -> sk.retained(g)).toMap
    sk.update(all.take(13).toDF("g", "id", "v"), "g", "id", "v")
    assert(sk.groups.map(g => g -> sk.retained(g)).toMap === before)
  }

  test("streaming parquet sink lands Hive-partitioned output with a checkpoint") {
    val out = tmp("graft-stream-out")
    val stream = StreamingIngest.streamFeed(spark, Schemas.feed("appStart"),
      "src/test/resources/feeds/appStart/*")
    val q = StreamingIngest.sinkToParquet(stream, Schemas.feed("appStart"),
      s"$out/data", s"$out/ckpt")
    q.awaitTermination(60000)
    val written = spark.read.parquet(s"$out/data")
    assert(written.count() === 4)
    assert(written.columns.contains("jobType") && written.columns.contains("ingest_date"))
  }

  test("transformWithState event-time timers close sessions when the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(java.sql.Timestamp, String)]
      val df = ms.toDF().toDF("ts", "k")
      val q = StreamingIngest
        .sessionCloseGate(spark, df, "ts", "k", gapMs = 300000L, watermark = "0 seconds")
        .writeStream.format("memory").queryName("closed_sessions")
        .option("checkpointLocation", tmp("graft-sess-close-ckpt"))
        .outputMode("append").start()
      def closed(atLeast: Int): Set[(String, Long, Long, Long)] = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        var rows = Array.empty[(String, Long, Long, Long)]
        while (rows.length < atLeast && System.nanoTime() < deadline) {
          Thread.sleep(200)
          rows = spark.sql("SELECT key, startMs, endMs, nEvents FROM closed_sessions")
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        }
        rows.toSet
      }
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // Two events for u1 within the gap: one open session, nothing closes
      // (watermark sits at the max event time, before the gap deadline).
      ms.addData((ts("2024-01-01 00:00:00"), "u1"), (ts("2024-01-01 00:02:00"), "u1"))
      Thread.sleep(3000)
      // Query the sink directly — closed(atLeast = 0) would return
      // without reading it, making this negative check vacuous.
      assert(spark.sql("SELECT * FROM closed_sessions").collect().isEmpty,
        "session must stay open until the watermark passes the gap")
      // u2 at 00:10 advances the watermark past u1's 00:02 + 5m deadline:
      // the timer fires and u1's session closes with BOTH events.
      ms.addData((ts("2024-01-01 00:10:00"), "u2"))
      val first = closed(1)
      val base = ts("2024-01-01 00:00:00").getTime
      assert(first === Set(("u1", base, base + 120000L, 2L)))
      // Advancing far again closes u2's one-event session.
      ms.addData((ts("2024-01-01 01:00:00"), "u3"))
      assert(closed(2).contains(("u2", base + 600000L, base + 600000L, 1L)))
      q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
  }

  test("transformWithState TTL dedup gate emits each key once, suppresses repeats") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // transformWithState mandates the RocksDB state store; scope the
    // provider switch to this query so the other suites keep the default.
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(java.sql.Timestamp, String)]
      val df = ms.toDF().toDF("ts", "k")
      val q = StreamingIngest
        .ttlDedupGate(spark, df, "k", java.time.Duration.ofHours(1))
        .writeStream.format("memory").queryName("ttl_dedup")
        .option("checkpointLocation", tmp("graft-ttl-ckpt"))
        .outputMode("append").start()
      // TimeMode.ProcessingTime keeps scheduling batches for TTL
      // bookkeeping, so processAllAvailable() never observes a drained
      // stream — poll the sink for the expected row count instead.
      def sinkRows(atLeast: Int): Set[(String, Boolean, Long)] = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        var rows = Array.empty[(String, Boolean, Long)]
        while (rows.length < atLeast && System.nanoTime() < deadline) {
          Thread.sleep(200)
          rows = spark.sql("SELECT key, emitted, suppressed FROM ttl_dedup")
            .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
        }
        rows.toSet
      }
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      ms.addData((t0, "a"), (t0, "a"), (t0, "b"))
      // a: first occurrence emitted, one in-batch repeat suppressed; b: clean.
      assert(sinkRows(2) === Set(("a", true, 1L), ("b", true, 0L)))
      ms.addData((t0, "a"), (t0, "c"))
      val all = sinkRows(4)
      q.stop()
      // a's second batch is fully suppressed by the carried state.
      assert(all === Set(("a", true, 1L), ("b", true, 0L),
        ("a", false, 1L), ("c", true, 0L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
  }

  test("token-bucket rate gate admits per event-time refill, carries tokens across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Long)]
    val df = ms.toDF().toDF("k", "id", "ms")
    // capacity 2 tokens, refill 1 token/second of EVENT time
    val q = StreamingIngest.rateLimitGate(spark, df, "k", "id", "ms", 2.0, 1.0)
      .writeStream.format("memory").queryName("rate_gate")
      .outputMode("append").start()
    // batch 1, key a: burst of 4 at t=0 — capacity admits 2, rejects 2;
    // then t=1500ms refills 1.5 (capped at 2.0 partial) → admit.
    ms.addData(("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 0L), ("a", 4L, 0L),
      ("a", 5L, 1500L), ("b", 10L, 0L))
    q.processAllAvailable()
    // batch 2, key a: t=1600 (+0.1s → 0.6 tokens: reject), t=3000
    // (+1.4s → 1.9...: admit)
    ms.addData(("a", 6L, 1600L), ("a", 7L, 3000L))
    q.processAllAvailable()
    val got = spark.sql("SELECT key, id, admitted FROM rate_gate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    q.stop()
    // independent fold with the same bucket rules
    def replay(events: Seq[(Long, Long)], cap: Double, rps: Double): Set[(Long, Boolean)] = {
      var tokens = cap
      var last = events.head._2
      events.map { case (id, t) =>
        tokens = math.min(cap, tokens + math.max(0L, t - last) / 1000.0 * rps)
        last = math.max(last, t)
        val admit = tokens >= 1.0
        if (admit) tokens -= 1.0
        (id, admit)
      }.toSet
    }
    val wantA = replay(Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L),
      (5L, 1500L), (6L, 1600L), (7L, 3000L)), 2.0, 1.0)
    assert(got.filter(_._1 == "a").map(r => (r._2, r._3)) === wantA)
    assert(got.filter(_._1 == "b") === Set(("b", 10L, true)))
    // spelled out: the burst is clipped at capacity, refill is event-time
    val byId = got.collect { case ("a", id, adm) => id -> adm }.toMap
    assert(byId(1L) && byId(2L) && !byId(3L) && !byId(4L))
    assert(byId(5L) && !byId(6L) && byId(7L))
  }

  // ------------------------------------------------- r10 driver-face twins

  test("q279 face: executed streaming plan contains the TransformWithState operator") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // The driver face's done-condition (r9 verdict item 1) is that the
    // green CORRECTNESS row actually EXECUTES the arbitrary-state
    // operator — pin that here on the same ttlDedupGate build the face
    // runs, via the live query's last executed plan. (The conf swap
    // stays inline here rather than reusing StreamingQueries'
    // private withRocksDBProvider — the probe must stay independent of
    // the module under test.)
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(java.sql.Timestamp, String)]
      val df = ms.toDF().toDF("ts", "k")
      val q = StreamingIngest.ttlDedupGate(spark, df, "k",
          java.time.Duration.ofHours(1))
        .writeStream.format("memory").queryName("ttl_plan_probe")
        .option("checkpointLocation", tmp("graft-ttlplan-ckpt"))
        .outputMode("append").start()
      ms.addData((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"))
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table("ttl_plan_probe").count() < 1 &&
          System.nanoTime() < deadline) Thread.sleep(200)
      val exec = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      q.stop()
      // the physical node prints its nodeName without the Exec suffix
      assert(exec.contains("TransformWithState"), exec)
    } finally prev match {
      case Some(v) => spark.conf.set(confKey, v)
      case None    => spark.conf.unset(confKey)
    }
  }

  test("q282 face: executed streaming plan contains the FlatMapGroupsWithState operator") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String, Long)]
    val df = ms.toDF().toDF("u", "t", "ms")
    val q = StreamingIngest.funnelStages(spark, df, "u", "t", "ms")
      .writeStream.format("memory").queryName("funnel_plan_probe")
      .outputMode("append").start()
    ms.addData(("u1", "view", 1000L))
    q.processAllAvailable()
    val exec = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    q.stop()
    // the physical node prints its nodeName without the Exec suffix
    assert(exec.contains("FlatMapGroupsWithState"), exec)
  }

  test("q280 face: the late rows are present in the input and exactly their mass is dropped") {
    import spark.implicits._
    // The r9-verdict twin: the face's settled output must differ from
    // the naive batch rollup by EXACTLY the late subset's contribution —
    // proving the dropped rows existed in the staged input and that the
    // watermark (not a filter upstream) removed them.
    val ev = graft.ops.Tables.events(spark, sf0001)
    val mt = ev.agg(max(unix_micros($"ts"))).head().getLong(0)
    val us = unix_micros(col("ts"))
    val lateP = us % 5 === 0 && us <= mt - 3L * 3600000000L
    val nLate = ev.filter(lateP).count()
    assert(nLate > 0, "fixture must contain late-staged rows for the face to mean anything")
    def rollup(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"event_type", window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select($"event_type", unix_micros($"window.start").as("ws"), $"n")
      .filter($"ws" + 3600000000L <= mt - 7200000000L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = graft.ops.StreamingQueries.queries("q280_streaming_late_data")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val keptOnly = rollup(ev.filter(!lateP))
    val all = rollup(ev)
    assert(got === keptOnly, "settled output must equal the non-late batch rollup")
    assert(got !== all, "the drop must be visible vs the all-rows rollup")
    // and the difference is exactly the late mass, window by window
    val lateMass = rollup(ev.filter(lateP))
    lateMass.foreach { case (k, n) =>
      assert(all(k) - got.getOrElse(k, 0L) === n, s"window $k late mass")
    }
  }

  test("q283 face: timers close exactly the sessions ending >= gap before stream end; fixture is tie-free") {
    import spark.implicits._
    val ev = graft.ops.Tables.events(spark, sf0001).filter($"user_id".isNotNull)
    val mt = ev.agg(max($"ms")).head().getLong(0)
    val per = ev.groupBy($"user_id").agg(min($"ms").as("s"), max($"ms").as("e"),
      count(lit(1)).as("n"))
    // tie-freeness: the timer-expiry ≤-vs-< boundary cannot bite here,
    // so the oracle's ≤ convention is safe for this fixture
    assert(per.filter($"e" + 1800000L === mt).count() === 0)
    val want = per.filter($"e" + 1800000L <= mt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = graft.ops.StreamingQueries.queries("q283_streaming_session_close")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
    // the withheld tail is real: at least one session must stay open,
    // or the face no longer demonstrates timer-gated emission
    assert(per.count() > want.size, "fixture should leave at least one session open")
  }

  test("q281 face: update mode emitted only the changed key in the second batch") {
    import spark.implicits._
    // The staged split routes every 'error' row to batch 1, so
    // last_update_batch — recorded from REAL update-mode foreachBatch
    // emissions — must be 1 exactly for 'error' and 0 elsewhere, and the
    // latest-wins totals must equal the batch GROUP BY.
    val got = graft.ops.StreamingQueries.queries("q281_streaming_update_counts")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = graft.ops.Tables.events(spark, sf0001)
      .filter($"event_type".isNotNull)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.view.mapValues(_._1).toMap === want)
    got.foreach { case (k, (_, lastBatch)) =>
      assert(lastBatch === (if (k == "error") 1L else 0L), s"key $k")
    }
    assert(got.contains("error"), "fixture must have error rows to exercise batch 1")
  }

  test("r10: state-partition derivation is size-adaptive, floored, and capped") {
    import graft.ops.StreamingQueries.derivedStatePartitions
    val M = 64L * 1024 * 1024
    // below one target: the floor rules
    assert(derivedStatePartitions(2L * 1024 * 1024, M, 4) === 4)
    assert(derivedStatePartitions(0L, M, 1) === 1)
    // ceil division once past the floor
    assert(derivedStatePartitions(10L * M, M, 4) === 10)
    assert(derivedStatePartitions(10L * M + 1, M, 4) === 11)
    // 1 TB derives thousands of stores; 100 TB hits the 2^20 cap
    assert(derivedStatePartitions(1024L * 1024 * 1024 * 1024, M, 4) === 16384)
    assert(derivedStatePartitions(100L * 1024 * 1024 * 1024 * 1024, M, 4) === (1 << 20))
    assert(derivedStatePartitions(Long.MaxValue / 2, 1L, 4) === (1 << 20))
  }

  test("r11: fixtureBytes sums leaf files of a directory-layout table (File.length saw ~4KB)") {
    import graft.ops.StreamingQueries.fixtureBytes
    // single-file fixture: content summary equals the file length
    val f = new java.io.File(s"$sf0001/events.parquet")
    assert(f.isFile)
    assert(fixtureBytes(spark, sf0001, "events") === f.length())
    // directory-layout table: the sum of leaf part files, not the dirent size
    val root = java.nio.file.Files.createTempDirectory("graft_fb_").toFile
    try {
      val dirTable = new java.io.File(root, "t.parquet")
      graft.ops.Tables.t(spark, sf0001, "events").limit(100)
        .repartition(3).write.parquet(dirTable.getAbsolutePath)
      // exclude the local FS's hidden .crc shadows — the Hadoop listing
      // (and any real deployment FS) never surfaces them
      val leafSum = dirTable.listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("."))
        .map(_.length()).sum
      assert(leafSum > 0)
      assert(fixtureBytes(spark, root.getAbsolutePath, "t") === leafSum)
      // unknown table: 0, so the derivation falls to its floor
      assert(fixtureBytes(spark, root.getAbsolutePath, "missing") === 0L)
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(root)
    }
  }

  test("fixtureBytes: a malformed dir URI reports 0 (the floor), not an exception") {
    import graft.ops.StreamingQueries.fixtureBytes
    // "ab:c" parses as scheme ab with a relative path: Hadoop's Path throws
    // IllegalArgumentException (URISyntaxException), not an IOException
    intercept[IllegalArgumentException](new org.apache.hadoop.fs.Path("ab:c/t.parquet"))
    assert(fixtureBytes(spark, "ab:c", "t") === 0L)
  }

  /** Records each started stream's run id, progress events (total, and
    * those that read input rows) and termination; [[counts]] waits for
    * every started stream to report its termination, so all of its
    * progress events have been delivered. */
  private class BatchCounter extends StreamingQueryListener {
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
    val started = new ConcurrentLinkedQueue[(String, java.util.UUID)]()
    private val progress = new ConcurrentHashMap[java.util.UUID, (Int, Int)]()
    private val ended = ConcurrentHashMap.newKeySet[java.util.UUID]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.add((e.name, e.runId)): Unit
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.merge(e.progress.runId,
        (1, if (e.progress.numInputRows > 0) 1 else 0),
        (a: (Int, Int), b: (Int, Int)) => (a._1 + b._1, a._2 + b._2)): Unit
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      ended.add(e.runId): Unit
    /** (progress events, data batches) per stream started since the last
      * call. */
    def counts(): Seq[(Int, Int)] = {
      import scala.jdk.CollectionConverters._
      val ids = started.asScala.map(_._2).toSeq
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!ids.forall(ended.contains) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(ids.forall(ended.contains), "a started stream never reported termination")
      started.clear()
      ids.map(id => Option(progress.get(id)).getOrElse((0, 0)))
    }
  }

  private def withListener[A](l: StreamingQueryListener)(body: => A): A = {
    spark.streams.addListener(l)
    try body finally spark.streams.removeListener(l)
  }

  test("settle drops its memory-sink view: two q265 calls agree and leave no graft_stream_q_* table") {
    val q265 = graft.ops.StreamingQueries.queries("q265_streaming_session_rollup")
    val a = q265(spark, sf0001).collect().toSeq
    val b = q265(spark, sf0001).collect().toSeq
    assert(a.nonEmpty)
    assert(a === b)
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_q_"))
    assert(left.isEmpty, s"memory-sink views left in the catalog: ${left.mkString(", ")}")
  }

  /** The keys a failing [[graft.ops.StreamingQueries.drain]] must restore. */
  private val scopedKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass")
  private val rocksDB = Map(scopedKeys(1) ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Runs `failing` (one drain, given its writer's query name) under each
    * prior state of [[scopedKeys]] — explicitly set, then unset — with
    * scratch checkpoints under a fresh root, and checks the drain's
    * failure contract: the face's own exception (returned per run) within
    * 120 s, no stream of that name active, the checkpoint root empty, and
    * every scoped key back at its prior value. */
  private def drainFailures(name: String)(failing: String => Unit): Seq[Throwable] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val explicit = spark.conf.getAll
    val root = java.nio.file.Files.createTempDirectory("graft_drain_ck_").toFile
    val priors = Seq(
      Map(scopedKeys(0) -> Some("7"), scopedKeys(1) -> Some(
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")),
      Map(scopedKeys(0) -> None, scopedKeys(1) -> None))
    val counter = new BatchCounter
    spark.conf.set("spark.graft.stream.checkpointDir", root.getAbsolutePath)
    try withListener(counter) {
      priors.map { prior =>
        prior.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
        val err = intercept[Throwable](Await.result(Future(failing(name)), 120.seconds))
        assert(!err.isInstanceOf[java.util.concurrent.TimeoutException], "the drain hung")
        import scala.jdk.CollectionConverters._
        assert(counter.started.asScala.exists(_._1 == name), s"$name never started")
        counter.counts()
        assert(!spark.streams.active.exists(_.name == name), s"$name is still active")
        assert(root.list().isEmpty, s"checkpoint left behind: ${root.list().mkString(", ")}")
        val now = spark.conf.getAll
        prior.foreach { case (k, v) => assert(now.get(k) === v, k) }
        err
      }
    } finally {
      spark.conf.unset("spark.graft.stream.checkpointDir")
      scopedKeys.foreach(k => explicit.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None    => spark.conf.unset(k)
      })
      org.apache.commons.io.FileUtils.deleteQuietly(root): Unit
    }
  }

  test("drain: a throwing foreachBatch surfaces, stops the stream, drops its checkpoint and restores confs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val errs = drainFailures("drain_batch_fail") { name =>
      val ms = MemoryStream[Long]
      ms.addData(1L, 2L, 3L)
      graft.ops.StreamingQueries.drain(spark, ms.toDF().writeStream.queryName(name)
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new IllegalStateException("injected batch failure")
        }, 0L, rocksDB)
    }
    errs.foreach { err =>
      val chain = Iterator.iterate(err)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(e => e.isInstanceOf[IllegalStateException] &&
        e.getMessage == "injected batch failure"), err)
    }
  }

  test("drain: a throwing landed poll stops the stream, drops its checkpoint") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val errs = drainFailures("poll_drain_fail") { name =>
      val ms = MemoryStream[Long]
      ms.addData(1L, 2L, 3L)
      graft.ops.StreamingQueries.drain(spark, ms.toDF().writeStream.format("memory")
        .queryName(name).outputMode("append"), 0L, rocksDB,
        Some(() => throw new IllegalStateException("injected poll failure")))
    }
    errs.foreach { err =>
      assert(err.isInstanceOf[IllegalStateException], err)
      assert(err.getMessage === "injected poll failure")
    }
  }

  test("each streaming face runs its pinned number of micro-batches on sf0.001") {
    // (progress events, data batches) per face: one progress event per
    // executed trigger, no-data batches included; a data batch is one
    // that read input rows. SCALE.md's streaming section carries the
    // table. q279's TTL bookkeeping (processing-time mode) runs no-data
    // batches until the landed poll stops the stream, so its total is a
    // race: 1 or 2 were measured, and only its data batch is pinned.
    val want = Map(
      "q257_streaming_tumbling_rollup" -> (1, 1),
      "q258_streaming_dedup_gate" -> (1, 1),
      "q265_streaming_session_rollup" -> (1, 1),
      "q271_streaming_click_attribution" -> (2, 1),
      "q276_streaming_curation_gate" -> (1, 1),
      "q277_streaming_anomaly_gate" -> (2, 1),
      "q278_streaming_trending_topk" -> (1, 1),
      "q279_streaming_ttl_dedup" -> (1, 1),
      "q280_streaming_late_data" -> (3, 3),
      "q281_streaming_update_counts" -> (2, 2),
      "q282_streaming_funnel" -> (1, 1),
      "q283_streaming_session_close" -> (2, 1),
      "q284_streaming_rate_limit" -> (1, 1))
    assert(want.keySet === graft.ops.StreamingQueries.queries.keySet)
    val counter = new BatchCounter
    val got = withListener(counter) {
      want.keys.toSeq.sorted.map { face =>
        graft.ops.StreamingQueries.queries(face)(spark, sf0001)
        val c = counter.counts()
        assert(c.size === 1, s"$face started ${c.size} streams")
        face -> c.head
      }.toMap
    }
    val ttl = "q279_streaming_ttl_dedup"
    assert(got(ttl)._2 === want(ttl)._2)
    assert(got(ttl)._1 >= want(ttl)._1)
    assert(got.updated(ttl, want(ttl)) === want, got.toSeq.sorted.mkString(" "))
  }
}
