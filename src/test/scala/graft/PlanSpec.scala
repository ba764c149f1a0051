package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the properties SCALE.md promises must be
  * visible in the physical plans, not just intended. */
class PlanSpec extends AnyFunSuite with SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q01: the date filter pushes into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q86/q136: time cutoffs push to the parquet scan through the NTZ cast") {
    // The derived-ts_ns predicate form silently loses this (measured:
    // PushedFilters degrades to [IsNotNull(ts)]); the timestamp-literal
    // form is load-bearing for the time-travel/drift family's scan prune.
    val p86 = plan("q86_state_asof")
    assert(p86.contains("LessThanOrEqual(ts,2024-01-15T00:00"), p86)
    val p136 = plan("q136_psi_drift")
    assert(p136.contains("LessThan(ts,2024-01-15T00:00"), p136)
    assert(p136.contains("GreaterThanOrEqual(ts,2024-01-15T00:00"), p136)
  }

  test("q01: scan reads only the referenced columns") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_orderkey"), "column pruning lost: scan reads unused key column")
  }

  test("dimension joins broadcast (q05, q21)") {
    assert(plan("q05_revenue_by_nation").contains("BroadcastHashJoin"))
    assert(plan("q21_top_parts").contains("BroadcastHashJoin"))
  }

  test("q24: single-key latest plans as TakeOrderedAndProject") {
    assert(plan("q24_latest_purchase").contains("TakeOrderedAndProject"))
  }

  test("q04: top-k limit plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("q04_top_spenders").contains("TakeOrderedAndProject"))
  }

  test("q53: the benchmark shingle set broadcasts; the corpus side never does") {
    val p = plan("q53_decontamination")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q189: query terms broadcast and both ranker pools ride GroupTopK heaps") {
    val p = plan("q189_rrf_hybrid")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("GroupTopK"), p)
  }

  test("q190/q199: top-k outputs plan as TakeOrderedAndProject, not a global sort") {
    assert(plan("q190_inet_rollup").contains("TakeOrderedAndProject"))
    assert(plan("q199_max_drawdown").contains("TakeOrderedAndProject"))
  }

  test("q194: neighbor lists ride GroupTopK and the count dims broadcast") {
    val p = plan("q194_item_item_cosine")
    assert(p.contains("GroupTopK"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q197: the slope median is rank-selected, not a one-buffer percentile") {
    val p = plan("q197_theil_sen")
    // The day-frame intercept median may use percentile (control-plane
    // sized: one partial + one final = 2 occurrences); the PAIR frame
    // must not — its median arrives via GlobalRank's range-sorted rank
    // plus a rank-targeted select.
    val nPct = "percentile\\(".r.findAllMatchIn(p).size
    assert(nPct <= 2, s"pair-frame percentile crept back in ($nPct):\n$p")
    // and the one that remains is the day-frame intercept, never the
    // pair-slope column
    assert(!p.contains("percentile(sl"), p)
  }

  test("q252: blocked linkage join is salted, hash-based, and broadcasts the u frame") {
    val p = plan("q252_fs_linkage")
    // the selective hot-key salt column must be wired into the join
    assert(p.contains("__graft_salt"), p)
    // blocking joins on (blk [, salt]) as a HASH join — a nested-loop or
    // cartesian here would be the all-pairs disaster blocking exists to
    // prevent
    assert(p.contains("Join [blk") || p.contains("Join [coalesce(blk")
      || "Join \\[blk#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin [blk"), p)
    assert(!p.contains("CartesianProduct"), p)
    // name agreement rides the native codegen JaroWinkler, not a UDF
    assert(p.contains("jarowinkler"), p)
    // the 1-row u frame broadcasts onto the candidate stream
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q251: the JL audit's sample pair join broadcasts (never a shuffled product)") {
    val p = plan("q251_jl_distortion")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q249/q253: decomposition folds use no window over data rows") {
    // Both reduce the corpus in ONE map-combinable aggregate and finish
    // on bounded control frames with fixed-order expression folds — a
    // Window here would mean data rows flowing through per-row state.
    assert(!plan("q249_brier_decomposition").contains("Window"))
    assert(!plan("q253_anova_dow").contains("Window"))
  }

  test("q247: open pairs form via anti-join on the thresholded edge spine") {
    val p = plan("q247_adamic_adar")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q254: rank frames stay partitioned; single-partition stages are control-plane only") {
    val p = plan("q254_spearman")
    // GlobalRank reads a range exchange and adds no single-partition
    // stage; the only SinglePartition exchanges allowed are the final
    // 1-row aggregate's (the bound predates the exec and stays loose).
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 3, s"unexpected single-partition stage count $singles:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q250/q255: stratified audits stay scan-shaped (no window, no cartesian)") {
    val p250 = plan("q250_randomized_response")
    assert(!p250.contains("Window") && !p250.contains("CartesianProduct"), p250)
    val p255 = plan("q255_cmh_odds")
    assert(!p255.contains("Window") && !p255.contains("CartesianProduct"), p255)
  }

  test("q263: KN side tables broadcast; only the doc-order window touches data rows") {
    val p = plan("q263_kneser_ney")
    // vocab-bounded ctx/cont rollups and the 1-row scalars must reach the
    // token stream as broadcasts (AQE or static); a SortMergeJoin on tok
    // alone is fine for the corpus-scale bigram table, but a cartesian
    // anywhere means the scalars stopped broadcasting.
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q248: skip-gram pairs form via the (doc, pos+off) equi-join, never a per-doc product") {
    val p = plan("q248_skipgram_pairs")
    assert("Join \\[doc_id#\\d+L?, cpos#".r.findFirstIn(p).isDefined,
      s"pair join lost its (doc_id, cpos) equi keys:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), "no window should touch the token stream:\n" + p)
  }

  test("q245/q256: candidates form via the indexed-feature equi-join, never a nested loop") {
    // Since the r10 demotion BOTH registrations ride the All-Pairs
    // composition — assert the plan shape for each name so a future
    // re-fork of q245 back to the docs² loop fails here (r9 verdict
    // item 2's done-condition).
    for (name <- Seq("q245_tfidf_cosine_pairs", "q256_tfidf_prefix_cosine")) {
      val p = plan(name)
      // Bayardo §4 enumeration: indexed × indexed equi-join on the
      // dense feature id — pair generation must be keyed (r8 verdict
      // item 3: the old form evaluated the candidate rule inside a
      // conditioned BNLJ, broadcasting the whole corpus and enumerating
      // docs²/2). The only nested loop allowed is tfidfVectors'
      // audited 1-row scalar attach (an unconditioned Cross of a 1-row
      // aggregate) — any Inner/conditioned BNLJ means the pair loop
      // came back.
      assert("BroadcastNestedLoopJoin Build(Left|Right), (?!Cross)".r
        .findFirstIn(p).isEmpty, s"$name: conditioned nested-loop pair join:\n$p")
      assert(!p.contains("longandany"), s"$name: bitmask prescreen should be gone:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert("Join \\[idx#".r.findFirstIn(p).isDefined,
        s"$name: candidate join lost its feature-id equi key:\n$p")
      assert(p.contains("longdotproduct"), s"$name:\n$p")
    }
  }

  test("q34: pair enumeration rides the ball-cover cell equi-join, not an n² loop") {
    val p = plan("q34_cosine_neardup")
    // the only nested loops allowed are the ≤Cells-row centroid/spine
    // attaches (unconditioned Cross); the member×member join must be
    // keyed on the cell-pair ids
    assert("BroadcastNestedLoopJoin Build(Left|Right), (?!Cross)".r
      .findFirstIn(p).isEmpty, s"conditioned nested-loop pair join:\n$p")
    assert("Join \\[c(pb|a)#".r.findFirstIn(p).isDefined,
      s"pair join lost its cell equi keys:\n$p")
    assert(p.contains("graftcosine") || p.contains("cosinesimilarity"), p)
  }

  test("q272: gopher repetition stays per-document (no cartesian, no global window)") {
    val p = plan("q272_gopher_repetition")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the per-doc top-gram argmax must ride the bounded GroupTopK heaps,
    // not a corpus-wide window sort
    assert(p.contains("GroupTopK"), p)
    assert(!p.contains("Window"), s"no window should touch the gram stream:\n$p")
  }

  test("q273: pooled order statistics ride GlobalRank, not a global window sort") {
    val p = plan("q273_quantile_normalize")
    // GlobalRank reads a range exchange; the only SinglePartition
    // exchanges allowed are control-plane ones (the 1-row n_total)
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 3, s"unexpected single-partition stages ($singles):\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the order-statistic attach is an integer equi-join on k
    assert("Join \\[k#".r.findFirstIn(p).isDefined,
      s"order-statistic attach lost its k equi key:\n$p")
  }

  test("q259/q260/q261: packing/curriculum/negatives keep GlobalRank's partitioned shape") {
    // GlobalRank reads a range exchange; at most two control-plane
    // SinglePartition exchanges are allowed (the bound predates the exec)
    for (n <- Seq("q259_sequence_packing", "q260_curriculum_interleave",
                  "q261_negative_sampling")) {
      val p = plan(n)
      val singles = "Exchange SinglePartition".r.findAllIn(p).size
      assert(singles <= 2, s"$n: unexpected single-partition stages ($singles):\n$p")
      assert(!p.contains("CartesianProduct"), s"$n:\n$p")
    }
    // the negative draw resolves by an equi-join on the dense rank
    assert("Join \\[draw#".r.findFirstIn(plan("q261_negative_sampling")).isDefined)
  }

  test("q262: the FIM split is a pure per-row projection (no join, no window)") {
    val p = plan("q262_fim_split")
    assert(!p.contains("Join"), s"FIM split must not join:\n$p")
    assert(!p.contains("Window"), p)
    val exchanges = "Exchange (range|hash)partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("range"),
      s"only the output sort may shuffle:\n$p")
  }

  test("q267: span surgery keeps the anti-join + broadcast-benchmark shape") {
    val p = plan("q267_span_surgery")
    assert(p.contains("LeftAnti"), s"covered positions must drop via anti-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q268/q269: richness stays join-free; Heaps keeps GlobalRank's partitioned shape") {
    val p268 = plan("q268_vocab_richness")
    assert(!p268.contains("Join") && !p268.contains("Window"),
      s"richness must be two hash aggs over one scan:\n$p268")
    val p269 = plan("q269_heaps_fit")
    val singles = "Exchange SinglePartition".r.findAllIn(p269).size
    assert(singles <= 2, s"q269: unexpected single-partition stages ($singles):\n$p269")
    assert(!p269.contains("CartesianProduct"), p269)
    // the ten checkpoints must reach the first-occurrence frame as a
    // broadcast (theta join on frk <= n_prefix)
    assert(p269.contains("BroadcastNestedLoopJoin"), p269)
  }

  test("q264/q266: allocation and split stay window-free over data rows") {
    // q264's greedy rounds are scalar reductions off one prefix-sum
    // column (triangular control-frame join, no Window at all); q266
    // adds only per-row hash projections over q47's iteration.
    assert(!plan("q264_epoch_allocation").contains("Window"))
    assert(!plan("q266_cluster_split").contains("Window"))
  }

  test("q52: the hash split is shuffle-free (no Exchange except the output sort)") {
    val p = plan("q52_train_val_split")
    // exactly one exchange: the rangepartitioning for the final ORDER BY
    val exchanges = "Exchange (range|hash)partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size === 1 && exchanges.head.contains("range"),
      s"split assignment must not shuffle: $p")
  }

  test("runtime Bloom-filter join pruning engages on a selective fact join") {
    // The 100 TB lever AQE adds on top of static pushdown: a selective
    // dim-side predicate materializes a Bloom filter that prunes the fact
    // scan at RUNTIME. Size thresholds gate it off at fixture scale, so
    // this pins the MECHANISM with thresholds lowered, proving the plans
    // this library emits are runtime-filterable (equi-join on a plain
    // column reference) — the property that matters on a real cluster.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creation side must be UNDER this (it's a max), application side
      // OVER that (it's a min) — shaped here to mimic dim≪fact at scale
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // the rule only injects into SHUFFLE joins — at fixture scale the
      // dim side would broadcast, so disable auto-broadcast like a
      // fact×fact join at cluster scale
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val o = spark.read.parquet(s"$sf0001/orders.parquet")
        .filter(col("o_orderdate") < lit("1993-01-01").cast("timestamp_ntz"))
        .select(col("o_orderkey"))
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val q = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy().sum("l_quantity")
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter") || optimized.contains("BloomFilter"),
        s"runtime bloom filter did not engage:\n$optimized")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("SQL face: spark.sql over registered views matches the DataFrame query") {
    val viaSql = graft.ops.Views.sql(spark, sf0001,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect().toSeq
    import org.apache.spark.sql.functions._
    val viaDf = graft.ops.Tables.t(spark, sf0001, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus").collect().toSeq
    assert(viaSql === viaDf)
  }

  test("SQL face: normalized events view exposes ms/ts_ns") {
    val r = graft.ops.Views.sql(spark, sf0001,
      "SELECT COUNT(*) FROM events WHERE ms IS NOT NULL AND ts_ns IS NOT NULL")
      .collect().head.getLong(0)
    assert(r === 1000)
  }

  test("SQL face: every custom function family resolves through Views.sql") {
    // cosine + topk (vectors), freq-items sketch (text), bloom agg +
    // probe (membership) — all reachable from plain SQL.
    val cos = graft.ops.Views.sql(spark, sf0001,
      """SELECT graft_cosine(CAST(embedding AS ARRAY<DOUBLE>),
        |                    CAST(embedding AS ARRAY<DOUBLE>)) AS c
        |FROM embeddings ORDER BY vec_id LIMIT 1""".stripMargin)
      .collect().head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-9)
    val hh = graft.ops.Views.sql(spark, sf0001,
      """SELECT sk.n, size(sk.entries) AS n_entries FROM (
        |  SELECT graft_freq_items(token, 8) AS sk FROM (
        |    SELECT explode(split(lower(text), ' ')) AS token FROM documents))""".stripMargin)
      .collect().head
    assert(hh.getLong(0) > 0 && hh.getInt(1) > 0 && hh.getInt(1) <= 8)
    // probe a COLUMN, not a string literal: a folded negative long literal
    // hits janino's cast-vs-subtraction ambiguity inside Spark's own
    // BloomFilterMightContain codegen ("(Long)-83…L" → compile error →
    // interpreted fallback). Real probes are columns (q73), so the test
    // should exercise — and keep clean — the codegen'd path.
    val bloomHit = graft.ops.Views.sql(spark, sf0001,
      """SELECT graft_might_contain(
        |         (SELECT graft_bloom_agg(xxhash64(l_returnflag),
        |                                 CAST(100 AS BIGINT), CAST(4096 AS BIGINT)) FROM lineitem),
        |         xxhash64(l_returnflag)) AS hit
        |FROM lineitem LIMIT 1""".stripMargin)
      .collect().head.getBoolean(0)
    assert(bloomHit)
    val ph = graft.ops.Views.sql(spark, sf0001,
      """SELECT graft_phash128(CAST(text AS BINARY)) AS sig
        |FROM documents WHERE length(text) >= 4 ORDER BY doc_id LIMIT 1""".stripMargin)
      .collect().head.getSeq[Long](0)
    assert(ph.length === 2 && ph.exists(_ != 0L))
    val cms = graft.ops.Views.sql(spark, sf0001,
      """SELECT sk.n, size(sk.cells) AS n_cells FROM (
        |  SELECT graft_countmin(token, 4, 256) AS sk FROM (
        |    SELECT explode(split(lower(text), ' ')) AS token FROM documents))""".stripMargin)
      .collect().head
    assert(cms.getLong(0) > 0 && cms.getInt(1) === 1024)
  }

  test("SQL face: Views writes only the function registry, and checks arity by name") {
    val err = intercept[Exception] {
      graft.ops.Views.sql(spark, sf0001,
        "SELECT graft_cosine(CAST(embedding AS ARRAY<DOUBLE>)) FROM embeddings").collect()
    }
    assert(err.getMessage.contains("graft_cosine takes exactly 2 arguments, got 1"), err.getMessage)
    val rules = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    assert(rules.extraOptimizations.isEmpty, rules.extraOptimizations)
  }
}
