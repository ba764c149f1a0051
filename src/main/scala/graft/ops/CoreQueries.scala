package graft.ops

import graft.plans.Shared
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/**
 * The core relational operator surface (SURVEY.md §2 groups C, F–I):
 * scans, filters, hash aggregation, broadcast/sort-merge/semi/anti joins,
 * window analytics (rank, lag, running frames, latest-per-key, as-of),
 * rollup/cube, set operations, top-k, JSON/string/date scalar suites.
 *
 * The reference delegates all of this to PostgreSQL over the schema it
 * materializes (SURVEY.md §2.F–J); here each capability is a named,
 * deterministic, oracle-checked Spark query over the driver fixtures.
 *
 * Scale notes (100 TB design stance):
 *  - dimension joins (`nation`, `region`, `supplier`, `part`) are
 *    explicitly `broadcast()` — no shuffle of the fact side;
 *  - fact aggregations are single-shuffle hash aggregates with map-side
 *    partial aggregation (Catalyst default for sum/count/min/max);
 *  - latest-per-key and sessionization are one window shuffle each, no
 *    driver-side iteration, so they scale with executors;
 *  - top-k uses orderBy+limit, which Catalyst executes as
 *    TakeOrderedAndProject (per-partition heaps, no global sort).
 */
object CoreQueries {

  private[ops] val SessionGapMs = 30L * 60 * 1000

  /** q157: fixed-point iterations for the absorbing-chain solve.
    * Mirrored verbatim by the oracle's unrolled CTE chain — both engines
    * execute the SAME arithmetic sequence, so the count is part of the
    * operator's contract, not a tolerance. 200 rounds leave the residual
    * orders below 1e-12 on any session-scale chain (per-step absorption
    * probability ≥ the min terminal rate). */
  private[ops] val MarkovIters = 200

  /** q204 geo constants — literal strings so Spark and the oracle parse
    * identical doubles. Box: lat ∈ [40, 50], lon ∈ [−10, 10] (a
    * country-scale service area); cell edge 2°; search radius 120 km.
    * Grid-completeness invariant: the narrowest cell dimension inside the
    * box is 2° of longitude at lat 50° = 2·111.3195·cos(50°) ≈ 143.1 km
    * > R, so a 3×3 neighborhood always covers the R-ball — the oracle is
    * the BRUTE-FORCE all-pairs nearest, proving no candidate is missed. */
  val GeoEarthKm = "6371.0088"
  val GeoCellDeg = "2.0"
  val GeoRadiusKm = "120.0"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------------------- scans + hash agg
    // Flagship: TPC-H Q1-shaped pricing summary — scan, pushed filter,
    // projection, partial+final hash agg, exact decimal sums (§7.2).
    "q01_pricing_summary" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        // TZ-independent bound: the string cast resolves under the pinned
        // UTC session timezone (Timestamp.valueOf would parse in JVM-default
        // TZ and shift the predicate on a non-UTC host).
        .filter($"l_shipdate" <= lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
          dsum6($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
          davg($"l_quantity").as("avg_qty"),
          davg($"l_extendedprice").as("avg_price"),
          davg($"l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    "q02_daily_revenue" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .groupBy(to_date($"o_orderdate").as("order_date"))
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
        .orderBy($"order_date")
    },

    // ------------------------------------------------------------- latest-per-key (C1)
    // Generalizes the reference's find_previous_job_id (ua2sql.py:165–176)
    // to all keys at once: one window shuffle, no per-key driver loop.
    "q03_latest_event_per_user" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_ns".desc, $"event_id".desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id".as("last_event_id"),
          $"event_type".as("last_event_type"), $"value".as("last_val"),
          $"ms".as("last_ts_ms"))
        .orderBy($"user_id")
    },

    "q04_top_spenders" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_purchases"), dsum($"value").as("total_spend"))
        .orderBy($"total_spend".desc, $"user_id")
        .limit(10)
    },

    // ---------------------------------------------------------------------- joins
    "q05_revenue_by_nation" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
        .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
        .orderBy($"n_name")
    },

    "q06_brand_revenue" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_items"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
        .orderBy($"p_brand")
    },

    "q07_customers_with_orders" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },

    "q08_customers_without_orders" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },

    // -------------------------------------------------------------------- windows
    "q09_running_spend" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        // o_orderdate is TIMESTAMP_NTZ in parquet; session tz is pinned UTC,
        // so the cast is instant-preserving and matches DuckDB's epoch_ms.
        .select($"o_custkey", $"o_orderkey",
          unix_millis($"o_orderdate".cast("timestamp")).as("order_ms"),
          moneyOut(sum($"o_totalprice".cast(money)).over(w)).as("running_spend"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    "q10_event_gaps" -> { (s, dir) =>
      import s.implicits._
      val ord = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      events(s, dir)
        .withColumn("prev_ms", lag($"ms", 1).over(ord))
        .groupBy($"user_id")
        .agg(count($"prev_ms").as("n_gaps"),
          sum($"ms" - $"prev_ms").as("total_gap_ms"),
          (sum($"ms" - $"prev_ms").cast("double") / count($"prev_ms")).as("avg_gap_ms"))
        .orderBy($"user_id")
    },

    // --------------------------------------------------------- rollup / cube / sets
    "q11_event_rollup" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .withColumn("event_date", to_date($"ts"))
        .rollup($"event_type", $"event_date")
        .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
        .orderBy($"event_type".asc_nulls_first, $"event_date".asc_nulls_first)
    },

    "q12_high_value_or_error" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
        .select($"event_id", $"user_id", $"event_type", $"value")
      ev.filter($"value" > 450.0)
        .union(ev.filter($"event_type" === "error"))
        .distinct()
        .orderBy($"event_id")
    },

    "q13_click_and_purchase_users" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
      ev.filter($"event_type" === "click").select($"user_id")
        .intersect(ev.filter($"event_type" === "purchase").select($"user_id"))
        .orderBy($"user_id")
    },

    "q14_view_not_purchase_users" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
      ev.filter($"event_type" === "view").select($"user_id")
        .except(ev.filter($"event_type" === "purchase").select($"user_id"))
        .orderBy($"user_id")
    },

    // -------------------------------------------------------------- sessionization
    // Gaps-and-islands with a 30-minute inactivity gap: two window passes
    // over one shuffle by user_id, then a hash agg — the batch equivalent
    // of session_window (streaming variant in graft.streaming).
    "q15_sessions" -> { (s, dir) =>
      import s.implicits._
      val ord = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      events(s, dir)
        .withColumn("prev_ms", lag($"ms", 1).over(ord))
        .withColumn("new_sess",
          when($"prev_ms".isNull || $"ms" - $"prev_ms" >= SessionGapMs, 1L).otherwise(0L))
        .withColumn("sess_seq",
          sum($"new_sess").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sess_seq")
        .agg(count(lit(1)).as("n_events"),
          min($"ms").as("session_start_ms"), max($"ms").as("session_end_ms"))
        .orderBy($"user_id", $"sess_seq")
    },

    // ------------------------------------------------------------------- JSON props
    // The Spark face of the reference's JSONB columns (ua2sql.py:68,85).
    "q16_props_by_type" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .withColumn("k", get_json_object($"props", "$.k").cast("long"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
          min($"k").as("min_k"), max($"k").as("max_k"))
        .orderBy($"event_type")
    },

    // ------------------------------------------------------------ string/date suites
    "q17_doc_stats" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", $"n_chars",
          length($"text").cast("long").as("text_len"),
          size(split($"text", " ")).cast("long").as("n_tokens"),
          upper($"lang").as("lang_uc"))
        .orderBy($"doc_id")
    },

    "q18_hourly_activity" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy($"event_type", hour($"ts").cast("long").as("hour_of_day"))
        .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
        .orderBy($"event_type", $"hour_of_day")
    },

    "q19_distinct_users_by_type" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
        .orderBy($"event_type")
    },

    // HLL sketch — no oracle (approximate by construction); rows-only check.
    "q19b_approx_users_by_type" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy($"event_type")
        .agg(approx_count_distinct($"user_id", 0.01).as("approx_users"))
        .orderBy($"event_type")
    },

    "q20_cube_pricing" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    },

    // ----------------------------------------------------------------------- top-k
    "q21_top_parts" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .groupBy($"p_partkey", $"p_name")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
        .orderBy($"revenue".desc, $"p_partkey")
        .limit(15)
    },

    "q22_supplier_rank_in_nation" -> { (s, dir) =>
      import s.implicits._
      val rev = t(s, dir, "lineitem")
        .groupBy($"l_suppkey")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      val w = Window.partitionBy($"n_name").orderBy($"revenue".desc, $"s_suppkey")
      rev.join(broadcast(t(s, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(t(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
        .select($"n_name", $"s_suppkey", $"revenue",
          row_number().over(w).cast("long").as("rk"))
        .orderBy($"n_name", $"rk")
    },

    // ------------------------------------------------------------------ as-of join
    // Attribution: for each purchase, the latest strictly-preceding click
    // by the same user — an as-of join expressed as one window pass
    // (no range-join explosion; scales as one shuffle by user_id).
    "q23_purchase_attribution" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .withColumn("click_id", when($"event_type" === "click", $"event_id"))
        .withColumn("last_click_id", last($"click_id", ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id", $"last_click_id")
        .orderBy($"purchase_id")
    },

    // Range-frame window (the "how many clicks in the preceding hour"
    // attribution count) — a range join expressed as one window pass.
    "q25_clicks_before_purchase" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms")
        .rangeBetween(-3600000L, -1L)
      events(s, dir)
        .withColumn("is_click", when($"event_type" === "click", 1L).otherwise(0L))
        .withColumn("clicks_prev_hour", sum($"is_click").over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id",
          coalesce($"clicks_prev_hour", lit(0L)).as("clicks_prev_hour"))
        .orderBy($"event_id")
    },

    // Exact percentiles (linear interpolation) per group.
    "q26_value_percentiles" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy($"event_type")
        .agg(expr("percentile(value, array(0.25D, 0.5D, 0.9D))").as("ps"),
          count(lit(1)).as("n"))
        .select($"event_type", $"n",
          element_at($"ps", 1).as("p25"),
          element_at($"ps", 2).as("p50"),
          element_at($"ps", 3).as("p90"))
        .orderBy($"event_type")
    },

    // Calendar densification: one row per (day × type) over the table's
    // full span, zero-filled where no events occurred — the date-spine
    // join every dashboard needs so gaps read as 0, not missing. The
    // spine (days × types) is generated from two tiny aggregates and
    // broadcast; the fact side contributes one grouped count.
    "q61_daily_dense" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
      val days = ev.agg(min(to_date($"ts")).as("d0"), max(to_date($"ts")).as("d1"))
        .select(explode(sequence($"d0", $"d1")).as("day"))
      val types = ev.select($"event_type").distinct()
      val counts = ev.groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("n"))
      days.crossJoin(types)
        .join(counts, Seq("day", "event_type"), "left")
        .select($"day", $"event_type", coalesce($"n", lit(0L)).as("n"))
        .orderBy($"day", $"event_type")
    },

    // Z-order locality audit: the z-curve over (customer, order-day)
    // groups orders into coarse buckets that each span a SMALL rectangle
    // of both dimensions — the property that makes footer min/max stats
    // prune multi-dimensional predicates after a Layout.layoutBy rewrite
    // (LayoutSpec measures the per-file effect; this query is the
    // portable arithmetic face: pure integer shifts/masks, so it
    // hash-matches the identically-expressed oracle).
    "q75_zorder_locality" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .withColumn("day",
          datediff($"o_orderdate".cast("date"), lit("1992-01-01").cast("date")).cast("long"))
        .withColumn("z", Layout.zValue($"o_custkey", $"day", 16))
        .withColumn("zbucket", shiftrightunsigned($"z", 18))
        .groupBy($"zbucket")
        .agg(count(lit(1)).as("n_orders"),
          min($"o_custkey").as("min_cust"), max($"o_custkey").as("max_cust"),
          min($"day").as("min_day"), max($"day").as("max_day"))
        .orderBy($"zbucket")
    },

    // Skew-safe join, end to end: event_type has 5 values over the whole
    // fact table — the textbook hot-key shape. The salted join fans each
    // hot key across 8 tasks; salts are dropped before aggregation, so
    // the result equals the unsalted join exactly (that equality IS the
    // oracle). The dim side is derived (type → weight) to keep the
    // demonstration self-contained.
    "q60_salted_type_join" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).select($"event_id", $"event_type", $"value")
      val dim = ev.select($"event_type").distinct()
        .withColumn("type_weight", length($"event_type").cast("long"))
      Salting.saltedEquiJoin(ev, dim, "event_type", 8)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          dsum($"value" * $"type_weight").as("weighted_value"))
        .orderBy($"event_type")
    },

    // Table profile — the data-quality pass a pipeline runs before
    // training on a new drop: row count, per-column null counts, domain
    // extrema, key cardinality. One scan, one aggregate row.
    "q59_events_profile" -> { (s, dir) =>
      import s.implicits._
      events(s, dir).agg(
        count(lit(1)).as("n_rows"),
        sum(when($"user_id".isNull, 1L).otherwise(0L)).as("null_user_id"),
        sum(when($"event_type".isNull, 1L).otherwise(0L)).as("null_event_type"),
        sum(when($"value".isNull, 1L).otherwise(0L)).as("null_value"),
        sum(when($"props".isNull, 1L).otherwise(0L)).as("null_props"),
        countDistinct($"user_id").as("n_users"),
        countDistinct($"event_type").as("n_types"),
        min($"value").as("min_value"), max($"value").as("max_value"),
        min($"ms").as("min_ms"), max($"ms").as("max_ms"))
    },

    // Sketch percentiles — the bounded-memory twin of q26: a mergeable
    // quantile sketch per group (accuracy 1/10000), so per-group state is
    // O(sketch), not O(group). Rows-only (sketch internals are
    // engine-specific); VectorlessSpec-style tolerance vs exact q26 is
    // asserted in QueriesSpec.
    "q58_approx_value_percentiles" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          expr("approx_percentile(value, array(0.25D, 0.5D, 0.9D), 10000)").as("ps"))
        .select($"event_type", $"n",
          element_at($"ps", 1).as("p25"),
          element_at($"ps", 2).as("p50"),
          element_at($"ps", 3).as("p90"))
        .orderBy($"event_type")
    },

    // Exact grouped ORDER-STATISTIC percentiles, the scale path (r9
    // verdict item 6 — the oracle-green twin that lets q58's sketch stay
    // rows-only by nature): q26's `percentile` buffers every group value
    // in one aggregation buffer (fine for bounded groups, OOM for a
    // 100 TB group), and a per-group window sort shuffles each group to
    // one task. Instead ONE GlobalRank over the total order (type,
    // value, id) lays every group out contiguously; per-group rank =
    // global rank − group offset, where the offsets (min rank − 1) and
    // sizes form a types-granularity control frame that broadcasts
    // back. Selection at k_q = ⌈q·n⌉ is then a filter — computed in
    // pure integer arithmetic ((n+3) div 4, (n+1) div 2, (9n+9) div 10)
    // so no float index math can disagree cross-engine; the selected
    // VALUES are untouched doubles (selection, not arithmetic — exact
    // both sides, the q125 convention). Discrete order statistics, not
    // q26's interpolation: the two operators answer different questions
    // and both stay registered.
    "q58b_exact_percentiles" -> { (s, dir) =>
      import s.implicits._
      val v = events(s, dir).filter($"value".isNotNull)
        .select($"event_type", $"value", $"event_id")
      val ranked = GlobalRank.withGlobalRank(v,
        Seq($"event_type".asc, $"value".asc, $"event_id".asc), "grk", "gn")
        .drop("gn")
      val grp = ranked.groupBy($"event_type")
        .agg((min($"grk") - 1L).as("off"), count(lit(1)).as("n"))
      ranked.join(broadcast(grp), "event_type")
        .withColumn("rk", $"grk" - $"off")
        .filter($"rk" === expr("(n + 3) div 4") ||
          $"rk" === expr("(n + 1) div 2") ||
          $"rk" === expr("(9 * n + 9) div 10"))
        .groupBy($"event_type", $"n")
        .agg(
          max(when($"rk" === expr("(n + 3) div 4"), $"value")).as("p25"),
          max(when($"rk" === expr("(n + 1) div 2"), $"value")).as("p50"),
          max(when($"rk" === expr("(9 * n + 9) div 10"), $"value")).as("p90"))
        .select($"event_type", $"n", $"p25", $"p50", $"p90")
        .orderBy($"event_type")
    },

    // Pivot: day × event_type count matrix (the platform×day rollup shape,
    // SURVEY.md §2.H) — one shuffle; pivot columns are enumerated so the
    // plan needs no extra pass to discover them.
    "q27_daily_type_matrix" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .withColumn("event_date", to_date($"ts"))
        .groupBy($"event_date")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy($"event_date")
    },

    // Correlated EXISTS with an extra non-equi conjunct (TPC-H Q4 shape):
    // left-semi join on key plus range predicate, then a one-shuffle agg.
    "q29_priority_with_late_items" -> { (s, dir) =>
      import s.implicits._
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_shipdate")
      o.join(li, $"o_orderkey" === $"l_orderkey" && $"l_shipdate" > $"o_orderdate", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    },

    // GROUPING SETS with disjoint sets (two independent one-key rollups in
    // one pass over the data — the general form of rollup/cube).
    "q28_grouping_sets" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .withColumn("event_date", to_date($"ts"))
        .groupingSets(Seq(Seq($"event_type"), Seq($"event_date")),
          $"event_type", $"event_date")
        .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
        .orderBy($"event_type".asc_nulls_first, $"event_date".asc_nulls_first)
    },

    // Sliding-window counts in batch: each event lands in two overlapping
    // 2-day windows sliding by 1 day (same semantics as the streaming
    // window() operator, checked against an explicit window-start expansion).
    "q49_sliding_window_counts" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy(window($"ts", "2 days", "1 day").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select($"w.start".cast("date").as("window_start"), $"event_type", $"n")
        .orderBy($"window_start", $"event_type")
    },

    // Cohort retention — THE analytics the reference's event schema exists
    // to serve: cohort = first activity day per user; retention = distinct
    // users active k days later. Two hash aggs + one broadcast-size join.
    "q48_cohort_retention" -> { (s, dir) =>
      import s.implicits._
      val activity = events(s, dir)
        .select($"user_id", to_date($"ts").as("day")).distinct()
      val cohort = activity.groupBy($"user_id").agg(min($"day").as("cohort_day"))
      activity.join(broadcast(cohort), "user_id")
        .withColumn("day_offset", datediff($"day", $"cohort_day").cast("long"))
        .groupBy($"cohort_day", $"day_offset")
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy($"cohort_day", $"day_offset")
    },

    // ntile bucketing: account-balance deciles over a total order.
    // Distributed two-pass rank (GlobalRank) instead of `ntile(10) OVER
    // (ORDER BY …)` — the unpartitioned window would move every row into
    // ONE partition; here the only global sort is a range shuffle across
    // all executors, and ntile is arithmetic over (rank, n).
    "q45_acctbal_deciles" -> { (s, dir) =>
      import s.implicits._
      val ranked = GlobalRank.withGlobalRank(
        t(s, dir, "customer"), Seq($"c_acctbal", $"c_custkey"), "rk", "n_total")
      ranked
        .withColumn("decile", GlobalRank.ntileFromRank($"rk", $"n_total", 10))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n"),
          min($"c_acctbal").as("min_bal"), max($"c_acctbal").as("max_bal"))
        .orderBy($"decile")
    },

    // Single-key form of C1: filter → orderBy → limit 1 plans as
    // TakeOrderedAndProject (no global sort).
    "q24_latest_purchase" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .filter($"event_type" === "purchase")
        .orderBy($"ts_ns".desc, $"event_id".desc)
        .limit(1)
        .select($"event_id", $"user_id", $"ms".as("ts_ms"), $"value")
    },

    // Distribution ranks: percent_rank/cume_dist over a total order —
    // both are rank ratios ((rk−1)/(n−1), rk/n), so the doubles are
    // bit-identical across engines given identical rank integers. The
    // (c_acctbal, c_custkey) order is unique (custkey is a key), so the
    // distributed global row number IS the rank and the ratios are plain
    // arithmetic — no single-partition window (see GlobalRank).
    "q56_acctbal_dist" -> { (s, dir) =>
      import s.implicits._
      val ranked = GlobalRank.withGlobalRank(
        t(s, dir, "customer"), Seq($"c_acctbal", $"c_custkey"), "rk", "n_total")
      ranked
        .select($"c_custkey", $"c_acctbal",
          GlobalRank.percentRankFromRank($"rk", $"n_total").as("pr"),
          GlobalRank.cumeDistFromRank($"rk", $"n_total").as("cd"))
        .orderBy($"c_custkey")
    },

    // Ordered funnel: view → first click after the first view → first
    // purchase after that click, per user. Three conditional min-aggs
    // chained by joins on the (tiny) per-user stage frames — the event
    // schema's canonical conversion query. One events scan per stage with
    // the type filter pushed to parquet; stage frames are user-level (≪
    // events) and joined hash-to-hash on user_id.
    "q57_funnel" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).select($"user_id", $"event_type", $"ms")
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ms").as("mv"))
      val c = ev.filter($"event_type" === "click").join(v, "user_id")
        .filter($"ms" > $"mv")
        .groupBy($"user_id").agg(min($"ms").as("mc"))
      val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
        .filter($"ms" > $"mc")
        .groupBy($"user_id").agg(min($"ms").as("mp"))
      v.agg(count(lit(1)).as("n_view")).crossJoin(
          c.agg(count(lit(1)).as("n_view_click"))).crossJoin(
          p.agg(count(lit(1)).as("n_view_click_purchase")))
    },

    // As-of state reconstruction ("time travel" over an append-only event
    // log): each user's latest event at a past cutoff instant — the state
    // a system of record would have shown at that time. The cutoff
    // predicate is on the TIMESTAMP column with a timestamp literal, the
    // one form that reaches the parquet scan (PushedFilters shows the
    // LessThanOrEqual even through the NTZ→TZ cast — Catalyst unwraps the
    // cast under the UTC session zone; a predicate on the DERIVED ts_ns
    // column does NOT push, measured). Only files/row-groups up to the
    // cutoff are read — with the date-partitioned layout of D4 that's
    // partition pruning, the reason event warehouses partition by ingest
    // date. After the prune it's q03's one window shuffle over the
    // surviving slice, never the full log. n_events_asof rides the same
    // window partition for free.
    "q86_state_asof" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_ns".desc, $"event_id".desc)
      events(s, dir)
        .filter($"ts" <= tsCut(AsOfCutoff))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_events_asof",
          count(lit(1)).over(Window.partitionBy($"user_id")))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id".as("asof_event_id"),
          $"event_type".as("asof_event_type"), $"value".as("asof_val"),
          $"ms".as("asof_ts_ms"), $"n_events_asof")
        .orderBy($"user_id")
    },

    // Incremental state maintenance (the MERGE/upsert shape): the state
    // table as of T0 (q86's latest-per-key + count) is ADVANCED to T1 by
    // applying only the (T0, T1] increment — latest-wins per key for the
    // row-valued columns, additive merge for the count — through one full
    // outer join, and the result must EQUAL a from-scratch recompute at T1
    // (that recompute is the DuckDB oracle, so the equivalence is the
    // correctness gate, not a claim). This is the operator that makes a
    // 100 TB event warehouse cheap to keep current: per batch it pays
    // (a) one window sort over the INCREMENT only (delta ≪ archive — the
    // T0-side state is read as a table, never re-derived), and (b) a join
    // whose left side is the state table — bucketed by key on disk (q91's
    // layout family), the join is co-located with zero Exchange, so batch
    // cost scales with |delta| + |touched keys|, independent of the
    // archive depth. Deletes slot in as tombstone rows (latest-wins
    // already handles them; the fixture log has none to show).
    "q132_incremental_state_merge" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_ns".desc, $"event_id".desc)
      def latestWithCount(df: DataFrame) = df
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"user_id")))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", $"event_type", $"value", $"ms", $"n")
      val ev = events(s, dir)
      // The T0 state table (in production: read back from its bucketed
      // layout; here derived once — still only ≤T0 rows enter the window).
      val base = latestWithCount(ev.filter($"ts" <= tsCut(AsOfCutoff)))
      val delta = latestWithCount(
        ev.filter($"ts" > tsCut(AsOfCutoff) && $"ts" <= tsCut(AsOfCutoff2)))
      base.as("b").join(delta.as("d"), Seq("user_id"), "full_outer")
        .select($"user_id",
          coalesce($"d.event_id", $"b.event_id").as("last_event_id"),
          coalesce($"d.event_type", $"b.event_type").as("last_event_type"),
          coalesce($"d.value", $"b.value").as("last_val"),
          coalesce($"d.ms", $"b.ms").as("last_ts_ms"),
          (coalesce($"b.n", lit(0L)) + coalesce($"d.n", lit(0L))).as("n_events"))
        .orderBy($"user_id")
    },

    // Equi-depth (decile) histogram of `value` per event type — the
    // statistics builder under cost-based optimizers and drift monitors
    // (equal-POPULATION bins resolve the long tail that equal-WIDTH bins
    // collapse into one bucket). Deliberately NOT an ntile window: per-type
    // NTILE sorts each type's entire row population in one task at scale
    // (few types ⇒ giant partitions — the q45 problem). Instead the bin
    // EDGES come from one exact-percentile hash aggregate (distributed,
    // map-side partials), rounded once to pin cross-engine interpolation
    // ulps, and rows bin themselves through a broadcast join + nine
    // codegen'd comparisons — scan-shaped work, no shuffle of the fact
    // rows beyond the final (type, bin) aggregate.
    "q134_equidepth_histogram" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).filter($"value".isNotNull)
        .select($"event_type", $"value")
      val qs = (1 to 9).map(_ / 10.0)
      val edges = ev.groupBy($"event_type")
        .agg(expr(s"percentile(value, array(${qs.mkString(", ")}))").as("es"))
        .select($"event_type" +: (0 until 9).map(i =>
          round(element_at($"es", i + 1), 6).as(s"e$i")): _*)
      ev.join(broadcast(edges), "event_type")
        .withColumn("bin", (0 until 9).map(i =>
            when($"value" >= col(s"e$i"), 1L).otherwise(0L)).reduce(_ + _))
        .groupBy($"event_type", $"bin")
        .agg(count(lit(1)).as("n"), min($"value").as("lo"), max($"value").as("hi"))
        .orderBy($"event_type", $"bin")
    },

    // Population-stability-index drift per event type — the ML-ops monitor
    // that says whether a feature's DISTRIBUTION moved between a reference
    // window (< T0) and the current one (≥ T0), not just its volume
    // (q98/q116's axis). Reference deciles via q134's machinery: one exact
    // -percentile aggregate over the reference slice (ts predicate pushes
    // to the scan — with a date-partitioned layout both windows prune),
    // edges rounded once and broadcast; each slice bins itself with nine
    // codegen'd comparisons; then PSI = Σ (q̂ᵢ−p̂ᵢ)·ln(q̂ᵢ/p̂ᵢ) over
    // Laplace-smoothed shares (nᵢ+1)/(N+10) — smoothing stated identically
    // in the oracle, so empty current bins stay finite AND cross-engine
    // identical. Everything after the scans is 10-rows-per-type control
    // data; the industry ≥0.2 "investigate" flag rides along.
    "q136_psi_drift" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).filter($"value".isNotNull)
        .select($"event_type", $"value", $"ts")
      val ref = ev.filter($"ts" < tsCut(AsOfCutoff))
      val cur = ev.filter($"ts" >= tsCut(AsOfCutoff))
      val qs = (1 to 9).map(_ / 10.0)
      val edges = ref.groupBy($"event_type")
        .agg(expr(s"percentile(value, array(${qs.mkString(", ")}))").as("es"))
        .select($"event_type" +: (0 until 9).map(i =>
          round(element_at($"es", i + 1), 6).as(s"e$i")): _*)
      def binned(df: DataFrame, n: String) = df.join(broadcast(edges), "event_type")
        .withColumn("bin", (0 until 9).map(i =>
            when($"value" >= col(s"e$i"), 1L).otherwise(0L)).reduce(_ + _))
        .groupBy($"event_type", $"bin").agg(count(lit(1)).as(n))
      val both = binned(ref, "n_ref").join(binned(cur, "n_cur"),
        Seq("event_type", "bin"), "full_outer")
        .na.fill(0L, Seq("n_ref", "n_cur"))
      val tot = both.groupBy($"event_type")
        .agg(sum($"n_ref").as("tr"), sum($"n_cur").as("tc"))
      val p = ($"n_ref" + 1).cast("double") / ($"tr" + 10).cast("double")
      val q = ($"n_cur" + 1).cast("double") / ($"tc" + 10).cast("double")
      both.join(tot, "event_type")
        .withColumn("term", (q - p) * log(q / p))
        .groupBy($"event_type")
        .agg(max($"tr").as("n_ref"), max($"tc").as("n_cur"),
          round(sum($"term"), 6).as("psi"))
        .withColumn("investigate", ($"psi" >= 0.2).cast("int").cast("long"))
        .orderBy($"event_type")
    },

    // Per-type daily-volume linear trend — the direction detector next to
    // q98 (spike days), q116 (adaptive baseline) and q136 (distribution
    // drift): ordinary least squares of daily count on epoch day, through
    // the ANSI regression AGGREGATES (regr_slope/intercept/r2) so the fit
    // is one pass with map-side partial moments — no per-type sort, no
    // window, no collect. The regression runs over per-(type, day) counts
    // (control-plane cardinality: types × days), which the first hash
    // aggregate reduces from the event stream; at 100 TB that first
    // aggregate is the only operator that sees data volume.
    "q137_daily_trend" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy($"event_type", unix_date(to_date($"ts")).as("d"))
        .agg(count(lit(1)).as("y"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          round(expr("regr_slope(y, d)"), 6).as("slope"),
          round(expr("regr_intercept(y, d)"), 6).as("intercept"),
          round(expr("regr_r2(y, d)"), 6).as("r2"))
        .orderBy($"event_type")
    },

    // Data-contract runner (the Great-Expectations/dbt-test face): eight
    // declared rules — null, uniqueness, range, enum-membership, time-
    // window, sign, cap, JSON-validity — evaluated in ONE scan as
    // conditional aggregates (map-side partial combine; the only non-
    // trivial term is the COUNT DISTINCT under the uniqueness rule, one
    // extra exchange of event_id hashes), then unpivoted to a row-per-rule
    // report via stack. The cap rule (value ≤ 100) is deliberately
    // violated by the fixture so the report exercises the failing path —
    // a contract runner that has only ever printed PASS is untested. At
    // 100 TB this is the nightly gate you run BEFORE publishing a
    // partition: one scan, KBs of output, no shuffle of data rows.
    "q138_data_contract" -> { (s, dir) =>
      import s.implicits._
      val allowed = Seq("click", "view", "purchase", "error", "signup")
      val startNs = 1704067200L * 1000000000L // 2024-01-01
      val endNs = 1706745600L * 1000000000L   // 2024-02-01
      val agg = events(s, dir).agg(
        count(lit(1)).as("n"),
        sum(when($"event_id".isNull, 1L).otherwise(0L)).as("v_id_null"),
        (count(lit(1)) - count_distinct($"event_id")).as("v_id_dup"),
        sum(when($"user_id".isNull || $"user_id" < 0, 1L).otherwise(0L)).as("v_uid"),
        sum(when($"event_type".isNull ||
          !$"event_type".isin(allowed: _*), 1L).otherwise(0L)).as("v_enum"),
        sum(when($"ts_ns" < startNs || $"ts_ns" >= endNs, 1L).otherwise(0L)).as("v_ts"),
        sum(when($"value".isNotNull && $"value" <= 0.0, 1L).otherwise(0L)).as("v_vpos"),
        sum(when($"value".isNotNull && $"value" > 100.0, 1L).otherwise(0L)).as("v_vcap"),
        sum(when($"props".isNotNull &&
          get_json_object($"props", "$.k").isNull, 1L).otherwise(0L)).as("v_json"))
      agg.select($"n", expr(
          "stack(8, " +
            "'event_id_not_null', v_id_null, 'event_id_unique', v_id_dup, " +
            "'user_id_valid', v_uid, 'event_type_enum', v_enum, " +
            "'ts_in_window', v_ts, 'value_positive', v_vpos, " +
            "'value_le_100', v_vcap, 'props_json_parses', v_json) " +
            "AS (rule, n_violations)"))
        .select($"rule", $"n".as("n_checked"), $"n_violations",
          when($"n_violations" === 0, 1L).otherwise(0L).as("pass"))
        .orderBy($"rule")
    },

    // Join-key skew profile — the diagnostic that decides WHEN to salt
    // (ops/Salting is the mechanism; this measures the need). Two-level
    // aggregation: per-(type,key) counts first (map-side partial combine
    // absorbs the hot key's rows — the skew being measured never skews
    // this plan), then per-type distribution stats over the key counts —
    // the second aggregate's input is one row per distinct key, ≪ rows.
    // skew_ratio = hottest key's rows ÷ mean rows per key: the number you
    // compare against the executor-task budget before a shuffle join at
    // 100 TB (≳10 ⇒ salt or AQE skew-split).
    "q87_key_skew_profile" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("per_key"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_keys"),
          sum($"per_key").as("n_rows"),
          max($"per_key").as("max_key_rows"),
          expr("percentile(per_key, array(0.5D, 0.99D))").as("ps"))
        .select($"event_type", $"n_keys", $"n_rows", $"max_key_rows",
          element_at($"ps", 1).as("p50_key_rows"),
          element_at($"ps", 2).as("p99_key_rows"),
          ($"max_key_rows".cast("double") /
            ($"n_rows".cast("double") / $"n_keys".cast("double"))).as("skew_ratio"))
        .orderBy($"event_type")
    },

    // ------------------------------------------------------------ binned interval join
    // Unkeyed interval join: events within [t, t+10min) of EACH error
    // event, across ALL users — the incident-correlation query. No shared
    // key means no window trick (q25's RANGE frame needs a partition key),
    // and Spark plans a raw non-equi join as BroadcastNestedLoopJoin —
    // O(n·m), the cartesian trap. The scale path is BINNING: quantize time
    // into interval-width bins, explode each interval to the (≤2) bins it
    // overlaps, equi-join on the bin, then re-check the exact predicate.
    // Each probe row lands in exactly one bin so no post-join dedup is
    // needed, and the join is a plain hash/sort-merge equi-join that
    // partitions by bin — at 100 TB it shuffles each side once, with the
    // time dimension giving a naturally balanced key. PlanSpec asserts no
    // NestedLoop/Cartesian survives in the physical plan.
    "q90_interval_join" -> { (s, dir) =>
      import s.implicits._
      val W = IntervalJoinMs
      val ev = events(s, dir)
        .select($"event_id", $"user_id", $"ms", expr(s"ms div $W").as("bin"))
      val errs = events(s, dir).filter($"event_type" === "error")
        .select($"event_id".as("err_id"), $"ms".as("err_ms"))
        // [err_ms, err_ms + W) spans bin(err_ms) and bin(err_ms + W - 1)
        .withColumn("bin", explode(array_distinct(array(
          expr(s"err_ms div $W"), expr(s"(err_ms + ${W - 1}) div $W")))))
      errs.join(ev, errs("bin") === ev("bin") &&
          $"ms" >= $"err_ms" && $"ms" < $"err_ms" + W)
        .groupBy($"err_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"))
        .orderBy($"err_id")
    },

    // ------------------------------------------------------------ grid-binned spatial join
    // Nearest-supplier-within-radius per customer — the 2-D analogue of
    // q90's binned interval join, and the standard distributed spatial-
    // join shape (grid partitioning, as in SpatialSpark/Magellan-style
    // engines): quantize coordinates into δ=2° cells, explode each
    // customer to its 3×3 neighbor cells (suppliers keep their ONE home
    // cell, so no pair is generated twice), equi-join on the cell key,
    // verify the exact haversine distance, then whole-row argmin per
    // customer through GroupTopK k=1. The cell edge is chosen so the
    // narrowest cell dimension (143 km at lat 50°) exceeds R=120 km —
    // the 3×3 neighborhood provably covers the radius ball, which the
    // brute-force all-pairs ORACLE re-proves at fixture scale. At 100 TB
    // this is one equi-join shuffled by cell (naturally balanced unless
    // geography is skewed — then ops/Salting applies to hot cells), never
    // the BroadcastNestedLoopJoin a raw distance predicate would plan.
    // Coordinates are md5-derived stand-ins (the fixtures carry no geo
    // columns — the q190-addresses convention), shared with the oracle.
    "q204_spatial_grid_join" -> { (s, dir) =>
      import s.implicits._
      val cell = lit(GeoCellDeg.toDouble)
      def u(tag: String, key: Column, off: Int): Column =
        conv(substring(md5(concat(lit(tag), key.cast("string"))), 1 + off, 8),
          16, 10).cast("long").cast("double") / lit(4294967296.0)
      def lat(tag: String, key: Column): Column =
        lit(40.0) + lit(10.0) * u(tag, key, 0)
      def lon(tag: String, key: Column): Column =
        lit(-10.0) + lit(20.0) * u(tag, key, 8)
      val cust = t(s, dir, "customer")
        .select($"c_custkey", lat("geo:c:", $"c_custkey").as("clat"),
          lon("geo:c:", $"c_custkey").as("clon"))
      val supp = t(s, dir, "supplier")
        .select($"s_suppkey", lat("geo:s:", $"s_suppkey").as("slat"),
          lon("geo:s:", $"s_suppkey").as("slon"))
        .withColumn("cx", floor($"slon" / cell).cast("int"))
        .withColumn("cy", floor($"slat" / cell).cast("int"))
      val probes = cust
        .withColumn("dx", explode(array(lit(-1), lit(0), lit(1))))
        .withColumn("dy", explode(array(lit(-1), lit(0), lit(1))))
        .withColumn("cx", floor($"clon" / cell).cast("int") + $"dx")
        .withColumn("cy", floor($"clat" / cell).cast("int") + $"dy")
      val rad = lit("0.017453292519943295".toDouble) // π/180, shared text
      def hav(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
        val p1 = lat1 * rad; val p2 = lat2 * rad
        val dp = (lat2 - lat1) * rad / lit(2.0)
        val dl = (lon2 - lon1) * rad / lit(2.0)
        lit(2.0) * lit(GeoEarthKm.toDouble) *
          asin(sqrt(sin(dp) * sin(dp) + cos(p1) * cos(p2) * sin(dl) * sin(dl)))
      }
      val pairs = probes.join(supp, Seq("cx", "cy"))
        .withColumn("dist_km", hav($"clat", $"clon", $"slat", $"slon"))
        .filter($"dist_km" <= lit(GeoRadiusKm.toDouble))
      graft.plans.GroupTopK(pairs, Seq($"c_custkey"),
          Seq($"dist_km".asc, $"s_suppkey".asc), 1)
        .select($"c_custkey", $"s_suppkey", round($"dist_km", 6).as("dist_km"))
        .orderBy($"c_custkey")
    },

    // ------------------------------------------------------------ bucketed co-located join
    // The write-once/join-many layout operator: orders ⋈ customer over
    // co-bucketed tables — zero Exchange, zero Sort on either join side
    // (see ops/Bucketing scaladoc; BucketingSpec pins the plan shape).
    // Only the tiny per-segment aggregate shuffles.
    "q91_bucketed_join" -> { (s, dir) =>
      import s.implicits._
      Bucketing.colocatedOrdersCustomer(s, dir)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          dsum($"o_totalprice").as("total_price"))
        .orderBy($"c_mktsegment")
    },

    // ------------------------------------------------------------ mergeable sketch re-agg
    // The pre-aggregated-cube pattern that makes 100 TB dashboards cheap:
    // distinct-count sketches (Datasketches HLL) built once per (day,
    // type) cell, then REAGGREGATED by union — a distinct count over any
    // day range costs a merge of tiny sketches instead of a rescan of the
    // raw log. count_distinct cannot do this (distinct sets don't
    // re-aggregate); the sketch column is the operator. Rows-only: the
    // estimates are engine-hash-specific; QueriesSpec bounds the error
    // against exact q19 counts and pins merge-vs-direct consistency.
    "q92_sketch_reagg" -> { (s, dir) =>
      import s.implicits._
      val daily = events(s, dir)
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
          count(lit(1)).as("n"))
      daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          sum($"n").as("n_events"),
          expr("hll_sketch_estimate(hll_union_agg(sk, true))")
            .cast("long").as("approx_users"))
        .orderBy($"event_type")
    },

    // ------------------------------------------------------------ SCD2 validity intervals
    // Slowly-changing-dimension (type 2) derivation: turn an append-only
    // event log into each key's STATE HISTORY — one row per (user, event)
    // with [valid_from, valid_to) bounds, closed by the next event and
    // open (NULL) for the current state. This is the temporal face of the
    // warehouse: "what was each user's last event type ON any given day"
    // becomes a point-in-interval lookup instead of a log scan (q86 is the
    // single-instant special case). One window shuffle by user_id; lead()
    // rides the same sort as the interval ordering — no second pass.
    "q94_scd2_intervals" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      events(s, dir)
        .select($"user_id", $"event_id", $"event_type", $"value",
          $"ms".as("valid_from_ms"),
          lead($"ms", 1).over(w).as("valid_to_ms"))
        .withColumn("is_current", $"valid_to_ms".isNull)
        .orderBy($"user_id", $"valid_from_ms", $"event_id")
    },

    // ------------------------------------------------------------ time-series anomaly days
    // Volume-anomaly detection over the daily event counts — the pipeline
    // health monitor that catches a broken producer or a backfill storm
    // before it poisons downstream aggregates. Two-level aggregate like
    // q87: daily counts first (map-side combine absorbs raw rows), then
    // per-type moments over the ~30-row daily frame. The z-score is
    // computed from EXACT integer sums (n, Σx, Σx²) with one fixed IEEE
    // expression — not stddev_samp, whose Welford-style accumulation
    // order differs between engines and partitionings — so the doubles
    // hash-match the oracle bit for bit (sqrt is IEEE-exact).
    "q98_anomaly_days" -> { (s, dir) =>
      import s.implicits._
      val daily = events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("x"))
      val stats = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"x" * $"x").as("sx2"))
        // a type seen on one day (n-1 = 0) or with identical counts every
        // day (variance 0) has no defined z — exclude it BEFORE the
        // division (NaN would flag it: NaN > 2.0 is true in Spark) with
        // an exact integer predicate the oracle states identically.
        // n·Σx² fits a LONG up to ~3e9 daily events; past that, widen to
        // the decimal path of ops/Tables.
        .filter($"n" >= 2 && $"n" * $"sx2" - $"sx" * $"sx" > 0)
      val nD = $"n".cast("double")
      val mean = $"sx".cast("double") / nD
      val sd = sqrt(($"sx2".cast("double") - $"sx".cast("double") * $"sx".cast("double") / nD)
        / (nD - 1.0))
      daily.join(broadcast(stats), "event_type")
        .withColumn("z", round(($"x".cast("double") - mean) / sd, 6))
        .select($"event_type", $"day", $"x".as("n_events"), $"z",
          (abs($"z") > 2.0).as("is_anomaly"))
        .orderBy($"event_type", $"day")
    },

    // ------------------------------------------------------------ event debouncing
    // Retry/burst collapse: drop an event arriving within the cool-down
    // of the PREVIOUS event of the same (user, type) — the log hygiene
    // pass that keeps producer retries and double-clicks from inflating
    // every downstream count. Sliding cool-down semantics (gap measured
    // to the previous RAW event, so a long burst with sub-threshold gaps
    // is suppressed after its first event — "quiet period" debounce, the
    // common server-side form). One window shuffle by (user, type);
    // the lag() rides the partition sort.
    "q100_event_debounce" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ms", $"event_id")
      events(s, dir)
        .withColumn("prev_ms", lag($"ms", 1).over(w))
        .filter($"prev_ms".isNull || $"ms" - $"prev_ms" >= DebounceMs)
        .select($"event_id", $"user_id", $"event_type", $"ms")
        .orderBy($"event_id")
    },

    // ------------------------------------------------------------ RFM segmentation
    // Recency/frequency/monetary quintile segmentation over purchases —
    // the canonical customer-analytics operator, here as the showcase for
    // CHAINED distributed ranking: three quantile dimensions, three
    // GlobalRank passes over the per-user frame (which is ≪ the event
    // log — the heavy lifting is the one purchase aggregate), zero
    // single-partition windows. Segment = concatenated quintiles; output
    // is the segment census a campaign query would start from.
    "q101_rfm_segments" -> { (s, dir) =>
      import s.implicits._
      val per = events(s, dir).filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(max($"ms").as("r"), count(lit(1)).as("f"), dsum($"value").as("m"))
      val r1 = GlobalRank.withGlobalRank(per, Seq($"r", $"user_id"), "rk_r", "n1")
      val r2 = GlobalRank.withGlobalRank(r1, Seq($"f", $"user_id"), "rk_f", "n2")
      val r3 = GlobalRank.withGlobalRank(r2, Seq($"m", $"user_id"), "rk_m", "n3")
      r3.select($"user_id",
          GlobalRank.ntileFromRank($"rk_r", $"n1", 5).as("r_q"),
          GlobalRank.ntileFromRank($"rk_f", $"n2", 5).as("f_q"),
          GlobalRank.ntileFromRank($"rk_m", $"n3", 5).as("m_q"))
        .groupBy($"r_q", $"f_q", $"m_q")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"r_q", $"f_q", $"m_q")
    },

    // ------------------------------------------------------------ time-weighted average
    // TWAP over irregular samples: each event's value holds until the
    // next event (piecewise-constant), so the mean must weight by holding
    // time — the unweighted avg over-counts bursts, which is exactly when
    // values are least representative. One window shuffle by user for the
    // gaps; the weighted sum folds the per-interval products in pinned
    // (ms, event_id) order (q79/q88's ordered-fold idiom — a plain
    // SUM of doubles is partitioning- and engine-order-dependent), and
    // the denominator is exact integer millis. Users with one event have
    // no holding interval and are excluded by construction.
    "q102_twap" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      val gaps = events(s, dir)
        .select($"user_id", $"event_id", $"ms", $"value")
        .withColumn("next_ms", lead($"ms", 1).over(w))
        .filter($"next_ms".isNotNull)
        .withColumn("wv", $"value" * ($"next_ms" - $"ms").cast("double"))
      gaps.groupBy($"user_id")
        .agg(count(lit(1)).as("n_intervals"),
          expr("aggregate(array_sort(collect_list(struct(ms, event_id, wv))), " +
            "cast(0.0 as double), (a, x) -> a + x.wv)").as("sum_wv"),
          (max($"next_ms") - min($"ms")).as("span_ms"))
        // a user whose events all land in one millisecond has no holding
        // time: 0/0 is NULL in Spark but NaN in DuckDB — exclude, like
        // single-event users (exact integer predicate, same both engines)
        .filter($"span_ms" > 0)
        .select($"user_id", $"n_intervals",
          round($"sum_wv" / $"span_ms".cast("double"), 6).as("twap"))
        .orderBy($"user_id")
    },

    // ------------------------------------------------------------ referential audit
    // Constraint validation across the star schema — the data-quality
    // contract a warehouse asserts before anything downstream trusts a
    // drop: orphaned foreign keys (anti-joins), childless parents, and a
    // value-consistency probe (orders whose lineitem revenue is under
    // half the order total — the "partial delivery" signal). Each check
    // is one anti/outer join on its key plus a count; at 100 TB each is
    // a digest-sized shuffle (keys only), and with fact tables bucketed
    // on their keys (q91's layout) the joins are exchange-free. One
    // summary row out — the shape a pipeline gate consumes.
    "q103_referential_audit" -> { (s, dir) =>
      import s.implicits._
      // ONE lineitem aggregate full-outer-joined to orders serves three
      // of the four checks from a single pass over each fact table —
      // separate anti-joins would re-scan lineitem per check, which at
      // warehouse scale is the audit's whole cost. Only the (tiny)
      // customer anti-join reads orders a second time.
      val liAgg = t(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("item_rev"))
      val o = t(s, dir, "orders").select($"o_orderkey", $"o_custkey", $"o_totalprice")
      val joined = liAgg.join(o, $"l_orderkey" === $"o_orderkey", "full_outer")
      val main = joined.agg(
        sum(when($"o_orderkey".isNull, $"n_items").otherwise(0L)).as("orphan_lineitems"),
        sum(when($"l_orderkey".isNull, 1L).otherwise(0L)).as("childless_orders"),
        sum(when($"l_orderkey".isNotNull && $"o_orderkey".isNotNull &&
          $"item_rev" < $"o_totalprice" * 0.5, 1L).otherwise(0L)).as("low_revenue_orders"))
      val orphanOrders = o
        .join(t(s, dir, "customer").select($"c_custkey"),
          $"o_custkey" === $"c_custkey", "left_anti")
        .agg(count(lit(1)).as("orphan_orders"))
      main.crossJoin(orphanOrders)
        .select($"orphan_lineitems", $"childless_orders",
          $"orphan_orders", $"low_revenue_orders")
    },

    // ------------------------------------------------------------ transition matrix
    // First-order behavioral model: P(next event type | current type)
    // from each user's event sequence — the Markov matrix that powers
    // next-action prediction, bot detection (improbable transition
    // chains), and funnel-less conversion analysis. One window shuffle by
    // user for the successor pairing; the matrix itself is a tiny
    // (types × types) aggregate with map-side combine, and the per-row
    // probability is an exact division of counts (bit-identical
    // cross-engine). The user partition bound means sequences never
    // interleave across users.
    "q104_type_transitions" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      // Shared before branching: fromTotals and the probe side both
      // consume `pairs`; behind the barrier both plan the same subtree,
      // so the event-log window's shuffle runs once and is reused.
      val pairs = Shared(events(s, dir)
        .withColumn("next_type", lead($"event_type", 1).over(w))
        .filter($"next_type".isNotNull)
        .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
        .agg(count(lit(1)).as("n")))
      val fromTotals = pairs.groupBy($"from_type").agg(sum($"n").as("n_from"))
      pairs.join(broadcast(fromTotals), "from_type")
        .select($"from_type", $"to_type", $"n",
          round($"n".cast("double") / $"n_from".cast("double"), 6).as("p"))
        .orderBy($"from_type", $"to_type")
    },

    // ------------------------------------------------------------ time-to-convert
    // Conversion latency distribution: how long from a user's FIRST view
    // to their FIRST subsequent purchase, bucketed on a log2 scale — the
    // timing layer q57's funnel counts lack (medians and long tails drive
    // attribution windows and retargeting budgets). Two conditional
    // min-aggregates joined on user (tiny per-user frames, q57's shape),
    // then a log2 bucket per converter: integer floor(log2(minutes+1)),
    // exact both engines.
    "q105_time_to_convert" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).select($"user_id", $"event_type", $"ms")
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ms").as("mv"))
      val p = ev.filter($"event_type" === "purchase").join(v, "user_id")
        .filter($"ms" > $"mv")
        .groupBy($"user_id").agg(min($"ms").as("mp"))
      v.join(p, "user_id")
        // integer division, not `/`: Spark's Column `/` is double division
        // and its long cast TRUNCATES where DuckDB's cast ROUNDS — `div`
        // and `//` both floor, identically
        .withColumn("mins", expr("(mp - mv) div 60000"))
        .withColumn("bucket", floor(log2($"mins".cast("double") + 1.0)).cast("long"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_users"),
          min($"mins").as("min_mins"), max($"mins").as("max_mins"))
        .orderBy($"bucket")
    },

    // Typed JSON shredding — the from_json(schema)/json_tuple face of the
    // reference's JSONB columns (custom_params/receipt, ua2sql.py:68,85),
    // completing the JSON family beyond q16's path-extraction: each event
    // re-serializes to a NESTED JSON document (to_json over a two-level
    // struct), then shreds back both ways Spark offers — from_json with
    // an explicit StructType (typed access: long, string, double, and a
    // nested struct hop) and json_tuple (the multi-path string extractor,
    // one parse for N paths). Pure per-row projection: no shuffle, stays
    // inside whole-stage codegen at any corpus size. The oracle reads the
    // ORIGINAL typed columns, so the hash compare asserts the serialize→
    // shred round trip is LOSSLESS for every row — long identity, string
    // identity, and double shortest-repr round-trip — which is exactly
    // the property a pipeline relies on when it parks typed data in a
    // JSON column.
    "q106_json_shred" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("uid", LongType),
        StructField("ev", StructType(Seq(
          StructField("t", StringType), StructField("v", DoubleType)))),
        StructField("k", LongType)))
      // spread before the per-row JSON round-trip: fused into a single-file
      // scan it ran single-task — TWICE, because the final orderBy's range
      // sampler re-executes its child (2×1.2 s measured); the exchange
      // carries only the five source columns (no-op on a parallel scan)
      spreadIfNarrow(events(s, dir)
          .select($"event_id", $"user_id", $"event_type", $"value", $"props"))
        .select($"event_id",
          to_json(struct(
            $"user_id".as("uid"),
            struct($"event_type".as("t"), $"value".as("v")).as("ev"),
            get_json_object($"props", "$.k").cast("long").as("k"))).as("j"))
        .select($"event_id", from_json($"j", schema).as("d"),
          json_tuple($"j", "uid", "k").as(Seq("uid_s", "k_s")))
        .select($"event_id",
          $"d.uid".as("uid"),
          $"d.ev.t".as("t"),
          $"d.ev.v".as("v"),
          $"d.k".as("k_struct"),
          $"uid_s".cast("long").as("uid_tup"),
          $"k_s".cast("long").as("k_tup"))
        .orderBy($"event_id")
    },

    // ------------------------------------------------------------ EWMA baseline
    // Exponentially weighted moving average of daily volumes per type —
    // the recursive-state time-series primitive (ewma_t = α·x_t +
    // (1−α)·ewma_{t−1}, seeded with x_0) that q98/q114's batch gates
    // lack: an EWMA baseline adapts to drift, so "3× above EWMA" keeps
    // meaning after a corpus doubles. The raw scan collapses map-side to
    // a (type, day) frame; the fold then runs per type over ~days
    // elements of CONTROL data — the higher-order lambda is interpreted,
    // which is exactly why the fold is placed above the aggregate (days
    // per type), never on the event stream. The fold order is pinned by
    // array_sort, both engines execute the identical multiply-add chain
    // left-to-right (α = 0.25 is an exact dyadic), so the result is
    // bit-identical pre-ROUND.
    "q116_ewma_daily" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"), collect_list(struct($"day", $"n")).as("dn"))
        .withColumn("vs", expr("transform(array_sort(dn), s -> cast(s.n as double))"))
        .select($"event_type", $"n_days",
          round(expr("aggregate(slice(vs, 2, size(vs) - 1), element_at(vs, 1), " +
            "(a, x) -> 0.25D * x + 0.75D * a)"), 6).as("ewma"))
        .orderBy($"event_type")
    },

    // ------------------------------------------------------------ robust outliers
    // Median-absolute-deviation outlier counts per event type — the
    // ROBUST companion to q98's z-scores: a mean/stddev gate is dragged
    // by the very outliers it hunts (one 10⁶× value inflates σ until
    // nothing else is anomalous), while median/MAD have a 50% breakdown
    // point. Two grouped EXACT percentile passes (q26's operator and its
    // per-group sorted-buffer caveat — at 100 TB swap approx_percentile
    // into the same shape); each 5-row stats frame broadcasts back, so
    // the flag itself is a stateless projection over one events scan per
    // pass. Both engines evaluate the identical interpolation and
    // |v − med| > 3·MAD trees on identical doubles (the q26 precedent),
    // so the raw unrounded medians hash-match.
    "q114_mad_outliers" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).select($"event_type", $"value")
      val med = ev.groupBy($"event_type")
        .agg(expr("percentile(value, 0.5D)").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs($"value" - $"med"))
      val mad = dev.groupBy($"event_type")
        .agg(expr("percentile(adev, 0.5D)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), max($"med").as("med"), max($"mad").as("mad"),
          sum(when($"adev" > lit(3.0) * $"mad", 1L).otherwise(0L)).as("n_outliers"))
        .orderBy($"event_type")
    },

    // ------------------------------------------------------------ session paths
    // Behavioral path analysis: the frequency of every within-session
    // event-type TRIGRAM — the product-analytics staple ("view > click >
    // purchase happened 214 times across 87 users") and the empirical
    // transition structure one step deeper than q104's pairwise matrix.
    // Scale shape: q15's sessionization window plus two leads over
    // (user_id, sess_seq) cost ONE exchange total — HashPartitioning on
    // user_id already CLUSTERS the finer (user_id, sess_seq) key, so
    // Catalyst inserts only a local re-sort between the two windows, no
    // second shuffle. The final aggregate's key space is bounded by
    // |event_types|³ (125 here; tiny at any corpus size), so the path
    // counts collapse map-side before one trivial exchange.
    "q108_session_paths" -> { (s, dir) =>
      import s.implicits._
      val ord = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      val sord = Window.partitionBy($"user_id", $"sess_seq").orderBy($"ms", $"event_id")
      events(s, dir)
        .withColumn("prev_ms", lag($"ms", 1).over(ord))
        .withColumn("new_sess",
          when($"prev_ms".isNull || $"ms" - $"prev_ms" >= SessionGapMs, 1L).otherwise(0L))
        .withColumn("sess_seq",
          sum($"new_sess").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("t2", lead($"event_type", 1).over(sord))
        .withColumn("t3", lead($"event_type", 2).over(sord))
        // a non-null 3rd step implies a non-null 2nd (same session order)
        .filter($"t3".isNotNull)
        .select(concat_ws(" > ", $"event_type", $"t2", $"t3").as("path"), $"user_id")
        .groupBy($"path")
        .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
        .orderBy($"n".desc, $"path")
    },

    // Mergeable sample quantiles — the percentile-dashboard primitive that
    // actually distributes: a deterministic bottom-k-by-hash sample per
    // group (k=256 via GroupTopK's bounded heaps) is a MERGEABLE sketch —
    // bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)), pinned in
    // QueriesSpec — so per-partition/per-day sketches union into exact
    // whole-corpus sketches without rescanning (q92's HLL argument, for
    // quantiles). Estimates are order statistics of the sample: exact
    // selection, no interpolation, so unlike approx_percentile (q58,
    // engine-specific sketch ⇒ rows-only) this replays bit-for-bit in
    // DuckDB and carries a FULL oracle. Sample error is the standard
    // ±O(1/√k) quantile bound; k dials precision vs state.
    "q125_sample_quantiles" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
        .filter($"value".isNotNull)
        .select($"event_type", $"event_id", $"value")
        .withColumn("h", md5(concat($"event_id".cast("string"), lit(":qs"))))
      val samp = graft.plans.GroupTopK(ev, Seq($"event_type"),
        Seq($"h".asc, $"event_id".asc), 256)
      samp.groupBy($"event_type")
        .agg(count(lit(1)).as("n_sample"),
          sort_array(collect_list($"value")).as("vs"))
        .select($"event_type", $"n_sample",
          expr("element_at(vs, cast(ceil(0.5 * n_sample) as int))").as("p50"),
          expr("element_at(vs, cast(ceil(0.9 * n_sample) as int))").as("p90"),
          expr("element_at(vs, cast(ceil(0.99 * n_sample) as int))").as("p99"))
        .orderBy($"event_type")
    },

    // Spark's NATIVE session_window in batch mode — the declarative twin of
    // q15's lag/gap-island sessionization (and of the streaming session
    // windows in StreamingIngest): one groupBy(user, session_window(ts,
    // gap)) plans a single shuffle on user with per-key interval merging,
    // no window function at all. Semantics pinned by the oracle: events
    // merge while ts − prev_ts < gap STRICTLY (the [ts, ts+gap) interval
    // is half-open), session end = last ts + gap. The fixture's timestamps
    // are genuine microseconds, so identity and bounds compare at
    // epoch-µs — an ms truncation would misplace boundary events.
    "q127_session_window_batch" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"event_type").as("n_types"))
        .select($"user_id",
          unix_micros($"w.start").as("session_start_us"),
          unix_micros($"w.end").as("session_end_us"),
          $"n_events", $"n_types")
        .orderBy($"user_id", $"session_start_us")
    },

    // Rolling 7-day active users + DAU/MAU-style stickiness. DISTINCT over
    // a sliding window has no window-function form (count distinct is not
    // frame-able); the distributed shape is trailing-window attribution:
    // dedup to the (user, day) grain first — the ONLY corpus-scale
    // aggregate — then each active day contributes to exactly 7 anchor
    // days, so the explode multiplies the small user×day frame, never the
    // event stream, and one hash aggregate per anchor day finishes it.
    // Stickiness is a division of exact counts — bit-identical, unrounded.
    "q128_rolling_active" -> { (s, dir) =>
      import s.implicits._
      val ud = Shared(events(s, dir)
        .select($"user_id", to_date($"ts").as("day")).distinct())
      val bounds = ud.agg(min($"day").as("d0"), max($"day").as("d1"))
      val mau = ud
        .select($"user_id", $"day", explode(sequence(lit(0), lit(6))).as("i"))
        .select($"user_id", expr("date_add(day, i)").as("wday"))
        .crossJoin(broadcast(bounds))
        .filter($"wday".between($"d0", $"d1"))
        .groupBy($"wday").agg(countDistinct($"user_id").as("active7"))
      val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
      mau.join(dau, $"wday" === $"day", "left")
        .select($"wday".as("day"),
          coalesce($"dau", lit(0L)).as("dau"), $"active7",
          (coalesce($"dau", lit(0L)).cast("double") / $"active7".cast("double"))
            .as("stickiness"))
        .orderBy($"day")
    },

    // Growth accounting — every day's actives split into new (first-ever
    // activity), retained (seen within the trailing 7 days), and
    // resurrected (returning after a gap > 7 days): the
    // new/retained/resurrected ledger product analytics runs on the
    // reference's appStart/custom schema. One window over the deduped
    // user×day frame (per-user state is O(active days), not events);
    // per-day census is a bounded hash aggregate.
    "q129_growth_accounting" -> { (s, dir) =>
      import s.implicits._
      val ud = events(s, dir)
        .select($"user_id", to_date($"ts").as("day")).distinct()
      val w = Window.partitionBy($"user_id").orderBy($"day")
      ud.withColumn("prev", lag($"day", 1).over(w))
        .withColumn("cls",
          when($"prev".isNull, "new")
            .when(datediff($"day", $"prev") > 7, "resurrected")
            .otherwise("retained"))
        .groupBy($"day")
        .agg(count(lit(1)).as("dau"),
          sum(when($"cls" === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when($"cls" === "retained", 1L).otherwise(0L)).as("n_retained"),
          sum(when($"cls" === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
        .orderBy($"day")
    },

    // Multi-touch revenue attribution: every purchase's value credited to
    // the non-purchase events that preceded it in the SAME session (q15's
    // gaps-and-islands), under the three standard models at once —
    // first-touch, last-touch, linear. Purchases with no preceding touch
    // roll up into a '(direct)' row so total credited revenue equals total
    // purchase revenue under every model (the books balance — pinned in
    // QueriesSpec).
    //
    // Scale shape: the touch×purchase pair expansion is keyed by
    // (user_id, sess_seq) — bounded by human session length squared, not
    // corpus size — and all three window functions share ONE partition
    // key, so the pair frame sorts once per purchase group. First/last
    // credits are exact decimal sums (dsum); the linear split value/n is
    // float-derived, so it stays double and rounds once at the end (the
    // dsum6-tie lesson in the verify notes).
    "q144_revenue_attribution" -> { (s, dir) =>
      import s.implicits._
      val (purch, pairs) = touchPurchasePairs(s, dir)
      val pg = Window.partitionBy($"user_id", $"sess_seq", $"pid")
      val attr = pairs
        .withColumn("rn", row_number().over(pg.orderBy($"tms", $"tid")))
        .withColumn("rnd", row_number().over(pg.orderBy($"tms".desc, $"tid".desc)))
        .withColumn("n", count(lit(1)).over(pg))
        .groupBy($"event_type")
        .agg(dsum(when($"rn" === 1, $"value")).as("first_touch_rev"),
          dsum(when($"rnd" === 1, $"value")).as("last_touch_rev"),
          (round(sum($"value" / $"n"), 6) + lit(0d)).as("linear_rev"),
          countDistinct($"user_id", $"sess_seq", $"pid").as("n_conversions"))
      val direct = purch.join(
          pairs.select($"user_id", $"sess_seq", $"pid").distinct(),
          Seq("user_id", "sess_seq", "pid"), "left_anti")
        .agg(dsum($"value").as("first_touch_rev"),
          dsum($"value").as("last_touch_rev"),
          (round(sum($"value"), 6) + lit(0d)).as("linear_rev"),
          count(lit(1)).as("n_conversions"))
        .filter($"n_conversions" > 0)
        .select(lit("(direct)").as("event_type"), $"first_touch_rev",
          $"last_touch_rev", $"linear_rev", $"n_conversions")
      attr.select($"event_type", $"first_touch_rev", $"last_touch_rev",
          $"linear_rev", $"n_conversions")
        .union(direct)
        .orderBy($"event_type")
    },

    // Two-sample Kolmogorov–Smirnov drift statistic, each event type's
    // value distribution vs the REST of the corpus — the exact-statistic
    // companion to q136's binned PSI. The core is kept in EXACT integers
    // (q98's discipline): D's numerator is max |cum_t·n_rest −
    // cum_rest·n_t| over pooled distinct values, so both engines compute
    // identical longs and the single final division of exact integers is
    // bit-identical double — no ROUND needed anywhere.
    //
    // Scale shape: one (type, value) aggregate over the scan, a distinct-
    // value spine crossed with the |T|=5 type labels (grid = |T| ×
    // distinct values), and a cumulative window PARTITIONED BY TYPE. At
    // corpus scale a per-type partition is the whole value domain — the
    // deployment swap is the q134 equi-depth spine (KS on binned ECDFs,
    // error ≤ 1/bins) or GlobalRank's two-pass rank; the fixture computes
    // the exact statistic.
    "q146_ks_drift" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).filter($"value".isNotNull)
        .select($"event_type", $"value")
      val tv = Shared(ev.groupBy($"event_type", $"value").agg(count(lit(1)).as("c")))
      val vals = tv.groupBy($"value").agg(sum($"c").as("cb"))
      val grid = vals
        .crossJoin(broadcast(tv.select($"event_type").distinct()))
        .join(tv, Seq("event_type", "value"), "left")
        .na.fill(0L, Seq("c"))
      ksOverGrid(grid, "value", "ks").orderBy($"event_type")
    },

    // Weighted median (smallest value whose cumulative weight reaches
    // half the group total) of line unit price per supplier nation,
    // weighted by quantity — the order-statistic that q26's unweighted
    // percentiles can't express when rows carry multiplicity. Selection,
    // not aggregation: the output value is an EXISTING double, and the
    // reach-half test is the exact-integer comparison 2·cum ≥ total, so
    // nothing floats cross-engine. Dim joins broadcast; the cumulative
    // window partitions by nation.
    "q147_weighted_median_price" -> { (s, dir) =>
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select($"l_suppkey", $"l_extendedprice".as("price"),
          $"l_quantity".cast("long").as("w"))
      val sup = t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
      val nat = t(s, dir, "nation").select($"n_nationkey", $"n_name")
      val rows = li.join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name", $"price").agg(sum($"w").as("pw"))
      val nw = Window.partitionBy($"n_name").orderBy($"price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = rows.groupBy($"n_name")
        .agg(sum($"pw").as("tw"), count(lit(1)).as("n_prices"))
      rows.withColumn("cum", sum($"pw").over(nw))
        .join(broadcast(tot), "n_name")
        .filter($"cum" * 2 >= $"tw")
        .groupBy($"n_name", $"tw", $"n_prices")
        .agg(min($"price").as("weighted_median_price"))
        .select($"n_name", $"n_prices", $"tw".as("total_weight"),
          $"weighted_median_price")
        .orderBy($"n_name")
    },

    // Schema INFERENCE for semi-structured columns — q106 shreds with a
    // hand-written schema; this derives it with schema_of_json from a
    // deterministic sample (the lexicographic min — one control-plane
    // row), then shreds the column with the inferred DDL. The pattern a
    // pipeline uses the day a new feed's props shape is unknown. The
    // inferred DDL is emitted as a column: the oracle pins it literally,
    // so a fixture drop whose props change shape fails LOUDLY here.
    "q148_props_schema_infer" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
      val sample = ev.agg(min($"props")).collect()(0).getString(0)
      val ddl = ev.sparkSession.range(1)
        .select(schema_of_json(lit(sample)).as("s")).collect()(0).getString(0)
      ev.select($"event_type",
          from_json($"props", ddl, Map.empty[String, String]).as("p"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"p.k").as("sum_k"))
        .withColumn("inferred_schema", lit(ddl))
        .select($"event_type", $"inferred_schema", $"n", $"sum_k")
        .orderBy($"event_type")
    },

    // Binned two-sample KS — the 100 TB path q146's doc promises: the
    // same exact-integer D, computed on GLOBAL equi-depth decile bins
    // (q134's edge machinery) instead of the raw value spine. State is
    // bounded everywhere — one percentile aggregate for the edges, nine
    // codegen'd comparisons to bin, a |T|×10 control grid for the
    // cumulative — so the plan survives any corpus size; the price is
    // D_binned ≤ D_exact with error at most the largest bin share
    // (QueriesSpec pins both bounds against q146).
    "q151_ks_binned" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).filter($"value".isNotNull)
        .select($"event_type", $"value")
      val qs = (1 to 9).map(_ / 10.0)
      val edges = ev.agg(expr(s"percentile(value, array(${qs.mkString(", ")}))").as("es"))
        .select((0 until 9).map(i =>
          round(element_at($"es", i + 1), 6).as(s"e$i")): _*)
      val binned = Shared(ev.crossJoin(broadcast(edges))
        .withColumn("bin", (0 until 9).map(i =>
          when($"value" >= col(s"e$i"), 1L).otherwise(0L)).reduce(_ + _))
        .groupBy($"event_type", $"bin").agg(count(lit(1)).as("c")))
      val perBin = binned.groupBy($"bin").agg(sum($"c").as("cb"))
      val grid = s.range(0, 10).select($"id".as("bin"))
        .crossJoin(broadcast(binned.select($"event_type").distinct()))
        .join(binned, Seq("event_type", "bin"), "left").na.fill(0L, Seq("c"))
        .join(broadcast(perBin), Seq("bin"), "left").na.fill(0L, Seq("cb"))
      ksOverGrid(grid, "bin", "ks_binned").orderBy($"event_type")
    },

    // Fourth attribution model beside q144's first/last/linear:
    // time-decay — each touch's credit ∝ exp(−Δt/τ), normalized within
    // the purchase, so recency earns share smoothly instead of the
    // all-or-nothing first/last extremes. Same session-scoped pair frame
    // and '(direct)' remainder; exp's ≤1-ulp libm wobble flows through
    // the normalized shares and is absorbed by the single ROUND (the
    // q111 ln precedent).
    "q154_time_decay_attribution" -> { (s, dir) =>
      import s.implicits._
      val (purch, pairs) = touchPurchasePairs(s, dir)
      val pg = Window.partitionBy($"user_id", $"sess_seq", $"pid")
      val attr = pairs
        .withColumn("w", exp(($"tms" - $"pms").cast("double") / DecayTauMs))
        .withColumn("sw", sum($"w").over(pg))
        .groupBy($"event_type")
        .agg((round(sum($"value" * $"w" / $"sw"), 6) + lit(0d)).as("decayed_rev"),
          countDistinct($"user_id", $"sess_seq", $"pid").as("n_conversions"))
      val direct = purch.join(
          pairs.select($"user_id", $"sess_seq", $"pid").distinct(),
          Seq("user_id", "sess_seq", "pid"), "left_anti")
        .agg((round(sum($"value"), 6) + lit(0d)).as("decayed_rev"),
          count(lit(1)).as("n_conversions"))
        .filter($"n_conversions" > 0)
        .select(lit("(direct)").as("event_type"), $"decayed_rev", $"n_conversions")
      attr.select($"event_type", $"decayed_rev", $"n_conversions")
        .union(direct)
        .orderBy($"event_type")
    },

    // Session-path transition counts with ABSORBING states — the input
    // layer of data-driven (Markov) attribution, and the session-scoped
    // counterpart to q104's user-level transitions: every session walks
    // START → events → first purchase (CONV) or session end (NULL);
    // events after the first purchase within a session don't count (the
    // conversion closed the journey). Paths assemble per session
    // (bounded by session length — collect_list state is human-scale),
    // transitions aggregate to a ≤(|T|+1)×(|T|+2) count table.
    "q156_session_transitions" -> { (s, dir) =>
      import s.implicits._
      sessionTransitionCounts(s, dir).orderBy($"from_state", $"to_state")
    },

    // Data-driven (Markov removal-effect) attribution — the model-based
    // complement to q144/q154's heuristics: fit the first-order Markov
    // chain over q156's absorbing transition counts, then each channel's
    // credit is how much the START→CONV probability DROPS when that
    // channel is removed (its inbound edges redirected to NULL),
    // normalized across channels. The chain solve runs on the driver —
    // the transition table is ≤(|T|+1)×(|T|+2) control-plane rows at any
    // corpus size (the q139-covariance pattern); the corpus-scale work
    // is q156's distributed count. Rows-only (iterative chain solve
    // isn't ANSI SQL); QueriesSpec recomputes everything independently,
    // Gaussian elimination against this fixed-point iteration.
    "q157_markov_attribution" -> { (s, dir) =>
      import s.implicits._
      val counts = sessionTransitionCounts(s, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val channels = counts.map(_._1).filter(_ != "START").distinct.sorted
      // Every float chain below folds in SORTED target order, so each
      // iteration performs the identical addition sequence as the
      // oracle's textual expressions (ORACLE.md: no unordered float
      // sums). With bit-mirrored arithmetic the outputs emit RAW —
      // math.rint at the 1e-6 grain was the one representation risk
      // (half-even ties, the q230 family), and is gone.
      def conv(remove: Option[String]): Double = {
        val redirected = counts
          .map { case (f, t, n) => ((f, if (remove.contains(t)) "NULL" else t), n) }
          .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }
        val froms = redirected.keys.map(_._1).toSeq.distinct.sorted
        val totals = froms.map(f =>
          f -> redirected.collect { case ((`f`, _), n) => n }.sum).toMap
        var p = (froms.map(_ -> 0.0).toMap + ("CONV" -> 1.0)) + ("NULL" -> 0.0)
        // Fixed-point of p(s) = Σ P(s→t)·p(t); absorbing chain ⇒
        // contraction, MarkovIters rounds leave residual ≪ 1e-6 — and
        // the oracle unrolls the SAME count, so both engines run the
        // same arithmetic, not just converge to the same limit.
        for (_ <- 0 until MarkovIters) {
          val next = froms.map { f =>
            val terms = redirected.collect { case ((`f`, t), n) => (t, n) }
              .toSeq.sortBy(_._1)
            f -> terms.foldLeft(0.0) { case (acc, (t, n)) =>
              acc + n.toDouble / totals(f) * p.getOrElse(t, 0.0) }
          }.toMap
          p = p ++ next
        }
        p.getOrElse("START", 0.0)
      }
      val base = conv(None)
      val effects = channels.map(c => c -> math.max(0.0, (base - conv(Some(c))) / base))
      val tot = effects.map(_._2).foldLeft(0.0)(_ + _)
      effects.toSeq.map { case (c, e) =>
        (c, e + 0.0, (if (tot > 0) e / tot else 0.0) + 0.0, base + 0.0)
      }.toDF("channel", "removal_effect", "credit", "base_conv_rate")
        .orderBy($"channel")
    },

    // Experiment readout — the two-proportion z-test over a
    // deterministic hash split (q52's md5 family on user_id: 0–7 → A,
    // 8–f → B), conversion = user made ≥1 purchase. The moments stay in
    // exact integers (converted counts, arm sizes) until the final
    // z-score expression, whose sqrt/divisions both engines evaluate
    // identically from identical exact inputs; one ROUND absorbs the
    // last-ulp wobble. An A/A-shaped split on fixture data should read
    // |z| small — the spec pins that, which is exactly what this query
    // is FOR (catching a broken randomizer before anyone trusts a
    // readout). Scale: one (user, converted) aggregate, then a 2-row
    // control frame; nothing else moves.
    "q155_ab_test" -> { (s, dir) =>
      import s.implicits._
      // Conversion = a repeat purchaser (≥ 3) — a non-degenerate rate on
      // this fixture (every user buys at least once, so "any purchase"
      // would make the pooled p̂ exactly 1 and the z denominator exactly
      // 0 — which ANSI mode correctly refuses to divide by).
      val users = events(s, dir)
        .groupBy($"user_id")
        .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("purchases"))
        .select($"user_id", when($"purchases" >= 3, 1L).otherwise(0L).as("converted"))
        .withColumn("arm",
          when(substring(md5($"user_id".cast("string")), 1, 1) <= "7", "A").otherwise("B"))
      val arms = users.groupBy($"arm")
        .agg(count(lit(1)).as("n_users"), sum($"converted").as("n_converted"))
      val a = arms.filter($"arm" === "A")
        .select($"n_users".as("n_a"), $"n_converted".as("c_a"))
      val b = arms.filter($"arm" === "B")
        .select($"n_users".as("n_b"), $"n_converted".as("c_b"))
      // The NaN-guard discipline (see verify notes): a degenerate pooled
      // rate (0 or 1) NULLs the z rather than dividing by zero — stated
      // identically in the oracle.
      val pPool = ($"c_a" + $"c_b").cast("double") / ($"n_a" + $"n_b")
      val denom = sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / $"n_a" + lit(1.0) / $"n_b"))
      a.crossJoin(b)
        .select($"n_a", $"c_a", $"n_b", $"c_b",
          round($"c_a".cast("double") / $"n_a", 6).as("rate_a"),
          round($"c_b".cast("double") / $"n_b", 6).as("rate_b"),
          when($"c_a" + $"c_b" > 0 && $"c_a" + $"c_b" < $"n_a" + $"n_b",
            round(($"c_a".cast("double") / $"n_a" - $"c_b".cast("double") / $"n_b")
              / denom, 6) + lit(0d)).as("z_score"))
    },

    // Winsorized (clipped) statistics — the robust-preprocessing step
    // upstream of any mean-based feature: clip each type's values at its
    // own exact p01/p99 (q134's edge recipe, rounded once and broadcast)
    // and report the clipped mean next to the raw mean plus clip counts.
    // Complements q114's MAD OUTLIER DETECTION: winsorization keeps the
    // rows and tames the tails instead of flagging them. Same two-pass
    // shape as q134/q136 — one percentile aggregate, then one pass where
    // rows clip themselves via codegen comparisons.
    "q152_winsorized_stats" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir).filter($"value".isNotNull)
        .select($"event_type", $"value")
      val edges = ev.groupBy($"event_type")
        .agg(expr("percentile(value, array(0.01, 0.99))").as("es"))
        .select($"event_type", round(element_at($"es", 1), 6).as("lo"),
          round(element_at($"es", 2), 6).as("hi"))
      ev.join(broadcast(edges), "event_type")
        .withColumn("cv", when($"value" < $"lo", $"lo")
          .when($"value" > $"hi", $"hi").otherwise($"value"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum(when($"value" < $"lo", 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when($"value" > $"hi", 1L).otherwise(0L)).as("n_clip_hi"),
          round(avg($"cv"), 6).as("winsorized_mean"),
          round(avg($"value"), 6).as("raw_mean"))
        .orderBy($"event_type")
    },

    // Map-assembly face of the pivot (q27): per-day type counts built
    // into a MAP column via map_from_entries (completing SURVEY §2.F's
    // map surface), then extracted with element_at. The map stays
    // internal — output columns are plain longs, so the oracle is the
    // conditional-count formulation.
    "q149_daily_type_map" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .groupBy($"day")
        .agg(map_from_entries(sort_array(collect_list(struct($"event_type", $"n"))))
          .as("m"))
        .select($"day",
          size(map_keys($"m")).cast("long").as("n_types"),
          coalesce(element_at($"m", "click"), lit(0L)).as("n_click"),
          coalesce(element_at($"m", "purchase"), lit(0L)).as("n_purchase"),
          coalesce(element_at($"m", "view"), lit(0L)).as("n_view"))
        .orderBy($"day")
    },

    // The INET face of the reference schema (remote_ip is PG INET in
    // three of its four tables — SURVEY §1.2): dotted-quad parsing,
    // integer IP arithmetic, RFC-1918 CIDR containment, and /16 subnet
    // rollup — what PG users do with host()/masklen()/<<= moves here as
    // string split + Horner fold + range compares, all codegen'd
    // stateless projections. The fixture carries no real IPs, so each
    // user gets a deterministic synthetic address (md5 octets — stable
    // per user, shared verbatim with the oracle); the OPERATOR under
    // test is the parse → int → classify → rollup pipeline downstream
    // of the string. Scale: per-row projection, one hash aggregate
    // bounded by the /16 space (≤65536 groups; distinct users partial-
    // aggregates map-side), top-50 via TakeOrderedAndProject.
    "q190_inet_rollup" -> { (s, dir) =>
      import s.implicits._
      val ip = events(s, dir)
        .select($"user_id")
        .withColumn("hx", md5($"user_id".cast("string")))
        .withColumn("ip", concat_ws(".",
          conv(substring($"hx", 1, 2), 16, 10),
          conv(substring($"hx", 3, 2), 16, 10),
          conv(substring($"hx", 5, 2), 16, 10),
          conv(substring($"hx", 7, 2), 16, 10)))
      // the INET operator: parse the dotted-quad STRING back to octets
      // and a uint32, then classify and aggregate
      val parsed = ip
        .withColumn("oct", split($"ip", "\\."))
        .withColumn("a", element_at($"oct", 1).cast("long"))
        .withColumn("b", element_at($"oct", 2).cast("long"))
        .withColumn("ip_int",
          (($"a" * 256 + $"b") * 256 + element_at($"oct", 3).cast("long")) * 256 +
            element_at($"oct", 4).cast("long"))
        .withColumn("subnet_16",
          concat($"a", lit("."), $"b", lit(".0.0/16")))
        .withColumn("is_private",
          $"a" === 10 ||
            ($"a" === 172 && $"b".between(16, 31)) ||
            ($"a" === 192 && $"b" === 168))
      parsed.groupBy($"subnet_16", $"is_private")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"),
          min($"ip_int").as("lo_ip"), max($"ip_int").as("hi_ip"))
        .orderBy($"n_events".desc, $"subnet_16".asc)
        .limit(50)
    }
  )

  /** q100 cool-down: 5 minutes in epoch millis. */
  private val DebounceMs = 300000L

  /** q154 decay constant: 10 minutes in epoch millis. */
  private val DecayTauMs = 600000.0

  /** Exact-integer two-sample KS core shared by q146 (raw value spine)
    * and q151 (decile-bin spine): from the dense (event_type, <spine>,
    * c, cb) grid — c = this type's count at the spine point, cb = the
    * pooled count — compute per type the D numerator
    * max |cum_t·n_rest − cum_rest·n_t| in BIGINTs and the single final
    * exact-int division. A future change (e.g. the DECIMAL promotion
    * needed past ~3×10⁹ rows per side) lands HERE once for both spines;
    * [[sqlKsTail]] is the oracle-side twin. */
  private def ksOverGrid(grid: DataFrame, spineCol: String, ksAlias: String): DataFrame = {
    val s = grid.sparkSession
    import s.implicits._
    // Every type's partition holds the whole spine, and cb is the all-type
    // count at each spine point, so the type total n_t and the corpus total
    // n are both sums over the partition the cumulative already uses: two
    // more window columns, not two branches that re-read the grid.
    val byType = Window.partitionBy($"event_type")
    val cw = byType.orderBy(col(spineCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_t", sum($"c").over(cw))
      .withColumn("cum_all", sum($"cb").over(cw))
      .withColumn("n_t", sum($"c").over(byType))
      .withColumn("n", sum($"cb").over(byType))
      .groupBy($"event_type", $"n_t", $"n")
      .agg(max(abs($"cum_t" * ($"n" - $"n_t") - ($"cum_all" - $"cum_t") * $"n_t"))
        .as("d_num"))
      .select($"event_type", $"n_t", ($"n" - $"n_t").as("n_rest"), $"d_num",
        ($"d_num".cast("double") / ($"n_t" * ($"n" - $"n_t")).cast("double")).as(ksAlias))
  }

  /** Oracle twin of [[ksOverGrid]]: the CTE tail over a `grid(event_type,
    * sp, c, cb)` relation the caller's WITH-chain must end in. */
  private def sqlKsTail(ksAlias: String): String =
    s"""ty AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_t FROM grid GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n FROM ty),
       |cum AS (
       |  SELECT event_type, sp,
       |    CAST(SUM(c) OVER w AS BIGINT) AS cum_t,
       |    CAST(SUM(cb) OVER w AS BIGINT) AS cum_all
       |  FROM grid
       |  WINDOW w AS (PARTITION BY event_type ORDER BY sp ROWS UNBOUNDED PRECEDING))
       |SELECT c.event_type, ty.n_t, tot.n - ty.n_t AS n_rest,
       |  CAST(MAX(ABS(cum_t * (tot.n - ty.n_t) - (cum_all - cum_t) * ty.n_t)) AS BIGINT) AS d_num,
       |  CAST(MAX(ABS(cum_t * (tot.n - ty.n_t) - (cum_all - cum_t) * ty.n_t)) AS DOUBLE)
       |    / CAST(ty.n_t * (tot.n - ty.n_t) AS DOUBLE) AS $ksAlias
       |FROM cum c JOIN ty USING (event_type) CROSS JOIN tot
       |GROUP BY c.event_type, ty.n_t, tot.n
       |ORDER BY event_type""".stripMargin

  /** q15's sessionization as a reusable shared frame (q144/q154/q157;
    * also StatsQueries q167's sequence mining). It ends in one exchange
    * by session, the key its consumers group or join on, so the session
    * windows run once however many branches read the frame. */
  private[ops] def sessionized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val uw = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
    Shared(events(s, dir)
      .withColumn("prev_ms", lag($"ms", 1).over(uw))
      .withColumn("new_sess",
        when($"prev_ms".isNull || $"ms" - $"prev_ms" >= SessionGapMs, 1L).otherwise(0L))
      .withColumn("sess_seq",
        sum($"new_sess").over(uw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"user_id", $"sess_seq", $"ms", $"event_id", $"event_type", $"value")
      .repartition($"user_id", $"sess_seq"))
  }

  /** Shared by q156 (oracle-checked output) and q157 (driver-side solve):
    * absorbing-state transition counts over session paths truncated at
    * the first purchase. */
  private def sessionTransitionCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sessionized(s, dir)
      .groupBy($"user_id", $"sess_seq")
      .agg(expr(
        "transform(array_sort(collect_list(struct(ms, event_id, event_type))), x -> x.event_type)")
        .as("path"))
      .as[(Long, Long, Seq[String])]
      .flatMap { case (_, _, path) =>
        val idx = path.indexOf("purchase")
        val (pre, term) = if (idx >= 0) (path.take(idx), "CONV") else (path, "NULL")
        val states = ("START" +: pre) :+ term
        states.sliding(2).map(p => (p(0), p(1)))
      }
      .toDF("from_state", "to_state")
      .groupBy($"from_state", $"to_state")
      .agg(count(lit(1)).as("n"))
  }

  /** Session-scoped touch×purchase pair frame shared by the attribution
    * models (q144 first/last/linear, q154 time-decay): purchases vs
    * non-purchase touches over [[sessionized]], pairs bounded by session
    * length via the (user, session) equi-join. The session frame and
    * the pair frame are Shared, so both consumers of each reuse its
    * shuffles. */
  private def touchPurchasePairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val sess = sessionized(s, dir)
    val purch = sess.filter($"event_type" === "purchase")
      .select($"user_id", $"sess_seq", $"ms".as("pms"), $"event_id".as("pid"), $"value")
    val touch = sess.filter($"event_type" =!= "purchase")
      .select($"user_id", $"sess_seq", $"ms".as("tms"), $"event_id".as("tid"), $"event_type")
    val pairs = Shared(purch.join(touch, Seq("user_id", "sess_seq"))
      .filter($"tms" < $"pms" || ($"tms" === $"pms" && $"tid" < $"pid")))
    (purch, pairs)
  }

  /** q90 interval width: 10 minutes in epoch millis. */
  private val IntervalJoinMs = 600000L

  /** q86 cutoff: 2024-01-15T00:00:00Z in epoch nanos (events span Jan 2024;
    * mid-range so the as-of slice is a real subset). */
  private val AsOfCutoffNs = 1705276800L * 1000000000L

  /** Cutoff instants as UTC timestamp strings — filtered via [[tsCut]] on
    * the TIMESTAMP column (the pushdown-capable predicate form; a
    * predicate on the derived ts_ns column never reaches the scan).
    * T0 = [[AsOfCutoffNs]]'s instant; T1 bounds q132's increment. */
  private val AsOfCutoff = "2024-01-15 00:00:00"
  private val AsOfCutoff2 = "2024-02-01 00:00:00"

  /** Timestamp-literal cast for scan-pushable time cutoffs (UTC session
    * zone makes the string → instant mapping unambiguous). */
  private def tsCut(v: String): Column = lit(v).cast("timestamp")

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlDsum("l_quantity")} AS sum_qty,
         |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${sqlDsum6("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         |  ${sqlDavg("l_quantity")} AS avg_qty,
         |  ${sqlDavg("l_extendedprice")} AS avg_price,
         |  ${sqlDavg("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_daily_revenue" ->
      s"""SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n_orders,
         |  ${sqlDsum("o_totalprice")} AS revenue
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q03_latest_event_per_user" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        |  value AS last_val, epoch_ms(ts) AS last_ts_ms
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q04_top_spenders" ->
      s"""SELECT user_id, COUNT(*) AS n_purchases, ${sqlDsum("value")} AS total_spend
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY user_id ORDER BY total_spend DESC, user_id LIMIT 10""".stripMargin,

    "q05_revenue_by_nation" ->
      s"""SELECT n_name, COUNT(*) AS n_orders, ${sqlDsum("o_totalprice")} AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q06_brand_revenue" ->
      s"""SELECT p_brand, COUNT(*) AS n_items,
         |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q07_customers_with_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q08_customers_without_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q09_running_spend" ->
      s"""SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS order_ms,
         |  ${sqlMoneyOut(
        """SUM(CAST(o_totalprice AS DECIMAL(18,4)))
          |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)} AS running_spend
         |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q10_event_gaps" ->
      """WITH g AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events)
        |SELECT user_id, COUNT(prev_ms) AS n_gaps,
        |  CAST(SUM(ms - prev_ms) AS BIGINT) AS total_gap_ms,
        |  CAST(SUM(ms - prev_ms) AS DOUBLE) / COUNT(prev_ms) AS avg_gap_ms
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q11_event_rollup" ->
      s"""SELECT event_type, CAST(ts AS DATE) AS event_date, COUNT(*) AS n,
         |  ${sqlDsum("value")} AS total_value
         |FROM events GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
         |ORDER BY event_type NULLS FIRST, event_date NULLS FIRST""".stripMargin,

    "q12_high_value_or_error" ->
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT event_id, user_id, event_type, value FROM events WHERE value > 450.0
        |  UNION
        |  SELECT event_id, user_id, event_type, value FROM events WHERE event_type = 'error') t
        |ORDER BY event_id""".stripMargin,

    "q13_click_and_purchase_users" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "q14_view_not_purchase_users" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "q15_sessions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |x AS (
        |  SELECT user_id, event_id, ms,
        |    CAST(SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms >= 1800000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ms, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq
        |  FROM g)
        |SELECT user_id, sess_seq, COUNT(*) AS n_events,
        |  MIN(ms) AS session_start_ms, MAX(ms) AS session_end_ms
        |FROM x GROUP BY user_id, sess_seq ORDER BY user_id, sess_seq""".stripMargin,

    "q16_props_by_type" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q17_doc_stats" ->
      """SELECT doc_id, n_chars, CAST(LEN(text) AS BIGINT) AS text_len,
        |  CAST(LEN(regexp_split_to_array(text, ' ')) AS BIGINT) AS n_tokens,
        |  UPPER(lang) AS lang_uc
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q18_hourly_activity" ->
      """SELECT event_type, CAST(HOUR(ts) AS BIGINT) AS hour_of_day, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q19_distinct_users_by_type" ->
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q20_cube_pricing" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q21_top_parts" ->
      s"""SELECT p_partkey, p_name, ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_partkey, p_name ORDER BY revenue DESC, p_partkey LIMIT 15""".stripMargin,

    "q22_supplier_rank_in_nation" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |  FROM lineitem GROUP BY l_suppkey)
         |SELECT n_name, s_suppkey, revenue,
         |  ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY revenue DESC, s_suppkey) AS rk
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |ORDER BY n_name, rk""".stripMargin,

    "q23_purchase_attribution" ->
      """SELECT purchase_id, user_id, last_click_id FROM (
        |  SELECT event_id AS purchase_id, user_id, event_type,
        |    LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id
        |  FROM events) t
        |WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin,

    "q24_latest_purchase" ->
      """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY ts DESC, event_id DESC LIMIT 1""".stripMargin,

    "q25_clicks_before_purchase" ->
      """SELECT event_id, user_id, COALESCE(clicks_prev_hour, 0) AS clicks_prev_hour FROM (
        |  SELECT event_id, user_id, event_type,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |            RANGE BETWEEN 3600000 PRECEDING AND 1 PRECEDING) AS BIGINT) AS clicks_prev_hour
        |  FROM events) t
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "q26_value_percentiles" ->
      """SELECT event_type, COUNT(*) AS n,
        |  quantile_cont(value, 0.25) AS p25,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Discrete order statistics at ⌈q·n⌉ with integer index arithmetic —
    // mirrors q58b's rank selection exactly (ROW_NUMBER over the same
    // unique (value, event_id) order; selected values are raw doubles).
    "q58b_exact_percentiles" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  MAX(CASE WHEN rk = (n + 3) // 4 THEN value END) AS p25,
        |  MAX(CASE WHEN rk = (n + 1) // 2 THEN value END) AS p50,
        |  MAX(CASE WHEN rk = (9 * n + 9) // 10 THEN value END) AS p90
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q29_priority_with_late_items" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q28_grouping_sets" ->
      s"""SELECT event_type, CAST(ts AS DATE) AS event_date, COUNT(*) AS n,
         |  ${sqlDsum("value")} AS total_value
         |FROM events GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)))
         |ORDER BY event_type NULLS FIRST, event_date NULLS FIRST""".stripMargin,

    "q49_sliding_window_counts" ->
      """SELECT ws AS window_start, event_type, COUNT(*) AS n
        |FROM (SELECT unnest([CAST(ts AS DATE) - 1, CAST(ts AS DATE)]) AS ws, event_type
        |      FROM events) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q48_cohort_retention" ->
      """WITH activity AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id)
        |SELECT c.cohort_day, CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
        |       COUNT(DISTINCT a.user_id) AS n_users
        |FROM activity a JOIN cohort c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q45_acctbal_deciles" ->
      """SELECT decile, COUNT(*) AS n, MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
        |FROM (SELECT c_acctbal,
        |        CAST(NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS decile
        |      FROM customer) t
        |GROUP BY decile ORDER BY decile""".stripMargin,

    "q61_daily_dense" ->
      """WITH span AS (
        |  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
        |days AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM span),
        |types AS (SELECT DISTINCT event_type FROM events),
        |counts AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT d.day, t.event_type, COALESCE(c.n, 0) AS n
        |FROM days d CROSS JOIN types t
        |LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
        |ORDER BY d.day, t.event_type""".stripMargin,

    "q75_zorder_locality" ->
      s"""WITH d AS (
         |  SELECT o_custkey,
         |         CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
         |  FROM orders),
         |z AS (SELECT o_custkey, day,
         |        ${Layout.zValueSql("o_custkey", "day", 16)} AS zv
         |      FROM d)
         |SELECT (zv >> 18) AS zbucket, COUNT(*) AS n_orders,
         |       MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
         |       MIN(day) AS min_day, MAX(day) AS max_day
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin,

    "q60_salted_type_join" ->
      s"""SELECT e.event_type, COUNT(*) AS n,
         |  ${sqlDsum("e.value * d.type_weight")} AS weighted_value
         |FROM events e
         |JOIN (SELECT DISTINCT event_type, CAST(LEN(event_type) AS BIGINT) AS type_weight
         |      FROM events) d ON e.event_type = d.event_type
         |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q59_events_profile" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
        |  CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
        |  CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  MIN(value) AS min_value, MAX(value) AS max_value,
        |  MIN(epoch_ms(ts)) AS min_ms, MAX(epoch_ms(ts)) AS max_ms
        |FROM events""".stripMargin,

    "q56_acctbal_dist" ->
      """SELECT c_custkey, c_acctbal,
        |  PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS pr,
        |  CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey) AS cd
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q57_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(epoch_ms(ts)) AS mv FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(epoch_ms(e.ts)) AS mc
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_ms(e.ts) > v.mv
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(epoch_ms(e.ts)) AS mp
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > c.mc
        |  GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view,
        |       (SELECT COUNT(*) FROM c) AS n_view_click,
        |       (SELECT COUNT(*) FROM p) AS n_view_click_purchase""".stripMargin,

    "q27_daily_type_matrix" ->
      """SELECT CAST(ts AS DATE) AS event_date,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q86_state_asof" ->
      """SELECT user_id, event_id AS asof_event_id, event_type AS asof_event_type,
        |  value AS asof_val, epoch_ms(ts) AS asof_ts_ms, n_events_asof
        |FROM (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |        COUNT(*) OVER (PARTITION BY user_id) AS n_events_asof
        |      FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // The oracle is the FROM-SCRATCH recompute at T1; the Spark side must
    // reach the same table through the base ⊕ increment merge — the
    // incremental-view-maintenance equivalence IS the check.
    "q132_incremental_state_merge" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        |  value AS last_val, epoch_ms(ts) AS last_ts_ms, n_events
        |FROM (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |        COUNT(*) OVER (PARTITION BY user_id) AS n_events
        |      FROM events WHERE ts <= TIMESTAMP '2024-02-01 00:00:00') t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q134_equidepth_histogram" -> {
      val edgeCols = (1 to 9).map(i =>
        s"ROUND(quantile_cont(value, 0.$i), 6) AS e${i - 1}").mkString(", ")
      val binExpr = (0 until 9).map(i =>
        s"(CASE WHEN value >= e$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
         |ed AS (SELECT event_type, $edgeCols FROM e GROUP BY event_type)
         |SELECT e.event_type, CAST($binExpr AS BIGINT) AS bin,
         |  COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
         |FROM e JOIN ed USING (event_type)
         |GROUP BY e.event_type, bin ORDER BY e.event_type, bin""".stripMargin
    },

    "q136_psi_drift" -> {
      val edgeCols = (1 to 9).map(i =>
        s"ROUND(quantile_cont(value, 0.$i), 6) AS e${i - 1}").mkString(", ")
      val binExpr = (0 until 9).map(i =>
        s"(CASE WHEN value >= e$i THEN 1 ELSE 0 END)").mkString(" + ")
      val ph = "(n_cur + 1.0) / (tc + 10.0)" // q-hat (smoothed current share)
      val qh = "(n_ref + 1.0) / (tr + 10.0)" // p-hat (smoothed reference share)
      s"""WITH e AS (SELECT event_type, value, ts FROM events WHERE value IS NOT NULL),
         |r AS (SELECT * FROM e WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
         |c AS (SELECT * FROM e WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'),
         |ed AS (SELECT event_type, $edgeCols FROM r GROUP BY event_type),
         |rb AS (SELECT r.event_type, CAST($binExpr AS BIGINT) AS bin, COUNT(*) AS n_ref
         |       FROM r JOIN ed USING (event_type) GROUP BY r.event_type, bin),
         |cb AS (SELECT c.event_type, CAST($binExpr AS BIGINT) AS bin, COUNT(*) AS n_cur
         |       FROM c JOIN ed USING (event_type) GROUP BY c.event_type, bin),
         |b AS (SELECT COALESCE(rb.event_type, cb.event_type) AS event_type,
         |             COALESCE(rb.bin, cb.bin) AS bin,
         |             COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
         |      FROM rb FULL OUTER JOIN cb
         |        ON rb.event_type = cb.event_type AND rb.bin = cb.bin),
         |t AS (SELECT event_type, SUM(n_ref) AS tr, SUM(n_cur) AS tc
         |      FROM b GROUP BY event_type),
         |s AS (SELECT b.event_type,
         |        CAST(MAX(tr) AS BIGINT) AS n_ref, CAST(MAX(tc) AS BIGINT) AS n_cur,
         |        ROUND(SUM(($ph - $qh) * ln(($ph) / ($qh))), 6) AS psi
         |      FROM b JOIN t USING (event_type) GROUP BY b.event_type)
         |SELECT event_type, n_ref, n_cur, psi,
         |  CAST(CASE WHEN psi >= 0.2 THEN 1 ELSE 0 END AS BIGINT) AS investigate
         |FROM s ORDER BY event_type""".stripMargin
    },

    "q137_daily_trend" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) - DATE '1970-01-01' AS d, COUNT(*) AS y
        |  FROM events GROUP BY event_type, d)
        |SELECT event_type, COUNT(*) AS n_days,
        |  ROUND(regr_slope(y, d), 6) AS slope,
        |  ROUND(regr_intercept(y, d), 6) AS intercept,
        |  ROUND(regr_r2(y, d), 6) AS r2
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q138_data_contract" ->
      """WITH a AS (SELECT COUNT(*) AS n,
        |  COUNT(*) FILTER (event_id IS NULL) AS v_id_null,
        |  COUNT(*) - COUNT(DISTINCT event_id) AS v_id_dup,
        |  COUNT(*) FILTER (user_id IS NULL OR user_id < 0) AS v_uid,
        |  COUNT(*) FILTER (event_type IS NULL OR event_type NOT IN
        |    ('click', 'view', 'purchase', 'error', 'signup')) AS v_enum,
        |  COUNT(*) FILTER (ts < TIMESTAMP '2024-01-01 00:00:00'
        |    OR ts >= TIMESTAMP '2024-02-01 00:00:00') AS v_ts,
        |  COUNT(*) FILTER (value IS NOT NULL AND value <= 0) AS v_vpos,
        |  COUNT(*) FILTER (value IS NOT NULL AND value > 100) AS v_vcap,
        |  COUNT(*) FILTER (props IS NOT NULL
        |    AND json_extract_string(props, '$.k') IS NULL) AS v_json
        |  FROM events),
        |r AS (
        |  SELECT 'event_id_not_null' AS rule, n, v_id_null AS v FROM a
        |  UNION ALL SELECT 'event_id_unique', n, v_id_dup FROM a
        |  UNION ALL SELECT 'user_id_valid', n, v_uid FROM a
        |  UNION ALL SELECT 'event_type_enum', n, v_enum FROM a
        |  UNION ALL SELECT 'ts_in_window', n, v_ts FROM a
        |  UNION ALL SELECT 'value_positive', n, v_vpos FROM a
        |  UNION ALL SELECT 'value_le_100', n, v_vcap FROM a
        |  UNION ALL SELECT 'props_json_parses', n, v_json FROM a)
        |SELECT rule, n AS n_checked, CAST(v AS BIGINT) AS n_violations,
        |  CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM r ORDER BY rule""".stripMargin,

    "q87_key_skew_profile" ->
      """WITH per AS (
        |  SELECT event_type, user_id, COUNT(*) AS per_key
        |  FROM events GROUP BY event_type, user_id)
        |SELECT event_type, COUNT(*) AS n_keys,
        |  CAST(SUM(per_key) AS BIGINT) AS n_rows,
        |  MAX(per_key) AS max_key_rows,
        |  quantile_cont(per_key, 0.5) AS p50_key_rows,
        |  quantile_cont(per_key, 0.99) AS p99_key_rows,
        |  CAST(MAX(per_key) AS DOUBLE)
        |    / (CAST(SUM(per_key) AS DOUBLE) / COUNT(*)) AS skew_ratio
        |FROM per GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The oracle states the SEMANTICS (a plain non-equi interval join);
    // the Spark side must reach the same rows through the bin equi-join.
    "q90_interval_join" ->
      """SELECT e1.event_id AS err_id, COUNT(*) AS n_events,
        |  COUNT(DISTINCT e2.user_id) AS n_users
        |FROM events e1 JOIN events e2
        |  ON epoch_ms(e2.ts) >= epoch_ms(e1.ts)
        | AND epoch_ms(e2.ts) < epoch_ms(e1.ts) + 600000
        |WHERE e1.event_type = 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Brute-force all-pairs nearest: deliberately STRONGER than replaying
    // the grid — it re-proves the 3×3 neighborhood misses no candidate.
    "q204_spatial_grid_join" -> {
      def horner(col: String, from: Int): String = (from until from + 8)
        .map(i => s"(strpos('0123456789abcdef', substr($col, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      def coords(table: String, key: String, tag: String, la: String,
                 lo: String): String =
        s"""SELECT $key,
           |    40.0 + 10.0 * (CAST(${horner("hex", 1)} AS DOUBLE) / 4294967296.0) AS $la,
           |    -10.0 + 20.0 * (CAST(${horner("hex", 9)} AS DOUBLE) / 4294967296.0) AS $lo
           |  FROM (SELECT $key, md5('$tag' || CAST($key AS VARCHAR)) AS hex FROM $table)""".stripMargin
      val rad = "0.017453292519943295"
      s"""WITH cu AS (${coords("customer", "c_custkey", "geo:c:", "clat", "clon")}),
         |su AS (${coords("supplier", "s_suppkey", "geo:s:", "slat", "slon")}),
         |d AS (
         |  SELECT c.c_custkey, s.s_suppkey,
         |    2.0 * $GeoEarthKm * asin(sqrt(
         |      sin((s.slat - c.clat) * $rad / 2.0) * sin((s.slat - c.clat) * $rad / 2.0) +
         |      cos(c.clat * $rad) * cos(s.slat * $rad) *
         |      sin((s.slon - c.clon) * $rad / 2.0) * sin((s.slon - c.clon) * $rad / 2.0)
         |    )) AS dist_km
         |  FROM cu c CROSS JOIN su s),
         |r AS (
         |  SELECT c_custkey, s_suppkey, dist_km,
         |    row_number() OVER (PARTITION BY c_custkey
         |                       ORDER BY dist_km, s_suppkey) AS rn
         |  FROM d WHERE dist_km <= $GeoRadiusKm)
         |SELECT c_custkey, s_suppkey, ROUND(dist_km, 6) AS dist_km
         |FROM r WHERE rn = 1 ORDER BY c_custkey""".stripMargin
    },

    "q91_bucketed_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  ${sqlDsum("o_totalprice")} AS total_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q94_scd2_intervals" ->
      """SELECT user_id, event_id, event_type, value,
        |  epoch_ms(ts) AS valid_from_ms,
        |  LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                           ORDER BY epoch_ms(ts), event_id) AS valid_to_ms,
        |  LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                           ORDER BY epoch_ms(ts), event_id) IS NULL AS is_current
        |FROM events
        |ORDER BY user_id, valid_from_ms, event_id""".stripMargin,

    "q98_anomaly_days" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sx2
        |  FROM daily GROUP BY 1
        |  HAVING COUNT(*) >= 2
        |     AND COUNT(*) * CAST(SUM(x * x) AS BIGINT)
        |         - CAST(SUM(x) AS BIGINT) * CAST(SUM(x) AS BIGINT) > 0)
        |SELECT d.event_type, d.day, d.x AS n_events,
        |  ROUND((CAST(d.x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    / sqrt((CAST(sx2 AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |           / (CAST(n AS DOUBLE) - 1.0)), 6) AS z,
        |  abs(ROUND((CAST(d.x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    / sqrt((CAST(sx2 AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |           / (CAST(n AS DOUBLE) - 1.0)), 6)) > 2.0 AS is_anomaly
        |FROM daily d JOIN st USING (event_type)
        |ORDER BY event_type, day""".stripMargin,

    "q100_event_debounce" ->
      """SELECT event_id, user_id, event_type, ms FROM (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms,
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id, event_type
        |                            ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events) t
        |WHERE prev_ms IS NULL OR ms - prev_ms >= 300000
        |ORDER BY event_id""".stripMargin,

    "q101_rfm_segments" ->
      s"""WITH per AS (
         |  SELECT user_id, MAX(epoch_ms(ts)) AS r, COUNT(*) AS f,
         |    ${sqlDsum("value")} AS m
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         |q AS (
         |  SELECT user_id,
         |    CAST(NTILE(5) OVER (ORDER BY r, user_id) AS BIGINT) AS r_q,
         |    CAST(NTILE(5) OVER (ORDER BY f, user_id) AS BIGINT) AS f_q,
         |    CAST(NTILE(5) OVER (ORDER BY m, user_id) AS BIGINT) AS m_q
         |  FROM per)
         |SELECT r_q, f_q, m_q, COUNT(*) AS n_users
         |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q102_twap" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms, value,
        |    LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                             ORDER BY epoch_ms(ts), event_id) AS next_ms
        |  FROM events),
        |iv AS (
        |  SELECT user_id, event_id, ms, next_ms,
        |    value * CAST(next_ms - ms AS DOUBLE) AS wv
        |  FROM g WHERE next_ms IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n_intervals,
        |  ROUND(list_reduce(list(wv ORDER BY ms, event_id), (a, b) -> a + b)
        |    / CAST(MAX(next_ms) - MIN(ms) AS DOUBLE), 6) AS twap
        |FROM iv GROUP BY user_id
        |HAVING MAX(next_ms) - MIN(ms) > 0
        |ORDER BY user_id""".stripMargin,

    "q104_type_transitions" ->
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY epoch_ms(ts), event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n
        |      FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        |       FROM c GROUP BY 1)
        |SELECT from_type, to_type, n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE), 6) AS p
        |FROM c JOIN ft USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    "q105_time_to_convert" ->
      """WITH v AS (
        |  SELECT user_id, MIN(epoch_ms(ts)) AS mv
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |p AS (
        |  SELECT e.user_id, MIN(epoch_ms(e.ts)) AS mp
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > v.mv
        |  GROUP BY e.user_id),
        |d AS (
        |  SELECT v.user_id, (mp - mv) // 60000 AS mins
        |  FROM v JOIN p ON v.user_id = p.user_id)
        |SELECT CAST(FLOOR(log2(CAST(mins AS DOUBLE) + 1.0)) AS BIGINT) AS bucket,
        |  COUNT(*) AS n_users, MIN(mins) AS min_mins, MAX(mins) AS max_mins
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "q103_referential_audit" ->
      s"""SELECT
         |  (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
         |     ON l.l_orderkey = o.o_orderkey
         |   WHERE o.o_orderkey IS NULL) AS orphan_lineitems,
         |  (SELECT COUNT(*) FROM orders o LEFT JOIN lineitem l
         |     ON l.l_orderkey = o.o_orderkey
         |   WHERE l.l_orderkey IS NULL) AS childless_orders,
         |  (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
         |     ON o.o_custkey = c.c_custkey
         |   WHERE c.c_custkey IS NULL) AS orphan_orders,
         |  (SELECT COUNT(*) FROM (
         |     SELECT l_orderkey, ${sqlDsum("l_extendedprice")} AS item_rev
         |     FROM lineitem GROUP BY l_orderkey) r
         |   JOIN orders ON l_orderkey = o_orderkey
         |   WHERE item_rev < o_totalprice * 0.5) AS low_revenue_orders""".stripMargin,

    // The oracle reads the ORIGINAL typed columns: the hash compare then
    // asserts Spark's to_json → from_json/json_tuple round trip returned
    // exactly the values that went in (longs and strings identically,
    // doubles via shortest-repr round-trip).
    "q106_json_shred" ->
      """SELECT event_id, user_id AS uid, event_type AS t, "value" AS v,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
        |  user_id AS uid_tup,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_tup
        |FROM events ORDER BY event_id""".stripMargin,

    // DuckDB's list_reduce seeds with the FIRST element — exactly the
    // ewma_0 = x_0 convention — so the Spark side folds slice(2…) with
    // element_at(vs, 1) as the seed: identical chains, identical order.
    "q116_ewma_daily" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, COUNT(*) AS n_days,
        |             list(CAST(n AS DOUBLE) ORDER BY day) AS vs
        |      FROM d GROUP BY 1)
        |SELECT event_type, n_days,
        |  ROUND(list_reduce(vs, (a, x) -> 0.25 * x + 0.75 * a), 6) AS ewma
        |FROM l ORDER BY event_type""".stripMargin,

    // Same interpolation (quantile_cont ≡ Spark's percentile) and the
    // identical |v − med| > 3·MAD expression tree; MAX carries the
    // per-group constants through the final rollup on both sides.
    "q114_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |        FROM dev GROUP BY 1)
        |SELECT d.event_type, COUNT(*) AS n, MAX(d.med) AS med, MAX(ma.mad) AS mad,
        |  CAST(SUM(CASE WHEN d.adev > 3 * ma.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad ma USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    // q15's sessionization CTE verbatim, then two LEADs over the session
    // window and a string path — || of non-null strings equals Spark's
    // concat_ws under the t3 IS NOT NULL filter (which implies t2, being
    // an earlier offset in the same session order, is also non-null).
    "q108_session_paths" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |x AS (
        |  SELECT user_id, event_id, event_type, ms,
        |    CAST(SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms >= 1800000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ms, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq
        |  FROM g),
        |p AS (
        |  SELECT user_id,
        |    event_type || ' > ' || LEAD(event_type, 1) OVER w
        |               || ' > ' || LEAD(event_type, 2) OVER w AS path,
        |    LEAD(event_type, 2) OVER w AS t3
        |  FROM x
        |  WINDOW w AS (PARTITION BY user_id, sess_seq ORDER BY ms, event_id))
        |SELECT path, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM p WHERE t3 IS NOT NULL
        |GROUP BY path ORDER BY n DESC, path""".stripMargin,

    // Replays the bottom-256-by-md5 sample with ROW_NUMBER and selects the
    // same 1-based order statistics; ceil(q·n) is the identical IEEE
    // product/ceil on both sides, so the selected elements — raw data
    // doubles, no arithmetic — hash-match exactly.
    "q125_sample_quantiles" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, value,
        |         md5(CAST(event_id AS VARCHAR) || ':qs') AS h
        |  FROM events WHERE value IS NOT NULL),
        |rk AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, event_id) AS r
        |  FROM ev),
        |samp AS (
        |  SELECT event_type, COUNT(*) AS n_sample,
        |         list(value ORDER BY value) AS vs
        |  FROM rk WHERE r <= 256 GROUP BY event_type)
        |SELECT event_type, n_sample,
        |  vs[CAST(ceil(CAST(0.5 AS DOUBLE) * n_sample) AS INT)] AS p50,
        |  vs[CAST(ceil(CAST(0.9 AS DOUBLE) * n_sample) AS INT)] AS p90,
        |  vs[CAST(ceil(CAST(0.99 AS DOUBLE) * n_sample) AS INT)] AS p99
        |FROM samp ORDER BY event_type""".stripMargin,

    // Gap-island replay of session_window's merge rule at µs precision:
    // a row opens a new session iff us − prev_us ≥ gap (strict-< merge,
    // half-open [ts, ts+gap) interval); end = last ts + gap. A hash match
    // therefore pins Spark's native session semantics, not just counts.
    "q127_session_window_batch" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |flag AS (
        |  SELECT user_id, event_type, us,
        |    CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
        |              >= 1800000000 OR
        |         LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sess AS (
        |  SELECT user_id, event_type, us,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        |  FROM flag)
        |SELECT user_id, MIN(us) AS session_start_us,
        |  MAX(us) + 1800000000 AS session_end_us,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM sess GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start_us""".stripMargin,

    // Same trailing-window attribution: each (user, active day) feeds 7
    // anchor days; counts are exact integers and stickiness an unrounded
    // exact-int division.
    "q128_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud),
        |w AS (
        |  SELECT user_id, day + CAST(i AS INT) AS wday
        |  FROM ud, range(0, 7) t(i)),
        |mau AS (
        |  SELECT wday, COUNT(DISTINCT user_id) AS active7
        |  FROM w, b WHERE wday BETWEEN d0 AND d1 GROUP BY wday),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day)
        |SELECT mau.wday AS day, COALESCE(dau.dau, 0) AS dau, mau.active7,
        |  CAST(COALESCE(dau.dau, 0) AS DOUBLE) / CAST(mau.active7 AS DOUBLE) AS stickiness
        |FROM mau LEFT JOIN dau ON dau.day = mau.wday
        |ORDER BY day""".stripMargin,

    "q129_growth_accounting" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (
        |  SELECT day,
        |    CASE WHEN prev IS NULL THEN 'new'
        |         WHEN date_diff('day', prev, day) > 7 THEN 'resurrected'
        |         ELSE 'retained' END AS cls
        |  FROM (SELECT user_id, day,
        |          LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
        |        FROM ud))
        |SELECT day, COUNT(*) AS dau,
        |  CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |FROM f GROUP BY day ORDER BY day""".stripMargin,

    // q15's sessionization CTE extended with type/value, then the same
    // pair expansion + shared-partition windows; decimal sums for the
    // whole-value credits, double + one ROUND for the linear split.
    "q144_revenue_attribution" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms,
         |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
         |  FROM events),
         |x AS (
         |  SELECT user_id, event_id, event_type, value, ms,
         |    CAST(SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms >= $SessionGapMs THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ms, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq
         |  FROM g),
         |p AS (SELECT user_id, sess_seq, ms AS pms, event_id AS pid, value
         |      FROM x WHERE event_type = 'purchase'),
         |t AS (SELECT user_id, sess_seq, ms AS tms, event_id AS tid, event_type
         |      FROM x WHERE event_type <> 'purchase'),
         |pr AS (
         |  SELECT p.user_id, p.sess_seq, p.pms, p.pid, p.value, t.tms, t.tid, t.event_type
         |  FROM p JOIN t USING (user_id, sess_seq)
         |  WHERE t.tms < p.pms OR (t.tms = p.pms AND t.tid < p.pid)),
         |a AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY user_id, sess_seq, pid ORDER BY tms, tid) AS rn,
         |    ROW_NUMBER() OVER (PARTITION BY user_id, sess_seq, pid ORDER BY tms DESC, tid DESC) AS rnd,
         |    COUNT(*) OVER (PARTITION BY user_id, sess_seq, pid) AS n
         |  FROM pr),
         |m AS (
         |  SELECT event_type,
         |    ${sqlDsum("CASE WHEN rn = 1 THEN value END")} AS first_touch_rev,
         |    ${sqlDsum("CASE WHEN rnd = 1 THEN value END")} AS last_touch_rev,
         |    ROUND(SUM(value / n), 6) + 0.0 AS linear_rev,
         |    COUNT(DISTINCT (user_id, sess_seq, pid)) AS n_conversions
         |  FROM a GROUP BY event_type),
         |d AS (
         |  SELECT '(direct)' AS event_type,
         |    ${sqlDsum("p.value")} AS first_touch_rev,
         |    ${sqlDsum("p.value")} AS last_touch_rev,
         |    ROUND(SUM(p.value), 6) + 0.0 AS linear_rev,
         |    COUNT(*) AS n_conversions
         |  FROM p LEFT JOIN (SELECT DISTINCT user_id, sess_seq, pid FROM pr) u
         |    ON p.user_id = u.user_id AND p.sess_seq = u.sess_seq AND p.pid = u.pid
         |  WHERE u.pid IS NULL
         |  HAVING COUNT(*) > 0)
         |SELECT * FROM m UNION ALL SELECT * FROM d ORDER BY event_type""".stripMargin,

    // Identical exact-integer core: the D numerator is a max over BIGINT
    // products, the only division is exact-int/exact-int at the end.
    "q146_ks_drift" ->
      s"""WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
         |tv AS (SELECT event_type, value, COUNT(*) AS c FROM e GROUP BY 1, 2),
         |vals AS (SELECT value, CAST(SUM(c) AS BIGINT) AS cb FROM tv GROUP BY value),
         |grid AS (
         |  SELECT t.event_type, v.value AS sp, COALESCE(tv.c, 0) AS c, v.cb
         |  FROM vals v CROSS JOIN (SELECT DISTINCT event_type FROM tv) t
         |  LEFT JOIN tv ON tv.event_type = t.event_type AND tv.value = v.value),
         |${sqlKsTail("ks")}""".stripMargin,

    // The inferred-DDL literal is the CONTRACT: if a regenerated fixture
    // changes the props shape, Spark infers something else and this
    // hash-mismatches loudly instead of silently shredding nulls.
    "q148_props_schema_infer" ->
      """SELECT event_type, 'STRUCT<k: BIGINT>' AS inferred_schema,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Same grid algebra as q146 over the ten global decile bins; edge
    // derivation is q134's quantile_cont + ROUND recipe.
    "q151_ks_binned" -> {
      val edgeCols = (1 to 9).map(i =>
        s"ROUND(quantile_cont(value, 0.$i), 6) AS e${i - 1}").mkString(", ")
      val binExpr = (0 until 9).map(i =>
        s"(CASE WHEN value >= e$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
         |ed AS (SELECT $edgeCols FROM e),
         |b AS (SELECT e.event_type, CAST($binExpr AS BIGINT) AS bin, COUNT(*) AS c
         |      FROM e CROSS JOIN ed GROUP BY 1, 2),
         |pb AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS cb FROM b GROUP BY 1),
         |grid AS (
         |  SELECT t.event_type, g.g AS sp,
         |    COALESCE(b.c, 0) AS c, COALESCE(pb.cb, 0) AS cb
         |  FROM range(0, 10) g(g)
         |  CROSS JOIN (SELECT DISTINCT event_type FROM b) t
         |  LEFT JOIN b ON b.event_type = t.event_type AND b.bin = g.g
         |  LEFT JOIN pb ON pb.bin = g.g),
         |${sqlKsTail("ks_binned")}""".stripMargin
    },

    // Paths rebuild via ordered list() per session; truncation slices at
    // list_position (0 = absent → full path + NULL terminal); the
    // '->' string join sidesteps struct unnest (types contain no '->').
    "q156_session_transitions" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
         |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
         |  FROM events),
         |x AS (
         |  SELECT user_id, event_id, event_type, ms,
         |    CAST(SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms >= $SessionGapMs THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ms, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq
         |  FROM g),
         |p AS (
         |  SELECT user_id, sess_seq, list(event_type ORDER BY ms, event_id) AS path
         |  FROM x GROUP BY user_id, sess_seq),
         |st AS (
         |  SELECT CASE WHEN list_position(path, 'purchase') > 0
         |    THEN ['START'] || path[1:list_position(path, 'purchase') - 1] || ['CONV']
         |    ELSE ['START'] || path || ['NULL'] END AS states
         |  FROM p),
         |tr AS (
         |  SELECT unnest([states[i] || '->' || states[i + 1]
         |                 for i in range(1, len(states))]) AS e
         |  FROM st)
         |SELECT split_part(e, '->', 1) AS from_state,
         |       split_part(e, '->', 2) AS to_state, COUNT(*) AS n
         |FROM tr GROUP BY 1, 2 ORDER BY from_state, to_state""".stripMargin,

    // The absorbing-chain solve replayed ARITHMETIC-FOR-ARITHMETIC: the
    // same MarkovIters fixed-point rounds, each state's update written as
    // an explicit expression whose terms appear in sorted-target order —
    // exactly the fold order the Spark side uses — so every addition and
    // multiply happens in the same sequence and the raw doubles compare
    // bit-equal (no ROUND anywhere; the q230 lesson). Absent transitions
    // contribute an exact +0.0 via COALESCE, matching the Spark fold
    // skipping them. Rounds are MATERIALIZED: every state feeds all five
    // next-round expressions, and inlining would duplicate the tree 5×
    // per round (the q243 blowup). States are the fixture's event-type
    // enum; a type absent from every pre-purchase path drops out of both
    // engines identically (zero effect, filtered by the from-state join).
    "q157_markov_attribution" -> {
      val chans = Seq("click", "error", "signup", "view")
      val froms = "START" +: chans
      val targets = Seq("CONV", "NULL") ++ chans // ASCII-sorted
      def pcol(f: String, t: String) = s"p_${f}_$t"
      def vcol(st: String) = s"v_$st"
      val mcols = (for (f <- froms; t <- targets) yield
        s"MAX(CASE WHEN f = '$f' AND t = '$t' THEN pr END) AS ${pcol(f, t)}")
        .mkString(",\n         |    ")
      def step(f: String): String = targets.map {
        case "CONV" => s"COALESCE(m.${pcol(f, "CONV")}, 0.0) * 1.0"
        case "NULL" => s"COALESCE(m.${pcol(f, "NULL")}, 0.0) * 0.0"
        case t      => s"COALESCE(m.${pcol(f, t)}, 0.0) * i.${vcol(t)}"
      }.mkString("0.0 + ", " + ", s" AS ${vcol(f)}")
      val rounds = (1 to MarkovIters).map { r =>
        val exprs = froms.map(step).mkString(",\n         |  ")
        s"""it$r AS MATERIALIZED (
           |  SELECT i.rm,
           |  $exprs
           |  FROM it${r - 1} i JOIN m ON m.rm = i.rm)""".stripMargin
      }.mkString(",\n         |")
      val effTot = chans
        .map(c => s"COALESCE(MAX(CASE WHEN channel = '$c' THEN e END), 0.0)")
        .mkString("0.0 + ", " + ", "")
      s"""WITH g AS (
         |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
         |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
         |  FROM events),
         |x AS (
         |  SELECT user_id, event_id, event_type, ms,
         |    CAST(SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms >= $SessionGapMs THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ms, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq
         |  FROM g),
         |p AS (
         |  SELECT user_id, sess_seq, list(event_type ORDER BY ms, event_id) AS path
         |  FROM x GROUP BY user_id, sess_seq),
         |st AS (
         |  SELECT CASE WHEN list_position(path, 'purchase') > 0
         |    THEN ['START'] || path[1:list_position(path, 'purchase') - 1] || ['CONV']
         |    ELSE ['START'] || path || ['NULL'] END AS states
         |  FROM p),
         |tr AS (
         |  SELECT unnest([states[i] || '->' || states[i + 1]
         |                 for i in range(1, len(states))]) AS e
         |  FROM st),
         |tc AS MATERIALIZED (
         |  SELECT split_part(e, '->', 1) AS from_state,
         |         split_part(e, '->', 2) AS to_state, COUNT(*) AS n
         |  FROM tr GROUP BY 1, 2),
         |variants AS (SELECT unnest(['NONE', 'click', 'error', 'signup',
         |                            'view']) AS rm),
         |red AS MATERIALIZED (
         |  SELECT v.rm, from_state AS f,
         |    CASE WHEN to_state = v.rm THEN 'NULL' ELSE to_state END AS t,
         |    CAST(SUM(n) AS BIGINT) AS n
         |  FROM tc CROSS JOIN variants v GROUP BY 1, 2, 3),
         |tot AS (SELECT rm, f, CAST(SUM(n) AS BIGINT) AS tn
         |        FROM red GROUP BY 1, 2),
         |m AS MATERIALIZED (
         |  SELECT q.rm,
         |    $mcols
         |  FROM (SELECT red.rm, red.f, red.t,
         |          CAST(red.n AS DOUBLE) / CAST(tot.tn AS DOUBLE) AS pr
         |        FROM red JOIN tot ON tot.rm = red.rm AND tot.f = red.f) q
         |  GROUP BY q.rm),
         |it0 AS (SELECT rm, ${froms.map(f => s"0.0 AS ${vcol(f)}").mkString(", ")}
         |        FROM variants),
         |$rounds,
         |fin AS MATERIALIZED (SELECT rm, v_START FROM it$MarkovIters),
         |bs AS (SELECT v_START AS b FROM fin WHERE rm = 'NONE'),
         |present AS (SELECT DISTINCT from_state AS c FROM tc
         |            WHERE from_state <> 'START'),
         |eff AS MATERIALIZED (
         |  SELECT p2.c AS channel,
         |    GREATEST(0.0, (bs.b - fin.v_START) / bs.b) AS e, bs.b AS b
         |  FROM fin JOIN present p2 ON fin.rm = p2.c CROSS JOIN bs),
         |te AS (SELECT $effTot AS te FROM eff)
         |SELECT channel, e + 0.0 AS removal_effect,
         |  (CASE WHEN te.te > 0 THEN e / te.te ELSE 0.0 END) + 0.0 AS credit,
         |  b + 0.0 AS base_conv_rate
         |FROM eff CROSS JOIN te ORDER BY channel""".stripMargin
    },

    // Identical exact-integer moments; the z expression replays the same
    // tree from the same four BIGINTs.
    "q155_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 3
        |         THEN 1 ELSE 0 END AS converted,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
        |         THEN 'A' ELSE 'B' END AS arm
        |  FROM events GROUP BY user_id),
        |arms AS (
        |  SELECT arm, COUNT(*) AS n_users,
        |    CAST(SUM(converted) AS BIGINT) AS n_converted
        |  FROM u GROUP BY arm),
        |a AS (SELECT n_users AS n_a, n_converted AS c_a FROM arms WHERE arm = 'A'),
        |b AS (SELECT n_users AS n_b, n_converted AS c_b FROM arms WHERE arm = 'B')
        |SELECT n_a, c_a, n_b, c_b,
        |  ROUND(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
        |  ROUND(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
        |  CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
        |    ROUND((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b) /
        |      SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)) *
        |           (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)) *
        |           (1.0 / n_a + 1.0 / n_b)), 6) + 0.0
        |  END AS z_score
        |FROM a CROSS JOIN b""".stripMargin,

    // Same pair CTEs as q144; the decay share replays the identical
    // exp/normalize tree, one ROUND at the end.
    "q154_time_decay_attribution" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms,
         |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
         |  FROM events),
         |x AS (
         |  SELECT user_id, event_id, event_type, value, ms,
         |    CAST(SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms >= $SessionGapMs THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ms, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq
         |  FROM g),
         |p AS (SELECT user_id, sess_seq, ms AS pms, event_id AS pid, value
         |      FROM x WHERE event_type = 'purchase'),
         |t AS (SELECT user_id, sess_seq, ms AS tms, event_id AS tid, event_type
         |      FROM x WHERE event_type <> 'purchase'),
         |pr AS (
         |  SELECT p.user_id, p.sess_seq, p.pms, p.pid, p.value, t.tms, t.tid, t.event_type,
         |    exp(CAST(t.tms - p.pms AS DOUBLE) / $DecayTauMs) AS w
         |  FROM p JOIN t USING (user_id, sess_seq)
         |  WHERE t.tms < p.pms OR (t.tms = p.pms AND t.tid < p.pid)),
         |a AS (
         |  SELECT *, SUM(w) OVER (PARTITION BY user_id, sess_seq, pid) AS sw
         |  FROM pr),
         |m AS (
         |  SELECT event_type,
         |    ROUND(SUM(value * w / sw), 6) + 0.0 AS decayed_rev,
         |    COUNT(DISTINCT (user_id, sess_seq, pid)) AS n_conversions
         |  FROM a GROUP BY event_type),
         |d AS (
         |  SELECT '(direct)' AS event_type,
         |    ROUND(SUM(p.value), 6) + 0.0 AS decayed_rev, COUNT(*) AS n_conversions
         |  FROM p LEFT JOIN (SELECT DISTINCT user_id, sess_seq, pid FROM pr) u
         |    ON p.user_id = u.user_id AND p.sess_seq = u.sess_seq AND p.pid = u.pid
         |  WHERE u.pid IS NULL
         |  HAVING COUNT(*) > 0)
         |SELECT * FROM m UNION ALL SELECT * FROM d ORDER BY event_type""".stripMargin,

    // quantile_cont matches Spark's exact interpolated percentile; the
    // single ROUND on each edge keeps the clip DECISIONS identical, and
    // the clipped/raw means are plain double averages rounded once (q36's
    // float-data policy).
    "q152_winsorized_stats" ->
      """WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |ed AS (
        |  SELECT event_type, ROUND(quantile_cont(value, 0.01), 6) AS lo,
        |         ROUND(quantile_cont(value, 0.99), 6) AS hi
        |  FROM e GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  ROUND(AVG(CASE WHEN value < lo THEN lo WHEN value > hi THEN hi
        |            ELSE value END), 6) AS winsorized_mean,
        |  ROUND(AVG(value), 6) AS raw_mean
        |FROM e JOIN ed USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q149_daily_type_map" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    // Octets decoded with the q141 strpos recipe (two hex digits each);
    // the ip-int Horner, the RFC-1918 predicate and the /16 label are
    // the identical integer/string expressions on both sides.
    "q190_inet_rollup" -> {
      def oct(i: Int) =
        s"((strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * 16 + " +
          s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1))"
      s"""WITH h AS (
         |  SELECT user_id, md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
         |oc AS (
         |  SELECT user_id, ${oct(1)} AS a, ${oct(3)} AS b,
         |    ${oct(5)} AS c, ${oct(7)} AS d
         |  FROM h),
         |p AS (
         |  SELECT user_id,
         |    ((a * 256 + b) * 256 + c) * 256 + d AS ip_int,
         |    CAST(a AS VARCHAR) || '.' || CAST(b AS VARCHAR) || '.0.0/16'
         |      AS subnet_16,
         |    (a = 10 OR (a = 172 AND b BETWEEN 16 AND 31)
         |      OR (a = 192 AND b = 168)) AS is_private
         |  FROM oc)
         |SELECT subnet_16, is_private, COUNT(*) AS n_events,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  CAST(MIN(ip_int) AS BIGINT) AS lo_ip,
         |  CAST(MAX(ip_int) AS BIGINT) AS hi_ip
         |FROM p GROUP BY subnet_16, is_private
         |ORDER BY n_events DESC, subnet_16 LIMIT 50""".stripMargin
    },

    // Selection-not-aggregation: the output price is an existing double;
    // the reach-half rule is the exact-integer 2·cum ≥ total. The
    // double→BIGINT quantity cast is safe: quantities are integral.
    "q147_weighted_median_price" ->
      """WITH r AS (
        |  SELECT n.n_name, l.l_extendedprice AS price,
        |    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS pw
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY n.n_name, l.l_extendedprice),
        |t AS (SELECT n_name, CAST(SUM(pw) AS BIGINT) AS tw, COUNT(*) AS n_prices
        |      FROM r GROUP BY n_name),
        |c AS (SELECT n_name, price, pw,
        |        CAST(SUM(pw) OVER (PARTITION BY n_name ORDER BY price
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM r)
        |SELECT c.n_name, t.n_prices, t.tw AS total_weight,
        |  MIN(c.price) AS weighted_median_price
        |FROM c JOIN t USING (n_name)
        |WHERE c.cum * 2 >= t.tw
        |GROUP BY c.n_name, t.n_prices, t.tw
        |ORDER BY c.n_name""".stripMargin
  )
}
