package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + determinism over the whole registered surface at sf0.001. */
class QueriesSpec extends AnyFunSuite with SparkSuite {

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs at sf0.001 and every oracle key is registered") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed")
    }
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracleSql keys without a query: $unknown")
    // the registry is a ++ of per-module maps — a key collision would
    // silently drop a query
    val moduleSizes = Seq(graft.ops.CoreQueries.queries, graft.ops.DedupQueries.queries,
      graft.ops.SimilarityQueries.queries, graft.ops.SimilarityQueries.extraQueries,
      graft.ops.TextQueries.queries, graft.ops.MultimodalQueries.queries,
      graft.ops.CurationQueries.queries, graft.ops.StatsQueries.queries,
      graft.ops.StreamingQueries.queries).map(_.size).sum
    assert(SparkEntry.queries.size === moduleSizes, "query name collision between modules")
  }

  test("selected: every query sorted, a CSV subset, and unknown names fail by name") {
    val all = SparkEntry.selected(None).map(_._1)
    assert(all.size === 288)
    assert(all === SparkEntry.queries.keys.toSeq.sorted)
    val subset = SparkEntry.selected(Some("q31_neardup_jaccard,q01_pricing_summary")).map(_._1)
    assert(subset === Seq("q01_pricing_summary", "q31_neardup_jaccard"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selected(Some("q01_pricing_summary,q999_typo"))
    }
    assert(e.getMessage.contains("q999_typo"))
    assert(!e.getMessage.contains("q01_pricing_summary"))
  }

  test("BPE merges equal an independent in-memory reference trainer (exhaustive)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Independent reference: collect the word histogram and run classic
    // BPE (position-wise pair counts incl. overlaps; leftmost-first
    // non-overlapping replace; ties count desc then pair lexicographic).
    val hist = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull)
      .select(explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("wc"))
      .as[(String, Long)].collect()
    var words: Seq[(Vector[String], Long)] =
      hist.map { case (w, c) => (w.map(_.toString).toVector :+ "</w>", c) }.toSeq
    val want = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    for (r <- 1 to 10) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        syms.indices.dropRight(1).foreach { i =>
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
        }
      }
      if (counts.nonEmpty) {
        val ((l, rr), cnt) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        want += ((r.toLong, l, rr, cnt))
        words = words.map { case (syms, c) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
              out += l + rr; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toVector, c)
        }
      }
    }
    val got = graft.ops.TextQueries.queries("q135_bpe_merges")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(got.toSeq === want.toList, "trained merges diverge from reference BPE")
    assert(got.length === 10, "fixture should sustain 10 merge rounds")
  }

  test("q145 BPE tokenization equals a driver-side reference apply (exhaustive)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val merges = graft.ops.TextQueries.queries("q135_bpe_merges")(spark, sf0001)
      .collect().map(r => (r.getString(1), r.getString(2)))
    def applyBpe(w: String): Int = {
      var syms: Seq[String] = w.map(_.toString) :+ "</w>"
      merges.foreach { case (l, r) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toSeq
      }
      syms.length
    }
    val want = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, text) =>
        val ws = text.toLowerCase.split(" ", -1).filter(_.nonEmpty)
        id -> ((ws.length.toLong, ws.map(w => applyBpe(w).toLong).sum))
      }.toMap
    val got = SparkEntry.queries("q145_bpe_tokenize")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (id, (nws, nbpe)) =>
      assert(got(id) === ((nws, nbpe)), s"doc $id: got ${got(id)} want ($nws, $nbpe)")
    }
    // Merges strictly compress: fewer units than raw chars+markers.
    val rawUnits = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (_, t) =>
        t.toLowerCase.split(" ", -1).filter(_.nonEmpty).map(_.length + 1L).sum }.sum
    assert(got.values.map(_._2).sum < rawUnits, "BPE merges did not compress")
  }

  test("approx percentiles track the exact ones within sketch tolerance") {
    def byType(name: String) =
      SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toMap
    val exact = byType("q26_value_percentiles")
    val approx = byType("q58_approx_value_percentiles")
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (t, (e25, e50, e90)) =>
      val (a25, a50, a90) = approx(t)
      // value domain is ~[0, 500]; 1/10000 accuracy on ~200-row fixture
      // groups means the sketch returns an actual sample near the rank —
      // allow a loose absolute drift bound.
      Seq((e25, a25), (e50, a50), (e90, a90)).foreach { case (e, a) =>
        assert(math.abs(e - a) <= 25.0, s"$t: exact=$e approx=$a")
      }
    }
  }

  test("HLL approximate distinct counts stay within relative-error bounds") {
    val exact = SparkEntry.queries("q19_distinct_users_by_type")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val approx = SparkEntry.queries("q19b_approx_users_by_type")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (t, e) =>
      val a = approx(t)
      // rsd = 0.01; allow 5 sigma of slack
      assert(math.abs(a - e).toDouble / e <= 0.05, s"$t: exact=$e approx=$a")
    }
  }

  test("redactPii scrubs emails, IPv4s, and phone shapes but not prose") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      ("mail me at jane.doe+spam@example.co.uk today",
       "mail me at <EMAIL> today"),
      ("server 10.0.255.7 timed out, retry 192.168.1.1",
       "server <IP> timed out, retry <IP>"),
      ("call 555-867-5309 or +1 (212) 555-0199 now",
       "call <PHONE> or <PHONE> now"),
      ("a@b.io on 127.0.0.1 via 800-555-1212",
       "<EMAIL> on <IP> via <PHONE>"),
      // non-PII look-alikes must survive: version strings, years, ids
      ("version 1.2.3 built in 2024, order 12345678",
       "version 1.2.3 built in 2024, order 12345678"))
    val got = cases.toDF("text", "want")
      .select(graft.ops.TextQueries.redactPii(col("text")).as("got"), $"want")
      .collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("q117 bucketed prefix sum equals the single-window cumulative and fills every budget") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q117_token_budget_sample")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // naive re-statement: ONE window per source over the full hash order
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .withColumn("toks", coalesce(size(split(col("text"), " ")).cast("long"), lit(0L)))
      .withColumn("h", md5(concat(col("doc_id").cast("string"), lit(":tb"))))
    val budget = d.groupBy(col("source"))
      .agg(ceil(sum(col("toks")) * lit(0.2)).cast("long").as("budget"))
    val want = d
      .withColumn("cum", sum(col("toks")).over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
      .join(budget, "source")
      .filter(col("cum") - col("toks") < col("budget"))
      .select(col("source"), col("doc_id"), col("toks"), col("cum"), col("budget"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === want)
    // every source's admitted set reaches its budget, and dropping its
    // last admission would fall below it (minimal covering prefix)
    got.groupBy(_._1).foreach { case (src, rows) =>
      val b = rows.head._5
      val last = rows.maxBy(_._4)
      assert(last._4 >= b, s"$src: budget unfilled")
      assert(last._4 - last._3 < b, s"$src: last admission not needed")
    }
  }

  test("q119 coverage curve is well-formed (monotone, bounded, exact at 100%)") {
    val rows = SparkEntry.queries("q119_vocab_coverage")(spark, sf0001)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(0.5, 0.75, 0.9, 0.95, 0.99))
    // vocab_size nondecreasing in threshold, ≤ total vocab; the covered
    // fraction at the cut is ≥ its threshold (minimal covering prefix)
    rows.sliding(2).foreach { case Array((_, v1, _, _), (_, v2, _, _)) =>
      assert(v1 <= v2)
    }
    rows.foreach { case (th, vs, nv, frac) =>
      assert(vs >= 1L && vs <= nv)
      assert(frac >= th && frac <= 1.0)
    }
  }

  test("q120 KL is nonnegative and zero only for a source matching the corpus") {
    val rows = SparkEntry.queries("q120_source_kl")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val kl = r.getDouble(4)
      // Gibbs: KL ≥ 0 up to the output rounding grain
      assert(kl >= -1e-6, s"${r.getString(0)}: negative KL $kl")
      // cross-entropy ≥ source entropy ⇒ ce ≥ ce − kl ≥ 0
      assert(r.getDouble(3) >= kl - 1e-6)
    }
  }

  test("q146 KS and q147 weighted median equal exhaustive driver recomputes") {
    import org.apache.spark.sql.functions.col
    // KS: per type vs rest, exact-integer numerator at pooled points.
    def ub(sorted: Array[Double], v: Double): Long = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) <= v) lo = mid + 1 else hi = mid
      }
      lo.toLong
    }
    val evs = spark.read.parquet(s"$sf0001/events.parquet")
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val gotKs = SparkEntry.queries("q146_ks_drift")(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    evs.map(_._1).distinct.foreach { t =>
      val a = evs.filter(_._1 == t).map(_._2).sorted
      val b = evs.filter(_._1 != t).map(_._2).sorted
      val pool = (a ++ b).distinct.sorted
      var dnum = 0L
      pool.foreach { v =>
        dnum = math.max(dnum,
          math.abs(ub(a, v) * b.length - ub(b, v) * a.length))
      }
      val want = (a.length.toLong, b.length.toLong, dnum,
        dnum.toDouble / (a.length.toLong * b.length))
      assert(gotKs(t) === want, s"KS for $t: got ${gotKs(t)} want $want")
    }
    // Weighted median: reach-half over per-nation (price, Σquantity).
    val supNat = {
      val nat = spark.read.parquet(s"$sf0001/nation.parquet")
        .select(col("n_nationkey").cast("long"), col("n_name")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      spark.read.parquet(s"$sf0001/supplier.parquet")
        .select(col("s_suppkey").cast("long"), col("s_nationkey").cast("long")).collect()
        .map(r => r.getLong(0) -> nat(r.getLong(1))).toMap
    }
    val byNation = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_quantity")).collect()
      .map(r => (supNat(r.getLong(0)), r.getDouble(1), r.getDouble(2).toLong))
      .groupBy(_._1)
    val gotWm = SparkEntry.queries("q147_weighted_median_price")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    byNation.foreach { case (nation, rows) =>
      val pw = rows.groupBy(_._2).map { case (p, rs) => p -> rs.map(_._3).sum }
        .toArray.sortBy(_._1)
      val tw = pw.map(_._2).sum
      var cum = 0L
      val med = pw.find { case (_, w) => cum += w; cum * 2 >= tw }.get._1
      assert(gotWm(nation) === ((pw.length.toLong, tw, med)),
        s"$nation: got ${gotWm(nation)} want (${pw.length}, $tw, $med)")
    }
    assert(gotWm.keySet === byNation.keySet)
  }

  test("q156/q157 Markov attribution equals an independent Gaussian-solve recompute") {
    import org.apache.spark.sql.functions.col
    import scala.collection.mutable
    // Independent sessionization + absorbing transition counts.
    val evs = graft.ops.Tables.events(spark, sf0001)
      .select(col("user_id"), col("ms"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val counts = mutable.Map.empty[(String, String), Long]
    evs.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      val sessions = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[String]]
      var prev = Long.MinValue
      var first = true
      sorted.foreach { case (_, ms, _, t) =>
        if (first || ms - prev >= 1800000L) sessions += mutable.ArrayBuffer(t)
        else sessions.last += t
        prev = ms; first = false
      }
      sessions.foreach { sess =>
        val path = sess.toSeq
        val idx = path.indexOf("purchase")
        val (pre, term) = if (idx >= 0) (path.take(idx), "CONV") else (path, "NULL")
        (("START" +: pre) :+ term).sliding(2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + 1
        }
      }
    }
    val gotCounts = SparkEntry.queries("q156_session_transitions")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(gotCounts === counts.toMap, "transition counts diverge")
    // Absorbing-chain conversion probability by Gaussian elimination —
    // a different solver than the query's fixed-point iteration.
    def solve(remove: Option[String]): Double = {
      val red = counts.toSeq
        .map { case ((f, t), n) => ((f, if (remove.contains(t)) "NULL" else t), n) }
        .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }
      val froms = red.keys.map(_._1).toSeq.distinct.sorted
      val idx = froms.zipWithIndex.toMap
      val m = froms.size
      val a = Array.tabulate(m, m)((i, j) => if (i == j) 1.0 else 0.0)
      val b = Array.ofDim[Double](m)
      val totals = froms.map(f => f -> red.collect { case ((`f`, _), n) => n }.sum).toMap
      red.foreach { case ((f, t), n) =>
        val p = n.toDouble / totals(f)
        if (t == "CONV") b(idx(f)) += p
        else idx.get(t).foreach(j => a(idx(f))(j) -= p)
      }
      for (c <- 0 until m) {
        val piv = (c until m).maxBy(r => math.abs(a(r)(c)))
        val (ta, tb) = (a(c), b(c)); a(c) = a(piv); a(piv) = ta; b(c) = b(piv); b(piv) = tb
        for (r <- 0 until m if r != c && a(r)(c) != 0.0) {
          val f = a(r)(c) / a(c)(c)
          for (k <- c until m) a(r)(k) -= f * a(c)(k)
          b(r) -= f * b(c)
        }
      }
      b(idx("START")) / a(idx("START"))(idx("START"))
    }
    val base = solve(None)
    val chans = counts.keys.map(_._1).filter(_ != "START").toSeq.distinct.sorted
    val eff = chans.map(c => c -> math.max(0.0, (base - solve(Some(c))) / base))
    val tot = eff.map(_._2).sum
    val got = SparkEntry.queries("q157_markov_attribution")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet === chans.toSet)
    eff.foreach { case (c, e) =>
      val (ge, gc, gb) = got(c)
      assert(math.abs(ge - e) < 2e-6, s"$c effect $ge vs $e")
      assert(math.abs(gc - (if (tot > 0) e / tot else 0.0)) < 2e-6, s"$c credit")
      assert(math.abs(gb - base) < 2e-6, s"base $gb vs $base")
    }
    // Credits are a distribution.
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-4)
  }

  test("q155 A/A-shaped hash split reads as no effect") {
    // Both arms draw from the same population, so the readout must not
    // claim significance — precisely the broken-randomizer check this
    // query exists for.
    Seq(sf0001, "/root/testdata/sf0.01").foreach { dir =>
      val r = SparkEntry.queries("q155_ab_test")(spark, dir).collect()(0)
      val (na, ca, nb, cb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(na > 0 && nb > 0 && ca <= na && cb <= nb)
      if (!r.isNullAt(6)) {
        val z = r.getDouble(6)
        assert(math.abs(z) < 4.0, s"$dir: A/A split produced |z| = $z")
      }
    }
  }

  test("q151 binned KS lower-bounds q146's exact KS within the bin-share error") {
    val exact = SparkEntry.queries("q146_ks_drift")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    val binned = SparkEntry.queries("q151_ks_binned")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(binned.keySet === exact.keySet)
    binned.foreach { case (t, b) =>
      val e = exact(t)
      // Coarsening can only lose mass; with ten equi-depth bins it loses
      // at most roughly the largest pooled bin share.
      assert(b >= 0.0 && b <= e + 1e-12, s"$t: binned $b above exact $e")
      assert(e - b <= 0.2, s"$t: binned $b too far below exact $e")
    }
  }

  test("q144 attribution books balance under every model") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q144_revenue_attribution")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val total = spark.read.parquet(s"$sf0001/events.parquet")
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast("decimal(18,4)"))).collect()(0)
      .getDecimal(0).doubleValue()
    val ft = rows.map(_.getDouble(1)).sum
    val lt = rows.map(_.getDouble(2)).sum
    val lin = rows.map(_.getDouble(3)).sum
    // Every purchase's value is credited exactly once per model.
    assert(math.abs(ft - total) < 1e-6, s"first-touch $ft != $total")
    assert(math.abs(lt - total) < 1e-6, s"last-touch $lt != $total")
    // Linear credits are per-type rounded at 1e-6; rows bound the drift.
    assert(math.abs(lin - total) < 1e-4, s"linear $lin != $total")
    // purchase itself never receives touch credit
    assert(!rows.exists(_.getString(0) == "purchase"))
    // The time-decay model's books balance too: normalized shares sum to
    // one per purchase, so total credited revenue equals total purchases.
    val decayed = SparkEntry.queries("q154_time_decay_attribution")(spark, sf0001)
      .collect()
    val dsum = decayed.map(_.getDouble(1)).sum
    assert(math.abs(dsum - total) < 1e-4, s"time-decay $dsum != $total")
    assert(!decayed.exists(_.getString(0) == "purchase"))
  }

  test("q143 coverage equals an exhaustive driver-side recomputation") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q143_dup_span_coverage")(spark, sf0001).collect()
    out.foreach { r =>
      val (n, c, f) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(c >= 0 && c <= n, s"doc ${r.getLong(0)}: covered $c of $n")
      assert(f >= 0.0 && f <= 1.0)
    }
    // Exhaustive driver-side recomputation (fixture scale): positioned
    // 5-grams, corpus df, covered-position union — independent of both
    // the Spark plan and the DuckDB oracle.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1)).toMap
    val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    for ((id, ws) <- docs; i <- 0 to ws.length - 5)
      gramDocs.getOrElseUpdate(ws.slice(i, i + 5).mkString(" "),
        scala.collection.mutable.Set.empty) += id
    val byId = out.map(r => r.getLong(0) -> r).toMap
    var anyCovered = false
    for ((id, ws) <- docs) {
      val cov = scala.collection.mutable.Set.empty[Int]
      for (i <- 0 to ws.length - 5
           if gramDocs(ws.slice(i, i + 5).mkString(" ")).size >= 2)
        cov ++= (i until i + 5)
      assert(byId(id).getLong(1) == ws.length, s"doc $id n_tokens")
      assert(byId(id).getLong(2) == cov.size,
        s"doc $id covered ${byId(id).getLong(2)} != recomputed ${cov.size}")
      if (cov.nonEmpty) anyCovered = true
    }
    assert(anyCovered, "fixture has no duplicated spans at all — gate is vacuous")
  }

  test("q141 DSIR weights separate the target slice from the rest") {
    import org.apache.spark.sql.functions.col
    val w = SparkEntry.queries("q141_dsir_weights")(spark, sf0001)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"))
    // joined columns: doc_id, n_grams, log_weight, lang
    val byLang = w.join(docs, "doc_id").collect()
      .groupBy(_.getString(3))
      .map { case (lang, rs) =>
        lang -> rs.map(_.getDouble(2)).sum / rs.length
      }
    // Every document scored.
    assert(byLang.values.nonEmpty && w.count() == docs.count())
    // The importance weight must rank the target language strictly above
    // every non-target language on average — the property DSIR's
    // resampling step depends on.
    val en = byLang("en")
    byLang.filterNot(_._1 == "en").foreach { case (lang, avg) =>
      assert(en > avg + 0.1, s"target en ($en) not separated from $lang ($avg)")
    }
  }

  test("q122 Zipf slopes are negative on natural-ish fixture text") {
    val rows = SparkEntry.queries("q122_zipf_slope")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 2L)
      assert(r.getDouble(2) < 0.0, s"${r.getString(0)}: non-negative Zipf slope")
    }
  }

  test("q273 quantile normalization: ranks valid, mapping monotone, values from the pooled set") {
    import spark.implicits._
    val rows = SparkEntry.queries("q273_quantile_normalize")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    val n = rows.length.toLong
    assert(n > 0)
    val pooled = rows.map(_._3).sorted
    rows.groupBy(_._2).foreach { case (src, g) =>
      // within-source ranks are a permutation of 1..n_src
      assert(g.map(_._4).sorted.toSeq === (1L to g.length).toSeq, src)
      // normalization preserves within-source order (same tie-break key)
      val byRank = g.sortBy(_._4)
      assert(byRank.map(_._6).toSeq === byRank.map(_._6).sorted.toSeq, src)
      // top-ranked doc of every source maps to the pooled maximum
      assert(byRank.last._5 === n, src)
      assert(byRank.last._6 === pooled.last, src)
    }
    // every normalized value is an actual pooled score at its k
    rows.foreach { case (_, _, _, _, k, nq) =>
      assert(nq === pooled((k - 1).toInt))
    }
  }

  test("q274 IPF mixture: both marginals hit their targets after the fitted rounds") {
    import spark.implicits._
    val rows = SparkEntry.queries("q274_ipf_mixture")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val total = rows.map(_._3).sum.toDouble
    val srcs = rows.map(_._1).distinct
    val rowTarget = total / srcs.length
    // row marginal: every source's fitted mass ≈ the uniform share
    rows.groupBy(_._1).foreach { case (src, g) =>
      val fitted = g.map(_._4).sum
      assert(math.abs(fitted - rowTarget) / rowTarget < 1e-3,
        s"$src fitted $fitted vs target $rowTarget")
    }
    // column marginal: every bucket's fitted mass ≈ its original mass
    rows.groupBy(_._2).foreach { case (b, g) =>
      val orig = g.map(_._3).sum.toDouble
      val fitted = g.map(_._4).sum
      assert(math.abs(fitted - orig) / orig < 1e-3,
        s"bucket $b fitted $fitted vs original $orig")
    }
    // weights are the fitted/original ratios, all positive
    rows.foreach { case (src, b, m, f, w) =>
      assert(w > 0.0, s"$src/$b")
      assert(math.abs(w - f / m) < 1e-5, s"$src/$b weight")
    }
  }

  test("q272 gopher repetition matches an exhaustive driver recompute") {
    import spark.implicits._
    val got = SparkEntry.queries("q272_gopher_repetition")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(docs.nonEmpty && got.size === docs.length)
    docs.foreach { case (id, text) =>
      val ws = text.toLowerCase.split(" ", -1)
      val wchars = ws.map(_.length.toLong).sum
      def grams(n: Int): Seq[(String, Int)] =
        ws.sliding(n).zipWithIndex.map { case (g, p) => (g.mkString(" "), p) }.toSeq
      def topShare(n: Int): Double =
        if (ws.length < n) 0.0 else {
          val counts = grams(n).groupBy(_._1).view.mapValues(_.size).toSeq
          val (g, c) = counts.minBy { case (gr, cn) => (-cn, gr) }
          (c.toLong * (g.length - (n - 1))).toDouble / wchars.toDouble
        }
      def dupFrac(n: Int): Double =
        if (ws.length < n) 0.0 else {
          val occ = grams(n)
          val dup = occ.groupBy(_._1).filter(_._2.size >= 2).keySet
          val covered = occ.filter(o => dup(o._1))
            .flatMap { case (_, p) => p until (p + n) }.toSet
          covered.toSeq.map(p => ws(p).length.toLong).sum.toDouble / wchars.toDouble
        }
      val (gw, t2, t3, t4, d5, d6) = got(id)
      assert(gw === wchars, s"doc $id wchars")
      assert(t2 === topShare(2), s"doc $id top2")
      assert(t3 === topShare(3), s"doc $id top3")
      assert(t4 === topShare(4), s"doc $id top4")
      assert(d5 === dupFrac(5), s"doc $id dup5")
      assert(d6 === dupFrac(6), s"doc $id dup6")
    }
  }

  test("q268 vocab richness matches an exhaustive driver recompute") {
    import spark.implicits._
    val got = SparkEntry.queries("q268_vocab_richness")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull)
      .select($"source", $"text").as[(String, String)].collect()
    val exp = docs.groupBy(_._1).map { case (src, ds) =>
      val counts = ds.flatMap(_._2.toLowerCase.split(" ", -1))
        .filter(_.nonEmpty).groupBy(identity).map(_._2.length.toLong)
      val n = counts.sum; val v = counts.size.toLong
      val n1 = counts.count(_ == 1L).toLong
      val n2 = counts.count(_ == 2L).toLong
      src -> (n, v, n1, n2)
    }
    assert(got.keySet === exp.keySet)
    exp.foreach { case (src, (n, v, n1, n2)) =>
      val (gn, gv, g1, g2, p0, chao1) = got(src)
      assert((gn, gv, g1, g2) === ((n, v, n1, n2)), src)
      assert(math.abs(p0 - n1.toDouble / n) < 1e-12, src)
      val c = v.toDouble + n1.toDouble * (n1 - 1).toDouble / (2.0 * (n2 + 1))
      assert(math.abs(chao1 - c) < 1e-9, src)
      // estimator sanity: richness floor at least the observed vocab,
      // unseen mass a proper fraction
      assert(chao1 >= v.toDouble && p0 >= 0.0 && p0 < 1.0, src)
    }
  }

  test("q269 Heaps fit matches an exhaustive driver recompute") {
    import spark.implicits._
    val rows = SparkEntry.queries("q269_heaps_fit")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq === (1L to 10L))
    // types only accumulate along the reading order
    rows.sliding(2).foreach { case Array(a, b) => assert(a._3 <= b._3) }
    // independent replay: bigram stream in (doc_id, pos) order, first
    // occurrences, decile checkpoints, OLS on (ln N, ln V)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val stream = docs.flatMap { case (_, text) =>
      val ws = text.toLowerCase.split(" ", -1).filter(_.nonEmpty)
      ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" }
    }
    val n = stream.length.toLong
    val firstAt = scala.collection.mutable.HashMap.empty[String, Long]
    stream.zipWithIndex.foreach { case (b, i) =>
      if (!firstAt.contains(b)) firstAt(b) = i + 1L
    }
    val exp = (1 to 10).map { k =>
      val nk = n * k / 10
      (k.toLong, nk, firstAt.valuesIterator.count(_ <= nk).toLong)
    }
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq === exp)
    val x = exp.map(e => math.log(e._2.toDouble))
    val y = exp.map(e => math.log(e._3.toDouble))
    val (sx, sy) = (x.sum, y.sum)
    val sxy = x.zip(y).map { case (a, b) => a * b }.sum
    val sxx = x.map(a => a * a).sum
    val beta = (10 * sxy - sx * sy) / (10 * sxx - sx * sx)
    assert(math.abs(rows.head._4 - beta) < 1e-5)
    assert(math.abs(rows.head._5 - (sy - beta * sx) / 10) < 1e-5)
    assert(beta >= 0.0 && beta < 1.0, s"Heaps exponent out of range: $beta")
  }

  test("q124 BM25 rankings are well-formed and term-sensitive") {
    val rows = SparkEntry.queries("q124_bm25_topk")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // ranks 1..k per query with nonincreasing scores
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to rs.length).toSeq, s"query $qid ranks")
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 >= b._4, s"query $qid: score increases with rank")
      }
      assert(rs.forall(_._4 > 0.0))
    }
    // the rare discriminative term dominates: every top doc for the
    // "stream batch dup" query must actually contain one of its terms,
    // and the #1 doc must contain "dup" (idf of a 25-df term towers over
    // the ~400-df terms)
    import spark.implicits._
    import org.apache.spark.sql.functions.lower
    val texts = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", lower($"text").as("t")).as[(Long, String)]
      .collect().toMap
    val q2 = rows.filter(_._1 === 2L).sortBy(_._2)
    assert(q2.nonEmpty)
    val toks1 = texts(q2.head._3).split(" ").toSet
    assert(toks1.contains("dup"), "BM25 #1 for the dup query lacks 'dup'")
  }

  test("q189 RRF fusion matches a full driver replay of both rankers") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lower
    val got = SparkEntry.queries("q189_rrf_hybrid")(spark, sf0001)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5)))))
      .toMap
    // Independent replay: Scala collections, no Catalyst.
    val texts = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", lower($"text").as("t")).as[(Long, String)].collect()
    val toks = texts.map { case (d, t) => d -> t.split(" ").toSeq }
    val dl = toks.map { case (d, ts) => d -> ts.size }.toMap
    val post = toks.flatMap { case (d, ts) => ts.map(tk => (tk, d)) }
      .groupBy(identity).map { case ((tk, d), v) => (tk, d) -> v.size.toLong }
    val df = post.keys.groupBy(_._1).map { case (tk, v) => tk -> v.size.toLong }
    val cf = post.groupBy(_._1._1).map { case (tk, m) => tk -> m.values.sum }
    val (nDocs, sumDl) = (dl.size.toLong, dl.values.map(_.toLong).sum)
    val (vocab, total) = (cf.size.toLong, cf.values.sum)
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val queries = Seq(0 -> Seq("hash", "join"), 1 -> Seq("window", "agg"),
      2 -> Seq("stream", "batch", "dup"), 3 -> Seq("sort", "merge", "join"),
      4 -> Seq("vector", "scan"))
    queries.foreach { case (qid, terms) =>
      val cand = terms.flatMap(tk => post.keys.filter(_._1 == tk).map(_._2)).distinct
      def bm(d: Long): Double = terms.map { tk =>
        post.get((tk, d)).fold(0.0) { tfv =>
          val idf = math.log((nDocs - df(tk) + 0.5) / (df(tk) + 0.5) + 1.0)
          idf * (tfv * 2.2) / (tfv + 1.2 * (1.0 - 0.75 + 0.75 * dl(d) / avgdl))
        }
      }.sum
      def lm(d: Long): Double = terms.map { tk =>
        val p = (cf.getOrElse(tk, 0L) + 1).toDouble / (total + vocab).toDouble
        math.log((post.getOrElse((tk, d), 0L).toDouble + 2000.0 * p) /
          (dl(d).toDouble + 2000.0))
      }.sum
      val poolB = cand.map(d => d -> bm(d)).sortBy { case (d, s) => (-s, d) }
        .take(20).zipWithIndex.map { case ((d, _), i) => d -> (i + 1L) }.toMap
      val poolL = cand.map(d => d -> lm(d)).sortBy { case (d, s) => (-s, d) }
        .take(20).zipWithIndex.map { case ((d, _), i) => d -> (i + 1L) }.toMap
      val fused = (poolB.keySet ++ poolL.keySet).toSeq.map { d =>
        val r = poolB.get(d).fold(0.0)(r => 1.0 / (60 + r)) +
          poolL.get(d).fold(0.0)(r => 1.0 / (60 + r))
        (d, r)
      }.sortBy { case (d, r) => (-r, d) }.take(10)
      fused.zipWithIndex.foreach { case ((d, r), i) =>
        val (gd, gr, grb, grl) = got((qid.toLong, i + 1L))
        assert(gd === d, s"query $qid rank ${i + 1}: got doc $gd, want $d")
        assert(math.abs(gr - r) < 1e-6)
        assert(grb === poolB.get(d) && grl === poolL.get(d))
      }
    }
    // fusion engages: at this scale both 20-deep pools cover every fused
    // top-10 doc, so the real signal is ORDER — the LM ranker must have
    // moved at least one query's fused order off the BM25-alone order
    val reordered = got.toSeq.groupBy(_._1._1).exists { case (_, rows) =>
      val byRk = rows.sortBy(_._1._2).flatMap(_._2._3)
      byRk != byRk.sorted
    }
    assert(reordered, "fused order never deviates from BM25 order")
  }

  test("q190 INET rollup matches a driver recompute of octets, ranges and RFC-1918") {
    import spark.implicits._
    val got = SparkEntry.queries("q190_inet_rollup")(spark, sf0001)
      .collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty && got.length <= 50)
    def md5hex(k: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(k.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val users = spark.read.parquet(s"$sf0001/events.parquet")
      .select($"user_id").as[Long].collect()
    val rows = users.map { u =>
      val hx = md5hex(u)
      val o = (0 until 4).map(i => Integer.parseInt(hx.substring(2 * i, 2 * i + 2), 16))
      val ipInt = o.foldLeft(0L)((acc, x) => acc * 256 + x)
      val priv = o(0) == 10 || (o(0) == 172 && o(1) >= 16 && o(1) <= 31) ||
        (o(0) == 192 && o(1) == 168)
      (s"${o(0)}.${o(1)}.0.0/16", u, ipInt, priv)
    }
    val agg = rows.groupBy(_._1).map { case (sn, rs) =>
      sn -> (rs.head._4, rs.length.toLong, rs.map(_._2).distinct.length.toLong,
        rs.map(_._3).min, rs.map(_._3).max)
    }
    val expTop = agg.toSeq.sortBy { case (sn, v) => (-v._2, sn) }.take(50)
    assert(got.toSeq === expTop)
    // the classification predicate itself, on known literals
    assert(rows.forall { case (_, _, ip, priv) =>
      val a = ip >> 24; val b = (ip >> 16) & 255
      priv === (a == 10 || (a == 172 && b >= 16 && b <= 31) || (a == 192 && b == 168))
    })
  }

  test("q125 bottom-k sample sketch is mergeable and tracks exact percentiles") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = graft.ops.Tables.events(spark, sf0001)
      .filter($"value".isNotNull)
      .select($"event_type", $"event_id", $"value")
      .withColumn("h", md5(concat($"event_id".cast("string"), lit(":qs"))))
    // Mergeability: bottom-k over the union == bottom-k of the two halves'
    // bottom-ks merged — the property that lets per-partition sketches
    // union without rescanning.
    def keys(df: org.apache.spark.sql.DataFrame) =
      graft.plans.GroupTopK(df, Seq($"event_type"), Seq($"h".asc, $"event_id".asc), 256)
        .select($"event_type", $"event_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    val a = ev.filter($"event_id" % 2 === 0)
    val b = ev.filter($"event_id" % 2 =!= 0)
    val ka = graft.plans.GroupTopK(a, Seq($"event_type"), Seq($"h".asc, $"event_id".asc), 256)
    val kb = graft.plans.GroupTopK(b, Seq($"event_type"), Seq($"h".asc, $"event_id".asc), 256)
    assert(keys(ka.union(kb)) === keys(ev), "bottom-k sketch not mergeable")
    // Estimates land near the exact quantiles (±0.1 of CDF at k=256).
    val est = SparkEntry.queries("q125_sample_quantiles")(spark, sf0001)
      .collect().map(r => (r.getString(0), (r.getDouble(2), r.getDouble(3)))).toMap
    val exact = ev.groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("e50"), expr("percentile(value, 0.9)").as("e90"),
        min($"value").as("lo"), max($"value").as("hi"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    for ((t, (e50, e90, lo, hi)) <- exact) {
      val (p50, p90) = est(t)
      val span = hi - lo
      assert(math.abs(p50 - e50) <= 0.15 * span, s"$t p50 off: $p50 vs $e50")
      assert(math.abs(p90 - e90) <= 0.15 * span, s"$t p90 off: $p90 vs $e90")
    }
  }

  test("q126 Lorenz curve is monotone, ends at 1.0, with Gini in [0,1)") {
    val rows = SparkEntry.queries("q126_token_gini")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq === (1L to 10L))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4 && a._2 <= b._2, "Lorenz curve not monotone")
    }
    assert(rows.last._4 === 1.0, "decile 10 must cover all token mass")
    val gini = rows.map(_._5).distinct
    assert(gini.size === 1)
    assert(gini.head >= 0.0 && gini.head < 1.0)
    // Lorenz curve of a concentration-free corpus is the diagonal; real
    // text is above-zero Gini — and every decile's share must be ≤ its
    // population fraction (curve under the diagonal)
    rows.foreach { case (d, _, _, share, _) => assert(share <= d / 10.0 + 1e-9) }
  }

  test("q259 packing: spans tile every document and fill every sequence") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q259_sequence_packing")(spark, sf0001)
    val C = 512L
    // per-document: contributed spans sum to the doc's token count and
    // are contiguous from doc_from 0
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
    val perDoc = rows.groupBy("doc_id")
      .agg(sum("n_tok").as("tok_sum"), min("doc_from").as("f0"))
      .join(docs, "doc_id")
    assert(perDoc.filter(col("tok_sum") =!= col("n_tokens") ||
      col("f0") =!= 0L).count() === 0)
    // per-sequence: every sequence holds exactly C tokens except the last
    val perSeq = rows.groupBy("seq_id").agg(sum("n_tok").as("fill"))
      .orderBy("seq_id").collect()
    perSeq.init.foreach(r => assert(r.getLong(1) === C, s"underfull $r"))
    assert(perSeq.last.getLong(1) <= C && perSeq.last.getLong(1) > 0)
    // sequences are consecutive from 0
    assert(perSeq.map(_.getLong(0)).toSeq === perSeq.indices.map(_.toLong))
  }

  test("q260 curriculum: position is a permutation, source-balanced by rank") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q260_curriculum_interleave")(spark, sf0001)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length).toSeq)
    // within the first full round (positions 1..n_sources), every source
    // appears exactly once — the interleave property
    val nSources = rows.map(_.getString(2)).distinct.length
    val firstRound = rows.take(nSources).map(_.getString(2))
    assert(firstRound.distinct.length === nSources, firstRound.toSeq.toString)
  }

  test("q261 negatives: k per anchor, never the anchor itself, reproducible") {
    val a = SparkEntry.queries("q261_negative_sampling")(spark, sf0001).collect()
    val b = SparkEntry.queries("q261_negative_sampling")(spark, sf0001).collect()
    assert(a.toSeq === b.toSeq, "sampling not deterministic")
    a.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(1)).sorted.toSeq === (0L until 4L).toSeq)
    }
    a.foreach(r => assert(r.getLong(2) !== r.getLong(0), s"self-negative $r"))
  }

  test("q262 FIM: spans partition each document's characters") {
    import org.apache.spark.sql.functions._
    val bad = SparkEntry.queries("q262_fim_split")(spark, sf0001)
      .filter(col("n_prefix") + col("n_middle") + col("n_suffix") =!= col("len")
        || col("n_prefix") < 0 || col("n_middle") < 0 || col("n_suffix") < 0)
    assert(bad.count() === 0)
  }

  test("q263 Kneser-Ney: probabilities sum to 1 per context, scores finite") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q263_kneser_ney")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nll = r.getDouble(2)
      assert(!nll.isNaN && !nll.isInfinite && nll > 0, s"bad score $r")
    }
    // The KN normalization identity: for any context `prev`,
    //   Σ_w p(w|prev) = (c_prev − d·N₁₊(prev,·))/c_prev
    //                 + d·N₁₊(prev,·)/c_prev · Σ_w p_cont(w)  = 1
    // because add-1 continuation mass sums to (n_types + V)/(n_types + V).
    // Recompute it driver-side from the corpus counts for the 3 heaviest
    // contexts over the FULL vocabulary.
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
    val wprev = toks.withColumn("prev", lag(col("tok"), 1).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))))
    val bi = wprev.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("tok")).count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val vocab = toks.select("tok").distinct().collect().map(_.getString(0))
    val nTypes = bi.size.toLong
    val nPrec = bi.keys.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
    val cPrev = bi.toSeq.groupBy(_._1._1).map { case (p, g) => p -> g.map(_._2).sum }
    val nFollow = bi.keys.groupBy(_._1).map { case (p, g) => p -> g.size.toLong }
    val d = 0.75
    for (prev <- cPrev.toSeq.sortBy(-_._2).take(3).map(_._1)) {
      val cp = cPrev(prev).toDouble
      val total = vocab.map { w =>
        val pc = (nPrec.getOrElse(w, 0L) + 1).toDouble / (nTypes + vocab.length)
        bi.get((prev, w)).map(c => (c - d) / cp).getOrElse(0.0) +
          d * nFollow(prev) / cp * pc
      }.sum
      assert(math.abs(total - 1.0) < 1e-9, s"sum p(w|$prev) = $total")
    }
  }

  test("q264 epoch allocation: greedy prefix property and budget bound") {
    val rows = SparkEntry.queries("q264_epoch_allocation")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, toks, _, _, ep, alloc) =>
      assert(ep >= 1 && ep <= 4)
      assert(alloc === ep * toks)
    }
    // epochs are non-increasing along the quality ranking (each round
    // grants a prefix of the same ordering)
    val byRank = rows.sortBy { case (src, _, _, q, _, _, _) => (-q, src) }
    byRank.sliding(2).foreach {
      case Array(hi, lo) => assert(hi._6 >= lo._6, s"${hi._1} < ${lo._1}")
      case _ => ()
    }
    // total allocation never exceeds the budget B = (8·ΣT) div 5
    val t = rows.map(_._3).sum
    assert(rows.map(_._7).sum <= t * 8 / 5)
  }

  test("q265 streaming session rollup equals batch session_window") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q265_streaming_session_rollup")(spark, sf0001)
    val batch = graft.ops.Tables.events(spark, sf0001)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"), col("n"))
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
  }

  test("q266 cluster split: constant within cluster, q52-consistent per doc") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q266_cluster_split")(spark, sf0001)
    // the whole point: one split value per cluster
    assert(rows.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") =!= 1L).count() === 0)
    // doc_split reproduces q52's per-document assignment exactly
    val q52 = SparkEntry.queries("q52_train_val_split")(spark, sf0001)
      .withColumnRenamed("split", "s52")
    assert(rows.join(q52, "doc_id")
      .filter(col("doc_split") =!= col("s52")).count() === 0)
    // and for a cluster's canonical member the two schemes agree (the
    // cluster hash IS the min member's doc hash)
    assert(rows.filter(col("doc_id") === col("cluster_id"))
      .filter(col("split") =!= col("doc_split")).count() === 0)
  }

  test("q267 span surgery: partition invariant and q112-consistent verdicts") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q267_span_surgery")(spark, sf0001)
    assert(rows.filter(col("n_removed") + col("n_kept") =!= col("n_tokens") ||
      col("n_removed") < 0 || col("n_kept") < 0).count() === 0)
    // a document loses tokens iff q112 reports a positive contamination
    // fraction for it (same 5-gram grain, same benchmark split)
    val frac = SparkEntry.queries("q112_contamination_frac")(spark, sf0001)
      .select(col("doc_id"), col("contam_frac"))
    val j = rows.join(frac, "doc_id")
    assert(j.filter(col("contam_frac") > 0 && col("n_removed") === 0).count() === 0)
    assert(j.filter(col("contam_frac") === 0 && col("n_removed") > 0).count() === 0)
    // clean documents keep their text verbatim: digest equals the md5 of
    // the normalized token join
    val clean = rows.filter(col("n_removed") === 0)
      .join(spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id")
      .withColumn("expect",
        md5(array_join(split(lower(col("text")), " "), " ")))
    assert(clean.filter(col("kept_md5") =!= col("expect")).count() === 0)
  }

  test("representative queries are deterministic across runs") {
    for (name <- Seq("q01_pricing_summary", "q03_latest_event_per_user",
                     "q31_neardup_jaccard", "q35_ann_topk")) {
      val a = SparkEntry.queries(name)(spark, sf0001).collect().toSeq
      val b = SparkEntry.queries(name)(spark, sf0001).collect().toSeq
      assert(a === b, s"$name not deterministic")
    }
  }
}
