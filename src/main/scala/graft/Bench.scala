package graft
/**
 * Benchmark main. Prints ONE compact JSON line on stdout for the driver gate.
 *
 * Two hard-won constraints shape the output format:
 *  - The driver keeps only a bounded TAIL of stdout. BENCH_r03.json recorded
 *    `parsed: null` because 64 queries x 9-decimal doubles pushed the line past
 *    the buffer and the head of the JSON was lost. All values are rounded to
 *    millisecond precision and the line carries no per-query spread; full
 *    per-run detail goes to bench_detail.json instead.
 *  - Single-sample timings on this box vary +/-25% (BENCH_r02's q20 recorded
 *    7.9 s vs a re-measured 1.44 s), so each query is timed 3 times and the
 *    MEDIAN is reported. The first timed run also absorbs any residual
 *    cold-path cost the family warmup missed.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = GraftSession.local()
    // noop sink materializes every column of every row (count() would let
    // Catalyst prune most of the plan and flatter the numbers); shared by
    // warmup and the timed loop so the two can never diverge.
    // Job description = query name (guide §1.5): with 280+ queries in one
    // application the UI/event log is unreadable without labels.
    def runToNoop(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      finally spark.sparkContext.setJobDescription(null)
    }
    // Untimed warmup: pay JVM/codegen/parquet-footer costs once so the
    // per-query numbers measure the plans, not JIT. One representative
    // per code-path family: scan+hash-agg (q01), typed flatMap + shuffle
    // join (q31), vector codegen + custom aggregate (q35b).
    for (w <- Seq("q01_pricing_summary", "q31_neardup_jaccard", "q35b_ann_topk_agg"))
      try runToNoop(w) catch { case _: Throwable => () }
    def ms(v: Double): Double = math.round(v * 1000).toDouble / 1000
    // Short display keys ("q01", "q35b") keep the stdout line inside the
    // driver's tail window. Resolved BEFORE the timing loop so a future
    // collision can't throw away a completed run: colliding names simply
    // keep their full form (slightly longer line, never lost data).
    val shortKey: Map[String, String] = {
      val byId = SparkEntry.queries.keys.toSeq.groupBy(_.takeWhile(_ != '_'))
      byId.flatMap { case (id, names) =>
        if (names.size == 1) names.map(_ -> id) else names.map(n => n -> n)
      }
    }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // Optional name filter (local iteration / isolating one query's cost
    // in a fresh JVM); the driver never sets it, so gate runs stay full.
    val runs = SparkEntry.selected(sys.env.get("SPARK_GRAFT_BENCH_ONLY")).map { case (name, _) =>
      val samples = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        try { runToNoop(name); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
        }
      }
      name -> samples
    }
    val results = runs.map { case (name, samples) =>
      // A query that fails to plan/execute must not contribute a flattering
      // near-zero timing: report it as -1 and list it in "failed".
      if (samples.exists(_ < 0)) { failed += name; name -> -1.0 }
      else name -> ms(samples.sorted.apply(samples.size / 2))
    }.toMap
    // Full names at 70+ queries made the r04 line ~2.2KB and its head was
    // truncated by the driver's 2000-char tail; short keys keep it compact.
    // At 126 queries, per-query values render at centisecond precision
    // (±5 ms display error, well under box noise) to stay inside the
    // window; millisecond detail lives in bench_detail.json.
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        // Locale.ROOT: the f-interpolator honors the default locale, and a
        // comma-decimal locale would corrupt the JSON line.
        val disp = if (v < 0) "-1"
          else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
        s"\"" + shortKey(k) + "\":" + disp
      }
      .mkString("{", ",", "}")
    val total = ms(results.values.filter(_ >= 0).sum)
    // failed uses the SAME keys as the queries map so consumers can
    // cross-reference them, and so failure lists don't regrow the line.
    val failedJson = failed.map(shortKey).sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Worst relative spread across queries (max-min over median) as a single
    // scalar noise indicator; the per-query breakdown lives in the detail file.
    // warm_max_spread leaves out each query's first sample, whose memo-cold
    // build would otherwise read as box noise.
    val worst = worstSpread(runs, skip = 0)
    val warmWorst = worstSpread(runs, skip = 1)
    val detail = runs.map { case (n, s) =>
      s"\"" + n + "\":[" + s.map(ms).mkString(",") + "]"
    }.mkString("{\"runs\":{", ",", "},\"iters\":" + iters + "}")
    try {
      val p = java.nio.file.Paths.get("bench_detail.json")
      java.nio.file.Files.write(p, detail.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // Summary keys LAST: the driver buffers a bounded 2000-char tail of
    // stdout, so if the line ever outgrows the buffer again it is the head
    // (per-query map) that is lost, not the headline total. With short
    // keys the whole line is ~1.2KB; warn loudly if it creeps back up.
    val suffix = s""","failed":$failedJson,"sf":"$sfDir","iters":$iters,"max_spread":${ms(worst)},"warm_max_spread":${ms(warmWorst)},"metric":"total","value":$total,"unit":"sec"}"""
    val full = "{\"queries\":" + qs + suffix
    // The driver buffers a bounded 2000-char TAIL of stdout and parses the
    // line it kept. Past ~180 queries the full per-query map cannot fit
    // (r7: 3.2KB line → stored with parsed:null, headline fields only
    // legible because they serialize last). When the full line would
    // overflow the window, emit instead ONE line whose queries map keeps
    // the SLOWEST entries that fit a 1800-char budget plus an explicit
    // omission record ("q_omitted" count, "q_omitted_sum" seconds), so the
    // line parses whole, the total remains reconstructible, and what is
    // dropped is the long tail of sub-centisecond queries — the part the
    // per-round perf audit never reads. The complete per-query medians and
    // per-iteration samples are in bench_detail.json either way.
    val line = if (full.length <= 1800) full else {
      val byCost = results.toSeq.sortBy { case (k, v) => (-v, k) }
      val rendered = byCost.map { case (k, v) =>
        val disp = if (v < 0) "-1"
          else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
        (k, v, s"\"" + shortKey(k) + "\":" + disp)
      }
      // reserve room for the omission fields (sum rendered at the end)
      val budget = 1800 - suffix.length - 60
      var used = 12 // {"queries":{
      val keep = rendered.takeWhile { case (_, _, s) =>
        val ok = used + s.length + 1 <= budget; if (ok) used += s.length + 1; ok
      }
      val dropped = rendered.drop(keep.size)
      val droppedSum = ms(dropped.map(_._2).filter(_ >= 0).sum)
      "{\"queries\":" + keep.map(_._3).mkString("{", ",", "}") +
        s""","q_omitted":${dropped.size},"q_omitted_sum":$droppedSum""" + suffix
    }
    if (line.length > 1950)
      System.err.println(s"[bench] WARNING stdout line ${line.length} chars — exceeds the driver's 2000-char tail window")
    println(line)
    spark.stop()
  }

  /** The largest (max − min) / median over each query's samples after the
    * first `skip`; a query with a failed sample or fewer than two samples
    * left is not counted, and 0 when none is. */
  private[graft] def worstSpread(runs: Seq[(String, Seq[Double])], skip: Int): Double = {
    val spreads = runs.collect { case (_, all) if all.forall(_ >= 0) && all.size - skip > 1 =>
      val s = all.drop(skip)
      (s.max - s.min) / math.max(s.sorted.apply(s.size / 2), 1e-9)
    }
    spreads.maxOption.getOrElse(0.0)
  }
}
