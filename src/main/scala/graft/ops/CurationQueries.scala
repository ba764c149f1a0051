package graft.ops

import graft.plans.GroupTopK
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._

/**
 * Training-data curation operators: per-bucket document selection (via the
 * custom GroupTopK whole-plan operator), deterministic train/val/test
 * splitting, and benchmark decontamination — the selection/partitioning
 * layer that sits between dedup (DedupQueries) and similarity search
 * (SimilarityQueries) in a corpus pipeline.
 *
 * Scale notes:
 *  - q51 exercises graft.plans.GroupTopK: partial per-partition bounded
 *    heaps → one exchange carrying ≤ (tasks × groups × k) rows → final
 *    heaps. The window `row_number` formulation it replaces shuffles and
 *    sorts the entire corpus.
 *  - q52's split assignment is a pure per-row hash — no shuffle at all;
 *    at 100 TB the split is computed inline wherever the row already is,
 *    which is why hash-splitting (not random sampling) is how production
 *    pipelines carve reproducible train/val/test partitions.
 *  - q53 broadcasts the benchmark shingle set (eval suites are tiny) and
 *    streams the training side through one broadcast semi-structure join +
 *    one aggregate — contamination checking without moving the corpus.
 */
object CurationQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Top-3 longest documents per language, via the custom plan operator.
    // Ordering is total (n_chars DESC, doc_id ASC) so output is exactly
    // what the window formulation yields — which is what the oracle runs.
    "q51_top_docs_per_lang" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"lang", $"n_chars")
      GroupTopK(docs, Seq($"lang"), Seq($"n_chars".desc, $"doc_id".asc), 3)
        .orderBy($"lang", $"n_chars".desc, $"doc_id")
    },

    // Deterministic train/val/test split: bucket by the first hex digit of
    // md5(doc_id) — 0..b → train (12/16), c..d → val (2/16), e..f → test
    // (2/16). Reproducible across engines, runs, and cluster sizes; adding
    // data never reassigns an existing document.
    "q52_train_val_split" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("h", substring(md5($"doc_id".cast("string")), 1, 1))
        .select($"doc_id",
          when($"h" <= "9" || $"h" === "a" || $"h" === "b", "train")
            .when($"h" === "c" || $"h" === "d", "val")
            .otherwise("test").as("split"))
        .orderBy($"doc_id")
    },

    // Benchmark decontamination: training docs (doc_id ≥ 20) that share at
    // least one word-5-gram shingle with the benchmark set (doc_id < 20).
    // n_shared = distinct shingles in common — the evidence a curation run
    // would log before dropping the document.
    "q53_decontamination" -> { (s, dir) =>
      import s.implicits._
      // ONE pinned shingle frame feeds both the benchmark set and the
      // training side (passing `sh` into benchShingles; a second
      // shingleRows call would re-materialize the whole corpus shingle
      // set and double the query's cost — measured 2× at sf0.1).
      val sh = DedupQueries.shingleRows(s, dir)
      sh.filter($"doc_id" >= 20)
        .join(broadcast(benchShingles(sh)), "shingle")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy($"doc_id")
    },

    // Bloom-accelerated decontamination — the same answer as q53 in the
    // shape that survives a benchmark set too large to broadcast exactly:
    // the corpus is pre-filtered map-side by a Bloom filter of the
    // benchmark shingles (Spark's own codegen'd might_contain over
    // xxhash64; no false negatives, so nothing real is lost), and only
    // the survivors — true matches plus the fpp-rate noise — reach the
    // exact verify join that removes false positives. At 10⁸ benchmark
    // shingles the bitset is ~10× smaller than the exact string set.
    // Bit-identical to q53 by construction, so it shares the oracle.
    "q73_decontamination_bloom" -> { (s, dir) =>
      import s.implicits._
      val sh = DedupQueries.shingleRows(s, dir)
      val benchSh = benchShingles(sh)
      val bloom = graft.functions.BloomFunctions.build(
        benchSh, $"shingle", expectedItems = 100000L, numBits = 1200000L)
      sh.filter($"doc_id" >= 20)
        .filter(graft.functions.BloomFunctions.mightContain(s, bloom, $"shingle"))
        .join(broadcast(benchSh), "shingle")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy($"doc_id")
    },

    // The whole curation pipeline as ONE Catalyst plan — quality gate
    // (corpus-quartile threshold) → benchmark decontamination → exact
    // dedup (keep lowest doc_id per content hash, among survivors) →
    // mixture cap (per-source deterministic sampling) — with per-source
    // counts after every stage, so the output is the funnel a curation
    // run would log. Each stage reuses the exact column definitions its
    // standalone query proved (q68/q53/q30/q66); composing them in one
    // frame means Catalyst sees the whole dataflow: one documents scan
    // feeds the quality/dedup/mixture spine, the shingle side reuses the
    // pinned shingle frame, thresholds and rates ride broadcasts, and the
    // only data-sized shuffles are the content-hash window and the
    // per-source aggregates.
    "q76_curation_pipeline" -> { (s, dir) =>
      import s.implicits._
      // Each funnel stage feeds BOTH the next stage and its own per-source
      // count — without pinning, every one of the 5 count branches would
      // re-execute the entire upstream spine (scan, scoring, percentile,
      // anti-join, window): Catalyst reuses identical exchanges, not
      // arbitrary shared subplans. Lazy pins keep query construction
      // side-effect free while each stage still materializes exactly once
      // at execution.
      val train = Pin.lazily(TextQueries.withQuality(t(s, dir, "documents"))
        .filter($"doc_id" >= 20))
      val thr = train.agg(expr("percentile(quality, 0.25D)").as("q25"))
      val s1 = Pin.lazily(train.crossJoin(broadcast(thr)).filter($"quality" >= $"q25"))
      val s2 = Pin.lazily(s1.join(
        contaminatedDocIds(DedupQueries.shingleRows(s, dir)), Seq("doc_id"), "left_anti"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5($"text")).orderBy($"doc_id")
      val s3 = Pin.lazily(
        s2.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn"))
      val per = s3.groupBy($"source").agg(sum($"n_tokens").as("n_tokens"))
      val s4 = s3.join(broadcast(mixtureRates(per)), "source")
        .filter(keepHash < $"keep_per_mille")
      def cnt(df: DataFrame, name: String) =
        df.groupBy($"source").agg(count(lit(1)).as(name))
      cnt(train, "n_in")
        .join(cnt(s1, "n_quality"), Seq("source"), "left")
        .join(cnt(s2, "n_decontam"), Seq("source"), "left")
        .join(cnt(s3, "n_dedup"), Seq("source"), "left")
        .join(s4.groupBy($"source")
          .agg(count(lit(1)).as("n_kept"), sum($"n_tokens").as("tokens_kept")),
          Seq("source"), "left")
        .select($"source", $"n_in",
          coalesce($"n_quality", lit(0L)).as("n_quality"),
          coalesce($"n_decontam", lit(0L)).as("n_decontam"),
          coalesce($"n_dedup", lit(0L)).as("n_dedup"),
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"tokens_kept", lit(0L)).as("tokens_kept"))
        .orderBy($"source")
    },

    // Dedup retention policy — the step after clustering: keep exactly one
    // document per near-dup cluster, chosen by a quality criterion (longest
    // text, doc_id tiebreak). Composes the connected-components labels
    // (q47) with per-cluster argmax through the custom GroupTopK operator
    // (k = 1: only one row per cluster per partition crosses the shuffle,
    // vs a full window sort). Member counts ride a second hash agg on the
    // same clustered frame.
    "q63_cluster_keep_best" -> { (s, dir) =>
      import s.implicits._
      val clusters = DedupQueries.queries("q47_dedup_clusters")(s, dir)
      val docs = t(s, dir, "documents").select($"doc_id", $"n_chars")
      val members = clusters.join(docs, "doc_id")
        .select($"cluster_id", $"doc_id", $"n_chars")
      val best = graft.plans.GroupTopK(members,
          Seq($"cluster_id"), Seq($"n_chars".desc, $"doc_id".asc), 1)
        .select($"cluster_id", $"doc_id".as("keep_id"), $"n_chars".as("keep_chars"))
      val counts = members.groupBy($"cluster_id").agg(count(lit(1)).as("n_members"))
      best.join(counts, "cluster_id")
        .select($"cluster_id", $"keep_id", $"keep_chars", $"n_members")
        .orderBy($"cluster_id")
    },

    // Incremental ingest dedup: a newly delivered batch (doc_id ≥ 200 —
    // deliberately OVERLAPPING the corpus, the re-delivered-export case the
    // reference's continueFrom exists to handle) is admitted only where its
    // content hash is absent from the existing corpus (doc_id < 250); the
    // 50 overlapping docs hash-match themselves and are rejected. The
    // anti-join moves only (hash, id) pairs, never text: at 100 TB the
    // corpus side is a pre-computed fingerprint table, so each increment
    // shuffles its own hashes plus a hash-only scan of the index. NULL text
    // hashes to NULL and an anti-join NULL key never matches — NULL-text
    // docs are always admitted, matching the NOT EXISTS oracle.
    "q64_incremental_dedup" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents")
      val corpus = docs.filter($"doc_id" < 250)
        .select(md5($"text").as("text_md5")).distinct()
      docs.filter($"doc_id" >= 200)
        .withColumn("text_md5", md5($"text"))
        .join(corpus, Seq("text_md5"), "left_anti")
        .select($"doc_id", $"text_md5")
        .orderBy($"doc_id")
    },

    // Source-mixture balancing: per-source token budgets and the sampling
    // rate that equalizes every source to a uniform share of the corpus —
    // the knob a pretraining mixture is tuned with. One hash agg + a
    // broadcast of the single-row total; all ratios are single IEEE
    // divisions of exact longs, so the doubles are bit-identical across
    // engines with no rounding needed.
    "q65_source_mixture" -> { (s, dir) =>
      import s.implicits._
      val per = t(s, dir, "documents")
        .withColumn("ws_tokens", size(split($"text", " ")).cast("long"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce($"ws_tokens", lit(0L))).as("n_tokens"))
      val tot = per.agg(sum($"n_tokens").as("total_tokens"),
        count(lit(1)).as("n_sources"))
      per.crossJoin(broadcast(tot))
        .withColumn("token_share",
          $"n_tokens".cast("double") / $"total_tokens".cast("double"))
        .withColumn("sample_rate",
          least(lit(1.0),
            $"total_tokens".cast("double") / $"n_sources".cast("double")
              / $"n_tokens".cast("double")))
        .select($"source", $"n_docs", $"n_tokens", $"token_share", $"sample_rate")
        .orderBy($"source")
    },

    // Apply a mixture: deterministically sample each source at the rate
    // that caps it at 4% of the corpus (tighter than uniform, so every
    // source is genuinely downsampled). The per-row keep decision is a
    // multiplicative hash of doc_id against floor(rate·1000) — stateless,
    // shuffle-free at the row level (rates broadcast), reproducible across
    // engines/runs/cluster sizes, and adding data never flips an existing
    // row. floor on bit-identical doubles is tie-free, unlike round.
    // doc_id is reduced mod a prime BEFORE the Knuth multiply: the raw
    // product wraps on 64-bit overflow in Spark but raises in DuckDB, so
    // ids above ~3.4e9 would diverge; 1048572·2654435761 ≈ 2.8e15 stays
    // comfortably in BIGINT range in both engines at any corpus size.
    "q66_mixture_sample" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents")
        .withColumn("ws_tokens", size(split($"text", " ")).cast("long"))
      val per = docs.groupBy($"source")
        .agg(sum(coalesce($"ws_tokens", lit(0L))).as("n_tokens"))
      docs.join(broadcast(mixtureRates(per)), "source")
        .withColumn("kept", when(keepHash < $"keep_per_mille", 1L).otherwise(0L))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"kept").as("n_kept"),
          max($"keep_per_mille").as("keep_per_mille"))
        .orderBy($"source")
    },

    // Document-length histogram: fixed-width buckets (64 chars, capped at
    // bucket 9) — the profiling pass before choosing packing/truncation
    // lengths. Pure integer arithmetic at the scan, one hash agg.
    "q67_length_histogram" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("bucket",
          least(lit(9L), floor($"n_chars" / lit(64)).cast("long")))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"),
          min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
        .orderBy($"bucket")
    },

    // Quality-threshold filtering: drop the bottom quartile by quality
    // score. The exact 25th percentile of the corpus-wide score (same
    // linear-interpolation semantics in both engines, proven by q26)
    // broadcasts as a one-row frame; the per-source survival counts show
    // which sources the filter actually bites. Scores reuse q38's formula,
    // whose doubles are bit-identical across engines.
    "q68_quality_filter" -> { (s, dir) =>
      import s.implicits._
      val scored = TextQueries.qualityScored(s, dir)
      val thr = scored.agg(expr("percentile(quality, 0.25D)").as("q25"))
      scored.crossJoin(broadcast(thr))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"quality" >= $"q25", 1L).otherwise(0L)).as("n_kept"))
        .orderBy($"source")
    },

    // Sequence packing: assign documents to fixed token-budget bins
    // (2048 whitespace tokens) per source, greedily in doc_id order — the
    // batch-construction step before training. A document lands in the
    // bin its running start offset falls into, via one per-source prefix
    // sum (ROWS frame) — each source sorts independently in its own
    // partitions, no global single-partition window. A source so hot it
    // overflows one task would shard through the same two-pass
    // rank machinery as q45/q56 (ops/GlobalRank); at fixture scale the
    // per-source window is the honest plan.
    "q71_doc_packing" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .withColumn("ws_tokens", size(split($"text", " ")).cast("long"))
        .withColumn("cum_before", coalesce(sum($"ws_tokens").over(w), lit(0L)))
        // exact while cum < 2^53 (double-exact long division)
        .withColumn("bin", floor($"cum_before" / 2048.0).cast("long"))
        .groupBy($"source", $"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"ws_tokens").as("bin_tokens"))
        .orderBy($"source", $"bin")
    },

    // PII anonymization before a corpus leaves curation: pseudonymize the
    // stable key (salted hash — joinable across tables, not reversible),
    // mask the digit runs inside the display name (quasi-identifier), and
    // generalize the numeric attribute to a coarse band (k-anonymity-style
    // generalization). Pure per-row projection — zero shuffle, the
    // anonymization runs wherever the row already lives; free-text
    // redaction (emails/IPv4/phones) is the same shape via
    // TextQueries.redactPii, regex-pinned in TextSpec.
    "q77_pii_anonymize" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer")
        .select(
          $"c_custkey",
          md5(concat(lit("pepper::"), $"c_custkey".cast("string"))).as("pseudonym"),
          regexp_replace($"c_name", "[0-9]", "#").as("name_masked"),
          (floor($"c_acctbal".cast("double") / 1000.0) * 1000).cast("long").as("acctbal_band"),
          $"c_mktsegment")
        .orderBy($"c_custkey")
    },

    // Temperature-based mixture reweighting (the multilingual-training
    // standard: sample source i with p_i ∝ n_i^α, here α = 1/2 so the
    // per-element transform is IEEE-exact sqrt in every engine). The only
    // cross-row float arithmetic is the denominator Σ√n_i — float addition
    // is non-associative, so it is computed as a LEFT FOLD OVER THE SORTED
    // value list, making the sum bit-identical across engines, runs, and
    // partitionings. Source count is tiny at any corpus size (the fold is
    // over #sources values, not rows); everything upstream is one exact
    // integer aggregate.
    "q79_temperature_mixture" -> { (s, dir) =>
      import s.implicits._
      val per = t(s, dir, "documents")
        .withColumn("ws_tokens", size(split($"text", " ")).cast("long"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce($"ws_tokens", lit(0L))).as("n_tokens"))
      val den = per.agg(
        expr("aggregate(array_sort(collect_list(sqrt(cast(n_tokens as double)))), " +
          "cast(0.0 as double), (a, x) -> a + x)").as("denom"),
        sum($"n_tokens").as("total_tokens"))
      per.crossJoin(broadcast(den))
        .withColumn("token_share",
          $"n_tokens".cast("double") / $"total_tokens".cast("double"))
        .withColumn("weight", sqrt($"n_tokens".cast("double")) / $"denom")
        .withColumn("boost", $"weight" / $"token_share")
        .select($"source", $"n_docs", $"n_tokens", $"token_share", $"weight", $"boost")
        .orderBy($"source")
    },

    // Stratified deterministic sampling: k docs per source as the BOTTOM-k
    // of a keyed hash — under a uniform hash this is exactly uniform
    // sampling without replacement per stratum, yet reproducible across
    // runs/engines/partitionings, and rerunning with k′ > k extends the
    // sample without reshuffling membership (hash order is fixed). Rides
    // the GroupTopK plan operator: each task reduces its slice to ≤ k rows
    // per source map-side, so the shuffle carries (tasks × sources × k)
    // rows — a reservoir-sampling aggregate with the reservoir's
    // merge step done by the engine.
    "q80_stratified_sample" -> { (s, dir) =>
      import s.implicits._
      val keyed = t(s, dir, "documents")
        .withColumn("skey", md5(concat($"doc_id".cast("string"), lit("::sample"))))
        .select($"doc_id", $"source", $"skey")
      GroupTopK(keyed, Seq($"source"), Seq($"skey".asc, $"doc_id".asc), 5)
        .orderBy($"source", $"skey", $"doc_id")
    },

    // Weighted sampling without replacement (Efraimidis–Spirakis A-Res):
    // keep the k rows with the largest u^(1/w) — equivalently the largest
    // ln(u)/w — where u is a per-row uniform and w the sampling weight.
    // The inclusion probability of each doc is proportional to its weight
    // (here n_chars: longer docs carry more training signal per document
    // overhead), which is how "sample 1% of the corpus by TOKENS, not by
    // document count" is expressed. u is a deterministic integer-hash
    // uniform (same arithmetic both engines, q66's mixing constant), so
    // the sample is reproducible across runs, engines, and partitionings.
    // Scale: priority is a per-row scalar computed at the scan; selection
    // is orderBy+limit → TakeOrderedAndProject (per-partition heaps of k,
    // no global sort) — the whole operator is one scan plus k rows moved.
    "q93_weighted_sample" -> { (s, dir) =>
      import s.implicits._
      val u = ((($"doc_id" % 1048573L) * 2654435761L) % 1000000007L + 1L)
        .cast("double") / 1000000008.0
      // The cut key is QUANTIZED (12 decimals, both engines): ln() may
      // differ by 1 ulp across libm builds, and two near-equal raw
      // priorities straddling the k-boundary could otherwise select
      // different rows per engine. After rounding, a 1-ulp wobble is
      // ~1e-19 against a 5e-13 grain, and priorities that collapse to
      // the same grain cut identically everywhere via the doc_id
      // tie-break.
      t(s, dir, "documents")
        .filter($"n_chars" > 0)
        .withColumn("priority", round(log(u) / $"n_chars", 12))
        .orderBy($"priority".desc, $"doc_id")
        .limit(WeightedSampleK)
        .select($"doc_id", $"source", $"n_chars")
        .orderBy($"doc_id")
    },

    // Snapshot diff (CDC between two corpus versions): which documents
    // were added, removed, or changed between snapshot A and snapshot B —
    // the audit a data-versioned corpus runs before promoting a new drop.
    // Content equality is compared on a digest computed AT THE SCAN, so
    // the join shuffles (key, 32-byte hash) pairs, never document text;
    // the diff itself is one full-outer equi-join on the key (with both
    // snapshots bucket-laid-out on doc_id — q91's layout — even that
    // exchange disappears). Snapshot B is derived deterministically here
    // (drop ids ≡3, edit ids ≡4, add ids ≡5 shifted) so the oracle can
    // state the same construction.
    "q96_snapshot_diff" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents")
      val a = docs.select($"doc_id", md5($"text").as("h_a"))
      val bBase = docs.filter($"doc_id" % 10 =!= 3)
        .select($"doc_id", md5(when($"doc_id" % 10 === 4, concat($"text", lit(" v2")))
          .otherwise($"text")).as("h_b"))
      val bAdded = docs.filter($"doc_id" % 10 === 5)
        .select(($"doc_id" + 1000000L).as("doc_id"), md5($"text").as("h_b"))
      val b = bBase.unionByName(bAdded)
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("change",
          when($"h_a".isNull, "added")
            .when($"h_b".isNull, "removed")
            .when($"h_a" =!= $"h_b", "changed"))
        .filter($"change".isNotNull)
        .select($"doc_id", $"change")
        .orderBy($"doc_id")
    },

    // Quality-signal calibration: heterogeneous per-document signals
    // (q38's composite quality, raw token length) blended in PERCENTILE
    // space, so a signal's arbitrary units can't dominate the mix — the
    // standard trick for combining hand-built heuristics with model
    // scores before thresholding a corpus. Each percentile comes from
    // ops/GlobalRank's distributed two-pass rank (range shuffle + control-
    // frame prefix sum) — NOT a single-partition Window.orderBy; two
    // signals cost two range shuffles, each spread over all executors.
    "q97_quality_calibration" -> { (s, dir) =>
      import s.implicits._
      val sc = TextQueries.qualityScored(s, dir)
        .select($"doc_id", $"n_tokens", $"quality")
      val r1 = GlobalRank.withGlobalRank(sc, Seq($"quality", $"doc_id"), "rk_q", "n1")
      val r2 = GlobalRank.withGlobalRank(r1, Seq($"n_tokens", $"doc_id"), "rk_len", "n2")
      val pq = GlobalRank.percentRankFromRank($"rk_q", $"n1")
      val pl = GlobalRank.percentRankFromRank($"rk_len", $"n2")
      // blend the RAW percentiles, round once: averaging already-rounded
      // 6dp values lands exactly on .5 rounding midpoints (engines tie-
      // break differently), while (rk0_q+rk0_len)/(2(n-1)) is never a
      // 6-decimal midpoint for the n of any fixture
      r2.select($"doc_id",
          round(pq, 6).as("pct_quality"),
          round(pl, 6).as("pct_length"),
          round((pq + pl) / 2.0, 6).as("calibrated"))
        .orderBy($"doc_id")
    },

    // Per-document contamination FRACTION — the graded companion to q53's
    // binary verdict: what share of each training document's distinct
    // 5-gram shingles appear anywhere in the benchmark set. Thresholding
    // this (e.g. drop > 0.05, audit 0.01–0.05) is how real
    // decontamination runs separate verbatim benchmark copies from
    // incidental phrase overlap, and the fraction is the number the
    // audit log keeps. Same scale spine as q53/q73: the ONE pinned
    // distinct (doc_id, shingle) frame feeds the per-doc denominator, the
    // broadcast benchmark set, and the hit join — per-doc counts shuffle
    // 16-byte-hashable shingle keys, never text, and the left join keeps
    // clean documents (fraction 0) in the output so the audit is total.
    "q112_contamination_frac" -> { (s, dir) =>
      import s.implicits._
      val sh = DedupQueries.shingleRows(s, dir)
      val train = sh.filter($"doc_id" >= 20)
      val per = train.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      val hits = train.join(broadcast(benchShingles(sh)), "shingle")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_contaminated"))
      per.join(hits, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_contaminated"))
        .withColumn("contam_frac",
          round($"n_contaminated".cast("double") / $"n_shingles".cast("double"), 6))
        .orderBy($"doc_id")
    },

    // Token-BUDGET mixture sampling — the admission policy real data
    // mixes run: each source contributes documents, in a deterministic
    // hash order, until its token budget (here 20% of the source's own
    // whitespace tokens) is crossed; the crossing document is admitted so
    // the budget is always reached. Hash-order admission makes the sample
    // uniform-without-replacement per source, reproducible across
    // engines/runs/partitionings, and EXTENSIBLE: raising a budget later
    // admits strictly more documents without reshuffling membership
    // (q80's bottom-k argument, budgeted in tokens instead of doc count).
    //
    // Scale shape: the cumulative token sum is a GLOBAL per-source prefix
    // sum, which a naive Window.partitionBy(source) serializes into one
    // task per source — the classic 100 TB bottleneck when sources are
    // few and huge. Instead, GlobalRank's two-pass trick applied to sums:
    // bucket every doc by the first byte of its admission hash (256
    // buckets, ordered consistently with the full hash), aggregate
    // per-bucket token subtotals into a sources×256-row CONTROL frame,
    // prefix-sum the offsets there (control-plane window, ≤256 rows per
    // source), broadcast the offsets back, and run the data-row window
    // per (source, bucket) — 256-way parallel within every source, and
    // bit-identical to the single-window result because the bucket key is
    // a prefix of the in-bucket sort key.
    "q117_token_budget_sample" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
        .withColumn("toks",
          coalesce(size(split($"text", " ")).cast("long"), lit(0L)))
        .withColumn("h", md5(concat($"doc_id".cast("string"), lit(":tb"))))
        .withColumn("bkt", substring($"h", 1, 2))
      val perBucket = d.groupBy($"source", $"bkt").agg(sum($"toks").as("bt"))
      // The budget is a rollup of the same control frame — the corpus is
      // scanned for control data once, not once per statistic.
      val budget = perBucket.groupBy($"source")
        .agg(ceil(sum($"bt") * lit(0.2)).cast("long").as("budget"))
      val offsets = perBucket
        .withColumn("offset",
          coalesce(sum($"bt").over(
            w.partitionBy($"source").orderBy($"bkt")
              .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
        .select($"source", $"bkt", $"offset")
      val inBucket = w.partitionBy($"source", $"bkt").orderBy($"h", $"doc_id")
      d.join(broadcast(offsets), Seq("source", "bkt"))
        .withColumn("cum", sum($"toks").over(inBucket) + $"offset")
        .join(broadcast(budget), "source")
        .filter($"cum" - $"toks" < $"budget")
        .select($"source", $"doc_id", $"toks", $"cum", $"budget")
        .orderBy($"source", $"cum", $"doc_id")
    },

    // DSIR-style importance weights (Xie et al. 2023, "Data Selection via
    // Importance Resampling"): score every document by how target-like
    // its hashed n-gram profile is — log w(x) = Σ_b c_b(x)·[ln p̂_b −
    // ln q̂_b] over DsirBuckets hashed word-bigram buckets, target p̂ =
    // the lang='en' slice, proposal q̂ = the whole corpus, add-1
    // smoothing. The downstream resample keeps documents ∝ exp(log w) —
    // this query is the scoring pass that feeds it (the selection itself
    // is q65/q66/q79's hash-sampling family).
    //
    // Scale shape: the gram stream is pinned and aggregated exactly
    // twice, BOTH at bounded granularity — (doc, bucket) for the per-doc
    // profile and bucket for the two 256-row distributions; the log-ratio
    // table is 256 rows and BROADCASTS onto the profile. The token
    // stream is never joined at token granularity (the q88 lesson).
    // Bucket family is the SQL-expressible md5 recipe of q33/q41/q110:
    // conv(first 8 hex of md5(gram)) % buckets here, the hex-digit
    // Horner chain in the oracle — identical buckets by construction.
    "q141_dsir_weights" -> { (s, dir) =>
      import s.implicits._
      val grams = Pin.lazily(t(s, dir, "documents")
        .withColumn("ws", split(lower($"text"), " "))
        .select($"doc_id", $"lang",
          explode(when(size($"ws") >= 2, expr(
            "transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"))
            .otherwise(expr("array()"))).as("gram"))
        .withColumn("bucket",
          (conv(substring(md5($"gram"), 1, 8), 16, 10).cast("long")
            % DsirBuckets).cast("int")))
      val tgt = grams.filter($"lang" === "en")
        .groupBy($"bucket").agg(count(lit(1)).as("tc"))
      val all = grams.groupBy($"bucket").agg(count(lit(1)).as("rc"))
      val totals = grams.agg(
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("tt"),
        count(lit(1)).as("rt"))
      // 256-row ratio table over the full bucket range (unseen target
      // buckets still get the smoothed floor), assembled broadcast-side.
      val ratio = s.range(0, DsirBuckets).select($"id".cast("int").as("bucket"))
        .join(tgt, Seq("bucket"), "left").join(all, Seq("bucket"), "left")
        .crossJoin(totals)
        .select($"bucket",
          (log((coalesce($"tc", lit(0L)) + 1).cast("double") /
            ($"tt" + DsirBuckets).cast("double")) -
            log((coalesce($"rc", lit(0L)) + 1).cast("double") /
              ($"rt" + DsirBuckets).cast("double"))).as("lr"))
      grams.groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("c"))
        .join(broadcast(ratio), "bucket")
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_grams"),
          (round(sum($"c".cast("double") * $"lr"), 6) + lit(0d)).as("log_weight"))
        .orderBy($"doc_id")
    },

    // ------------------------------ sequence packing (concat-and-chunk)
    // The GPT-pretraining packing step: concatenate every document's
    // tokens in one fixed corpus order (doc_id) and cut the stream every
    // PackSeqLen tokens — each output row says which token span of which
    // document lands in which training sequence. The whole op is ONE
    // distributed prefix sum: a doc's global token offset comes from
    // GlobalRank's two-pass prefix machinery (range-partition, then a
    // local running sum from each partition's carry-in — never a global
    // window), and the doc→sequence fan-out explodes only ⌈n/C⌉+1 rows
    // per doc. At 100 TB this is exactly the shape the packing job runs:
    // the corpus streams through map tasks once, and no token ever
    // shuffles — only (doc, seq, span) coordinates move. All outputs are
    // exact integers.
    "q259_sequence_packing" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id",
          size(split(lower($"text"), " ")).cast("long").as("n_tokens"))
      val withOff = GlobalRank.withGlobalPrefixSum(docs, Seq($"doc_id"),
          $"n_tokens", "rk", "nd", "cum", "total")
        .select($"doc_id", $"n_tokens", ($"cum" - $"n_tokens").as("off"),
          $"total")
      val C = lit(PackSeqLen)
      withOff
        .select($"doc_id", $"n_tokens", $"off",
          // integer division (Column `/` is float division)
          explode(sequence(expr(s"off div $PackSeqLen"),
            expr(s"(off + n_tokens - 1) div $PackSeqLen"))).as("seq_id"))
        .select($"doc_id", $"seq_id",
          (greatest($"off", $"seq_id" * C) - $"off").as("doc_from"),
          (least($"off" + $"n_tokens", ($"seq_id" + 1) * C) -
            greatest($"off", $"seq_id" * C)).as("n_tok"))
        .orderBy($"seq_id", $"doc_id")
    },

    // --------------------------------------- curriculum interleaving
    // Difficulty-ordered, source-balanced training order: rank documents
    // WITHIN each source by an easiness score (distinct-word ratio — the
    // q235 closed-form scorer, easy/low-diversity first), then emit the
    // global order (rank 1 of every source, then rank 2, …) so early
    // training sees easy examples from EVERY source instead of draining
    // one source first — the curriculum + mixture-balance composition.
    // Scale: the within-source rank is a source-partitioned window (no
    // global window touches data); the global position rides GlobalRank
    // over the (rank, source) pair. Score ties break by doc_id, so the
    // order is total and engine-exact.
    "q260_curriculum_interleave" -> { (s, dir) =>
      import s.implicits._
      val ws = split(lower($"text"), " ")
      val scored = t(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id", $"source",
          (size(array_distinct(ws)).cast("double") /
            size(ws).cast("double")).as("easiness"))
      val bySrc = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"easiness".asc, $"doc_id".asc)
      val ranked = scored.withColumn("rank_in_source", row_number().over(bySrc))
      GlobalRank.withGlobalRank(ranked,
          Seq($"rank_in_source".asc, $"source".asc, $"doc_id".asc),
          "position", "n_docs")
        .select($"position", $"doc_id", $"source",
          $"rank_in_source".cast("long").as("rank_in_source"),
          ($"easiness" + lit(0d)).as("easiness"))
        .orderBy($"position")
    },

    // --------------------------------- deterministic negative sampling
    // Contrastive-training pair mining: every anchor (the doc_id % 50
    // sample) draws NegK uniform negatives from the WHOLE corpus via
    // md5(anchor:slot) — deterministic, so reruns/retries emit identical
    // pairs (the q52 hash-split discipline applied to sampling), and
    // corpus-position indexing rides GlobalRank's dense 1..n rank, never
    // an assumption that doc_ids are dense. A draw that lands on the
    // anchor itself shifts one slot (mod n) — stated identically in the
    // oracle. Scale: ranks are the two-pass GlobalRank shape; the
    // anchor×slot fan-out is NegK rows per anchor; the draw resolves by
    // an equi-join on rank (shuffle bounded by samples·NegK, never
    // corpus²). At 100 TB the rank frame is a bucketed corpus index
    // table and each batch of anchors joins it the same way.
    "q261_negative_sampling" -> { (s, dir) =>
      import s.implicits._
      val ranked = Pin.lazily(GlobalRank.withGlobalRank(
          t(s, dir, "documents").select($"doc_id"),
          Seq($"doc_id".asc), "rk", "n"))
      val draws = ranked.filter($"doc_id" % 50 === 0)
        .select($"doc_id".as("anchor_id"), $"rk".as("a_rk"), $"n")
        .withColumn("slot", explode(sequence(lit(0), lit(NegK - 1))))
        .withColumn("h", conv(substring(md5(concat(lit("neg:"),
          $"anchor_id".cast("string"), lit(":"), $"slot".cast("string"))),
          1, 8), 16, 10).cast("long"))
        // ranks are 1-based; draw in [1, n], dodge the anchor by one slot
        .withColumn("draw0", pmod($"h", $"n") + 1)
        .withColumn("draw",
          when($"draw0" === $"a_rk", pmod($"draw0", $"n") + 1)
            .otherwise($"draw0"))
      draws.join(ranked.select($"rk".as("draw"), $"doc_id".as("negative_id")),
          "draw")
        .select($"anchor_id", $"slot".cast("long").as("slot"), $"negative_id")
        .orderBy($"anchor_id", $"slot")
    },

    // ------------------------------------- fill-in-middle (FIM) split
    // The FIM pretraining transform (prefix ⟂ middle ⟂ suffix): two
    // md5-derived cut points u ≤ v in [0, len] split each document's
    // characters into [0,u) / [u,v) / [v,len). Deterministic per doc —
    // the same rerun-stable discipline as q261 — and a pure per-row
    // projection (the q69 scale shape: a 100 TB corpus streams through
    // map tasks, nothing shuffles but the output sort). Emitted as span
    // lengths + md5 digests of each part, so the row stays narrow while
    // the oracle still pins the exact character split.
    "q262_fim_split" -> { (s, dir) =>
      import s.implicits._
      def cut(tag: String): Column =
        pmod(conv(substring(md5(concat(lit(tag), $"doc_id".cast("string"))),
          1, 8), 16, 10).cast("long"), length($"text").cast("long") + 1)
      t(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id", $"text", length($"text").cast("long").as("len"),
          cut("fim1:").as("c1"), cut("fim2:").as("c2"))
        .select($"doc_id", $"len", least($"c1", $"c2").as("u"),
          greatest($"c1", $"c2").as("v"), $"text")
        .select($"doc_id", $"len",
          $"u".as("n_prefix"), ($"v" - $"u").as("n_middle"),
          ($"len" - $"v").as("n_suffix"),
          md5(substr($"text", lit(1L), $"u")).as("prefix_md5"),
          md5(substr($"text", $"u" + 1, $"v" - $"u")).as("middle_md5"),
          md5(substr($"text", $"v" + 1, $"len" - $"v")).as("suffix_md5"))
        .orderBy($"doc_id")
    },

    // Token-budget EPOCH allocation — the data-constrained-scaling
    // decision (Muennighoff et al. 2023): with a training token budget
    // larger than the corpus, which sources get repeated, and how many
    // epochs each? Greedy by quality: every source trains at least one
    // epoch; the leftover budget R = B − ΣT is spent in rounds, each
    // round granting one extra epoch to the longest quality-ranked
    // PREFIX of sources whose combined tokens still fit. Because the
    // ranking never changes, round k's grant set is determined by ONE
    // precomputed prefix-sum column: grant iff cum ≤ R_{k−1}, and the
    // spend of round k is simply the largest cum that fit —
    // R_k = R_{k−1} − max(cum ≤ R_{k−1}). Three unrolled rounds give a
    // 4-epoch ceiling, mirroring the ~4-epoch point of diminishing
    // returns the paper measures.
    //
    // Scale shape: the ONLY corpus-scale work is the per-source token
    // aggregate (one shuffle at |sources| grain). Everything after —
    // the quality ratio, the triangular prefix-sum self-join (sources²
    // pairs, a control frame), and the three scalar spend reductions —
    // is control-plane-sized, exactly the regime where sources number
    // dozens, not millions; the quadratic join is the windowless form
    // of a prefix sum over a frame too small to shuffle. All integers
    // except the quality ratio, which is ONE raw IEEE division of two
    // exact longs (bit-identical cross-engine, per ORACLE.md rule 1) —
    // used for ordering and emitted raw beside its numerator and
    // denominator.
    "q264_epoch_allocation" -> { (s, dir) =>
      import s.implicits._
      val a = Pin.lazily(t(s, dir, "documents")
        .withColumn("tk", coalesce(size(split($"text", " ")).cast("long"), lit(0L)))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"tk").as("toks"))
        .withColumn("qual", $"toks".cast("double") / $"n_docs".cast("double")))
      // Prefix sum in quality order (ties by source) without a window:
      // b rides at-or-before a in the ranking ⇒ contributes to a's cum.
      val b = a.select($"source".as("s2"), $"toks".as("t2"), $"qual".as("q2"))
      val cum = a.join(b,
          $"q2" > $"qual" || ($"q2" === $"qual" && $"s2" <= $"source"))
        .groupBy($"source", $"n_docs", $"toks", $"qual")
        .agg(sum($"t2").as("cum"))
      val tot = a.agg(sum($"toks").as("t_all"))
        .withColumn("r0", expr("(t_all * 8) div 5") - $"t_all")
      val g0 = cum.crossJoin(broadcast(tot))
      val r1 = g0.agg((max($"r0") -
          coalesce(max(when($"cum" <= $"r0", $"cum")), lit(0L))).as("r1"))
      val g1 = g0.crossJoin(broadcast(r1))
      val r2 = g1.agg((max($"r1") -
          coalesce(max(when($"cum" <= $"r1", $"cum")), lit(0L))).as("r2"))
      g1.crossJoin(broadcast(r2))
        .withColumn("epochs", lit(1L)
          + when($"cum" <= $"r0", lit(1L)).otherwise(lit(0L))
          + when($"cum" <= $"r1", lit(1L)).otherwise(lit(0L))
          + when($"cum" <= $"r2", lit(1L)).otherwise(lit(0L)))
        .select($"source", $"n_docs", $"toks",
          $"qual".as("mean_toks_per_doc"), $"cum".as("cum_toks"),
          $"epochs", ($"epochs" * $"toks").as("alloc_toks"))
        .orderBy($"source")
    },

    // Leakage-free train/val/test split — q52's hash split decided at
    // DEDUP-CLUSTER granularity instead of per document. Hashing doc_id
    // (q52) puts near-identical documents on both sides of the split:
    // the exact leak q123 measures for embeddings. Assigning the whole
    // q47 connected component by the md5 of its cluster id makes the
    // split leak-free BY CONSTRUCTION against the near-dup relation the
    // cluster graph encodes. Both splits are emitted so the query is
    // its own audit: any multi-doc cluster whose members' doc_split
    // disagree is a leak the naive scheme would have shipped.
    //
    // Scale shape: everything is q47's plan (rounds over the duplicate
    // subgraph, not the corpus) plus one per-row projection — the split
    // decision adds NO shuffle. Same hex-bucket scheme as q52 (12/2/2
    // of 16), so the two columns are directly comparable.
    "q266_cluster_split" -> { (s, dir) =>
      import s.implicits._
      def bucket(h: Column): Column =
        when(h <= "9" || h === "a" || h === "b", "train")
          .when(h === "c" || h === "d", "val")
          .otherwise("test")
      DedupQueries.queries("q47_dedup_clusters")(s, dir)
        .select($"doc_id", $"cluster_id",
          bucket(substring(md5($"cluster_id".cast("string")), 1, 1)).as("split"),
          bucket(substring(md5($"doc_id".cast("string")), 1, 1)).as("doc_split"))
        .orderBy($"doc_id")
    },

    // SURGICAL decontamination — the span-level companion to q53's
    // drop-the-document verdict and q112's graded fraction: instead of
    // discarding a training document that shares benchmark 5-grams, cut
    // out exactly the token positions covered by a matching gram and
    // keep the rest (the Lee-et-al.-style span treatment applied to
    // contamination). Emits the retained token count and an md5 of the
    // re-assembled residual text so the oracle pins the SURGERY — which
    // tokens survive, in order — not just the arithmetic.
    //
    // Scale shape: positioned gram hashes shuffle once at (16-byte md5,
    // doc, pos) grain; the benchmark gram set is request-sized and
    // broadcasts (q53's argument); the ×K position expansion happens
    // POST-match, on covered grams only; the residual assembly is a
    // per-doc sorted fold (position-ordered, engine-invariant). No
    // floats anywhere — counts and digests only.
    "q267_span_surgery" -> { (s, dir) =>
      import s.implicits._
      val K = 5
      val d = Pin.lazily(t(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id", split(lower($"text"), " ").as("ws")))
      def grams(df: DataFrame) = df.select($"doc_id",
        posexplode(when(size($"ws") >= K, expr(
          s"transform(sequence(0, size(ws) - $K), i -> md5(concat_ws(' ', slice(ws, i + 1, $K))))"))
          .otherwise(expr("array()"))).as(Seq("pos", "h")))
      val bench = grams(d.filter($"doc_id" < 20)).select($"h").distinct()
      val covered = grams(d.filter($"doc_id" >= 20))
        .join(broadcast(bench), "h")
        .select($"doc_id".as("cd"), explode(expr(s"sequence(pos, pos + ${K - 1})")).as("p"))
        .distinct()
      val toks = d.filter($"doc_id" >= 20)
        .select($"doc_id", posexplode($"ws").as(Seq("pos", "tok")))
      val kept = toks.join(covered,
          $"doc_id" === $"cd" && $"pos" === $"p", "left_anti")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(expr("array_join(transform(array_sort(collect_list(struct(pos, tok))), " +
            "x -> x.tok), ' ')")).as("kept_md5"))
      d.filter($"doc_id" >= 20)
        .select($"doc_id", size($"ws").cast("long").as("n_tokens"))
        .join(kept, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tokens",
          ($"n_tokens" - coalesce($"n_kept", lit(0L))).as("n_removed"),
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"kept_md5", md5(lit(""))).as("kept_md5"))
        .orderBy($"doc_id")
    },

    // ------------------- IPF / raking mixture rebalance (Sinkhorn-style)
    // Iterative proportional fitting of the (source × length-bucket)
    // token-mass matrix onto target marginals — equalize the per-SOURCE
    // token share while PRESERVING the corpus's length-bucket mix. The
    // classic survey-statistics raking loop (Deming–Stephan 1940; the
    // diagonal-scaling core of Sinkhorn-Knopp) applied to training-data
    // mixture design: the emitted per-cell weight is the sampling rate a
    // mixture job applies to hit both marginals at once — q65/q66's
    // single-marginal balancing can't satisfy two constraints jointly.
    // Scale shape: the matrix AGGREGATION is the distributed pass (one
    // hash-agg to |sources|·10 cells); the IpfRounds scaling loop runs on
    // the collected control-plane matrix (the KMeans-centroid
    // convention, memoized per application+fixture). Determinism: masses
    // are exact BIGINTs; every scaling factor is one double division and
    // every row/col sum a reduceLeft over cells in ONE sorted order
    // (bucket asc within row, source asc within column) — the oracle
    // unrolls the identical rounds with list_reduce(list(x ORDER BY …))
    // position-ordered folds (the q263 convention), so the fitted values
    // match bit-for-bit before the shared ROUND(…, 6).
    "q274_ipf_mixture" -> { (s, dir) =>
      import s.implicits._
      s.createDataFrame(ipfCells(s, dir))
        .toDF("source", "bucket", "tokens", "fitted_tokens", "weight")
        .orderBy($"source", $"bucket")
    }
  )

  /** q274: IPF rounds — 8 row+column sweeps leave both marginals within
    * float noise of their targets on every SF (the loop is linearly
    * convergent; the count is part of the operator contract and the
    * oracle unrolls exactly this many). */
  private[graft] val IpfRounds = 8

  /** q274: length-bucket width in characters; buckets cap at 9. */
  private[graft] val IpfBucketChars = 512L

  /** The collected matrix + driver-side raking loop (control-plane:
    * ≤ |sources|·10 cells). Returns (source, bucket, tokens, fitted,
    * weight) rows; see the q274 registration comment for determinism.
    * Memoized per (application, dir): without it q274's warm median is
    * about 2× (sf0.1, 5-iteration pairs, SCALE.md memo table). */
  private def ipfCells(s: SparkSession, dir: String)
      : Seq[(String, Long, Long, Double, Double)] =
    AppCaches.memo(s, dir, "ipfCells") {
      import s.implicits._
      val cells = t(s, dir, "documents").filter($"text".isNotNull)
        .select($"source",
          least(expr(s"n_chars div $IpfBucketChars"), lit(9L)).cast("long")
            .as("bucket"),
          size(split($"text", " ")).cast("long").as("tk"))
        .groupBy($"source", $"bucket").agg(sum($"tk").as("m"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(c => (c._1, c._2))
      val srcs = cells.map(_._1).distinct.sorted
      val total = cells.map(_._3).sum
      val aRow = total.toDouble / srcs.length
      val bCol: Map[Long, Double] = cells.groupBy(_._2)
        .map { case (b, cs) => b -> cs.map(_._3).sum.toDouble }
      val x = scala.collection.mutable.LinkedHashMap(
        cells.map(c => (c._1, c._2) -> c._3.toDouble): _*)
      for (_ <- 1 to IpfRounds) {
        for (r <- srcs) {
          val mine = cells.filter(_._1 == r).map(c => (c._1, c._2))
          val rs = mine.map(x).reduceLeft(_ + _) // bucket-asc (cells sorted)
          val f = aRow / rs
          mine.foreach(k => x(k) = x(k) * f)
        }
        for (b <- cells.map(_._2).distinct.sorted) {
          val mine = cells.filter(_._2 == b).map(c => (c._1, c._2))
          val cs = mine.map(x).reduceLeft(_ + _) // source-asc (cells sorted)
          val f = bCol(b) / cs
          mine.foreach(k => x(k) = x(k) * f)
        }
      }
      def r6(v: Double): Double =
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble + 0.0
      cells.map { case (src, b, m) =>
        val v = x((src, b))
        (src, b, m, r6(v), r6(v / m.toDouble))
      }
    }

  /** Hashed-feature space size for q141 (DSIR). */
  private val DsirBuckets = 256

  /** q259: training-sequence capacity in (whitespace) tokens. 512 keeps
    * multi-sequence docs AND multi-doc sequences both present on the
    * fixture, so the packing arithmetic is exercised from both sides. */
  private val PackSeqLen = 512L

  /** q261: negatives drawn per anchor. */
  private val NegK = 4

  /** Oracle-side uniform from a hex digest: the first 8 md5 hex digits
    * folded to a BIGINT (Horner), mirroring Spark's
    * conv(substring(md5(x),1,8),16,10) — the q250 convention. */
  private def hornerSql(hx: String): String = (1 to 8)
    .map(i => s"(strpos('0123456789abcdef', substr($hx, $i, 1)) - 1)")
    .reduceLeft((acc, d) => s"($acc * 16 + $d)")

  /** q93 sample size. */
  private val WeightedSampleK = 50

  private val shingleCte =
    """sh AS (
      |  SELECT doc_id,
      |         unnest(list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)])) AS shingle
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS t FROM documents) s)""".stripMargin

  /** The benchmark shingle set (doc_id < 20, distinct) — shared by
    * q53/q73/q76 so the contamination definition has one home. */
  private def benchShingles(sh: DataFrame): DataFrame =
    sh.filter(col("doc_id") < 20).select(col("shingle")).distinct()

  /** Training docs (doc_id ≥ 20) sharing ≥ 1 shingle with the benchmark.
    * Takes the ONE pinned shingle frame — both the benchmark set and the
    * training side branch from it, so the corpus shingles materialize
    * once per query, not once per branch. */
  private def contaminatedDocIds(sh: DataFrame): DataFrame =
    sh.filter(col("doc_id") >= 20)
      .join(broadcast(benchShingles(sh)), "shingle")
      .select(col("doc_id")).distinct()

  /** The deterministic per-row keep decision: Knuth multiplicative hash
    * of doc_id, mod-prime-reduced first so the product stays in BIGINT
    * range in BOTH engines (raw doc_id·2654435761 wraps in Spark but
    * raises in DuckDB above ~3.4e9). One home for the constants —
    * q66/q76 and their oracles must keep agreeing on them. */
  private def keepHash: Column =
    ((col("doc_id") % 1048573L) * 2654435761L) % 1000L

  /** Per-source keep rate (per-mille) capping every source at 4% of the
    * combined tokens: floor(least(1, 0.04·total/n)·1000). Input: per
    * (source, n_tokens); the one-row total rides a broadcast. floor on
    * bit-identical doubles is tie-free across engines, unlike round. */
  private def mixtureRates(per: DataFrame): DataFrame = {
    val tot = per.agg(sum(col("n_tokens")).as("total_tokens"))
    per.crossJoin(broadcast(tot))
      .withColumn("keep_per_mille",
        floor(least(lit(1.0),
          lit(0.04) * col("total_tokens").cast("double") / col("n_tokens").cast("double"))
          * 1000.0).cast("long"))
      .select(col("source"), col("keep_per_mille"))
  }

  private lazy val decontaminationOracle: String =
    s"""WITH $shingleCte,
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20)
       |SELECT doc_id, COUNT(*) AS n_shared
       |FROM sh JOIN bench USING (shingle)
       |WHERE doc_id >= 20
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q51_top_docs_per_lang" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 3 ORDER BY lang, n_chars DESC, doc_id""".stripMargin,

    "q52_train_val_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '9'
        |         OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('a', 'b') THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q53_decontamination" -> decontaminationOracle,
    // The bloom variant's verify join removes every false positive, so
    // the result — and therefore the oracle — is exactly q53's.
    "q73_decontamination_bloom" -> decontaminationOracle,

    // Stage-by-stage composition of the q68/q53/q30/q66 oracle bodies.
    "q76_curation_pipeline" ->
      s"""WITH ${TextQueries.qualityCteBody},
         |train AS (SELECT * FROM scored WHERE doc_id >= 20),
         |thr AS (SELECT quantile_cont(quality, 0.25) AS q25 FROM train),
         |s1 AS (SELECT train.* FROM train, thr WHERE quality >= q25),
         |$shingleCte,
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
         |contam AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (shingle)
         |           WHERE s.doc_id >= 20),
         |s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |md AS (SELECT doc_id, md5(text) AS m FROM documents),
         |s3 AS (SELECT * FROM (
         |    SELECT s2.*, ROW_NUMBER() OVER (PARTITION BY md.m ORDER BY s2.doc_id) AS rn
         |    FROM s2 JOIN md USING (doc_id)) t WHERE rn = 1),
         |per AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
         |        FROM s3 GROUP BY source),
         |tot AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens FROM per),
         |rates AS (SELECT source,
         |            CAST(FLOOR(LEAST(1.0, 0.04 * CAST(total_tokens AS DOUBLE)
         |                                    / CAST(src_tokens AS DOUBLE)) * 1000.0) AS BIGINT)
         |              AS keep_per_mille
         |          FROM per, tot),
         |s4 AS (SELECT s3.* FROM s3 JOIN rates USING (source)
         |       WHERE ((doc_id % 1048573) * 2654435761) % 1000 < keep_per_mille),
         |agg_in AS (SELECT source, COUNT(*) AS n_in FROM train GROUP BY source),
         |agg_q AS (SELECT source, COUNT(*) AS n_quality FROM s1 GROUP BY source),
         |agg_d AS (SELECT source, COUNT(*) AS n_decontam FROM s2 GROUP BY source),
         |agg_dd AS (SELECT source, COUNT(*) AS n_dedup FROM s3 GROUP BY source),
         |agg_k AS (SELECT source, COUNT(*) AS n_kept,
         |                 CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
         |          FROM s4 GROUP BY source)
         |SELECT i.source, i.n_in,
         |  COALESCE(q.n_quality, 0) AS n_quality,
         |  COALESCE(d.n_decontam, 0) AS n_decontam,
         |  COALESCE(dd.n_dedup, 0) AS n_dedup,
         |  COALESCE(k.n_kept, 0) AS n_kept,
         |  COALESCE(k.tokens_kept, 0) AS tokens_kept
         |FROM agg_in i
         |LEFT JOIN agg_q q USING (source)
         |LEFT JOIN agg_d d USING (source)
         |LEFT JOIN agg_dd dd USING (source)
         |LEFT JOIN agg_k k USING (source)
         |ORDER BY i.source""".stripMargin,

    "q63_cluster_keep_best" ->
      s"""WITH RECURSIVE ${DedupQueries.clustersCteBody},
         |j AS (
         |  SELECT c.cluster_id, c.doc_id, d.n_chars,
         |         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
         |                            ORDER BY d.n_chars DESC, c.doc_id) AS rk,
         |         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
         |  FROM clusters c JOIN documents d USING (doc_id))
         |SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_chars, n_members
         |FROM j WHERE rk = 1 ORDER BY cluster_id""".stripMargin,

    "q64_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT DISTINCT md5(text) AS m FROM documents WHERE doc_id < 250)
        |SELECT doc_id, md5(text) AS text_md5
        |FROM documents d
        |WHERE doc_id >= 200
        |  AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.m = md5(d.text))
        |ORDER BY doc_id""".stripMargin,

    "q66_mixture_sample" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |         COALESCE(CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT), 0) AS ws_tokens
        |  FROM documents),
        |per AS (SELECT source, CAST(SUM(ws_tokens) AS BIGINT) AS n_tokens
        |        FROM docs GROUP BY source),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per),
        |rates AS (
        |  SELECT source,
        |         CAST(FLOOR(LEAST(1.0, 0.04 * CAST(total_tokens AS DOUBLE)
        |                                 / CAST(n_tokens AS DOUBLE)) * 1000.0) AS BIGINT) AS keep_per_mille
        |  FROM per, tot)
        |SELECT d.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN ((d.doc_id % 1048573) * 2654435761) % 1000 < r.keep_per_mille
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  MAX(r.keep_per_mille) AS keep_per_mille
        |FROM docs d JOIN rates r USING (source)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "q67_length_histogram" ->
      """SELECT LEAST(9, CAST(FLOOR(n_chars / 64) AS BIGINT)) AS bucket,
        |  COUNT(*) AS n_docs, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q68_quality_filter" ->
      s"""WITH ${TextQueries.qualityCteBody},
         |thr AS (SELECT quantile_cont(quality, 0.25) AS q25 FROM scored)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN quality >= q25 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM scored, thr GROUP BY source ORDER BY source""".stripMargin,

    "q65_source_mixture" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         CAST(SUM(COALESCE(CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT), 0)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |               COUNT(*) AS n_sources FROM per)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
        |  LEAST(1.0, CAST(total_tokens AS DOUBLE) / CAST(n_sources AS DOUBLE)
        |               / CAST(n_tokens AS DOUBLE)) AS sample_rate
        |FROM per, tot ORDER BY source""".stripMargin,

    "q71_doc_packing" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT) AS ws_tokens
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, ws_tokens,
        |         COALESCE(SUM(ws_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM d)
        |SELECT source, CAST(FLOOR(cum_before / 2048.0) AS BIGINT) AS bin,
        |       COUNT(*) AS n_docs, CAST(SUM(ws_tokens) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    // Spark's regexp_replace replaces every match; DuckDB needs the 'g'
    // flag for the same semantics.
    "q77_pii_anonymize" ->
      """SELECT c_custkey,
        |  md5('pepper::' || CAST(c_custkey AS VARCHAR)) AS pseudonym,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
        |  CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) * 1000 AS BIGINT) AS acctbal_band,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // list_reduce folds f(f(x1,x2),x3)…; the Spark side folds
    // ((0.0+x1)+x2)+x3 — identical by IEEE (0.0 + x = x for x ≥ 0), so
    // the denominators are bit-equal.
    "q79_temperature_mixture" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         CAST(SUM(COALESCE(CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT), 0)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |den AS (
        |  SELECT list_reduce(list_sort(list(sqrt(CAST(n_tokens AS DOUBLE)))), (a, b) -> a + b) AS denom,
        |         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        |  FROM per)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
        |  sqrt(CAST(n_tokens AS DOUBLE)) / denom AS weight,
        |  (sqrt(CAST(n_tokens AS DOUBLE)) / denom)
        |    / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS boost
        |FROM per, den ORDER BY source""".stripMargin,

    "q80_stratified_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, source,
        |         md5(CAST(doc_id AS VARCHAR) || '::sample') AS skey
        |  FROM documents),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |                                   ORDER BY skey, doc_id) AS rn
        |      FROM keyed)
        |SELECT doc_id, source, skey FROM r WHERE rn <= 5
        |ORDER BY source, skey, doc_id""".stripMargin,

    // The priority itself stays out of the output schema, and the cut
    // key is quantized to 12 decimals exactly as in the Spark plan: a
    // 1-ulp ln() difference across libm builds can then no longer move
    // the k-boundary (equal-grain ties break on doc_id identically).
    "q93_weighted_sample" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROUND(ln((((doc_id % 1048573) * 2654435761) % 1000000007 + 1)
        |         / 1000000008.0) / n_chars, 12) AS priority
        |  FROM documents WHERE n_chars > 0
        |  ORDER BY priority DESC, doc_id LIMIT 50) t
        |ORDER BY doc_id""".stripMargin,

    "q96_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS h_a FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 10 = 4 THEN text || ' v2' ELSE text END) AS h_b
        |  FROM documents WHERE doc_id % 10 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS h_b
        |  FROM documents WHERE doc_id % 10 = 5),
        |j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, h_a, h_b
        |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id),
        |c AS (SELECT doc_id,
        |        CASE WHEN h_a IS NULL THEN 'added'
        |             WHEN h_b IS NULL THEN 'removed'
        |             WHEN h_a <> h_b THEN 'changed' END AS change
        |      FROM j)
        |SELECT doc_id, change FROM c WHERE change IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "q97_quality_calibration" ->
      s"""WITH ${TextQueries.qualityCteBody},
         |r AS (SELECT doc_id,
         |        ROW_NUMBER() OVER (ORDER BY quality, doc_id) - 1 AS rk0_q,
         |        ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1 AS rk0_len,
         |        COUNT(*) OVER () AS n
         |      FROM scored),
         |p AS (SELECT doc_id,
         |        CAST(rk0_q AS DOUBLE) / (n - 1) AS raw_q,
         |        CAST(rk0_len AS DOUBLE) / (n - 1) AS raw_len
         |      FROM r)
         |SELECT doc_id, ROUND(raw_q, 6) AS pct_quality,
         |  ROUND(raw_len, 6) AS pct_length,
         |  ROUND((raw_q + raw_len) / 2.0, 6) AS calibrated
         |FROM p ORDER BY doc_id""".stripMargin,

    // Same shingle CTE as q53 (distinct per doc by construction); the
    // LEFT JOIN + COALESCE keeps clean documents at fraction 0, and the
    // division is one IEEE divide of exact integers on both engines.
    "q112_contamination_frac" ->
      s"""WITH $shingleCte,
         |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 20),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
         |per AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
         |hits AS (SELECT t.doc_id, COUNT(*) AS n_contaminated
         |         FROM tr t JOIN bench USING (shingle) GROUP BY t.doc_id)
         |SELECT p.doc_id, p.n_shingles,
         |  CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |  ROUND(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
         |        / CAST(p.n_shingles AS DOUBLE), 6) AS contam_frac
         |FROM per p LEFT JOIN hits h USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // Single-window formulation: DuckDB runs one per-source cumulative
    // sum in admission-hash order; a hash match proves the bucketed
    // two-pass prefix sum (offsets + in-bucket windows) reconstructs the
    // exact same global cumulative — the whole point of the plan shape.
    "q117_token_budget_sample" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(COALESCE(len(regexp_split_to_array(text, ' ')), 0) AS BIGINT) AS toks,
        |    md5(CAST(doc_id AS VARCHAR) || ':tb') AS h
        |  FROM documents),
        |b AS (SELECT source, CAST(CEIL(SUM(toks) * 0.2) AS BIGINT) AS budget
        |      FROM d GROUP BY source),
        |c AS (SELECT source, doc_id, toks,
        |        CAST(SUM(toks) OVER (PARTITION BY source ORDER BY h, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM d)
        |SELECT c.source, c.doc_id, c.toks, c.cum, b.budget
        |FROM c JOIN b USING (source)
        |WHERE c.cum - c.toks < b.budget
        |ORDER BY c.source, c.cum, c.doc_id""".stripMargin,

    // Rebuilds the hashed-bigram profile with the q110 Horner recipe and
    // replays the identical smoothed log-ratio tree — counts cast to
    // DOUBLE before dividing, ln, one ROUND at the end (+0.0 for the
    // signed-zero canon). A hash match proves bucketing, both
    // distributions, and the per-doc weighted sum end-to-end.
    "q141_dsir_weights" -> {
      val horner = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      s"""WITH g0 AS (
         |  SELECT doc_id, lang, regexp_split_to_array(lower(text), ' ') AS ws
         |  FROM documents),
         |g1 AS (
         |  SELECT doc_id, lang,
         |    unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS gram
         |  FROM g0),
         |gb AS (
         |  SELECT doc_id, lang, CAST($horner % $DsirBuckets AS INT) AS bucket
         |  FROM (SELECT doc_id, lang, md5(gram) AS hx FROM g1) h),
         |tot AS (
         |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt, COUNT(*) AS rt
         |  FROM gb),
         |tgt AS (SELECT bucket, COUNT(*) AS tc FROM gb WHERE lang = 'en' GROUP BY bucket),
         |alln AS (SELECT bucket, COUNT(*) AS rc FROM gb GROUP BY bucket),
         |ratio AS (
         |  SELECT b.b AS bucket,
         |    ln(CAST(COALESCE(tc, 0) + 1 AS DOUBLE) / CAST(tt + $DsirBuckets AS DOUBLE)) -
         |    ln(CAST(COALESCE(rc, 0) + 1 AS DOUBLE) / CAST(rt + $DsirBuckets AS DOUBLE)) AS lr
         |  FROM range(0, $DsirBuckets) b(b)
         |  LEFT JOIN tgt ON tgt.bucket = b.b
         |  LEFT JOIN alln ON alln.bucket = b.b
         |  CROSS JOIN tot),
         |prof AS (SELECT doc_id, bucket, COUNT(*) AS c FROM gb GROUP BY doc_id, bucket)
         |SELECT p.doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         |  ROUND(SUM(CAST(c AS DOUBLE) * lr), 6) + 0.0 AS log_weight
         |FROM prof p JOIN ratio r ON r.bucket = p.bucket
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin
    },

    // Prefix sum over the same doc_id order (window form here — the
    // oracle runs single-node; the Spark side uses the two-pass
    // GlobalRank shape); span arithmetic is exact integers.
    "q259_sequence_packing" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS off
         |  FROM d),
         |x AS (
         |  SELECT doc_id, n_tokens, off,
         |    unnest(generate_series(off // $PackSeqLen,
         |      (off + n_tokens - 1) // $PackSeqLen)) AS seq_id
         |  FROM o)
         |SELECT doc_id, seq_id,
         |  GREATEST(off, seq_id * $PackSeqLen) - off AS doc_from,
         |  LEAST(off + n_tokens, (seq_id + 1) * $PackSeqLen) -
         |    GREATEST(off, seq_id * $PackSeqLen) AS n_tok
         |FROM x ORDER BY seq_id, doc_id""".stripMargin,

    "q260_curriculum_interleave" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS easiness
        |  FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS ws
        |        FROM documents WHERE text IS NOT NULL) t),
        |r AS (
        |  SELECT doc_id, source, easiness,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY easiness ASC, doc_id ASC) AS rank_in_source
        |  FROM s)
        |SELECT ROW_NUMBER() OVER (ORDER BY rank_in_source, source, doc_id)
        |    AS position,
        |  doc_id, source, CAST(rank_in_source AS BIGINT) AS rank_in_source,
        |  easiness + 0.0 AS easiness
        |FROM r ORDER BY position""".stripMargin,

    "q261_negative_sampling" -> {
      val h = hornerSql("hx")
      s"""WITH r AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk,
         |    COUNT(*) OVER () AS n
         |  FROM documents),
         |a AS (SELECT doc_id AS anchor_id, rk AS a_rk, n FROM r
         |      WHERE doc_id % 50 = 0),
         |d AS (
         |  SELECT anchor_id, a_rk, n, s.slot,
         |    md5('neg:' || CAST(anchor_id AS VARCHAR) || ':' ||
         |        CAST(s.slot AS VARCHAR)) AS hx
         |  FROM a CROSS JOIN (SELECT unnest(range(0, $NegK)) AS slot) s),
         |d2 AS (SELECT anchor_id, slot, n, a_rk,
         |         (CAST($h AS BIGINT) % n) + 1 AS draw0 FROM d),
         |d3 AS (SELECT anchor_id, slot,
         |         CASE WHEN draw0 = a_rk THEN (draw0 % n) + 1
         |              ELSE draw0 END AS draw
         |       FROM d2)
         |SELECT anchor_id, CAST(slot AS BIGINT) AS slot,
         |  r.doc_id AS negative_id
         |FROM d3 JOIN r ON r.rk = d3.draw
         |ORDER BY anchor_id, slot""".stripMargin
    },

    "q262_fim_split" -> {
      val h1 = hornerSql("h1x")
      val h2 = hornerSql("h2x")
      s"""WITH d AS (
         |  SELECT doc_id, text, CAST(LENGTH(text) AS BIGINT) AS len,
         |    md5('fim1:' || CAST(doc_id AS VARCHAR)) AS h1x,
         |    md5('fim2:' || CAST(doc_id AS VARCHAR)) AS h2x
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT doc_id, text, len,
         |    CAST($h1 AS BIGINT) % (len + 1) AS c1,
         |    CAST($h2 AS BIGINT) % (len + 1) AS c2 FROM d),
         |u AS (SELECT doc_id, text, len, LEAST(c1, c2) AS u,
         |      GREATEST(c1, c2) AS v FROM c)
         |SELECT doc_id, len, u AS n_prefix, v - u AS n_middle,
         |  len - v AS n_suffix,
         |  md5(substr(text, 1, u)) AS prefix_md5,
         |  md5(substr(text, u + 1, v - u)) AS middle_md5,
         |  md5(substr(text, v + 1, len - v)) AS suffix_md5
         |FROM u ORDER BY doc_id""".stripMargin
    },

    // Same unrolled greedy rounds on the same prefix-sum column; qual is
    // one raw IEEE division of exact longs (identical bits both engines).
    "q264_epoch_allocation" ->
      """WITH a AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(COALESCE(len(regexp_split_to_array(text, ' ')), 0))
        |         AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |q AS (SELECT source, n_docs, toks,
        |        CAST(toks AS DOUBLE) / CAST(n_docs AS DOUBLE) AS qual
        |      FROM a),
        |cum AS (
        |  SELECT x.source, x.n_docs, x.toks, x.qual,
        |    CAST(SUM(y.toks) AS BIGINT) AS cum
        |  FROM q x JOIN q y
        |    ON y.qual > x.qual OR (y.qual = x.qual AND y.source <= x.source)
        |  GROUP BY x.source, x.n_docs, x.toks, x.qual),
        |tot AS (SELECT (CAST(SUM(toks) AS BIGINT) * 8) // 5
        |               - CAST(SUM(toks) AS BIGINT) AS r0 FROM a),
        |s1 AS (SELECT MAX(r0)
        |         - COALESCE(MAX(CASE WHEN cum <= r0 THEN cum END), 0) AS r1
        |       FROM cum CROSS JOIN tot),
        |s2 AS (SELECT MAX(r1)
        |         - COALESCE(MAX(CASE WHEN cum <= r1 THEN cum END), 0) AS r2
        |       FROM cum CROSS JOIN s1)
        |SELECT c.source, c.n_docs, c.toks, c.qual AS mean_toks_per_doc,
        |  c.cum AS cum_toks,
        |  CAST(1 + (CASE WHEN c.cum <= r0 THEN 1 ELSE 0 END)
        |         + (CASE WHEN c.cum <= r1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN c.cum <= r2 THEN 1 ELSE 0 END) AS BIGINT) AS epochs,
        |  CAST(1 + (CASE WHEN c.cum <= r0 THEN 1 ELSE 0 END)
        |         + (CASE WHEN c.cum <= r1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN c.cum <= r2 THEN 1 ELSE 0 END) AS BIGINT)
        |    * c.toks AS alloc_toks
        |FROM cum c CROSS JOIN tot CROSS JOIN s1 CROSS JOIN s2
        |ORDER BY c.source""".stripMargin,

    // q47's recursive closure + the q52 hex-bucket CASE on both keys.
    "q266_cluster_split" ->
      s"""WITH RECURSIVE ${DedupQueries.clustersCteBody}
         |SELECT doc_id, cluster_id,
         |  CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1) <= '9'
         |         OR substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1) IN ('a', 'b')
         |       THEN 'train'
         |       WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1) IN ('c', 'd')
         |       THEN 'val' ELSE 'test' END AS split,
         |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '9'
         |         OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('a', 'b')
         |       THEN 'train'
         |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd')
         |       THEN 'val' ELSE 'test' END AS doc_split
         |FROM clusters ORDER BY doc_id""".stripMargin,

    // Rebuilds grams, coverage, and the residual assembly from scratch —
    // a hash match re-proves which tokens survive and in what order.
    "q267_span_surgery" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |tr AS (SELECT * FROM d WHERE doc_id >= 20),
        |bd AS (SELECT * FROM d WHERE doc_id < 20),
        |bench AS (
        |  SELECT DISTINCT md5(array_to_string(ws[g.i:g.i+4], ' ')) AS h
        |  FROM bd, LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS i) g),
        |grams AS (
        |  SELECT doc_id, g.i - 1 AS pos,
        |         md5(array_to_string(ws[g.i:g.i+4], ' ')) AS h
        |  FROM tr, LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS i) g),
        |cov AS (
        |  SELECT DISTINCT grams.doc_id, q.pp AS p
        |  FROM grams JOIN bench USING (h),
        |       LATERAL (SELECT unnest(generate_series(grams.pos, grams.pos + 4)) AS pp) q),
        |toks AS (
        |  SELECT doc_id, g.i - 1 AS pos, ws[g.i] AS tok
        |  FROM tr, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g),
        |kept AS (
        |  SELECT t.doc_id, COUNT(*) AS n_kept,
        |         md5(array_to_string(list(t.tok ORDER BY t.pos), ' ')) AS kept_md5
        |  FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.pos
        |  WHERE c.p IS NULL GROUP BY t.doc_id),
        |base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM tr)
        |SELECT b.doc_id, b.n_tokens,
        |  b.n_tokens - CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
        |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  COALESCE(k.kept_md5, md5('')) AS kept_md5
        |FROM base b LEFT JOIN kept k USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    // Unrolls the identical IpfRounds row+column sweeps; row/col sums are
    // list_reduce over lists in the SAME sorted order as the Scala
    // reduceLeft (bucket asc within row, source asc within column), each
    // scaling factor one double division — fitted values are
    // bit-identical before the shared ROUND(…, 6).
    "q274_ipf_mixture" -> {
      val rounds = (1 to IpfRounds).map { k =>
        val prev = if (k == 1) "i0" else s"i${k - 1}"
        // MATERIALIZED: each round references its predecessor twice —
        // default CTE inlining would re-scan the base 2^rounds times
        // (measured: "Too many open files" at 8 rounds).
        s"""rk$k AS MATERIALIZED (
           |  SELECT source,
           |    list_reduce(list(x ORDER BY bucket), (p, q) -> p + q) AS rs
           |  FROM $prev GROUP BY source),
           |ir$k AS MATERIALIZED (
           |  SELECT i.source, i.bucket, i.x * (cstm.a / r.rs) AS x
           |  FROM $prev i JOIN rk$k r USING (source) CROSS JOIN cstm),
           |ck$k AS MATERIALIZED (
           |  SELECT bucket,
           |    list_reduce(list(x ORDER BY source), (p, q) -> p + q) AS cs
           |  FROM ir$k GROUP BY bucket),
           |i$k AS MATERIALIZED (
           |  SELECT i.source, i.bucket, i.x * (b.bc / c.cs) AS x
           |  FROM ir$k i JOIN ck$k c USING (bucket) JOIN bcol b USING (bucket))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH m AS MATERIALIZED (
         |  SELECT source,
         |    LEAST(n_chars // $IpfBucketChars, 9) AS bucket,
         |    CAST(SUM(len(regexp_split_to_array(text, ' '))) AS BIGINT) AS mass
         |  FROM documents WHERE text IS NOT NULL
         |  GROUP BY 1, 2),
         |cst AS (
         |  SELECT CAST(SUM(mass) AS DOUBLE) /
         |    (SELECT COUNT(DISTINCT source) FROM m) AS a
         |  FROM m),
         |bcol AS (
         |  SELECT bucket, CAST(CAST(SUM(mass) AS BIGINT) AS DOUBLE) AS bc
         |  FROM m GROUP BY bucket),
         |cstm AS MATERIALIZED (SELECT a FROM cst),
         |i0 AS MATERIALIZED (SELECT source, bucket, CAST(mass AS DOUBLE) AS x FROM m),
         |$rounds
         |SELECT m.source, m.bucket, m.mass AS tokens,
         |  ROUND(i$IpfRounds.x, 6) + 0.0 AS fitted_tokens,
         |  ROUND(i$IpfRounds.x / CAST(m.mass AS DOUBLE), 6) + 0.0 AS weight
         |FROM m JOIN i$IpfRounds USING (source, bucket)
         |ORDER BY m.source, m.bucket""".stripMargin
    }
  )
}
