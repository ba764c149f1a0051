package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/**
 * Text-analysis operators over the `documents` fixture: language ID
 * (stopword-hit heuristic), quality scoring, token counting (whitespace +
 * BPE-ish regex), and content fingerprinting.
 *
 * Everything is per-row scalar work followed by at most one hash
 * aggregate — embarrassingly parallel, no shuffle except the final
 * grouped variants, so these scale linearly with executors.
 */
object TextQueries {

  /** Count of stopword hits for one language's small dictionary. */
  private def hits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(text), lit("\\b(" + words.mkString("|") + ")\\b"), lit(1)))

  /** q210: Flesch reading-ease coefficients — literal strings shared with
    * the oracle (the PoissonCdf convention). */
  val Flesch0 = "206.835"
  val Flesch1 = "1.015"
  val Flesch2 = "84.6"

  private val En = Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "was")
  private val De = Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit", "den")
  private val Fr = Seq("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour")
  private val Es = Seq("el", "los", "las", "una", "es", "y", "por", "con", "para", "como")

  private def sqlHits(words: Seq[String]): String =
    s"len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b'))"

  /** Adds n_tokens / avg_token_len / stop_ratio / quality to ANY frame
    * with `text` and `n_chars` columns — the single definition of the
    * quality formula, shared by q38/q68 and the streaming curation gate
    * (graft.streaming.StreamingIngest.curationGate), so batch and stream
    * provably score identically. Pure per-row columns: works unchanged on
    * a streaming DataFrame. */
  private[graft] def withQuality(df: DataFrame): DataFrame =
    df.withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("avg_token_len",
        (col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", hits(col("text"), En).cast("double") / col("n_tokens"))
      .withColumn("quality",
        least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.5
          + (lit(1.0) - col("stop_ratio")) * 0.3
          + least(col("avg_token_len") / 8.0, lit(1.0)) * 0.2)

  /** Top-unigram share over a lowered word array `w` (longest equal-run
    * fold over the sorted array — per-row, shuffle-free); shared by q69
    * and the streaming curation gate. */
  private[graft] def topWordShare: Column = {
    val topCnt = expr(
      "aggregate(array_sort(w), " +
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), " +
        "(acc, x) -> named_struct(" +
        "  'prev', x, " +
        "  'run', IF(x <=> acc.prev, acc.run + 1L, 1L), " +
        "  'best', GREATEST(acc.best, IF(x <=> acc.prev, acc.run + 1L, 1L))), " +
        "acc -> acc.best)")
    topCnt.cast("double") / size(col("w")).cast("double")
  }

  /** Per-document quality scores (q38's formula) with `source` retained —
    * shared by the q68 threshold filter. The score doubles are a fixed
    * sequence of IEEE ops over exact integers, so they hash-match DuckDB's
    * identically-expressed formula bit for bit. */
  private[graft] def qualityScored(s: SparkSession, dir: String): DataFrame =
    withQuality(t(s, dir, "documents"))

  /** SQL twin of [[qualityScored]] as a CTE body ending in
    * `scored(doc_id, source, n_tokens, avg_token_len, stop_ratio, quality)`. */
  private[graft] lazy val qualityCteBody: String =
    s"""qx AS (
       |  SELECT doc_id, source, n_chars,
       |    CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT) AS n_tokens,
       |    ${sqlHits(En)} AS s_en
       |  FROM documents),
       |qy AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
       |    CAST(s_en AS DOUBLE) / n_tokens AS stop_ratio
       |  FROM qx),
       |scored AS (
       |  SELECT doc_id, source, n_tokens, avg_token_len, stop_ratio,
       |    LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
       |      + (1.0 - stop_ratio) * 0.3
       |      + LEAST(avg_token_len / 8.0, 1.0) * 0.2 AS quality
       |  FROM qy)""".stripMargin

  /** Free-text PII redaction: replace emails, IPv4 addresses, and
    * phone-number-shaped digit runs with fixed tags, in that order (email
    * first so its user part is not half-eaten by the phone pattern; IPv4
    * before phone so dotted quads don't match as digit runs). Pure per-row
    * regex work — codegen'd `RegExpReplace`, no shuffle, linear at any
    * corpus size. Patterns are pinned by QueriesSpec on adversarial
    * literals; q77 carries the structured-column face of the same
    * operator. */
  private[graft] def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    regexp_replace(ip,
      "(?<!\\d)(?:\\+?\\d{1,3}[-. ])?(?:\\(\\d{3}\\)[-. ]?|\\d{3}[-. ])\\d{3}[-. ]\\d{4}(?!\\d)",
      "<PHONE>")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Language ID: n-gram/stopword-hit heuristic with a deterministic
    // argmax tie order (en > de > fr > es); multi-byte text short-circuits
    // to zh (byte length > char length).
    "q37_lang_id" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("s_en", hits($"text", En))
        .withColumn("s_de", hits($"text", De))
        .withColumn("s_fr", hits($"text", Fr))
        .withColumn("s_es", hits($"text", Es))
        .withColumn("pred_lang",
          when(octet_length($"text") > length($"text"), "zh")
            .when($"s_en" >= $"s_de" && $"s_en" >= $"s_fr" && $"s_en" >= $"s_es", "en")
            .when($"s_de" >= $"s_fr" && $"s_de" >= $"s_es", "de")
            .when($"s_fr" >= $"s_es", "fr")
            .otherwise("es"))
        .select($"doc_id", $"lang", $"pred_lang", ($"pred_lang" === $"lang").as("agree"))
        .orderBy($"doc_id")
    },

    // Quality score: length/stopword/token-shape mix in [0,1].
    "q38_quality_score" -> { (s, dir) =>
      import s.implicits._
      qualityScored(s, dir)
        .select($"doc_id", $"n_tokens", $"avg_token_len", $"stop_ratio", $"quality")
        .orderBy($"doc_id")
    },

    // Token counting: whitespace tokens + a BPE-ish regex segmentation
    // (letter runs | digit runs | single other non-space), per source.
    "q39_token_stats" -> { (s, dir) =>
      import s.implicits._
      val subtok = size(regexp_extract_all(lower($"text"), lit("([a-z]+|[0-9]+|[^a-z0-9\\s])"), lit(1)))
      t(s, dir, "documents")
        .withColumn("ws_tokens", size(split($"text", " ")).cast("long"))
        .withColumn("subtokens", subtok.cast("long"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"ws_tokens").as("total_ws_tokens"),
          sum($"subtokens").as("total_subtokens"),
          (sum($"ws_tokens").cast("double") / count(lit(1))).as("avg_ws_tokens"))
        .orderBy($"source")
    },

    // Gopher-style quality-rule battery (Rae et al. 2021 §A1.1): the
    // standard pre-training document filter as ONE per-row projection —
    // word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    // alphabetic-word fraction, stopword floor, and the repetition rule
    // (fraction of characters in the most frequent word 2-gram). Every
    // rule is a codegen'd regex/size column except the 2-gram rule, which
    // is a per-row fold over the sorted bigram array (q69's house
    // pattern — longest-equal-run, extended to also carry the argmax gram
    // with a (count, gram) tie order both engines reproduce). No shuffle
    // anywhere: at 100 TB this is a pure map stage, and `keep` lands
    // pushdown-ready next to the doc key. All shares are IEEE divisions
    // of exact integers — bit-identical in DuckDB, no rounding needed.
    // ----------------------------------------------- readability scoring
    // Flesch reading-ease per source — the curation quality axis q38/q109
    // don't cover: sentence and syllable structure. Heuristics chosen for
    // exact cross-engine parity: sentences = runs of [.!?] (min 1 per
    // doc), syllables = vowel-group runs [aeiouy]+ over the lowercased
    // text (spaces break groups, so cross-word runs can't merge). The
    // per-source aggregates keep the moment discipline: words/sentences/
    // syllables are EXACT integer sums; words-per-sentence and
    // syllables-per-word are ratios of those sums (one float division);
    // only mean Flesch — intrinsically a mean of per-doc nonlinear
    // ratios — sums doubles, at O(1) magnitude where round(6) is safe.
    // Scale: map-only regexp projections, one tiny per-source aggregate.
    "q210_readability" -> { (s, dir) =>
      import s.implicits._
      val per = t(s, dir, "documents").select($"source",
        size(split($"text", " ")).cast("long").as("w"),
        greatest(lit(1L), regexp_count($"text", lit("[.!?]+")).cast("long")).as("sn"),
        regexp_count(lower($"text"), lit("[aeiouy]+")).cast("long").as("sy"))
      val fl = per.withColumn("flesch",
        lit(Flesch0.toDouble) -
          lit(Flesch1.toDouble) * ($"w".cast("double") / $"sn") -
          lit(Flesch2.toDouble) * ($"sy".cast("double") / $"w"))
      fl.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"flesch" >= 60.0, 1L).otherwise(0L)).as("easy_docs"),
          sum($"w").as("n_words"), sum($"sn").as("n_sentences"),
          sum($"sy").as("n_syllables"),
          avg($"flesch").as("af"))
        .select($"source", $"n_docs", $"easy_docs", $"n_words",
          $"n_sentences", $"n_syllables",
          round($"n_words".cast("double") / $"n_sentences", 6)
            .as("words_per_sentence"),
          round($"n_syllables".cast("double") / $"n_words", 6)
            .as("syllables_per_word"),
          (round($"af", 6) + lit(0d)).as("avg_flesch"))
        .orderBy($"source")
    },

    "q109_gopher_rules" -> { (s, dir) =>
      import s.implicits._
      val top2 = expr(
        "aggregate(array_sort(bg), " +
          "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'bestn', 0L, 'bestg', CAST(NULL AS STRING)), " +
          "(acc, x) -> named_struct(" +
          "  'prev', x, " +
          "  'run', IF(x <=> acc.prev, acc.run + 1L, 1L), " +
          "  'bestn', GREATEST(acc.bestn, IF(x <=> acc.prev, acc.run + 1L, 1L)), " +
          "  'bestg', CASE WHEN IF(x <=> acc.prev, acc.run + 1L, 1L) > acc.bestn THEN x " +
          "                WHEN IF(x <=> acc.prev, acc.run + 1L, 1L) = acc.bestn " +
          "                     AND (acc.bestg IS NULL OR x > acc.bestg) THEN x " +
          "                ELSE acc.bestg END), " +
          "acc -> named_struct('n', acc.bestn, 'g', acc.bestg))")
      // spread before the per-document HOF folds (bigram run-length
      // aggregate, regex scans): single-file scan fusion ran them in one
      // task, twice via the orderBy range sampler (2×0.84 s measured)
      spreadIfNarrow(t(s, dir, "documents")
          .select($"doc_id", $"text", $"n_chars"))
        .withColumn("w", split(lower($"text"), " "))
        .withColumn("n_words", size($"w").cast("long"))
        .withColumn("mean_word_len",
          ($"n_chars" - ($"n_words" - 1)).cast("double") / $"n_words")
        .withColumn("n_stop", hits($"text", En).cast("long"))
        .withColumn("alpha_frac",
          size(expr("filter(w, x -> x rlike '[a-z]')")).cast("double") / $"n_words")
        .withColumn("symbol_ratio",
          (size(regexp_extract_all($"text", lit("(#|\\.\\.\\.)"), lit(1))))
            .cast("double") / $"n_words")
        .withColumn("bg", when($"n_words" >= 2,
          expr("transform(sequence(0, size(w) - 2), i -> concat_ws(' ', slice(w, i + 1, 2)))"))
          .otherwise(array().cast("array<string>")))
        .withColumn("t2", top2)
        .withColumn("top2_char_frac",
          when($"n_words" >= 2,
            ($"t2.n" * length($"t2.g")).cast("double") / $"n_chars").otherwise(0.0))
        .withColumn("r_words", $"n_words" >= 50 && $"n_words" <= 100000)
        .withColumn("r_mean_len", $"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0)
        .withColumn("r_alpha", $"alpha_frac" > 0.8)
        .withColumn("r_stop", $"n_stop" >= 2)
        .withColumn("r_symbol", $"symbol_ratio" < 0.1)
        .withColumn("r_rep", $"top2_char_frac" < 0.2)
        .withColumn("keep",
          $"r_words" && $"r_mean_len" && $"r_alpha" && $"r_stop" && $"r_symbol" && $"r_rep")
        .select($"doc_id", $"n_words", $"mean_word_len", $"n_stop", $"alpha_frac",
          $"symbol_ratio", $"top2_char_frac", $"r_words", $"r_mean_len", $"r_alpha",
          $"r_stop", $"r_symbol", $"r_rep", $"keep")
        .orderBy($"doc_id")
    },

    // Vocabulary analytics: top-5 tokens per source — token explode (the
    // scan-heavy shape), one grouped count, then the custom GroupTopK
    // operator (partial heaps cut the per-source rank's shuffle+sort to
    // ≤ 5 rows per source per task; see graft.plans.GroupTopK). The
    // trailing row_number runs over ≤ 5 rows per source, already clustered
    // by the GroupTopK exchange — no second shuffle.
    "q44_top_tokens_per_source" -> { (s, dir) =>
      import s.implicits._
      val counts = t(s, dir, "documents")
        .select($"source", explode(split(lower($"text"), " ")).as("token"))
        .groupBy($"source", $"token")
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"n".desc, $"token")
      graft.plans.GroupTopK(counts, Seq($"source"), Seq($"n".desc, $"token".asc), 5)
        .withColumn("rk", row_number().over(w).cast("long"))
        .select($"source", $"rk", $"token", $"n")
        .orderBy($"source", $"rk")
    },

    // Content fingerprint: md5 of the case-normalized text (the oracle-able
    // face; the engine-specific 64-bit rolling variant is q41, rows-only).
    "q40_fingerprint" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", md5(lower($"text")).as("fp"))
        .orderBy($"doc_id")
    },

    // TF-IDF relevance scoring: term frequency × ln(N/df), top-3 terms per
    // doc. Three hash aggregates + one broadcast of the (token, df) table
    // and the corpus-size scalar — no per-row UDFs, log noise absorbed by
    // ROUND(…, 6) on both engines. Per-doc ranking runs through the custom
    // GroupTopK operator (≤ 3 scored terms per doc cross the rank shuffle,
    // not every (doc, token) score); the trailing row_number sees ≤ 3 rows
    // per doc, already clustered by the GroupTopK exchange.
    "q50_tfidf_top_terms" -> { (s, dir) =>
      import s.implicits._
      val tok = t(s, dir, "documents")
        .select($"doc_id", explode(split(lower($"text"), " ")).as("token"))
      val tf = tok.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      val df = tok.distinct().groupBy($"token").agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(df), "token")
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round($"tf" * log($"n_docs".cast("double") / $"df"), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"tfidf".desc, $"token")
      graft.plans.GroupTopK(scored, Seq($"doc_id"), Seq($"tfidf".desc, $"token".asc), 3)
        .withColumn("rk", row_number().over(w).cast("long"))
        .select($"doc_id", $"rk", $"token", $"tfidf")
        .orderBy($"doc_id", $"rk")
    },

    // Text normalization — the cleaning pass that precedes tokenization
    // in a training pipeline: lowercase, strip non-alphanumerics to
    // spaces, collapse whitespace runs, trim. Pure per-row scalar work
    // (no shuffle); n_removed records how aggressive the cleaning was,
    // the signal used to route documents to gentler pipelines.
    "q62_text_clean" -> { (s, dir) =>
      import s.implicits._
      val cleaned = trim(regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9\\s]", " "), "\\s+", " "))
      t(s, dir, "documents")
        .select($"doc_id",
          cleaned.as("clean_text"),
          (length($"text") - length(cleaned)).cast("long").as("n_removed"))
        .orderBy($"doc_id")
    },

    // Rolling (chained) fingerprint: a left fold of md5 over the token
    // stream — ORDER-sensitive, unlike the bag-of-tokens hash (q40):
    // swapping two tokens changes the fingerprint, and a pipeline can
    // extend it incrementally (fold the new tokens onto the stored
    // fingerprint) without re-reading the prefix. The hash family is
    // md5-chaining specifically so BOTH engines can compute it —
    // DuckDB's list_reduce over a prepended seed is the identical fold —
    // which upgrades this from rows-only to a full hash-match oracle.
    // Per-row HOF: no shuffle, scales as a projection.
    "q41_rolling_fingerprint" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("toks", split(lower($"text"), " "))
        .withColumn("fp", expr("aggregate(toks, '42', (acc, t) -> md5(concat(acc, '|', t)))"))
        .select($"doc_id", $"fp")
        .orderBy($"doc_id")
    },

    // Repetition signals (the Gopher-style quality gates that catch
    // boilerplate and degenerate generations): per-document top-unigram
    // share and distinct-bigram ratio.
    "q69_repetition" -> { (s, dir) =>
      import s.implicits._
      // Entirely per-row: both metrics are functions of one document, so
      // the scale-correct plan is a stateless projection — no explode, no
      // (doc_id, word) shuffle, no join; a 100 TB corpus streams through
      // map tasks untouched. The unigram mode is a sort-and-count-runs
      // fold (O(n log n) in the document's own length — bounded by a
      // single row by definition); the explode/word-count alternative
      // ships every token of the corpus through an exchange to compute a
      // per-document number.
      // size<2 guard: sequence(0, -1) yields a DESCENDING [0, -1] in
      // Spark, not an empty array (the q55 phantom-frame trap).
      val bigramRatio = when(size($"w") < 2, lit(null).cast("double"))
        .otherwise {
          val b = expr("transform(sequence(0, size(w) - 2), " +
            "i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2)))")
          size(array_distinct(b)).cast("double") / size(b).cast("double")
        }
      t(s, dir, "documents")
        .withColumn("w", split(lower($"text"), " "))
        .filter($"w".isNotNull)
        .select($"doc_id",
          size($"w").cast("long").as("n_words"),
          size(array_distinct($"w")).cast("long").as("n_distinct"),
          topWordShare.as("top_word_share"),
          bigramRatio.as("bigram_distinct_ratio"))
        .orderBy($"doc_id")
    },

    // Corpus heavy hitters (tokens above 2% of all tokens) via the
    // sketch-candidates → exact-verify pattern (q73's shape, aggregate
    // edition): pass 1 is one Misra–Gries aggregate whose per-task state
    // is ≤ 256 counters regardless of vocabulary size — only those tiny
    // buffers cross the shuffle, vs a full vocabulary-keyed exchange.
    // The MG bound (every item above N/257 is a candidate, and 2% ≫
    // 1/257) guarantees no true heavy hitter is missed; pass 2 exact-
    // counts only the ≤ 256 candidates (map-side IN filter, 256-key agg)
    // so the output is exact and deterministic — hence oracle-checked,
    // not rows-only, despite the sketch in the middle.
    "q74_heavy_hitters" -> { (s, dir) =>
      import s.implicits._
      graft.functions.FrequentItems.register(s)
      val toks = t(s, dir, "documents")
        .select(explode(split(lower($"text"), " ")).as("token"))
      // One LAZY plan (no driver-side .head() — constructing the query
      // must not execute it): the sketch's 1-row output explodes into the
      // ≤ 256-row candidate frame with the exact total n carried on every
      // row, which broadcasts into the verify join — the sketch subtree
      // executes exactly once, inside the same job as the verify pass.
      val cand = toks
        .agg(graft.functions.FrequentItems.sketch($"token", 256).as("sk"))
        .select($"sk.n".as("n_total"), explode($"sk.entries.item").as("token"))
      toks.join(broadcast(cand), "token")
        .groupBy($"token")
        .agg(count(lit(1)).as("n_occurrences"), max($"n_total").as("n_total"))
        .filter($"n_occurrences" > $"n_total" * lit(0.02))
        .withColumn("share",
          $"n_occurrences".cast("double") / $"n_total".cast("double"))
        .select($"token", $"n_occurrences", $"share")
        .orderBy($"n_occurrences".desc, $"token")
    },

    // Unigram language-model scoring (the CCNet-style perplexity filter):
    // score each document by the mean surprise −ln p(token) under the
    // corpus's own unigram distribution — high scores flag documents full
    // of corpus-rare tokens (noise, other languages, mojibake), low
    // scores flag degenerate/common-word soup. Two bounded shuffles: the
    // token-count aggregate is VOCABULARY-sized (bounded — BPE vocabs are
    // ~10⁵ regardless of corpus size, so AQE broadcasts it back), and the
    // per-doc re-aggregate carries one double per token occurrence. The
    // per-doc sum folds the per-token surprises IN POSITION ORDER (sorted
    // struct fold), so the float sum is partition- and engine-invariant;
    // the final mean is rounded to 1e-6 — log() may legitimately differ
    // by 1 ulp between libm implementations, and ~1e-14 of accumulated
    // ulp noise must not flip the comparison grain.
    "q81_unigram_logprob" -> { (s, dir) =>
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select($"doc_id", posexplode(split(lower($"text"), " ")).as(Seq("pos", "tok")))
      val counts = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum($"cnt").as("total"))
      toks.join(counts, "tok").crossJoin(broadcast(tot))
        .withColumn("logp", -log($"cnt".cast("double") / $"total".cast("double")))
        .groupBy($"doc_id")
        .agg(
          expr("aggregate(array_sort(collect_list(struct(pos, logp))), " +
            "cast(0.0 as double), (a, x) -> a + x.logp)").as("sum_lp"),
          count(lit(1)).as("n_toks"))
        .select($"doc_id", $"n_toks",
          round($"sum_lp" / $"n_toks", 6).as("avg_neg_logprob"))
        .orderBy($"doc_id")
    },

    // Interpolated bigram-LM surprisal — q81's scoring upgraded to use
    // left context: p(w|prev) = 0.75·c(prev,w)/c(prev) + 0.25·c(w)/total
    // (document-initial tokens fall back to the unigram term alone).
    // Interpolation keeps every probability > 0, so ln is always defined
    // and unseen-bigram docs score high (surprising) instead of inf.
    //
    // The scale distinction this query exists to make: the UNIGRAM table
    // is vocabulary-bounded (~10⁵ rows at any corpus size — broadcasts),
    // but the BIGRAM table grows with the corpus and can NOT broadcast —
    // it meets the token stream in a shuffle hash join on the (prev,tok)
    // key. The token stream is therefore joined exactly TWICE: once
    // against broadcast-size `uni` (the unigram term every row needs) and
    // once against the enriched bigram table — `c_prev` is attached to
    // the bigram table AT BIGRAM GRANULARITY (bi ⋈ uni on prev, a
    // corpus-scale×broadcast join), not by a third token-stream-wide
    // join. The (doc_id,pos,tok,prev) frame is pinned so the document
    // scan + lag window execute once and feed uni, bi, and the scoring
    // stream from the materialized blocks. At 100 TB the bigram table is
    // the thing you prune (keep count ≥ floor, let interpolation absorb
    // the tail) — the join shape stays the same. λ = 0.75/0.25 are
    // exactly representable doubles and both engines evaluate the
    // identical expression tree on identical counts, so only ln()'s
    // ≤1-ulp wobble remains — absorbed by the position-ordered fold +
    // shared round(…, 6), exactly as in q81.
    "q88_bigram_logprob" -> { (s, dir) =>
      import s.implicits._
      val wprev = Pin.lazily(
        t(s, dir, "documents")
          .select($"doc_id", posexplode(split(lower($"text"), " ")).as(Seq("pos", "tok")))
          .withColumn("prev",
            lag($"tok", 1).over(Window.partitionBy($"doc_id").orderBy($"pos"))))
      val uni = wprev.groupBy($"tok").agg(count(lit(1)).as("c_w"))
      val tot = uni.agg(sum($"c_w").as("total"))
      val bi = wprev.filter($"prev".isNotNull)
        .groupBy($"prev", $"tok").agg(count(lit(1)).as("c_bi"))
      // c_prev lands on the bigram table (|bi| rows), never on the stream.
      val biE = bi.join(uni.toDF("prev", "c_prev"), Seq("prev"))
      val pu = $"c_w".cast("double") / $"total".cast("double")
      wprev
        .join(uni, "tok")
        .join(biE, Seq("prev", "tok"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("logp", when($"prev".isNull, -log(pu))
          .otherwise(-log(
            lit(0.75) * $"c_bi".cast("double") / $"c_prev".cast("double")
              + lit(0.25) * pu)))
        .groupBy($"doc_id")
        .agg(
          expr("aggregate(array_sort(collect_list(struct(pos, logp))), " +
            "cast(0.0 as double), (a, x) -> a + x.logp)").as("sum_lp"),
          count(lit(1)).as("n_toks"))
        .select($"doc_id", $"n_toks",
          round($"sum_lp" / $"n_toks", 6).as("avg_bigram_nll"))
        .orderBy($"doc_id")
    },

    // Per-source distinctive tokens by LIFT — the distribution-drift
    // monitor a mixture pipeline runs per ingest batch: which tokens are
    // over-represented in a source relative to the whole corpus
    // (lift = p(token|source) / p(token) = (n_st·n) / (n_s·n_t)). A new
    // crawl whose top-lift tokens suddenly change is the first sign of a
    // template farm or an encoding bug upstream. Everything derives from
    // ONE (source, token) count aggregate — the per-source and corpus
    // marginals are rollups of it, so the corpus-wide token shuffle
    // happens exactly once; the source marginal broadcasts (sources ≪
    // tokens). min-count 5 suppresses one-off tokens whose lift is noise.
    // GroupTopK bounds the rank shuffle to 3 scored tokens per source.
    // The integer products stay exact in a LONG up to n·n_st < 2^63
    // (~10^9 total tokens × 10^9 occurrences); past that, widen to the
    // decimal path of ops/Tables before dividing.
    "q95_source_lift" -> { (s, dir) =>
      import s.implicits._
      // Pinned before branching: perTok/perSrc/total/scored all derive
      // from `st`, and exchange reuse is not guaranteed — without the
      // pin the corpus-wide token explode + count could execute four
      // times. The pin materializes the (source, token) table, which is
      // sources × vocabulary bounded.
      val st = Pin.lazily(t(s, dir, "documents")
        .select($"source", explode(split(lower($"text"), " ")).as("token"))
        .groupBy($"source", $"token").agg(count(lit(1)).as("n_st")))
      val perTok = st.groupBy($"token").agg(sum($"n_st").as("n_t"))
      val perSrc = st.groupBy($"source").agg(sum($"n_st").as("n_s"))
      val total = st.agg(sum($"n_st").as("n"))
      val scored = st.filter($"n_st" >= 5)
        .join(perTok, "token")
        .join(broadcast(perSrc), "source")
        .crossJoin(broadcast(total))
        .withColumn("lift",
          round(($"n_st" * $"n").cast("double") / ($"n_s" * $"n_t").cast("double"), 6))
      val w = Window.partitionBy($"source").orderBy($"lift".desc, $"token")
      graft.plans.GroupTopK(scored, Seq($"source"), Seq($"lift".desc, $"token".asc), 3)
        .withColumn("rk", row_number().over(w).cast("long"))
        .select($"source", $"rk", $"token", $"n_st", $"lift")
        .orderBy($"source", $"rk")
    },

    // Count–min point-frequency estimates for the corpus's exact top-10
    // tokens, next to their true counts — the "how often did THIS item
    // occur" sketch (functions/CountMinAggregate) that completes the
    // mergeable-summary family. The whole 4×256 grid is ONE aggregate row
    // (fixed ~8 KB state per task regardless of vocabulary; only those
    // buffers cross the shuffle), exploded to 1024 (seed, bucket, c)
    // cells that BROADCAST into the probe lookup — the estimate join
    // touches 10×4 cells, never the token stream. Oracle-checked, not
    // rows-only: the grid is a pure function of the input multiset
    // (merge = elementwise add, any merge tree), and the row-hash family
    // is the SQL-expressible md5 recipe of q33/q41 — Spark's conv(md5)
    // face here, DuckDB's hex-digit Horner in the oracle, and the JVM
    // updater all compute the identical buckets. The one pinned `toks`
    // frame feeds both the exact probe counts and the sketch.
    "q110_countmin_freq" -> { (s, dir) =>
      import s.implicits._
      graft.functions.CountMin.register(s)
      val toks = Pin.lazily(t(s, dir, "documents")
        .select(explode(split(lower($"text"), " ")).as("tok")))
      val probe = toks.groupBy($"tok").agg(count(lit(1)).as("exact_n"))
        .orderBy($"exact_n".desc, $"tok").limit(10)
      val cells = toks
        .agg(graft.functions.CountMin.sketch($"tok", 4, 256).as("sk"))
        .select(posexplode($"sk.cells").as(Seq("idx", "c")))
        .select(($"idx" / lit(256)).cast("int").as("seed"),
          ($"idx" % 256).cast("int").as("bucket"), $"c")
      val seeds = s.range(0, 4).select($"id".cast("int").as("seed"))
      probe.crossJoin(broadcast(seeds))
        .withColumn("bucket",
          (conv(substring(md5(concat($"seed".cast("string"), lit(":"), $"tok")), 1, 8),
            16, 10).cast("long") % 256).cast("int"))
        .join(broadcast(cells), Seq("seed", "bucket"))
        .groupBy($"tok", $"exact_n")
        .agg(min($"c").as("cms_est"))
        .orderBy($"exact_n".desc, $"tok")
    },

    // Adjacent-token collocations by pointwise mutual information —
    // pmi = ln(p(x,y) / (p(x)·p(y))) with the bigram probability over the
    // bigram total and unigram probabilities over the token total. The
    // corpus-drift companion to q95's lift: lift finds tokens that mark a
    // SOURCE; PMI finds token PAIRS that glue together corpus-wide
    // (templates, boilerplate collocations) — rising PMI mass is the
    // early sign of template-farm contamination. Same scale skeleton as
    // q88: everything reduces to the bigram-granularity count table
    // (corpus-bounded, shuffle-joined); the unigram marginals attach AT
    // THAT granularity — the token stream itself is never joined. The
    // c_bi ≥ 5 floor kills one-off pairs whose PMI is pure noise (and is
    // what a 100 TB run would push map-side). All counts go through
    // DOUBLE before multiplying (products of three corpus-scale counts
    // overflow BIGINT long before they lose double precision — the
    // opposite trade from q95's in-LONG products, chosen deliberately
    // here); both engines evaluate the identical expression tree, so only
    // ln's ≤1-ulp wobble remains, absorbed by round(…, 6).
    "q111_pmi_bigrams" -> { (s, dir) =>
      import s.implicits._
      // Pinned before branching: uni / totals / bi all derive from the
      // same token+prev frame (q88's pin rationale).
      val wprev = Pin.lazily(
        t(s, dir, "documents")
          .select($"doc_id", posexplode(split(lower($"text"), " ")).as(Seq("pos", "tok")))
          .withColumn("prev",
            lag($"tok", 1).over(Window.partitionBy($"doc_id").orderBy($"pos"))))
      val uni = wprev.groupBy($"tok").agg(count(lit(1)).as("c_w"))
      val totals = wprev.agg(count(lit(1)).as("n_tok"),
        sum(when($"prev".isNotNull, 1L).otherwise(0L)).as("n_bi"))
      val bi = wprev.filter($"prev".isNotNull)
        .groupBy($"prev", $"tok").agg(count(lit(1)).as("c_bi"))
      bi.filter($"c_bi" >= 5)
        .join(uni.toDF("prev", "c_prev"), "prev")
        .join(uni.toDF("tok", "c_tok"), "tok")
        .crossJoin(broadcast(totals))
        .withColumn("pmi", round(log(
          ($"c_bi".cast("double") * $"n_tok".cast("double") * $"n_tok".cast("double")) /
            ($"n_bi".cast("double") * $"c_prev".cast("double") * $"c_tok".cast("double"))), 6))
        .select($"prev", $"tok", $"c_bi", $"pmi")
        .orderBy($"prev", $"tok")
    },

    // Vocabulary coverage curve — the tokenizer-design question "how many
    // vocab entries cover 50/75/90/95/99% of corpus tokens?". Token counts
    // are a vocabulary-bounded aggregate; the ordered cumulative sum over
    // them rides GlobalRank.withGlobalPrefixSum (two-pass range shuffle,
    // exact LONG prefix sums, no unpartitioned window — the naive
    // `SUM OVER (ORDER BY …)` with no partition key sorts the whole
    // vocabulary in one task). Coverage fractions are divisions of exact
    // longs — bit-identical across engines, no rounding needed.
    "q119_vocab_coverage" -> { (s, dir) =>
      import s.implicits._
      val counts = t(s, dir, "documents")
        .select(explode(split(lower($"text"), " ")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val ranked = GlobalRank.withGlobalPrefixSum(counts,
        Seq($"cnt".desc, $"tok".asc), $"cnt", "rk", "n_vocab", "cum", "total")
      val th = Seq(0.5, 0.75, 0.9, 0.95, 0.99).toDF("threshold")
      // θ·total is evaluated in double on BOTH sides (0.9/0.95/0.99 are not
      // dyadic, but the product is the same IEEE double in each engine).
      ranked.crossJoin(broadcast(th))
        .filter($"cum".cast("double") >= $"threshold" * $"total".cast("double"))
        .groupBy($"threshold")
        .agg(
          min($"rk").as("vocab_size"),
          max($"n_vocab").as("n_vocab"),
          (min_by($"cum", $"rk").cast("double") / max($"total").cast("double"))
            .as("covered_frac"))
        .orderBy($"threshold")
    },

    // Per-source distribution drift: cross-entropy and KL divergence of each
    // source's unigram distribution against the whole-corpus distribution —
    // the mixture-health metric a curation run tracks (a source whose KL
    // explodes is feeding the model a different language than the rest).
    // Observed-only algebra: corpus vocabulary ⊇ source vocabulary, so every
    // p_src>0 term has p_corpus>0 and no smoothing is needed; both sums run
    // over the (source, tok) aggregate — |S|·|V| rows, far below token scale.
    // Shuffle budget: one token-stream agg to (source,tok), a vocab-scale
    // join onto corpus counts, a broadcast of per-source totals. Double sums
    // + one final round(6) absorb partial-agg order noise (~1e-13 ≪ grain).
    "q120_source_kl" -> { (s, dir) =>
      import s.implicits._
      val st = Pin.lazily(t(s, dir, "documents")
        .select($"source", explode(split(lower($"text"), " ")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("c_st")))
      val srcTot = st.groupBy($"source")
        .agg(sum($"c_st").as("n_s"), count(lit(1)).as("vocab_s"))
      val tokTot = st.groupBy($"tok").agg(sum($"c_st").as("c_t"))
      val total = srcTot.agg(sum($"n_s").as("n_tot"))
      st.join(tokTot, "tok")
        .join(broadcast(srcTot), "source")
        .crossJoin(broadcast(total))
        .withColumn("p_s", $"c_st".cast("double") / $"n_s".cast("double"))
        .withColumn("kl_term", $"p_s" * log(
          ($"c_st".cast("double") * $"n_tot".cast("double")) /
            ($"n_s".cast("double") * $"c_t".cast("double"))))
        .withColumn("ce_term", -$"p_s" * log(
          $"c_t".cast("double") / $"n_tot".cast("double")))
        .groupBy($"source")
        .agg(
          max($"n_s").as("n_toks"),
          max($"vocab_s").as("vocab_size"),
          round(sum($"ce_term"), 6).as("ce_nats"),
          round(sum($"kl_term"), 6).as("kl_nats"))
        .orderBy($"source")
    },

    // Zipf law fit per source: OLS slope/intercept of ln(freq) on ln(rank)
    // over each source's top-200 tokens. Natural text sits near slope −1;
    // a source that deviates hard (templated/generated content repeats a
    // tiny vocabulary) is a curation smell. Top-200-per-source rides the
    // custom GroupTopK operator (bounded heaps, partial+final); the
    // in-group rank window then runs over ≤200 rows per source. Raw sums
    // combine before the single round(6) (round-then-combine ties break
    // differently across engines — q97 lesson).
    "q122_zipf_slope" -> { (s, dir) =>
      import s.implicits._
      val st = t(s, dir, "documents")
        .select($"source", explode(split(lower($"text"), " ")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("cnt"))
      val top = graft.plans.GroupTopK(st, Seq($"source"),
        Seq($"cnt".desc, $"tok".asc), 200)
      val xy = top
        .withColumn("rk", row_number().over(
          Window.partitionBy($"source").orderBy($"cnt".desc, $"tok".asc)))
        .withColumn("x", log($"rk".cast("double")))
        .withColumn("y", log($"cnt".cast("double")))
      xy.groupBy($"source")
        .agg(count(lit(1)).as("n_terms"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
        .filter($"n_terms" >= 2)
        .withColumn("nd", $"n_terms".cast("double"))
        .withColumn("slope",
          ($"nd" * $"sxy" - $"sx" * $"sy") / ($"nd" * $"sxx" - $"sx" * $"sx"))
        .select($"source", $"n_terms",
          round($"slope", 6).as("zipf_slope"),
          round(($"sy" - $"slope" * $"sx") / $"nd", 6).as("zipf_intercept"))
        .orderBy($"source")
    },

    // BM25 ranked retrieval — the relevance-search face of the corpus: a
    // fixed batch of term queries scored with Okapi BM25 (Lucene idf,
    // k1=1.2, b=0.75) and ranked top-10 per query. Plan shape is the
    // inverted-index join: postings (tok, doc, tf) meet the BROADCAST
    // query-term list first, so only postings of query terms survive into
    // the per-doc stage — at 100 TB the postings table is bucketed by
    // token and the broadcast probe touches only matching buckets; the
    // document stream itself is aggregated once and never re-joined.
    // Float parity: per-term contributions are selected into FIXED slots
    // (sum(when(idx=i)) has ≤1 row per slot — selection, not float
    // accumulation) and added in explicit left-to-right order, so the
    // score is the identical expression tree in both engines and ties
    // break on doc_id identically.
    "q124_bm25_topk" -> { (s, dir) =>
      import s.implicits._
      val toks = Pin.lazily(t(s, dir, "documents")
        .select($"doc_id", explode(split(lower($"text"), " ")).as("tok")))
      val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
      val post = toks.groupBy($"tok", $"doc_id").agg(count(lit(1)).as("tf"))
      val dfr = post.groupBy($"tok").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
      val qterms = Bm25Queries
        .flatMap { case (qid, ts) => ts.zipWithIndex.map { case (tk, i) => (qid, tk, i) } }
        .toDF("query_id", "tok", "term_idx")
      val scored = post
        .join(broadcast(qterms), "tok")
        .join(dfr, "tok")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl", $"sum_dl".cast("double") / $"n_docs".cast("double"))
        .withColumn("idf", log(
          ($"n_docs".cast("double") - $"df".cast("double") + lit(0.5)) /
            ($"df".cast("double") + lit(0.5)) + lit(1.0)))
        .withColumn("contrib",
          $"idf" * ($"tf".cast("double") * lit(Bm25K1 + 1.0)) /
            ($"tf".cast("double") +
              lit(Bm25K1) * (lit(1.0) - lit(Bm25B) + lit(Bm25B) * $"dl".cast("double") / $"avgdl")))
      val perDoc = scored.groupBy($"query_id", $"doc_id")
        .agg(
          sum(when($"term_idx" === 0, $"contrib")).as("c0"),
          sum(when($"term_idx" === 1, $"contrib")).as("c1"),
          sum(when($"term_idx" === 2, $"contrib")).as("c2"))
        .withColumn("score",
          coalesce($"c0", lit(0.0)) + coalesce($"c1", lit(0.0)) + coalesce($"c2", lit(0.0)))
      val wr = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
      graft.plans.GroupTopK(perDoc, Seq($"query_id"),
          Seq($"score".desc, $"doc_id".asc), Bm25TopK)
        .withColumn("rk", row_number().over(wr).cast("long"))
        .select($"query_id".cast("long").as("query_id"), $"rk", $"doc_id",
          round($"score", 6).as("score"))
        .orderBy($"query_id", $"rk")
    },

    // Reciprocal-rank-fusion hybrid retrieval — the standard way two
    // rankers with incommensurable scores combine (hybrid lexical+dense
    // search uses exactly this): each ranker contributes 1/(k + rank)
    // for its top-20, missing docs contribute 0, fused top-10 ships.
    // Ranker A is q124's Okapi BM25 (same constants — the sibling
    // cross-reference convention, like q164/q116); ranker B is Dirichlet-
    // smoothed query likelihood (μ=2000, add-one collection smoothing so
    // out-of-corpus terms stay finite), a genuinely different relevance
    // model over the SAME candidate set: docs matching ≥1 query term.
    // Plan shape stays the inverted-index join — the broadcast query-term
    // list prunes postings FIRST, the LM's absent-term defaults come from
    // an equi-join of candidates × the query's own ≤3 broadcast term
    // rows (never a scan of non-matching tokens), and both rankers'
    // top-20 pools ride GroupTopK partial heaps, so no unpartitioned
    // window and no per-ranker rescan of the corpus. Float parity: both
    // scores are fixed-slot folds (≤1 row per slot — selection, not
    // accumulation) added left-to-right; ranks are decided on those raw
    // doubles identically in both engines with doc_id tie-breaks; the
    // RRF sum is two mirrored divisions.
    "q189_rrf_hybrid" -> { (s, dir) =>
      import s.implicits._
      val toks = Pin.lazily(t(s, dir, "documents")
        .select($"doc_id", explode(split(lower($"text"), " ")).as("tok")))
      val dl = Pin.lazily(toks.groupBy($"doc_id").agg(count(lit(1)).as("dl")))
      val post = Pin.lazily(
        toks.groupBy($"tok", $"doc_id").agg(count(lit(1)).as("tf")))
      val dfr = post.groupBy($"tok").agg(count(lit(1)).as("df"))
      val cf = Pin.lazily(post.groupBy($"tok").agg(sum($"tf").as("cf")))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
      val vt = cf.agg(count(lit(1)).as("vocab"), sum($"cf").as("total"))
      val qterms = Bm25Queries
        .flatMap { case (qid, ts) => ts.zipWithIndex.map { case (tk, i) => (qid, tk, i) } }
        .toDF("query_id", "tok", "term_idx")
      // BM25 ranking — q124's expression verbatim
      val bmScored = post
        .join(broadcast(qterms), "tok")
        .join(dfr, "tok")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl", $"sum_dl".cast("double") / $"n_docs".cast("double"))
        .withColumn("idf", log(
          ($"n_docs".cast("double") - $"df".cast("double") + lit(0.5)) /
            ($"df".cast("double") + lit(0.5)) + lit(1.0)))
        .withColumn("contrib",
          $"idf" * ($"tf".cast("double") * lit(Bm25K1 + 1.0)) /
            ($"tf".cast("double") +
              lit(Bm25K1) * (lit(1.0) - lit(Bm25B) + lit(Bm25B) * $"dl".cast("double") / $"avgdl")))
      val bmDoc = bmScored.groupBy($"query_id", $"doc_id")
        .agg(
          sum(when($"term_idx" === 0, $"contrib")).as("c0"),
          sum(when($"term_idx" === 1, $"contrib")).as("c1"),
          sum(when($"term_idx" === 2, $"contrib")).as("c2"))
        .withColumn("score",
          coalesce($"c0", lit(0.0)) + coalesce($"c1", lit(0.0)) + coalesce($"c2", lit(0.0)))
      // LM ranking over the same candidates: every (candidate, query
      // term) pair gets a row, so absent terms contribute the smoothed
      // floor log(μ·p/(dl+μ)) instead of silently dropping out
      val qp = broadcast(qterms
        .join(cf, Seq("tok"), "left")
        .crossJoin(vt)
        .select($"query_id", $"term_idx", $"tok",
          ((coalesce($"cf", lit(0L)) + 1).cast("double") /
            ($"total" + $"vocab").cast("double")).as("p")))
      val cand = post.join(broadcast(qterms), "tok")
        .select($"query_id", $"doc_id").distinct()
      val p2 = post.select($"tok".as("ptok"), $"doc_id".as("pdoc"), $"tf")
      val lmDoc = cand
        .join(qp, "query_id")
        .join(p2, $"ptok" === $"tok" && $"pdoc" === $"doc_id", "left")
        .drop("ptok", "pdoc")
        .join(dl, "doc_id")
        .withColumn("contrib",
          log((coalesce($"tf", lit(0L)).cast("double") + lit(LmMu) * $"p") /
            ($"dl".cast("double") + lit(LmMu))))
        .groupBy($"query_id", $"doc_id")
        .agg(
          sum(when($"term_idx" === 0, $"contrib")).as("c0"),
          sum(when($"term_idx" === 1, $"contrib")).as("c1"),
          sum(when($"term_idx" === 2, $"contrib")).as("c2"))
        .withColumn("score", $"c0" + $"c1" + coalesce($"c2", lit(0.0)))
      def pool(df: DataFrame, rankCol: String): DataFrame = {
        val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
        graft.plans.GroupTopK(df, Seq($"query_id"),
            Seq($"score".desc, $"doc_id".asc), RrfPoolK)
          .withColumn(rankCol, row_number().over(w).cast("long"))
          .select($"query_id", $"doc_id", col(rankCol))
      }
      val b = pool(bmDoc, "r_bm")
      val l = pool(lmDoc, "r_lm")
      val fused = b.join(l, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / ($"r_bm" + lit(RrfK)).cast("double"), lit(0.0)) +
            coalesce(lit(1.0) / ($"r_lm" + lit(RrfK)).cast("double"), lit(0.0)))
      val wf = Window.partitionBy($"query_id").orderBy($"rrf".desc, $"doc_id".asc)
      graft.plans.GroupTopK(fused, Seq($"query_id"),
          Seq($"rrf".desc, $"doc_id".asc), Bm25TopK)
        .withColumn("rk", row_number().over(wf).cast("long"))
        .select($"query_id".cast("long").as("query_id"), $"rk", $"doc_id",
          round($"rrf", 6).as("rrf_score"), $"r_bm", $"r_lm")
        .orderBy($"query_id", $"rk")
    },

    // Token-mass concentration: the Lorenz curve (cumulative token share at
    // each decile of documents, shortest-first) plus the Gini coefficient —
    // the audit that says whether a handful of giant documents carry the
    // corpus (skews mixture weights, packing bins, and dedup cost alike).
    // Second rider on withGlobalPrefixSum: ranks/prefixes are exact LONGs;
    // the sum-of-prefixes B aggregates in DECIMAL(38,0) (exact and
    // order-independent where a double sum would wobble and a LONG sum
    // overflows at n·T ≈ 2⁶³ — decimal holds to 10³⁸); only the final
    // Gini division leaves integers, and round(6) absorbs the ≤1-ulp
    // decimal→double cast difference between engines. Decile rows are
    // selected by an EQUI-join on the precomputed target rank (10-row
    // broadcast), not a nested-loop scan.
    "q126_token_gini" -> { (s, dir) =>
      import s.implicits._
      val dl = t(s, dir, "documents")
        .select($"doc_id", size(split(lower($"text"), " ")).cast("long").as("dl"))
      val ranked = Pin.lazily(GlobalRank.withGlobalPrefixSum(dl,
        Seq($"dl".asc, $"doc_id".asc), $"dl", "rk", "n", "cum", "total"))
      val stats = ranked.agg(max($"n").as("n"), max($"total").as("t"),
        sum($"cum".cast("decimal(38,0)")).as("b"))
      val gini = stats.withColumn("gini",
        round(lit(1.0) - (lit(2) * $"b" - $"t").cast("double") /
          ($"n".cast("double") * $"t".cast("double")), 6))
      val targets = (1 to 10).toDF("decile")
        .crossJoin(broadcast(gini))
        .select($"decile".cast("long").as("decile"),
          expr("(decile * n) div 10").as("rk_t"), $"t", $"gini")
      ranked.join(broadcast(targets), $"rk" === $"rk_t")
        .select($"decile", $"rk".as("rank_at"), $"cum".as("cum_tokens"),
          ($"cum".cast("double") / $"t".cast("double")).as("cum_share"),
          $"gini")
        .orderBy($"decile")
    },

    // Character-level Shannon entropy per document — the quality signal
    // that catches what token-level rules (q38/q109) cannot: minified
    // blobs, base64/hex dumps and key-mash gibberish score HIGH (near
    // log2(alphabet)), while stuck-key/template repetition scores LOW, so
    // curation gates on both tails. Two hash aggregates, both with
    // map-side partial combine: per-(doc, char) counts (≤ alphabet-size
    // rows per doc cross the shuffle — the exploded chars themselves
    // combine within each map task), then the per-doc entropy fold
    // H = log2(n) − Σ nc·log2(nc) / n over EXACT integer counts; one
    // round(6) absorbs the ~1e-15 double-sum order noise. No windows, no
    // joins — the shape survives any corpus size that hash-aggregates.
    "q133_char_entropy" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "documents")
        .filter($"text".isNotNull && length($"text") > 0)
        .select($"doc_id", explode(split(lower($"text"), "")).as("ch"))
        .filter($"ch" =!= "") // a final empty split artifact must not count
        .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("nc"))
        .groupBy($"doc_id")
        .agg(sum($"nc").as("n_chars"), count(lit(1)).as("n_distinct_chars"),
          round(log2(sum($"nc")) -
            sum($"nc".cast("double") * log2($"nc")) / sum($"nc"), 6)
            .as("entropy_bits"))
        .orderBy($"doc_id")
    },

    // BPE merge induction — TRAINING a tokenizer on the corpus, not just
    // counting with one (the q39/q119 side). The scale trick is the
    // classic industrial one: BPE never iterates over the corpus — it
    // iterates over the WORD HISTOGRAM. One corpus-wide hash aggregate
    // reduces 100 TB of text to a Zipf-bounded (word, count) frame, and
    // every Lloyd-like round after that is (a) an adjacent-pair count
    // over that frame weighted by word frequency (hash agg, map-side
    // combine), (b) ONE argmax row collected (control data), (c) a typed
    // map applying the merge leftmost-first — per-round cost is histogram-
    // sized, independent of corpus size. Deterministic by construction:
    // ties break (count desc, left asc, right asc), no RNG — and the
    // whole algorithm is integers + strings, so the r8 FULL oracle
    // (BpeRounds unrolled in SQL over a chr(1)-delimited segmentation,
    // merges as chained non-regex replaces) is engine-exact with no
    // float discipline needed. QueriesSpec additionally replays training
    // against an independent in-memory reference BPE.
    "q135_bpe_merges" -> { (s, dir) =>
      import s.implicits._
      // The TRAINING face pays training on every call (r10 verdict: the
      // shared memo made q135's own bench iterations measure a cache hit,
      // not BPE training). The fresh result still seeds the memo so the
      // APPLY face (q145) keeps the honest train-once-apply-many shape;
      // set-if-absent is enough because training is deterministic.
      val trained = bpeTrainMerges(s, dir)
      AppCaches.memo(s, dir, "bpeMerges")(trained)
      trained.toDF("rank", "left", "right", "pair_count")
        .select($"rank", $"left", $"right",
          concat($"left", $"right").as("merged"), $"pair_count")
        .orderBy($"rank")
    },

    // BPE tokenization with the q135-trained merges — the APPLY side of
    // the pair: per-document BPE unit counts (incl. the </w> marker) and
    // the units-per-word compression the merges buy. The scale insight:
    // tokenize the VOCABULARY, not the corpus — the iterative merge
    // replay runs once per distinct word (typed map over the vocab
    // frame, merge list broadcast), and per-doc counts come from joining
    // the (doc, word, count) aggregate against that vocab-granularity
    // length table. A 100 TB corpus re-tokenizes by streaming its word
    // histogram through the same join; if the vocabulary outgrows the
    // broadcast budget, the join degrades to a shuffle at vocab
    // granularity — never token granularity. FULL oracle since r8
    // (shares q135's unrolled training CTEs — the round-10 segmentation
    // IS the merges-applied-in-order tokenization); QueriesSpec
    // recomputes every document's count against an independent
    // driver-side BPE.
    "q145_bpe_tokenize" -> { (s, dir) =>
      import s.implicits._
      val merges = bpeTrainedMerges(s, dir).map(m => (m._2, m._3))
      val bm = s.sparkContext.broadcast(merges)
      val docWords = Pin.lazily(t(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id", explode(split(lower($"text"), " ")).as("w"))
        .filter(length($"w") > 0)
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c")))
      val vocab = docWords.select($"w").distinct()
        .as[String]
        .map { w =>
          val syms = bm.value.foldLeft[Seq[String]](w.map(_.toString) :+ "</w>") {
            case (sy, (l, r)) => bpeMergeOnce(sy, l, r)
          }
          (w, syms.length.toLong)
        }.toDF("w", "bpe_len")
      docWords.join(broadcast(vocab), "w")
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_ws_tokens"),
          sum($"c" * $"bpe_len").as("n_bpe_units"))
        // RAW emission (q26/q164): one double division of exact longs
        .withColumn("units_per_word", $"n_bpe_units" / $"n_ws_tokens")
        .orderBy($"doc_id")
    },

    // Interpolated Kneser–Ney bigram surprisal — the LM-quality filter
    // upgrade over q88's naive interpolation: the backoff term is the
    // CONTINUATION probability (how many distinct contexts a token
    // follows), not raw frequency, so function words that appear in few
    // novel contexts stop masking genuinely-predictable text (Kneser &
    // Ney 1995; Chen & Goodman 1998 §2.7):
    //   p(w|prev) = (c(prev,w) − d)/c(prev)
    //             + d·N₁₊(prev,·)/c(prev) · p_cont(w)
    //   p_cont(w) = (N₁₊(·,w) + 1) / (N₁₊(··) + V)      (add-1 so tokens
    //     only ever seen document-initial still score; V = vocab size)
    // with discount d = 0.75 (exactly representable). Scoring the
    // training corpus itself means every stream bigram exists in the
    // count table, so c(prev,w) ≥ 1 and the discounted term is ≥ 0.25 —
    // no max(·,0) clamp, no unseen-bigram branch, every probability > 0.
    //
    // Scale shape, same discipline as q88: the pinned bigram-count table
    // is the ONE corpus-scale aggregate and meets the token stream in a
    // shuffle join on (prev, tok); everything else attached to the stream
    // is VOCABULARY-bounded — the context stats (c_prev = Σ_w c(prev,w),
    // follower fan-out N₁₊(prev,·)) and the continuation counts
    // N₁₊(·,w) are per-token rollups OF the bigram table (≤ |vocab|
    // rows, AQE broadcasts them), and the two scalars (total bigram
    // types, V) are a broadcast cross join. At 100 TB you prune the
    // bigram table by count floor exactly as q88 notes; the vocab-sized
    // side tables and the join shape are unchanged. Both engines
    // evaluate the identical double expression tree on identical exact
    // integer counts, so only ln()'s ≤1-ulp wobble remains — absorbed by
    // the position-ordered fold + shared round(…, 6), as in q81/q88.
    "q263_kneser_ney" -> { (s, dir) =>
      import s.implicits._
      val wprev = Pin.lazily(
        t(s, dir, "documents")
          .select($"doc_id", posexplode(split(lower($"text"), " ")).as(Seq("pos", "tok")))
          .withColumn("prev",
            lag($"tok", 1).over(Window.partitionBy($"doc_id").orderBy($"pos"))))
      // One corpus-scale aggregate, pinned: context stats, continuation
      // counts, and the type total are all rollups of it.
      val bi = Pin.lazily(wprev.filter($"prev".isNotNull)
        .groupBy($"prev", $"tok").agg(count(lit(1)).as("c_bi")))
      val ctx = bi.groupBy($"prev")
        .agg(sum($"c_bi").as("c_prev"), count(lit(1)).as("n_follow"))
      val cont = bi.groupBy($"tok").agg(count(lit(1)).as("n_prec"))
      val scalars = bi.agg(count(lit(1)).as("n_types"))
        .crossJoin(wprev.agg(countDistinct($"tok").as("v")))
      val pcont = (coalesce($"n_prec", lit(0L)) + lit(1L)).cast("double") /
        ($"n_types" + $"v").cast("double")
      val pkn = ($"c_bi".cast("double") - lit(0.75)) / $"c_prev".cast("double") +
        lit(0.75) * $"n_follow".cast("double") / $"c_prev".cast("double") * pcont
      wprev
        .join(bi, Seq("prev", "tok"), "left")
        .join(ctx, Seq("prev"), "left")
        .join(cont, Seq("tok"), "left")
        .crossJoin(broadcast(scalars))
        .withColumn("logp",
          when($"prev".isNull, -log(pcont)).otherwise(-log(pkn)))
        .groupBy($"doc_id")
        .agg(
          expr("aggregate(array_sort(collect_list(struct(pos, logp))), " +
            "cast(0.0 as double), (a, x) -> a + x.logp)").as("sum_lp"),
          count(lit(1)).as("n_toks"))
        .select($"doc_id", $"n_toks",
          round($"sum_lp" / $"n_toks", 6).as("avg_kn_nll"))
        .orderBy($"doc_id")
    },

    // --------------------------- vocabulary richness / unseen mass
    // Corpus-sizing audit per source: how saturated is the vocabulary,
    // and how much probability mass do UNSEEN words still hold? Two
    // closed-form estimators off the word-frequency spectrum's first
    // two bins: the Good–Turing unseen-mass estimate p₀ ≈ n₁/N (the
    // hapax share — Good 1953), and the bias-corrected Chao1 richness
    // floor V + n₁(n₁−1)/(2(n₂+1)) (Chao 1984) — the "keep crawling or
    // stop" readout for a data-acquisition decision, and the
    // complement to q122's Zipf slope (shape) and q263's smoothing
    // (which SPENDS the n₁/N mass). Scale shape: ONE corpus aggregate
    // to the Zipf-bounded (source, word) frame, then a source-grain
    // rollup — spectrum bins are exact integer counts, and the two
    // estimates are fixed-order float chains over those exact longs
    // (no libm, no float sums), so raw emission is bit-identical
    // cross-engine per ORACLE.md rule 1. Hapax products ride doubles
    // (can't wrap, unlike LONG — rule 5's divergence never arises).
    "q268_vocab_richness" -> { (s, dir) =>
      import s.implicits._
      val wc = t(s, dir, "documents").filter($"text".isNotNull)
        .select($"source", explode(split(lower($"text"), " ")).as("w"))
        .filter(length($"w") > 0)
        .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      wc.groupBy($"source")
        .agg(sum($"c").as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when($"c" === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum(when($"c" === 2, 1L).otherwise(0L)).as("n_dis"))
        .select($"source", $"n_tokens", $"vocab", $"n_hapax", $"n_dis",
          ($"n_hapax".cast("double") / $"n_tokens".cast("double"))
            .as("p_unseen"),
          ($"vocab".cast("double") +
            $"n_hapax".cast("double") * ($"n_hapax" - 1).cast("double") /
              (lit(2.0) * ($"n_dis" + 1).cast("double"))).as("chao1"))
        .orderBy($"source")
    },

    // ------------------------------ Heaps'-law vocabulary-growth fit
    // The growth-RATE companion to q268's richness floor: fit
    // V(N) ≈ K·N^β (Heaps 1978) by OLS of ln V on ln N over ten
    // corpus-prefix checkpoints in one fixed reading order (doc_id,
    // pos) — the "how fast do new types keep arriving" readout that,
    // with q268's Chao1, prices a crawl extension. The TYPE unit is
    // the word BIGRAM: unigram vocabulary saturates immediately on a
    // template-heavy corpus (this fixture holds 31 distinct words —
    // word-level β is exactly 0, the degenerate case), while bigram
    // types keep arriving and are the same estimator one level up.
    // Scale shape: bigrams form in a per-doc window (partitioned, the
    // q263 shape); the stream ranks once via GlobalRank's two-pass
    // prefix machinery (never a global window on the Spark side);
    // first occurrences are a type-bounded min-rank aggregate; the ten
    // checkpoints broadcast onto that frame (≤10× types fan-out, then
    // a 10-row grid). Float discipline: ln() passes libm, so the OLS
    // moments fold over FIXED slots in explicit left-to-right order
    // (the q124 selection idiom — sum(when(k=i)) picks exactly one
    // row; no float accumulation order exists) and beta/lnK round once
    // at 6 dp from the raw chain (q97 lesson), mirrored verbatim.
    "q269_heaps_fit" -> { (s, dir) =>
      import s.implicits._
      val toks = t(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id", posexplode(split(lower($"text"), " ")).as(Seq("pos", "w")))
        .filter(length($"w") > 0)
      // concat (not concat_ws): NULL lead must yield a NULL bigram for
      // the last token of each doc, matching the oracle's || semantics.
      val bg = toks
        .withColumn("b", concat($"w", lit(" "),
          lead($"w", 1).over(Window.partitionBy($"doc_id").orderBy($"pos"))))
        .filter($"b".isNotNull)
        .select($"doc_id", $"pos", $"b")
      val ranked = GlobalRank.withGlobalRank(bg,
        Seq($"doc_id".asc, $"pos".asc), "rk", "n")
      val first = Pin.lazily(ranked.groupBy($"b").agg(min($"rk").as("frk"))
        .crossJoin(broadcast(ranked.agg(max($"n").as("nn")))))
      val cps = s.range(1, 11).select($"id".as("k"))
      val grid = Pin.lazily(first
        .join(broadcast(cps), $"frk" <= expr("(nn * k) div 10"))
        .groupBy($"k", expr("(nn * k) div 10").as("n_prefix"))
        .agg(count(lit(1)).as("v_prefix")))
      val slots = grid.agg(
        sum(when($"k" === 1, log($"n_prefix".cast("double")))).as("x1"),
        (2 to 10).map(i =>
          sum(when($"k" === i, log($"n_prefix".cast("double")))).as(s"x$i")) ++
        (1 to 10).map(i =>
          sum(when($"k" === i, log($"v_prefix".cast("double")))).as(s"y$i")): _*)
      def fold(p: String): Column =
        (1 to 10).map(i => col(s"$p$i")).reduceLeft(_ + _)
      def fold2(f: Int => Column): Column =
        (1 to 10).map(f).reduceLeft(_ + _)
      val fit = slots
        .withColumn("sx", fold("x")).withColumn("sy", fold("y"))
        .withColumn("sxy", fold2(i => col(s"x$i") * col(s"y$i")))
        .withColumn("sxx", fold2(i => col(s"x$i") * col(s"x$i")))
        .withColumn("beta_raw",
          (lit(10.0) * $"sxy" - $"sx" * $"sy") /
            (lit(10.0) * $"sxx" - $"sx" * $"sx"))
        .select($"beta_raw",
          (($"sy" - $"beta_raw" * $"sx") / lit(10.0)).as("lnk_raw"))
      grid.crossJoin(broadcast(fit))
        .select($"k", $"n_prefix", $"v_prefix",
          (round($"beta_raw", 6) + lit(0d)).as("heaps_beta"),
          (round($"lnk_raw", 6) + lit(0d)).as("heaps_lnk"))
        .orderBy($"k")
    },

    // ----------------- cross-source quantile normalization of quality
    // Score comparability across heterogeneous sources — the curation
    // step that makes one quality threshold meaningful corpus-wide when
    // each source's raw score distribution differs (a web crawl and a
    // code dump don't share a quality scale): map each doc's
    // WITHIN-SOURCE rank onto the POOLED score distribution's order
    // statistic at the same quantile (rank-based quantile normalization,
    // the microarray-normalization classic applied to data curation).
    // Determinism: ranks are exact integers with doc_id tie-breaks, the
    // quantile index is pure integer arithmetic k = ⌈r·N/n_src⌉ =
    // (r·N + n_src − 1) div n_src (never a float multiply that could
    // round differently across engines), and norm_quality is a VERBATIM
    // pooled score value. Scale shape: within-source ranks ride
    // source-partitioned windows (sources scale with the corpus), the
    // pooled order statistics ride GlobalRank's two-pass range machinery
    // (never a single-partition global sort), and the order-statistic
    // attach is an integer equi-join.
    "q273_quantile_normalize" -> { (s, dir) =>
      import s.implicits._
      val q = Pin.lazily(qualityScored(s, dir)
        .select($"doc_id", $"source", $"quality"))
      val wsrc = Window.partitionBy($"source")
        .orderBy($"quality".asc, $"doc_id".asc)
      val ranked = q
        .withColumn("src_rank", row_number().over(wsrc).cast("long"))
        .withColumn("n_src",
          count(lit(1)).over(Window.partitionBy($"source")))
      val pooled = GlobalRank.withGlobalRank(
          q.select($"quality".as("pq"), $"doc_id".as("pid")),
          Seq($"pq".asc, $"pid".asc), "k", "n_total")
        .select($"k", $"pq")
      val nTotal = q.agg(count(lit(1)).as("n_total"))
      ranked.crossJoin(broadcast(nTotal))
        .withColumn("k",
          expr("(src_rank * n_total + n_src - 1) div n_src"))
        .join(pooled, Seq("k"))
        .select($"doc_id", $"source", $"quality", $"src_rank", $"k",
          $"pq".as("norm_quality"))
        .orderBy($"doc_id")
    },

    // ------------------------- Gopher repetition filters (Rae et al.
    // 2021, Appendix A1.1) — the canonical within-document repetition
    // audit a pretraining curation pipeline runs before any quality
    // classifier: looping/boilerplate text shows up as (a) one n-gram
    // owning a large share of the document's characters, and (b) much
    // of the document's character mass sitting inside n-grams that
    // repeat within the same document. The fixture has no line
    // structure, so the line/paragraph rules degenerate and the
    // n-gram family is the meaningful subset: top-{2,3,4}-gram char
    // share and duplicated-{5,6}-gram char coverage. Character mass is
    // WORD characters (spaces excluded) on both sides — denominator
    // Σ len(word), numerators cnt·(len(gram) − (n−1)) and the distinct-
    // covered-position word-length sum — so every ratio is a single
    // division of exact BIGINTs (raw emission, q26 convention).
    // Scale shape: everything is per-document — gram explode bounded by
    // doc length, GroupTopK bounds the per-doc argmax, the dup-coverage
    // distinct is (doc, position)-granular — and the only corpus-wide
    // movement is the per-doc gram hash-aggregates; no corpus² anywhere.
    "q272_gopher_repetition" -> { (s, dir) =>
      import s.implicits._
      val base = Pin.lazily(t(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id", split(lower($"text"), " ").as("ws")))
      val den = base.select($"doc_id",
        expr("aggregate(ws, 0L, (a, w) -> a + length(w))").as("wchars"))
      def gramRows(n: Int) = base
        .filter(size($"ws") >= n)
        .select($"doc_id", posexplode(expr(
          s"""transform(sequence(0, size(ws) - $n),
             |  g -> concat_ws(' ', slice(ws, g + 1, $n)))""".stripMargin))
          .as(Seq("pos", "gram")))
      // (a) most frequent n-gram's character share; ties to the
      // lexicographically first gram (deterministic both engines).
      def topShare(n: Int) = {
        val counts = gramRows(n).groupBy($"doc_id", $"gram")
          .agg(count(lit(1)).as("cnt"))
        graft.plans.GroupTopK(counts, Seq($"doc_id"),
            Seq($"cnt".desc, $"gram".asc), 1)
          .select($"doc_id",
            ($"cnt" * (length($"gram") - lit(n - 1))).as(s"top$n"))
      }
      // (b) word-char mass under DISTINCT positions covered by any
      // within-doc duplicated n-gram (no double counting of overlaps —
      // the Gopher implementation's semantics).
      def dupCover(n: Int) = {
        val g = gramRows(n)
        val dup = g.groupBy($"doc_id", $"gram").agg(count(lit(1)).as("cnt"))
          .filter($"cnt" >= 2)
        g.join(dup, Seq("doc_id", "gram"), "left_semi")
          .select($"doc_id",
            explode(expr(s"sequence(pos, pos + $n - 1)")).as("wp"))
          .distinct()
          .join(base, Seq("doc_id"))
          .select($"doc_id",
            expr("length(element_at(ws, cast(wp as int) + 1))").as("wl"))
          .groupBy($"doc_id").agg(sum($"wl").as(s"dup$n"))
      }
      // Degenerate-doc guard (r9 advice): an empty/all-space text has
      // wchars = 0, and Spark's 0.0/0.0 = NaN while DuckDB's 0/0 is
      // config-dependent (NULL under strict IEEE settings) — NULLIF the
      // denominator on BOTH sides so both engines agree the ratios are
      // NULL for such docs. Latent on the current fixture (every doc has
      // real words) but the contract shouldn't rest on that.
      val wchars0 = nullif($"wchars", lit(0L)).cast("double")
      Seq(topShare(2), topShare(3), topShare(4), dupCover(5), dupCover(6))
        .foldLeft(den)((acc, f) => acc.join(f, Seq("doc_id"), "left"))
        .select($"doc_id", $"wchars",
          (coalesce($"top2", lit(0L)).cast("double") / wchars0)
            .as("top2gram_share"),
          (coalesce($"top3", lit(0L)).cast("double") / wchars0)
            .as("top3gram_share"),
          (coalesce($"top4", lit(0L)).cast("double") / wchars0)
            .as("top4gram_share"),
          (coalesce($"dup5", lit(0L)).cast("double") / wchars0)
            .as("dup5gram_frac"),
          (coalesce($"dup6", lit(0L)).cast("double") / wchars0)
            .as("dup6gram_frac"))
        .orderBy($"doc_id")
    }
  )

  /** q135's training loop, shared with q145's apply side: BpeRounds of
    * (best adjacent pair by histogram count, ties by symbol order) →
    * merge replay over the vocabulary histogram. Returns (rank, left,
    * right, pair_count) in training order. All iteration state is
    * vocabulary-granularity; only 1-row argmaxes reach the driver.
    *
    * MEMOIZED per (application, fixture dir) — the covStats precedent:
    * q135 (training face) and q145 (apply face) both need the merge
    * table, and a 3-iteration bench otherwise reruns the identical
    * ~BpeRounds-job driver-sequenced Lloyd-style loop five extra times.
    * Vocabulary-granularity control-plane data (~BpeRounds rows). */
  private[graft] def bpeTrainedMerges(
      s: SparkSession, dir: String): Seq[(Long, String, String, Long)] =
    AppCaches.memo(s, dir, "bpeMerges")(bpeTrainMerges(s, dir))

  private def bpeTrainMerges(
      s: SparkSession, dir: String): Seq[(Long, String, String, Long)] = {
    import s.implicits._
    val words0 = t(s, dir, "documents").filter($"text".isNotNull)
      .select(explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("wc"))
      .as[(String, Long)]
      .map { case (w, c) => (w.map(_.toString) :+ "</w>", c) }
      .toDF("syms", "wc")
    var words = Pin(words0)
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < BpeRounds && !exhausted) {
      // Adjacent pairs (overlapping, per position — the classic
      // get_stats) over the histogram; the HOF lambda runs interpreted
      // but only across vocabulary rows, not corpus rows.
      val best = words
        .select($"wc", explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), " +
            "(x, i) -> struct(x AS l, element_at(syms, i + 2) AS r))")).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"wc").as("cnt"))
        .orderBy($"cnt".desc, $"l".asc, $"r".asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, rr, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r + 1L, l, rr, cnt))
        words = Pin(words.as[(Seq[String], Long)]
          .map { case (syms, c) => (bpeMergeOnce(syms, l, rr), c) }
          .toDF("syms", "wc"))
        r += 1
      }
    }
    merges.toSeq
  }

  /** One BPE merge pass: replace adjacent (l, r) with l+r, leftmost-first,
    * skipping past each merge (so "aaa" under (a,a) → ["aa","a"]) — the
    * reference algorithm's replace rule. Shared by q135's typed map;
    * QueriesSpec replays training against an independent implementation. */
  private[graft] def bpeMergeOnce(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** q135: number of merge rounds trained. */
  private val BpeRounds = 10

  // BM25 geometry: Okapi defaults; the query batch is part of the operator
  // contract (retrieval always has a query side — here a fixed broadcast
  // batch over the fixture vocabulary, incl. the rare discriminative "dup").
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25TopK = 10

  /** q189: Dirichlet-smoothing mass for the query-likelihood ranker. */
  private val LmMu = 2000.0

  /** q189: RRF rank-damping constant (the standard k=60). */
  private val RrfK = 60

  /** q189: per-ranker pool depth fed into the fusion. */
  private val RrfPoolK = 20
  private val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("hash", "join"),
    1 -> Seq("window", "agg"),
    2 -> Seq("stream", "batch", "dup"),
    3 -> Seq("sort", "merge", "join"),
    4 -> Seq("vector", "scan"))

  /** Shared CTE chain for the q135/q145 oracles: the word histogram, a
    * chr(1)-delimited character segmentation, and BpeRounds unrolled
    * merge rounds. Pair counts include overlaps (adjacent positions over
    * the symbol list); the best pair orders (count desc, left, right);
    * the merge applies as CHAINED plain-string replaces — pattern
    * SEP·l·SEP·r·SEP → SEP·lr·SEP consumes the shared separator of
    * back-to-back instances, so one pass per chain link is needed: 8
    * passes cover the fixture's ≤9-symbol words (≤4-link chains) with
    * headroom. Equivalence with bpeMergeOnce's leftmost-skip scan: for
    * l ≠ r instances are token-disjoint (overlap would force r = l), and
    * for l = r runs the per-pass leftmost replace reproduces the
    * ⌊k/2⌋-pairs segmentation. Merged tokens are strictly longer than
    * either input, so a round's replacement can never create a new
    * instance of its own pair. */
  private lazy val bpeCtes: String = {
    def mergeExpr(e0: String): String =
      (1 to 8).foldLeft(e0)((acc, _) =>
        s"replace($acc, chr(1) || b.lft || chr(1) || b.rgt || chr(1), " +
          s"chr(1) || b.lft || b.rgt || chr(1))")
    val rounds = (1 to BpeRounds).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS (
         |  SELECT pr.l AS lft, pr.r AS rgt, CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT wc, unnest([struct_pack(l := syms[i], r := syms[i + 1])
         |                       for i in range(1, len(syms))]) AS pr
         |    FROM (SELECT wc, sl[2:len(sl) - 1] AS syms
         |          FROM (SELECT wc, string_split(seg, chr(1)) AS sl
         |                FROM $prev) a) b2) c
         |  GROUP BY pr.l, pr.r),
         |b$r AS (SELECT lft, rgt, cnt FROM p$r
         |        ORDER BY cnt DESC, lft, rgt LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT w, wc, ${mergeExpr("seg")} AS seg
         |  FROM $prev CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (SELECT unnest(string_split(lower(text), ' ')) AS w
       |        FROM documents WHERE text IS NOT NULL),
       |hist AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM tok
       |         WHERE len(w) > 0 GROUP BY w),
       |w0 AS MATERIALIZED (
       |  SELECT w, wc,
       |    chr(1) || regexp_replace(w, '(.)', '\\1' || chr(1), 'g') ||
       |      '</w>' || chr(1) AS seg
       |  FROM hist),
       |$rounds""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    "q269_heaps_fit" -> {
      def slot(p: String, src: String): String = (1 to 10)
        .map(i => s"SUM(CASE WHEN k = $i THEN ln(CAST($src AS DOUBLE)) END) AS $p$i")
        .mkString(",\n        |  ")
      def fold(p: String): String = (1 to 10)
        .map(i => s"$p$i").reduceLeft((a, b) => s"($a + $b)")
      def fold2(f: Int => String): String = (1 to 10)
        .map(f).reduceLeft((a, b) => s"($a + $b)")
      val sxy = fold2(i => s"(x$i * y$i)")
      val sxx = fold2(i => s"(x$i * x$i)")
      s"""WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, t[i] AS w
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS t
        |        FROM documents WHERE text IS NOT NULL) s,
        |       LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g
        |  WHERE len(t[i]) > 0),
        |bg AS (
        |  SELECT doc_id, pos,
        |         w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS b
        |  FROM toks),
        |rk AS (SELECT b, ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS rk
        |       FROM bg WHERE b IS NOT NULL),
        |fo AS (SELECT b, MIN(rk) AS frk FROM rk GROUP BY b),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM rk),
        |grid AS (
        |  SELECT k, (nn * k) // 10 AS n_prefix,
        |         CAST(COUNT(*) AS BIGINT) AS v_prefix
        |  FROM fo, tot, (SELECT unnest(generate_series(1, 10)) AS k) ks
        |  WHERE frk <= (nn * k) // 10
        |  GROUP BY k, (nn * k) // 10),
        |slots AS (SELECT
        |  ${slot("x", "n_prefix")},
        |  ${slot("y", "v_prefix")}
        |  FROM grid),
        |fit AS (SELECT
        |    (10.0 * ($sxy) - ${fold("x")} * ${fold("y")}) /
        |      (10.0 * ($sxx) - ${fold("x")} * ${fold("x")}) AS beta_raw,
        |    ${fold("y")} AS sy, ${fold("x")} AS sx
        |  FROM slots)
        |SELECT k, n_prefix, v_prefix,
        |  ROUND(beta_raw, 6) + 0.0 AS heaps_beta,
        |  ROUND((sy - beta_raw * sx) / 10.0, 6) + 0.0 AS heaps_lnk
        |FROM grid, fit ORDER BY k""".stripMargin
    },

    "q268_vocab_richness" ->
      """WITH wc AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents WHERE text IS NOT NULL) t
        |  WHERE len(w) > 0 GROUP BY source, w),
        |sp AS (
        |  SELECT source,
        |    CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS vocab,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
        |  FROM wc GROUP BY source)
        |SELECT source, n_tokens, vocab, n_hapax, n_dis,
        |  CAST(n_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS p_unseen,
        |  CAST(vocab AS DOUBLE) +
        |    CAST(n_hapax AS DOUBLE) * CAST(n_hapax - 1 AS DOUBLE) /
        |      (2.0 * CAST(n_dis + 1 AS DOUBLE)) AS chao1
        |FROM sp ORDER BY source""".stripMargin,

    "q135_bpe_merges" -> {
      val sel = (1 to BpeRounds).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS "rank", lft AS "left",
           |  rgt AS "right", lft || rgt AS merged, cnt AS pair_count
           |FROM b$r""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH $bpeCtes
         |$sel
         |ORDER BY "rank"""".stripMargin
    },

    "q145_bpe_tokenize" ->
      s"""WITH $bpeCtes,
         |vl AS (SELECT w,
         |    CAST(len(string_split(seg, chr(1))) - 2 AS BIGINT) AS bpe_len
         |  FROM w$BpeRounds),
         |dw AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
         |        FROM documents WHERE text IS NOT NULL) t
         |  WHERE len(w) > 0 GROUP BY doc_id, w)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ws_tokens,
         |  CAST(SUM(c * bpe_len) AS BIGINT) AS n_bpe_units,
         |  CAST(SUM(c * bpe_len) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
         |    AS units_per_word
         |FROM dw JOIN vl USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q210_readability" ->
      s"""WITH per AS (
         |  SELECT source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         |    GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS sn,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS sy
         |  FROM documents),
         |fl AS (
         |  SELECT *,
         |    $Flesch0 - $Flesch1 * (CAST(w AS DOUBLE) / sn) -
         |      $Flesch2 * (CAST(sy AS DOUBLE) / w) AS flesch
         |  FROM per)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN flesch >= 60.0 THEN 1 ELSE 0 END) AS BIGINT) AS easy_docs,
         |  CAST(SUM(w) AS BIGINT) AS n_words,
         |  CAST(SUM(sn) AS BIGINT) AS n_sentences,
         |  CAST(SUM(sy) AS BIGINT) AS n_syllables,
         |  ROUND(CAST(SUM(w) AS DOUBLE) / SUM(sn), 6) AS words_per_sentence,
         |  ROUND(CAST(SUM(sy) AS DOUBLE) / SUM(w), 6) AS syllables_per_word,
         |  ROUND(AVG(flesch), 6) + 0.0 AS avg_flesch
         |FROM fl GROUP BY source ORDER BY source""".stripMargin,

    // Chars via regexp_extract_all('[\s\S]') — RE2's any-char including
    // newlines, matching Spark's empty-pattern split code-unit-for-unit
    // on this fixture's single-plane text.
    "q133_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[\s\S]')) AS ch
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |cc AS (SELECT doc_id, ch, COUNT(*) AS nc FROM ch GROUP BY doc_id, ch)
        |SELECT doc_id, CAST(SUM(nc) AS BIGINT) AS n_chars,
        |  COUNT(*) AS n_distinct_chars,
        |  ROUND(log2(SUM(nc)) - SUM(CAST(nc AS DOUBLE) * log2(nc)) / SUM(nc), 6)
        |    AS entropy_bits
        |FROM cc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Recomputes every rule from scratch, including the 2-gram argmax via
    // an explicit count + (n DESC, g DESC) rank — the window form of the
    // Spark side's per-row fold, so a hash match proves the fold's
    // tie-order too. All shares are IEEE divisions of exact integers.
    "q109_gopher_rules" ->
      s"""WITH tok AS (
         |  SELECT doc_id, n_chars, text, regexp_split_to_array(lower(text), ' ') AS w
         |  FROM documents),
         |base AS (
         |  SELECT doc_id, n_chars, w,
         |    CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(n_chars - (len(w) - 1) AS DOUBLE) / len(w) AS mean_word_len,
         |    CAST(${sqlHits(En)} AS BIGINT) AS n_stop,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(w) AS alpha_frac,
         |    CAST(len(regexp_extract_all(text, '(#|\\.\\.\\.)')) AS DOUBLE) / len(w) AS symbol_ratio
         |  FROM tok),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(0, len(w) - 1),
         |           i -> array_to_string(w[i+1:i+2], ' '))) AS g
         |  FROM tok WHERE len(w) >= 2),
         |cnt AS (SELECT doc_id, g, count(*) AS n FROM bg GROUP BY 1, 2),
         |t2 AS (
         |  SELECT doc_id, g, n FROM (
         |    SELECT doc_id, g, n,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, g DESC) AS rk
         |    FROM cnt) WHERE rk = 1),
         |fr AS (
         |  SELECT b.doc_id, b.n_words, b.mean_word_len, b.n_stop, b.alpha_frac,
         |    b.symbol_ratio,
         |    COALESCE(CAST(t.n * len(t.g) AS DOUBLE) / b.n_chars, 0.0) AS top2_char_frac
         |  FROM base b LEFT JOIN t2 t USING (doc_id))
         |SELECT doc_id, n_words, mean_word_len, n_stop, alpha_frac, symbol_ratio,
         |  top2_char_frac,
         |  n_words BETWEEN 50 AND 100000 AS r_words,
         |  mean_word_len BETWEEN 3.0 AND 10.0 AS r_mean_len,
         |  alpha_frac > 0.8 AS r_alpha,
         |  n_stop >= 2 AS r_stop,
         |  symbol_ratio < 0.1 AS r_symbol,
         |  top2_char_frac < 0.2 AS r_rep,
         |  (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |    AND alpha_frac > 0.8 AND n_stop >= 2 AND symbol_ratio < 0.1
         |    AND top2_char_frac < 0.2 AS keep
         |FROM fr ORDER BY doc_id""".stripMargin,

    "q37_lang_id" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |    ${sqlHits(En)} AS s_en, ${sqlHits(De)} AS s_de,
         |    ${sqlHits(Fr)} AS s_fr, ${sqlHits(Es)} AS s_es,
         |    strlen(text) > len(text) AS mb
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN mb THEN 'zh'
         |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS pred_lang,
         |  (CASE WHEN mb THEN 'zh'
         |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END) = lang AS agree
         |FROM s ORDER BY doc_id""".stripMargin,

    "q38_quality_score" ->
      s"""WITH $qualityCteBody
         |SELECT doc_id, n_tokens, avg_token_len, stop_ratio, quality
         |FROM scored ORDER BY doc_id""".stripMargin,

    "q39_token_stats" ->
      """WITH x AS (
        |  SELECT source,
        |    CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT) AS ws_tokens,
        |    CAST(len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\s])')) AS BIGINT) AS subtokens
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
        |  CAST(SUM(subtokens) AS BIGINT) AS total_subtokens,
        |  CAST(SUM(ws_tokens) AS DOUBLE) / COUNT(*) AS avg_ws_tokens
        |FROM x GROUP BY source ORDER BY source""".stripMargin,

    "q40_fingerprint" ->
      "SELECT doc_id, md5(lower(text)) AS fp FROM documents ORDER BY doc_id",

    // The identical md5 left fold (list_reduce has no init parameter, so
    // the seed is prepended — folding starts with md5('42'|tok1), which
    // is exactly Spark's aggregate(toks, '42', ...) first step).
    "q41_rolling_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend('42', regexp_split_to_array(lower(text), ' ')),
        |              (acc, t) -> md5(concat(acc, '|', t))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // DuckDB's regexp_replace is first-match-only without the 'g' flag.
    "q62_text_clean" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(
        |           regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |           '\s+', ' ', 'g')) AS clean_text
        |  FROM documents)
        |SELECT doc_id, clean_text,
        |       CAST(len(text) - len(clean_text) AS BIGINT) AS n_removed
        |FROM c ORDER BY doc_id""".stripMargin,

    "q50_tfidf_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tok) t GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |         ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, tfidf,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, token, tfidf FROM ranked WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    "q44_top_tokens_per_source" ->
      """WITH tok AS (
        |  SELECT source, unnest(regexp_split_to_array(lower(text), ' ')) AS token
        |  FROM documents),
        |cnt AS (
        |  SELECT source, token, COUNT(*) AS n FROM tok GROUP BY source, token),
        |rk AS (
        |  SELECT source, token, n,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, token) AS rk
        |  FROM cnt)
        |SELECT source, rk, token, n FROM rk WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin,

    // Both shares are IEEE divisions of exact integers — bit-identical
    // across engines, no rounding needed.
    "q69_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS w FROM documents),
        |cnt AS (
        |  SELECT doc_id, word, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(w) AS word FROM t) u GROUP BY doc_id, word),
        |agg AS (
        |  SELECT doc_id, MAX(c) AS top_cnt, CAST(SUM(c) AS BIGINT) AS n_words,
        |         COUNT(*) AS n_distinct
        |  FROM cnt GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) < 2 THEN NULL
        |              ELSE [w[i] || ' ' || w[i + 1] for i in range(1, len(w))] END AS b
        |  FROM t)
        |SELECT a.doc_id, a.n_words, a.n_distinct,
        |       CAST(a.top_cnt AS DOUBLE) / a.n_words AS top_word_share,
        |       CASE WHEN b.b IS NULL THEN NULL
        |            ELSE CAST(len(list_distinct(b.b)) AS DOUBLE) / len(b.b) END AS bigram_distinct_ratio
        |FROM agg a JOIN bg b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // The sketch stage only proposes candidates; the exact verify makes
    // the output identical to this plain HAVING query.
    "q74_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), ' ')) AS token FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM tok),
        |cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token)
        |SELECT token, c AS n_occurrences, CAST(c AS DOUBLE) / n AS share
        |FROM cnt, tot
        |WHERE c > n * 0.02
        |ORDER BY n_occurrences DESC, token""".stripMargin,

    // `list(logp ORDER BY pos)` + list_reduce mirrors the Spark side's
    // sorted-struct fold: both sum the per-token surprises in position
    // order, so only libm's ≤1-ulp ln() differences remain — absorbed by
    // the shared ROUND(…, 6).
    "q81_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, t[i] AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS t
        |        FROM documents) s,
        |       LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
        |counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
        |j AS (SELECT doc_id, pos,
        |             -ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) AS logp
        |      FROM toks JOIN counts USING (tok), tot),
        |per AS (SELECT doc_id, COUNT(*) AS n_toks,
        |               list_reduce(list(logp ORDER BY pos), (a, b) -> a + b) AS sum_lp
        |        FROM j GROUP BY doc_id)
        |SELECT doc_id, n_toks, ROUND(sum_lp / n_toks, 6) AS avg_neg_logprob
        |FROM per ORDER BY doc_id""".stripMargin,

    // Identical expression tree to the Spark side (λ·c_bi/c_prev + λ'·pu,
    // left-assoc), so the doubles match bit-for-bit pre-ln; the sorted
    // fold + ROUND absorb ln's ulp wobble as in q81.
    "q88_bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, t[i] AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS t
        |        FROM documents) s,
        |       LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
        |wprev AS (
        |  SELECT doc_id, pos, tok,
        |         LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM toks),
        |uni AS (SELECT tok, COUNT(*) AS c_w FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS total FROM uni),
        |bi AS (SELECT prev, tok, COUNT(*) AS c_bi
        |       FROM wprev WHERE prev IS NOT NULL GROUP BY prev, tok),
        |j AS (
        |  SELECT w.doc_id, w.pos,
        |         CASE WHEN w.prev IS NULL
        |              THEN -ln(CAST(u.c_w AS DOUBLE) / CAST(total AS DOUBLE))
        |              ELSE -ln(0.75 * CAST(b.c_bi AS DOUBLE) / CAST(p.c_w AS DOUBLE)
        |                       + 0.25 * (CAST(u.c_w AS DOUBLE) / CAST(total AS DOUBLE)))
        |         END AS logp
        |  FROM wprev w
        |  JOIN uni u ON u.tok = w.tok
        |  LEFT JOIN uni p ON p.tok = w.prev
        |  LEFT JOIN bi b ON b.prev = w.prev AND b.tok = w.tok
        |  CROSS JOIN tot),
        |per AS (SELECT doc_id, COUNT(*) AS n_toks,
        |               list_reduce(list(logp ORDER BY pos), (a, b) -> a + b) AS sum_lp
        |        FROM j GROUP BY doc_id)
        |SELECT doc_id, n_toks, ROUND(sum_lp / n_toks, 6) AS avg_bigram_nll
        |FROM per ORDER BY doc_id""".stripMargin,

    "q95_source_lift" ->
      """WITH st AS (
        |  SELECT source, unnest(regexp_split_to_array(lower(text), ' ')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, COUNT(*) AS n_st FROM st GROUP BY 1, 2),
        |pt AS (SELECT token, CAST(SUM(n_st) AS BIGINT) AS n_t FROM c GROUP BY 1),
        |ps AS (SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_s FROM c GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_st) AS BIGINT) AS n FROM c),
        |scored AS (
        |  SELECT c.source, c.token, c.n_st,
        |    ROUND(CAST(c.n_st * n AS DOUBLE) / CAST(n_s * n_t AS DOUBLE), 6) AS lift
        |  FROM c JOIN pt USING (token) JOIN ps USING (source) CROSS JOIN tot
        |  WHERE c.n_st >= 5),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |                                   ORDER BY lift DESC, token) AS rk
        |      FROM scored)
        |SELECT source, rk, token, n_st, lift FROM r WHERE rk <= 3
        |ORDER BY source, rk""".stripMargin,

    // Rebuilds the identical 4×256 grid from scratch: same md5 row-hash
    // family as the JVM updater (first 8 hex chars as an integer, mod
    // width), expressed as a hex-digit Horner chain — the q33/q41 recipe.
    // A hash match therefore proves the TypedImperativeAggregate's
    // update/merge/serialize path end-to-end, not just the estimates.
    "q110_countmin_freq" -> {
      // ((((d0)·16 + d1)·16 + d2)… for the first 8 hex digits of hx.
      val horner = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      s"""WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), ' ')) AS tok
        |  FROM documents),
        |seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
        |th AS (
        |  SELECT t.tok, s.seed, md5(CAST(s.seed AS VARCHAR) || ':' || t.tok) AS hx
        |  FROM tok t CROSS JOIN seeds s),
        |cell AS (
        |  SELECT seed, $horner % 256 AS bucket, COUNT(*) AS c
        |  FROM th GROUP BY 1, 2),
        |probe AS (
        |  SELECT tok, COUNT(*) AS exact_n FROM tok GROUP BY tok
        |  ORDER BY exact_n DESC, tok LIMIT 10),
        |ph AS (
        |  SELECT p.tok, p.exact_n, s.seed,
        |         md5(CAST(s.seed AS VARCHAR) || ':' || p.tok) AS hx
        |  FROM probe p CROSS JOIN seeds s),
        |pb AS (SELECT tok, exact_n, seed, $horner % 256 AS bucket FROM ph)
        |SELECT pb.tok, pb.exact_n, CAST(MIN(cell.c) AS BIGINT) AS cms_est
        |FROM pb JOIN cell USING (seed, bucket)
        |GROUP BY pb.tok, pb.exact_n
        |ORDER BY exact_n DESC, tok""".stripMargin
    },

    // Identical expression tree to the Spark side: each count cast to
    // DOUBLE before the left-assoc products, one division, ln, ROUND —
    // only ln's ulp wobble remains, absorbed by the shared ROUND(…, 6).
    "q111_pmi_bigrams" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, t[i] AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS t
        |        FROM documents) s,
        |       LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
        |wprev AS (
        |  SELECT doc_id, pos, tok,
        |         LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM toks),
        |uni AS (SELECT tok, COUNT(*) AS c_w FROM toks GROUP BY tok),
        |tot AS (
        |  SELECT COUNT(*) AS n_tok,
        |         CAST(SUM(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bi
        |  FROM wprev),
        |bi AS (SELECT prev, tok, COUNT(*) AS c_bi
        |       FROM wprev WHERE prev IS NOT NULL GROUP BY prev, tok)
        |SELECT b.prev, b.tok, b.c_bi,
        |  ROUND(ln((CAST(b.c_bi AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE)) /
        |           (CAST(n_bi AS DOUBLE) * CAST(p.c_w AS DOUBLE) * CAST(u.c_w AS DOUBLE))), 6) AS pmi
        |FROM bi b
        |JOIN uni p ON p.tok = b.prev
        |JOIN uni u ON u.tok = b.tok
        |CROSS JOIN tot
        |WHERE b.c_bi >= 5
        |ORDER BY b.prev, b.tok""".stripMargin,

    // The window cumsum here is the single-task form GlobalRank exists to
    // avoid — fine for the oracle (DuckDB, one node, vocab-sized input), and
    // a hash match proves the distributed prefix sums exactly. All coverage
    // arithmetic is divisions/products of exact longs evaluated identically.
    "q119_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), ' ')) AS tok FROM documents),
        |cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        |r AS (
        |  SELECT tok, cnt,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rk,
        |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(cnt) OVER () AS BIGINT) AS total,
        |    COUNT(*) OVER () AS n_vocab
        |  FROM cnt),
        |th AS (SELECT unnest([0.5, 0.75, 0.9, 0.95, 0.99]::DOUBLE[]) AS threshold)
        |SELECT threshold, MIN(rk) AS vocab_size, MAX(n_vocab) AS n_vocab,
        |  CAST(ARG_MIN(cum, rk) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS covered_frac
        |FROM r CROSS JOIN th
        |WHERE CAST(cum AS DOUBLE) >= threshold * CAST(total AS DOUBLE)
        |GROUP BY threshold ORDER BY threshold""".stripMargin,

    // Same observed-only algebra as the Spark plan: p_src computed first,
    // then multiplied into the identically-shaped ln argument — so both
    // engines evaluate the same expression tree and the double sums differ
    // only by partial-agg order (≪ the round(6) grain).
    "q120_source_kl" ->
      """WITH st AS (
        |  SELECT source, tok, COUNT(*) AS c_st
        |  FROM (SELECT source, unnest(regexp_split_to_array(lower(text), ' ')) AS tok
        |        FROM documents) GROUP BY source, tok),
        |s AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s, COUNT(*) AS vocab_s
        |      FROM st GROUP BY source),
        |tt AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY tok),
        |n AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM s)
        |SELECT st.source, MAX(s.n_s) AS n_toks, MAX(s.vocab_s) AS vocab_size,
        |  ROUND(SUM(-(CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)) *
        |            ln(CAST(c_t AS DOUBLE) / CAST(n_tot AS DOUBLE))), 6) AS ce_nats,
        |  ROUND(SUM((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)) *
        |            ln((CAST(c_st AS DOUBLE) * CAST(n_tot AS DOUBLE)) /
        |               (CAST(n_s AS DOUBLE) * CAST(c_t AS DOUBLE)))), 6) AS kl_nats
        |FROM st JOIN tt USING (tok) JOIN s USING (source) CROSS JOIN n
        |GROUP BY st.source ORDER BY st.source""".stripMargin,

    // ROW_NUMBER + rk<=200 replays GroupTopK's (cnt DESC, tok) cut exactly;
    // slope/intercept combine RAW sums and round once at the end.
    "q122_zipf_slope" ->
      """WITH st AS (
        |  SELECT source, tok, COUNT(*) AS cnt
        |  FROM (SELECT source, unnest(regexp_split_to_array(lower(text), ' ')) AS tok
        |        FROM documents) GROUP BY source, tok),
        |r AS (SELECT source, tok, cnt,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, tok) AS rk
        |      FROM st),
        |xy AS (SELECT source, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
        |       FROM r WHERE rk <= 200),
        |a AS (SELECT source, COUNT(*) AS n_terms, SUM(x) AS sx, SUM(y) AS sy,
        |             SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |      FROM xy GROUP BY source),
        |b AS (SELECT source, n_terms, CAST(n_terms AS DOUBLE) AS nd, sx, sy,
        |        (CAST(n_terms AS DOUBLE) * sxy - sx * sy) /
        |        (CAST(n_terms AS DOUBLE) * sxx - sx * sx) AS slope
        |      FROM a WHERE n_terms >= 2)
        |SELECT source, n_terms, ROUND(slope, 6) AS zipf_slope,
        |  ROUND((sy - slope * sx) / nd, 6) AS zipf_intercept
        |FROM b ORDER BY source""".stripMargin,

    // The contribution expression is written as the IDENTICAL tree (same
    // literals, same association) as the Spark plan; the fixed-slot CASE
    // sums select single rows, and the three-way addition is explicit
    // left-to-right, so scores are bit-identical and the ROW_NUMBER cut
    // replays GroupTopK's (score DESC, doc_id) order exactly.
    "q124_bm25_topk" -> {
      val values = Bm25Queries.flatMap { case (qid, ts) =>
        ts.zipWithIndex.map { case (tk, i) => s"($qid, '$tk', $i)" }
      }.mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), ' ')) AS tok
         |  FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
         |post AS (SELECT tok, doc_id, COUNT(*) AS tf FROM tok GROUP BY tok, doc_id),
         |dfr AS (SELECT tok, COUNT(*) AS df FROM post GROUP BY tok),
         |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
         |qt(query_id, tok, term_idx) AS (VALUES $values),
         |sc AS (
         |  SELECT qt.query_id, post.doc_id, qt.term_idx,
         |    ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |       (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |    * (CAST(tf AS DOUBLE) * (${Bm25K1 + 1.0}))
         |    / (CAST(tf AS DOUBLE) + $Bm25K1 *
         |       (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE) /
         |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS contrib
         |  FROM post JOIN qt USING (tok) JOIN dfr USING (tok)
         |       JOIN dl USING (doc_id) CROSS JOIN st),
         |pd AS (
         |  SELECT query_id, doc_id,
         |    COALESCE(SUM(CASE WHEN term_idx = 0 THEN contrib END), 0.0)
         |    + COALESCE(SUM(CASE WHEN term_idx = 1 THEN contrib END), 0.0)
         |    + COALESCE(SUM(CASE WHEN term_idx = 2 THEN contrib END), 0.0) AS score
         |  FROM sc GROUP BY query_id, doc_id),
         |rk AS (
         |  SELECT query_id, doc_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
         |  FROM pd)
         |SELECT CAST(query_id AS BIGINT) AS query_id, rk, doc_id,
         |  ROUND(score, 6) AS score
         |FROM rk WHERE rk <= $Bm25TopK ORDER BY query_id, rk""".stripMargin
    },

    // q124's CTE spine (tok/dl/post/dfr/st/qt/sc/pd) extended with the
    // LM side: collection stats, per-(candidate, query-term) smoothed
    // contributions (LEFT JOIN supplies the absent-term floor), both
    // rankers' ROW_NUMBER pools, and the full-outer RRF fold.
    "q189_rrf_hybrid" -> {
      val values = Bm25Queries.flatMap { case (qid, ts) =>
        ts.zipWithIndex.map { case (tk, i) => s"($qid, '$tk', $i)" }
      }.mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), ' ')) AS tok
         |  FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
         |post AS (SELECT tok, doc_id, COUNT(*) AS tf FROM tok GROUP BY tok, doc_id),
         |dfr AS (SELECT tok, COUNT(*) AS df FROM post GROUP BY tok),
         |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
         |qt(query_id, tok, term_idx) AS (VALUES $values),
         |sc AS (
         |  SELECT qt.query_id, post.doc_id, qt.term_idx,
         |    ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |       (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |    * (CAST(tf AS DOUBLE) * (${Bm25K1 + 1.0}))
         |    / (CAST(tf AS DOUBLE) + $Bm25K1 *
         |       (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE) /
         |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS contrib
         |  FROM post JOIN qt USING (tok) JOIN dfr USING (tok)
         |       JOIN dl USING (doc_id) CROSS JOIN st),
         |pd AS (
         |  SELECT query_id, doc_id,
         |    COALESCE(SUM(CASE WHEN term_idx = 0 THEN contrib END), 0.0)
         |    + COALESCE(SUM(CASE WHEN term_idx = 1 THEN contrib END), 0.0)
         |    + COALESCE(SUM(CASE WHEN term_idx = 2 THEN contrib END), 0.0) AS score
         |  FROM sc GROUP BY query_id, doc_id),
         |cf AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cf FROM post GROUP BY tok),
         |vt AS (SELECT COUNT(*) AS vocab, CAST(SUM(cf) AS BIGINT) AS total FROM cf),
         |qp AS (
         |  SELECT qt.query_id, qt.term_idx, qt.tok,
         |    CAST(COALESCE(cf.cf, 0) + 1 AS DOUBLE) /
         |      CAST(vt.total + vt.vocab AS DOUBLE) AS p
         |  FROM qt LEFT JOIN cf USING (tok) CROSS JOIN vt),
         |cand AS (SELECT DISTINCT qt.query_id, post.doc_id
         |         FROM post JOIN qt USING (tok)),
         |lmc AS (
         |  SELECT c.query_id, c.doc_id, qp.term_idx,
         |    ln((CAST(COALESCE(post.tf, 0) AS DOUBLE) + $LmMu * qp.p) /
         |       (CAST(dl.dl AS DOUBLE) + $LmMu)) AS contrib
         |  FROM cand c
         |  JOIN qp ON qp.query_id = c.query_id
         |  LEFT JOIN post ON post.tok = qp.tok AND post.doc_id = c.doc_id
         |  JOIN dl ON dl.doc_id = c.doc_id),
         |lmd AS (
         |  SELECT query_id, doc_id,
         |    SUM(CASE WHEN term_idx = 0 THEN contrib END)
         |    + SUM(CASE WHEN term_idx = 1 THEN contrib END)
         |    + COALESCE(SUM(CASE WHEN term_idx = 2 THEN contrib END), 0.0) AS score
         |  FROM lmc GROUP BY query_id, doc_id),
         |rbm AS (
         |  SELECT query_id, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r_bm
         |  FROM pd),
         |rlm AS (
         |  SELECT query_id, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r_lm
         |  FROM lmd),
         |fused AS (
         |  SELECT COALESCE(b.query_id, l.query_id) AS query_id,
         |    COALESCE(b.doc_id, l.doc_id) AS doc_id, b.r_bm, l.r_lm,
         |    COALESCE(1.0 / CAST(b.r_bm + $RrfK AS DOUBLE), 0.0)
         |    + COALESCE(1.0 / CAST(l.r_lm + $RrfK AS DOUBLE), 0.0) AS rrf
         |  FROM (SELECT * FROM rbm WHERE r_bm <= $RrfPoolK) b
         |  FULL OUTER JOIN (SELECT * FROM rlm WHERE r_lm <= $RrfPoolK) l
         |    ON b.query_id = l.query_id AND b.doc_id = l.doc_id),
         |fr AS (
         |  SELECT query_id, doc_id, rrf, r_bm, r_lm,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk
         |  FROM fused)
         |SELECT CAST(query_id AS BIGINT) AS query_id, rk, doc_id,
         |  ROUND(rrf, 6) AS rrf_score, r_bm, r_lm
         |FROM fr WHERE rk <= $Bm25TopK ORDER BY query_id, rk""".stripMargin
    },

    // Single-window replay of the distributed prefix frame; B sums to
    // HUGEINT (DuckDB's exact 128-bit), mirroring the Spark side's
    // DECIMAL(38,0) — both cast to double only inside the final rounded
    // Gini expression.
    "q126_token_gini" ->
      """WITH dl AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, dl,
        |    ROW_NUMBER() OVER (ORDER BY dl, doc_id) AS rk,
        |    CAST(SUM(dl) OVER (ORDER BY dl, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(dl) OVER () AS BIGINT) AS t,
        |    COUNT(*) OVER () AS n
        |  FROM dl),
        |st AS (SELECT MAX(n) AS n, MAX(t) AS t, SUM(cum) AS b FROM r),
        |g AS (SELECT n, t,
        |        ROUND(CAST(1.0 AS DOUBLE) - CAST(2 * b - t AS DOUBLE) /
        |              (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS gini
        |      FROM st),
        |dec AS (SELECT unnest(generate_series(1, 10)) AS decile),
        |tg AS (SELECT CAST(decile AS BIGINT) AS decile,
        |         (decile * n) // 10 AS rk_t, t, gini
        |       FROM dec CROSS JOIN g)
        |SELECT tg.decile, r.rk AS rank_at, r.cum AS cum_tokens,
        |  CAST(r.cum AS DOUBLE) / CAST(tg.t AS DOUBLE) AS cum_share, tg.gini
        |FROM r JOIN tg ON r.rk = tg.rk_t ORDER BY tg.decile""".stripMargin,

    // Identical double expression tree to the Spark side (discounted
    // term, then λ·p_cont with left-assoc · and /), on identical exact
    // integer counts; the sorted fold + ROUND absorb ln's ulp wobble as
    // in q81/q88.
    "q263_kneser_ney" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, t[i] AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS t
        |        FROM documents) s,
        |       LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
        |wprev AS (
        |  SELECT doc_id, pos, tok,
        |         LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM toks),
        |bi AS (SELECT prev, tok, COUNT(*) AS c_bi
        |       FROM wprev WHERE prev IS NOT NULL GROUP BY prev, tok),
        |ctx AS (SELECT prev, CAST(SUM(c_bi) AS BIGINT) AS c_prev,
        |               COUNT(*) AS n_follow
        |        FROM bi GROUP BY prev),
        |cont AS (SELECT tok, COUNT(*) AS n_prec FROM bi GROUP BY tok),
        |sc AS (SELECT (SELECT COUNT(*) FROM bi) AS n_types,
        |              (SELECT COUNT(DISTINCT tok) FROM toks) AS v),
        |j AS (
        |  SELECT w.doc_id, w.pos,
        |    CASE WHEN w.prev IS NULL
        |      THEN -ln(CAST(COALESCE(cn.n_prec, 0) + 1 AS DOUBLE) /
        |               CAST(n_types + v AS DOUBLE))
        |      ELSE -ln((CAST(b.c_bi AS DOUBLE) - 0.75) / CAST(x.c_prev AS DOUBLE)
        |               + 0.75 * CAST(x.n_follow AS DOUBLE) / CAST(x.c_prev AS DOUBLE)
        |                 * (CAST(COALESCE(cn.n_prec, 0) + 1 AS DOUBLE) /
        |                    CAST(n_types + v AS DOUBLE)))
        |    END AS logp
        |  FROM wprev w
        |  LEFT JOIN bi b ON b.prev = w.prev AND b.tok = w.tok
        |  LEFT JOIN ctx x ON x.prev = w.prev
        |  LEFT JOIN cont cn ON cn.tok = w.tok
        |  CROSS JOIN sc),
        |per AS (SELECT doc_id, COUNT(*) AS n_toks,
        |               list_reduce(list(logp ORDER BY pos), (a, b) -> a + b) AS sum_lp
        |        FROM j GROUP BY doc_id)
        |SELECT doc_id, n_toks, ROUND(sum_lp / n_toks, 6) AS avg_kn_nll
        |FROM per ORDER BY doc_id""".stripMargin,

    // Integer rank arithmetic mirrors the Spark side exactly; quality
    // rides qualityCteBody (the q38-proven formula) and norm_quality is
    // a verbatim pooled value, so no float chain is engine-divergent.
    "q273_quantile_normalize" ->
      s"""WITH $qualityCteBody,
         |q AS (SELECT doc_id, source, quality FROM scored),
         |r AS (
         |  SELECT doc_id, source, quality,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY quality, doc_id) AS src_rank,
         |    COUNT(*) OVER (PARTITION BY source) AS n_src
         |  FROM q),
         |p AS (
         |  SELECT quality AS pq,
         |    ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS k
         |  FROM q),
         |n AS (SELECT COUNT(*) AS n_total FROM q)
         |SELECT r.doc_id, r.source, r.quality, r.src_rank,
         |  (r.src_rank * n_total + n_src - 1) // n_src AS k,
         |  p.pq AS norm_quality
         |FROM r CROSS JOIN n
         |JOIN p ON p.k = (r.src_rank * n_total + n_src - 1) // n_src
         |ORDER BY r.doc_id""".stripMargin,

    // Same exact-integer char-mass arithmetic as the Spark side: grams
    // are 1-based inclusive slices joined with single spaces (the q31
    // shingle convention), positions covered by duplicated grams dedup
    // BEFORE the word-length sum, and every output ratio is one raw
    // division of exact BIGINTs.
    "q272_gopher_repetition" -> {
      def grams(n: Int) =
        s"""g$n AS (
           |  SELECT doc_id, i AS pos, array_to_string(ws[i:i+${n - 1}], ' ') AS gram
           |  FROM base, LATERAL (SELECT unnest(generate_series(1, len(ws) - ${n - 1})) AS i) u
           |  WHERE len(ws) >= $n)""".stripMargin
      def top(n: Int) =
        s"""t$n AS (
           |  SELECT doc_id, cnt * (length(gram) - ${n - 1}) AS topc
           |  FROM (SELECT doc_id, gram, COUNT(*) AS cnt,
           |          ROW_NUMBER() OVER (PARTITION BY doc_id
           |            ORDER BY COUNT(*) DESC, gram) AS rk
           |        FROM g$n GROUP BY doc_id, gram)
           |  WHERE rk = 1)""".stripMargin
      def dup(n: Int) =
        s"""d$n AS (
           |  SELECT doc_id, CAST(SUM(length(ws[wp])) AS BIGINT) AS dupc
           |  FROM (SELECT DISTINCT g.doc_id, wp
           |        FROM g$n g
           |        JOIN (SELECT doc_id, gram FROM g$n
           |              GROUP BY doc_id, gram HAVING COUNT(*) >= 2) dd
           |          ON g.doc_id = dd.doc_id AND g.gram = dd.gram,
           |        LATERAL (SELECT unnest(generate_series(g.pos, g.pos + ${n - 1})) AS wp) u) c
           |  JOIN base USING (doc_id)
           |  GROUP BY doc_id)""".stripMargin
      // NULLIF(wchars, 0): empty/all-space docs get NULL ratios in both
      // engines (see the Spark-side wchars0 comment).
      s"""WITH base AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |den AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS wchars
         |  FROM base),
         |${grams(2)},
         |${grams(3)},
         |${grams(4)},
         |${grams(5)},
         |${grams(6)},
         |${top(2)},
         |${top(3)},
         |${top(4)},
         |${dup(5)},
         |${dup(6)}
         |SELECT den.doc_id, wchars,
         |  CAST(COALESCE(t2.topc, 0) AS DOUBLE) / CAST(NULLIF(wchars, 0) AS DOUBLE) AS top2gram_share,
         |  CAST(COALESCE(t3.topc, 0) AS DOUBLE) / CAST(NULLIF(wchars, 0) AS DOUBLE) AS top3gram_share,
         |  CAST(COALESCE(t4.topc, 0) AS DOUBLE) / CAST(NULLIF(wchars, 0) AS DOUBLE) AS top4gram_share,
         |  CAST(COALESCE(d5.dupc, 0) AS DOUBLE) / CAST(NULLIF(wchars, 0) AS DOUBLE) AS dup5gram_frac,
         |  CAST(COALESCE(d6.dupc, 0) AS DOUBLE) / CAST(NULLIF(wchars, 0) AS DOUBLE) AS dup6gram_frac
         |FROM den
         |LEFT JOIN t2 USING (doc_id)
         |LEFT JOIN t3 USING (doc_id)
         |LEFT JOIN t4 USING (doc_id)
         |LEFT JOIN d5 USING (doc_id)
         |LEFT JOIN d6 USING (doc_id)
         |ORDER BY den.doc_id""".stripMargin
    }
  )
}
