package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Tables._

/**
 * Statistical analysis, pattern mining, and graph analytics — the
 * "analyst toolbox" layer over the warehouse the reference materializes
 * (SURVEY.md §2.F–I: PostgreSQL users run exactly these shapes over the
 * ingested tables; here each is a named, oracle-checked Spark query).
 *
 * Families and their 100 TB stance:
 *  - **Association mining** (q158 basket rules, q165 PageRank over the
 *    co-occurrence graph): the basket frame is (order, brand) DISTINCT —
 *    one digest-granularity shuffle; pair expansion is bounded by basket
 *    size squared (tens, not corpus); everything downstream is
 *    brand-granularity (≤25×25 rows) and broadcast.
 *  - **Hypothesis tests** (q159 Mann–Whitney U, q160 chi-square, q155's
 *    z-test in CoreQueries): all moments are EXACT integer/decimal
 *    aggregates; the single float division happens once, identically in
 *    both engines. Rank statistics ride [[GlobalRank.withGlobalPrefixSum]]
 *    — never an unpartitioned data-row window.
 *  - **Distribution diagnostics** (q161 Benford, q162 MAD outliers, q168
 *    Gini): group- or digit-granularity aggregates; Gini's Σ rank·value
 *    uses the two-pass global rank plus one DECIMAL(38,0) aggregate.
 *  - **Time series** (q163 autocorrelation, q164 EWMA): computed on the
 *    daily-revenue frame, which is DAY-granularity (control-plane-sized
 *    at any corpus scale — one row per calendar day). Lag/window joins
 *    are calendar equi-joins against a broadcast offset spine, not
 *    windows, so nothing ever sorts data rows globally.
 *  - **Sequence mining** (q167 session trigrams): rides CoreQueries'
 *    pinned sessionization; windows are partitioned by (user, session).
 *  - **Sorted-neighborhood dedup** (q166): the classic entity-resolution
 *    alternative to LSH banding (DedupQueries q31/q32) — sort by a
 *    normalized key, compare only w nearest neighbors per block.
 *    Candidate generation is a partitioned window (block = 8-char
 *    normalized prefix); Levenshtein runs only on the ≤2w candidate
 *    pairs per row, never all-pairs. At corpus scale a hot block is the
 *    classic SNM skew caveat — widen the block key or salt (ops/Salting)
 *    if a prefix dominates.
 *
 * Oracle-parity notes follow Tables.scala's conventions: exact integer /
 * decimal moments, one mirrored float expression at the end, ROUND only
 * on final output columns. Money → cents via ROUND(x*100) CAST BIGINT
 * (truncating CAST would diverge between engines on 123.45*100 ==
 * 12344.999…; both engines round identically).
 */
object StatsQueries {

  /** The one sessionization gap (q15/q156 family) — referenced, not
    * duplicated: q167's Spark side sessionizes through CoreQueries and
    * its oracle interpolates this, so they can never drift apart. */
  private val SessionGapMs = CoreQueries.SessionGapMs

  /** q180's PII/identifier patterns — RE2/Java-COMMON syntax only
    * (character classes, no \b or lookaround), so Spark and DuckDB
    * compile identical automata. Ordered; the audit emits one output row
    * per (field, pattern). */
  private val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}",
    "ipv4" -> "([0-9]{1,3}[.]){3}[0-9]{1,3}",
    "intl_phone" -> "[+][0-9]{7,15}",
    "digit_run" -> "[0-9]{2,}")

  private val dec = DecimalType(38, 0)

  /** q192: replicate count for the Poisson bootstrap. Must stay a
    * multiple of 4 — one md5 digest feeds four replicate lanes, and the
    * oracle's range(0, B) only matches the Spark (B/4)×4 fan-out when
    * the division is exact. */
  val BootstrapReps = 32
  require(BootstrapReps % 4 == 0, "BootstrapReps must be a multiple of 4")

  /** q192: cumulative Poisson(1) probabilities P[W ≤ k] for k = 0..5,
    * kept as STRINGS so the Spark literal and the interpolated oracle SQL
    * parse the identical decimal text to the identical double. A uniform
    * draw u maps to the first k with u < cdf(k), else 6 (the cap). */
  val PoissonCdf: Seq[String] = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183")

  /** q193: z_{α/2} at α=0.05 and z_β at 80% power — literal strings
    * shared with the oracle (the PoissonCdf convention). */
  val PowerZAlpha = "1.959963984540054"
  val PowerZBeta = "0.8416212335729143"

  /** q193: relative-lift grid, in percent. */
  val PowerLifts: Seq[Int] = Seq(1, 2, 5, 10)

  /** q193: conversion = a purchase at or above this value. */
  val PowerConvValue = 200.0

  /** q195: Abramowitz–Stegun 7.1.26 erf-complement coefficients, √2 and
    * the FDR level — literal strings shared with the oracle so both
    * engines evaluate the identical polynomial on identical doubles.
    * 1 − erf(x) = (((((a5·t + a4)·t + a3)·t + a2)·t + a1)·t)·e^(−x²)
    * with t = 1/(1 + p·x); |error| < 1.5e-7, far under the 6dp grain. */
  val ErfP = "0.3275911"
  val ErfA1 = "0.254829592"
  val ErfA2 = "-0.284496736"
  val ErfA3 = "1.421413741"
  val ErfA4 = "-1.453152027"
  val ErfA5 = "1.061405429"
  val Sqrt2 = "1.4142135623730951"
  val FdrAlpha = "0.05"

  /** The ONE Spark-side definition of 2·(1−Φ(|z|)) via that polynomial
    * (q195/q196 both call it — four hand-synced copies was the code-
    * review finding): x = |z|/√2, t = 1/(1+p·x), pval = Horner(t)·e^(−x²). */
  private def erfcPval(z: Column): Column = {
    val x = abs(z) / lit(Sqrt2.toDouble)
    val tv = lit(1.0) / (lit(1.0) + lit(ErfP.toDouble) * x)
    ((((lit(ErfA5.toDouble) * tv + lit(ErfA4.toDouble)) * tv +
      lit(ErfA3.toDouble)) * tv + lit(ErfA2.toDouble)) * tv +
      lit(ErfA1.toDouble)) * tv * exp(-(x * x))
  }

  /** The matching ONE set of oracle-side stage expressions (interpolated
    * into staged CTEs: x from a column named z, tv from x, pval from
    * tv and x). */
  private val SqlErfX = s"abs(z) / $Sqrt2"
  private val SqlErfTv = s"1.0 / (1.0 + $ErfP * x)"
  private val SqlErfPval =
    s"((((($ErfA5 * tv + $ErfA4) * tv + $ErfA3) * tv + $ErfA2) * tv + " +
      s"$ErfA1) * tv) * exp(-(x * x))"

  /** q198: privacy budget and the 2⁻³² log-argument clamp (a lattice-
    * edge md5 draw would otherwise send ln(0) to −∞). */
  val DpEpsilon = "1.0"
  val DpMinMag = "2.3283064365386963e-10"

  /** q201: per-user contribution cap C (user-level sensitivity). */
  val DpUserCap = "4"

  /** q202: LTV curve horizon in age weeks (0-based, inclusive). */
  val LtvMaxAgeWeeks = 12

  /** q211: Holt double-exponential smoothing parameters. Each complement
    * is its OWN literal — computing 1−α in an engine would produce a
    * double that need not equal the parsed "0.7". */
  val HoltAlpha = "0.3"
  val Holt1mA = "0.7"
  val HoltBeta = "0.1"
  val Holt1mB = "0.9"

  /** q205: mSPRT mixture variance τ² (effect-size prior scale 0.05 on
    * the proportion difference) and the always-valid rejection level.
    * τ² is its OWN literal — writing τ·τ would multiply two DECIMAL
    * literals on the DuckDB side and two doubles on the Spark side,
    * which can differ in the last ulp. */
  val MsprtTau2 = "0.0025"
  val MsprtAlpha = "0.05"

  /** q203: KMV (k-minimum-values) sketch size and the hash-space size.
    * Hashes are the first 12 md5 hex chars → uniform on [0, 2⁴⁸); the
    * estimator for a sketch that FILLED is (k−1)·M/h₍k₎ (Bar-Yossef et
    * al. 2002), exact count otherwise. M stays a literal string so both
    * engines parse the identical double. */
  val KmvK = 128
  val KmvM = "281474976710656e0"

  /** Exact money cents: 2-decimal doubles → BIGINT, rounding (not
    * truncating) so 123.45*100 == 12344.999… lands on 12345 in both
    * engines. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** q232: GESD rounds and the fixed flagging threshold (literal string,
    * the PoissonCdf convention — the textbook t-based λ_i needs an
    * inverse-t CDF neither engine ships; a fixed 3σ gate keeps the
    * statistic exact and the flag mirrored). */
  val GesdRounds = 4
  val GesdThreshold = "3.0"

  /** q233: split-conformal miscoverage level (q̂ = the ⌈(1−α)(n+1)⌉-th
    * smallest calibration residual — an exact order statistic, never an
    * interpolated percentile). */
  val ConformalAlpha = "0.1"

  /** q240: t-closeness leak threshold on the ordered-band EMD. */
  val TClosenessMax = "0.2"

  /** q241: SRM alarm level (the field convention — an assignment split
    * this unlikely means the experiment's plumbing is broken). */
  val SrmAlpha = "0.001"

  /** q244: matching caliper on the balance covariate, in exact cents
    * ($500) — also the candidate bin width, so ±1 bins provably cover
    * the caliper ball. */
  val MatchCaliperCents = 50000L

  /** q236: NDCG@5 position weights 1/log₂(p+1) and their prefix sums
    * (the ideal DCG for k relevant items), as literal strings — neither
    * engine's log2 is pinned to correctly-rounded, so no log is ever
    * evaluated at query time (the PoissonCdf convention). */
  val NdcgW: Seq[String] = Seq(
    "1.0", "0.6309297535714575", "0.5",
    "0.43067655807339306", "0.38685280723454163")
  val NdcgIdcg: Seq[String] = Seq(
    "1.0", "1.6309297535714575", "2.1309297535714578",
    "2.5616063116448506", "2.9484591188793923")
  val NdcgK = 5

  /** q247: a brand pair is a graph edge when its co-basket count is at
    * least this FRACTION of all baskets — relative so the edge set stays
    * half-dense at every SF (an absolute floor saturates: every brand
    * pair co-occurs somewhere once baskets ≫ brands², and a complete
    * graph has no links left to predict). */
  val AaSupportFrac = "0.022"

  /** q248: skip-gram context radius (positions each side), the Mikolov
    * subsample threshold t (string literal, the PoissonCdf convention),
    * and the word2vec min_count output floor. */
  val SkipgramWindow = 2
  val SkipgramT = "0.001"
  val SkipgramMinCount = 5L

  /** q249: the "deployed" quality model — FIXED literal weights over the
    * raw (unstandardized) q181 signals, so the scoring rule is
    * closed-form in both engines rather than trained. Bins = deciles of
    * the forecast probability. */
  val BrierW0 = "-4.0"
  val BrierW1 = "0.2"
  val BrierW2 = "25.0"
  val BrierW3 = "1.5"
  val BrierBins = 10

  /** q249 oracle: fixed-order 10-term fold — COALESCE'd per-bin CASE
    * sums added left-to-right, mirroring the Spark expression tree
    * exactly (a float SUM over the bin frame would be order-dependent). */
  private def foldSql(c: String): String = (0 until BrierBins)
    .map(k => s"COALESCE(SUM(CASE WHEN bin = $k THEN $c END), 0.0)")
    .mkString(" + ")

  /** q250: randomized-response design — P[enter the lie branch] (half of
    * which reports 1) and the sensitive threshold on event value. */
  val RrQ = "0.25"
  val RrValueThr = "150.0"

  /** q181: batch-gradient iterations; mirrored verbatim by the oracle's
    * unrolled rounds (the q157 contract — the count is part of the
    * operator, not a tolerance). */
  val LogregIters = 25

  /** q243 oracle: unrolled peel rounds. 25 design-bounded brand nodes ⇒
    * ≤ 24 removal rounds + 1 stable round per k-slice; 26 is provably a
    * fixpoint for every k (see the oracle's comment). */
  val KcoreRounds = 26

  /** Shared CTE prefix for the q181/q186/q187 oracles: the feature frame,
    * fixed-point standardization moments, the standardized `f`, and the
    * LogregIters unrolled gradient rounds ending in it$LogregIters —
    * every expression in Spark's fold order (see logregFit). */
  private lazy val logregCtes: String = {
    def mexp(i: Int) = s"(CAST(q$i AS DOUBLE) / 1e12) / n"
    val rounds = (1 to LogregIters).map { r =>
      val prev = s"it${r - 1}"
      s"""g$r AS MATERIALIZED (
         |  SELECT COUNT(*) AS n,
         |    SUM(CAST(FLOOR((p - y) * x0 * 1e12) AS HUGEINT)) AS g0,
         |    SUM(CAST(FLOOR((p - y) * x1 * 1e12) AS HUGEINT)) AS g1,
         |    SUM(CAST(FLOOR((p - y) * x2 * 1e12) AS HUGEINT)) AS g2,
         |    SUM(CAST(FLOOR((p - y) * x3 * 1e12) AS HUGEINT)) AS g3,
         |    SUM(CAST(FLOOR(-(y * ln(pc) + (1.0 - y) * ln(1.0 - pc)) * 1e12)
         |        AS HUGEINT)) AS ql
         |  FROM (SELECT f.*,
         |      1.0 / (1.0 + exp(-(i.w0 * x0 + i.w1 * x1 + i.w2 * x2 +
         |        i.w3 * x3))) AS p,
         |      LEAST(GREATEST(1.0 / (1.0 + exp(-(i.w0 * x0 + i.w1 * x1 +
         |        i.w2 * x2 + i.w3 * x3))), 1e-12), 1e0 - 1e-12) AS pc
         |    FROM f CROSS JOIN $prev i) t),
         |it$r AS MATERIALIZED (
         |  SELECT i.w0 - 0.5 * ((CAST(g.g0 AS DOUBLE) / 1e12) / g.n) AS w0,
         |    i.w1 - 0.5 * ((CAST(g.g1 AS DOUBLE) / 1e12) / g.n) AS w1,
         |    i.w2 - 0.5 * ((CAST(g.g2 AS DOUBLE) / 1e12) / g.n) AS w2,
         |    i.w3 - 0.5 * ((CAST(g.g3 AS DOUBLE) / 1e12) / g.n) AS w3,
         |    (CAST(g.ql AS DOUBLE) / 1e12) / g.n AS loss
         |  FROM $prev i CROSS JOIN g$r g)""".stripMargin
    }.mkString(",\n")
    s"""raw AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    CAST(LENGTH(text) AS DOUBLE) / len(ws) AS r1,
       |    CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS DOUBLE) /
       |      len(ws) AS r2,
       |    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS r3
       |  FROM (SELECT doc_id, lang, text, string_split(lower(text), ' ') AS ws
       |        FROM documents WHERE text IS NOT NULL) s),
       |mo0 AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    SUM(CAST(FLOOR(r1 * 1e12) AS HUGEINT)) AS q1,
       |    SUM(CAST(FLOOR(r1 * r1 * 1e12) AS HUGEINT)) AS qq1,
       |    SUM(CAST(FLOOR(r2 * 1e12) AS HUGEINT)) AS q2,
       |    SUM(CAST(FLOOR(r2 * r2 * 1e12) AS HUGEINT)) AS qq2,
       |    SUM(CAST(FLOOR(r3 * 1e12) AS HUGEINT)) AS q3,
       |    SUM(CAST(FLOOR(r3 * r3 * 1e12) AS HUGEINT)) AS qq3
       |  FROM raw),
       |mo AS (SELECT
       |    ${mexp(1)} AS m1,
       |    SQRT((CAST(qq1 AS DOUBLE) / 1e12) / n -
       |      (${mexp(1)}) * (${mexp(1)})) AS s1,
       |    ${mexp(2)} AS m2,
       |    SQRT((CAST(qq2 AS DOUBLE) / 1e12) / n -
       |      (${mexp(2)}) * (${mexp(2)})) AS s2,
       |    ${mexp(3)} AS m3,
       |    SQRT((CAST(qq3 AS DOUBLE) / 1e12) / n -
       |      (${mexp(3)}) * (${mexp(3)})) AS s3
       |  FROM mo0),
       |f AS MATERIALIZED (
       |  SELECT doc_id, y, CAST(1.0 AS DOUBLE) AS x0, (r1 - m1) / s1 AS x1,
       |    (r2 - m2) / s2 AS x2, (r3 - m3) / s3 AS x3
       |  FROM raw CROSS JOIN mo),
       |it0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
       |  CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3,
       |  CAST(NULL AS DOUBLE) AS loss),
       |$rounds""".stripMargin
  }

  private lazy val logregOracle: String =
    s"""WITH $logregCtes,
       |sc AS (SELECT f.y,
       |    i.w0 * x0 + i.w1 * x1 + i.w2 * x2 + i.w3 * x3 AS z
       |  FROM f CROSS JOIN it$LogregIters i),
       |ac AS (SELECT COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN (CASE WHEN z > 0 THEN 1.0 ELSE 0.0 END) = y
       |        THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM sc)
       |SELECT param, value FROM (
       |  SELECT 'w0' AS param, ROUND(w0, 6) + 0.0 AS value FROM it$LogregIters
       |  UNION ALL SELECT 'w1', ROUND(w1, 6) + 0.0 FROM it$LogregIters
       |  UNION ALL SELECT 'w2', ROUND(w2, 6) + 0.0 FROM it$LogregIters
       |  UNION ALL SELECT 'w3', ROUND(w3, 6) + 0.0 FROM it$LogregIters
       |  UNION ALL SELECT 'train_acc', CAST(c AS DOUBLE) / n + 0.0 FROM ac
       |  UNION ALL SELECT 'train_loss', ROUND(loss, 6) + 0.0 FROM it$LogregIters)
       |ORDER BY param""".stripMargin

  /** q251: Johnson–Lindenstrauss target dimensionality, source
    * dimensionality, and the id-stride defining the audited sample
    * (vec_id ≡ 0 mod stride AND vec_id < cap). The cap is what keeps
    * the audit's self-join CONSTANT-bounded: a stride alone admits
    * corpus/37 rows — linear in the corpus, quadratic in pairs — while
    * the cap fixes the sample at ≤ 2048 vectors (≤ 2.1M pairs) at any
    * corpus size. Every fixture SF has max vec_id below the cap, so the
    * fixture output is identical with or without it. */
  val JlK = 16
  val JlD = 64
  val JlSampleMod = 37
  val JlSampleCap: Long = JlSampleMod.toLong * 2048

  /** q251: the k×d Rademacher projection matrix — ±1 from the parity of
    * the first hex digit of md5("jl:j:i"), computed HERE once and
    * interpolated into BOTH engines as literals, so neither engine
    * hashes at query time and the fold order is pinned by the shared
    * expression text. */
  lazy val JlSigns: IndexedSeq[IndexedSeq[Int]] =
    (0 until JlK).map { j =>
      (0 until JlD).map { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"jl:$j:$i".getBytes("UTF-8"))
        if (((h(0) >> 4) & 1) == 0) 1 else -1
      }
    }

  /** q252: Fellegi–Sunter m-probabilities (match-class agreement rates —
    * literature-style priors, fixed by design), the Jaro–Winkler
    * agreement threshold, and the pseudo-pair key offset used to
    * ESTIMATE the u-probabilities (must stay below the smallest
    * fixture's part count so the offset join is never empty). */
  val FsMName = "0.95"
  val FsMBrand = "0.9"
  val FsMType = "0.85"
  val FsMSize = "0.6"
  val FsJwThr = "0.92"
  val FsOffset = 97L

  /** q252 hot-block salting: fan blocks wider than FsHotFactor× the mean
    * width across FsSaltN tasks (selective hot-key mode — cold blocks
    * pay zero replication). Results equal the unsalted join exactly. */
  val FsSaltN = 8
  val FsHotFactor = 4.0

  /** q252: emit pairs whose total match weight clears this many bits —
    * the review threshold of a deployed linker (w ≥ 10 ≈ 1000:1 evidence
    * for match over the u-model). Emitting every w > 0 pair floods the
    * output with attribute-coincidence pairs at large SF. */
  val FsWeightCut = "10.0"

  /** q253: F(6, ∞) upper critical value at α = 0.05 — literal string
    * shared with the oracle (the AnovaCritF comparison happens on the
    * unrounded statistic in both engines). */
  val AnovaCritF = "2.0986"

  /** q255: CMH exposure threshold on the raw account-balance double, and
    * the order-count floor defining the "frequent orderer" outcome (every
    * fixture customer has ≥1 order, so "has ordered" would be a
    * degenerate 2×2 — the floor splits ~54/46 at every SF). */
  val CmhBalThr = "5000.0"
  val CmhOrderFloor = 10L

  // Shared pinned frames are MEMOIZED per (application, fixture dir) —
  // the covStats/q91-layout lesson: q163/q164/q169/q177/q184 share the
  // day frame and q158/q165/q170 share the basket + pair frames; a
  // 3-iteration bench would otherwise re-aggregate the fact table once
  // per consumer per iteration. The cached object is the lazily-pinned
  // DataFrame; its checkpoint blocks materialize on first action and
  // live for the app.

  /**
   * Day-granularity revenue frame: one row per calendar order day with
   * the exact revenue in cents. ~2.4k rows on the fixtures and bounded
   * by calendar span at ANY corpus size — the canonical control-plane
   * time series. Pinned: the autocorr/EWMA consumers each branch over
   * it several times (self-joins), and re-aggregating the orders fact
   * per branch would re-scan the corpus.
   */
  private def dailyRevenueCents(s: SparkSession, dir: String): DataFrame =
    AppCaches.memo(s, dir, "day") {
      import s.implicits._
      Pin.lazily(t(s, dir, "orders")
        .groupBy(to_date($"o_orderdate").as("d"))
        .agg(sum(cents($"o_totalprice")).as("cents")))
    }

  /**
   * Signup→first-purchase life table shared by q175 (Kaplan–Meier) and
   * q238 (Nelson–Aalen): per-duration (days) conversion and censor
   * counts, censored at study end. The per-user aggregation is the
   * corpus-wide work; the returned table is duration-granularity —
   * calendar-bounded control-plane data, collected for the sequential
   * estimator folds (the q211 precedent).
   */
  private def conversionLifeTable(
      s: SparkSession, dir: String): IndexedSeq[(Long, Long, Long)] = {
    import s.implicits._
    val ev = events(s, dir)
    val st = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ms").as("st"))
    val pt = ev.select($"user_id", $"ms", $"event_type").join(st, "user_id")
      .filter($"event_type" === "purchase" && $"ms" >= $"st")
      .groupBy($"user_id").agg(min($"ms").as("pt"))
    val mx = ev.agg(max($"ms").as("mx"))
    st.join(pt, Seq("user_id"), "left").crossJoin(broadcast(mx))
      .select(
        expr("CASE WHEN pt IS NOT NULL THEN (pt - st) div 86400000" +
          " ELSE (mx - st) div 86400000 END").as("dur"),
        when($"pt".isNotNull, 1L).otherwise(0L).as("conv"))
      .groupBy($"dur")
      .agg(sum($"conv").as("n_conv"), sum(lit(1L) - $"conv").as("n_cens"))
      .orderBy($"dur").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toIndexedSeq
  }

  /**
   * Basket frame for association mining: DISTINCT (order, brand) via the
   * broadcast part dim. One shuffle at (order, brand) digest granularity.
   */
  private def brandBaskets(s: SparkSession, dir: String): DataFrame =
    AppCaches.memo(s, dir, "baskets") {
      import s.implicits._
      Pin.lazily(t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .select($"l_orderkey".as("ok"), $"p_brand".as("brand"))
        .distinct())
    }

  /**
   * Canonical (brand_a < brand_b) co-occurrence pair counts — the ONE
   * basket self-join, shared by rule mining (q158, counts), PageRank
   * (q165, both directions as weighted edges) and triangle counting
   * (q170, pair keys). The self-join is the family's corpus-scale cost;
   * memoizing the ≤|brands|² result means it runs once per application,
   * not once per consumer per bench iteration.
   */
  private def brandPairCounts(s: SparkSession, dir: String): DataFrame =
    AppCaches.memo(s, dir, "brandpairs") {
      import s.implicits._
      val bb = brandBaskets(s, dir)
      Pin.lazily(bb.as("a")
        .join(bb.as("b"), $"a.ok" === $"b.ok" && $"a.brand" < $"b.brand")
        .select($"a.brand".as("brand_a"), $"b.brand".as("brand_b"))
        .groupBy($"brand_a", $"brand_b").agg(count(lit(1)).as("pair_n")))
    }

  /**
   * q174's price-sorted layout + stats manifest, memoized per
   * (application, fixture dir): the orders fact is rewritten ONCE into 16
   * range-sorted shards under a per-process temp root (distinct across
   * processes so concurrent Verify/Bench runs can't clobber each other's
   * files; removed at JVM exit), and the per-file (rows,min,max)
   * manifest is collected once — every later pruned scan is pure
   * control-plane file selection plus the residual filter.
   */
  private def priceManifest(s: SparkSession, dir: String): Array[(String, Long, Double, Double)] =
    AppCaches.memo(s, dir, "priceManifest") {
      import s.implicits._
      // root keyed by (dir, pid, APPLICATION) to match the memo key — a
      // second SparkSession in the same JVM must not Overwrite the files
      // a first session's cached manifest still points at
      val app = s.sparkContext.applicationId
      val root = AppCaches.scratchDir(sys.props("java.io.tmpdir"),
        s"graft-manifest-${Integer.toHexString((dir + "@" + app).hashCode)}-" +
          ProcessHandle.current().pid()).toString
      Layout.sortedShards(
          t(s, dir, "orders").select($"o_orderkey", $"o_custkey", $"o_totalprice"),
          Seq("o_totalprice"), 16)
        .write.mode("overwrite").parquet(root)
      Layout.statsManifest(s, root, "o_totalprice")
    }

  /**
   * Standardized feature frame for the quality-classifier family (q181
   * train, q186 gains, q187 AUC): per-doc label (lang = 'en') plus
   * z-scored cheap signals. Standardization moments come from one extra
   * aggregate pass, broadcast back — the fit-then-transform of a deployed
   * feature pipeline (an unstandardized first cut made the fixed learning
   * rate oscillate instead of descend).
   */
  private def logregFeatures(s: SparkSession, dir: String): DataFrame =
    AppCaches.memo(s, dir, "logregfeats") {
      import s.implicits._
      val raw = Pin.lazily(t(s, dir, "documents")
        .filter($"text".isNotNull)
        .select($"doc_id", ($"lang" === "en").cast("double").as("y"),
          split(lower($"text"), " ").as("ws"), length($"text").as("len"))
        .select($"doc_id", $"y",
          ($"len".cast("double") / size($"ws")).as("r1"),
          (size(filter($"ws", w => w === "the" || w === "a")).cast("double") /
            size($"ws")).as("r2"),
          (size(array_distinct($"ws")).cast("double") / size($"ws")).as("r3")))
      // Standardization moments ride e12 fixed-point sums (ORACLE.md
      // rule 4): float avg/stddev_pop were partition-order-dependent,
      // and the q181 oracle replays these exact chains. m appears three
      // times per feature on purpose — identical chains yield identical
      // doubles, and the SQL mirror re-derives it the same way.
      def m(i: Int): Column =
        (col(s"q$i").cast("double") / lit(1e12)) / $"n"
      def sd(i: Int): Column =
        sqrt((col(s"qq$i").cast("double") / lit(1e12)) / $"n" - m(i) * m(i))
      val mo = raw.agg(
          (count(lit(1)).cast("double")).as("n"),
          sum(floor($"r1" * lit(1e12)).cast(dec)).as("q1"),
          sum(floor($"r1" * $"r1" * lit(1e12)).cast(dec)).as("qq1"),
          sum(floor($"r2" * lit(1e12)).cast(dec)).as("q2"),
          sum(floor($"r2" * $"r2" * lit(1e12)).cast(dec)).as("qq2"),
          sum(floor($"r3" * lit(1e12)).cast(dec)).as("q3"),
          sum(floor($"r3" * $"r3" * lit(1e12)).cast(dec)).as("qq3"))
        .select(m(1).as("m1"), sd(1).as("s1"), m(2).as("m2"), sd(2).as("s2"),
          m(3).as("m3"), sd(3).as("s3"))
      Pin.lazily(raw.crossJoin(broadcast(mo))
        .select($"doc_id", $"y", lit(1.0).as("x0"),
          (($"r1" - $"m1") / $"s1").as("x1"),
          (($"r2" - $"m2") / $"s2").as("x2"),
          (($"r3" - $"m3") / $"s3").as("x3")))
    }

  /** The linear score w·x as a codegen column expression. */
  private def logregScore(w: Seq[Double])(s: SparkSession): Column = {
    import s.implicits._
    lit(w(0)) * $"x0" + lit(w(1)) * $"x1" + lit(w(2)) * $"x2" + lit(w(3)) * $"x3"
  }

  /** 25-iteration batch-gradient logistic fit over [[logregFeatures]];
    * memoized per (application, dir) — train/gains/AUC all consume the
    * same weights, and a bench run must not retrain per consumer per
    * iteration. Returns (weights, final training loss). */
  private def logregFit(s: SparkSession, dir: String): (Seq[Double], Double) =
    AppCaches.memo(s, dir, "logregFit") {
      import s.implicits._
      val feats = logregFeatures(s, dir)
      var w = Seq(0.0, 0.0, 0.0, 0.0)
      val lr = 0.5
      var lastLoss = Double.NaN
      // Gradient and loss sums ride e12 fixed-point (ORACLE.md rule 4):
      // float avg over the corpus was partition-order-dependent, and
      // the q181 oracle replays the identical 25-round chain (the
      // unrolled-arithmetic convention, see q157/q72).
      def q12(c: Column): Column = sum(floor(c * lit(1e12)).cast(dec))
      def over(d: java.math.BigDecimal, n: Long): Double =
        (d.doubleValue / 1e12) / n
      for (_ <- 1 to LogregIters) {
        val p = lit(1.0) / (lit(1.0) + exp(-logregScore(w)(s)))
        // Saturated-sigmoid guard (loss only; gradients use raw p): a
        // p of exactly 1.0/0.0 — attainable at larger SF after 25
        // rounds at lr 0.5 — makes the loss term 0·(−Inf) = NaN, which
        // Spark's floor() feeds the decimal sum as a silent 0 while
        // DuckDB's CAST(FLOOR(NaN) AS HUGEINT) raises. Clamp with the
        // SAME literals as the oracle's ln() arguments.
        val pc = least(greatest(p, lit(1e-12)), lit(1.0) - lit(1e-12))
        val g = feats.agg(count(lit(1)).as("n"),
          q12((p - $"y") * $"x0").as("g0"), q12((p - $"y") * $"x1").as("g1"),
          q12((p - $"y") * $"x2").as("g2"), q12((p - $"y") * $"x3").as("g3"),
          q12(-($"y" * log(pc) + (lit(1.0) - $"y") * log(lit(1.0) - pc))).as("loss"))
          .collect().head
        val n = g.getLong(0)
        w = w.zipWithIndex.map { case (wi, i) =>
          wi - lr * over(g.getDecimal(i + 1), n) }
        lastLoss = over(g.getDecimal(5), n)
      }
      (w, lastLoss)
    }

  /** Directed co-occurrence edges between brands (both directions), with
    * weights = number of baskets containing both — derived narrowly from
    * the memoized pinned pair counts (≤|brands|² rows), no second
    * self-join. */
  private def brandEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pc = brandPairCounts(s, dir)
    pc.select($"brand_a".as("src"), $"brand_b".as("dst"), $"pair_n".as("w"))
      .unionByName(pc.select($"brand_b".as("src"), $"brand_a".as("dst"),
        $"pair_n".as("w")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------------------------------------------ association rules
    // Market-basket rules over order baskets (items = part brands):
    // support / confidence (both directions) / lift for every brand pair
    // co-occurring in ≥10 baskets. Scale: the self-join expands each
    // basket to (distinct brands)² pairs — bounded by order width, never
    // corpus²; brand marginals (≤25 rows) and the 1-row basket count
    // broadcast onto the pair aggregate. All metrics are single float
    // divisions of exact BIGINT counts.
    "q158_basket_rules" -> { (s, dir) =>
      import s.implicits._
      val bb = brandBaskets(s, dir)
      val nB = bb.agg(countDistinct($"ok").as("n_baskets"))
      val bc = bb.groupBy($"brand").agg(count(lit(1)).as("cnt"))
      // lift's cross products go through DECIMAL→DOUBLE, not LONG: at the
      // corpus scale this file designs for, pair_n·n_baskets would wrap
      // Long silently in Spark while DuckDB raises — the engines would
      // diverge exactly at scale (review finding; HUGEINT mirror in SQL).
      brandPairCounts(s, dir)
        .filter($"pair_n" >= 10)
        .join(broadcast(bc.toDF("brand_a", "cnt_a")), "brand_a")
        .join(broadcast(bc.toDF("brand_b", "cnt_b")), "brand_b")
        .crossJoin(broadcast(nB))
        .select($"brand_a", $"brand_b", $"pair_n", $"cnt_a", $"cnt_b",
          round($"pair_n" / $"n_baskets", 6).as("support"),
          round($"pair_n" / $"cnt_a", 6).as("conf_a_b"),
          round($"pair_n" / $"cnt_b", 6).as("conf_b_a"),
          round(($"pair_n".cast(dec) * $"n_baskets").cast("double") /
            ($"cnt_a".cast(dec) * $"cnt_b").cast("double"), 6).as("lift"))
        .orderBy($"brand_a", $"brand_b")
    },

    // -------------------------------------------------- Mann–Whitney U test
    // Rank-sum test (URGENT vs LOW order priority on order value), the
    // non-parametric complement to q155's z-test and q146/q151's KS.
    // Midranks come from the VALUE-granularity frame: per distinct cents
    // value, (a_n, t_n) counts, then the exclusive prefix sum of t_n via
    // GlobalRank's two-pass distributed cumsum — no unpartitioned
    // data-row window. 2·R_A = Σ a_n·(2·cum_before + t_n + 1) stays an
    // exact DECIMAL aggregate; the tie-corrected z is one mirrored float
    // expression. (Distinct values bound the frame; at corpus scale swap
    // in q134's equi-depth bins exactly as q151 does for KS.)
    "q159_mann_whitney_u" -> { (s, dir) =>
      import s.implicits._
      val o = t(s, dir, "orders")
        .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
        .select(($"o_orderpriority" === "1-URGENT").as("is_a"),
          cents($"o_totalprice").as("v"))
      val byV = o.groupBy($"v").agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("a_n"),
        count(lit(1)).as("t_n"))
      val pf = GlobalRank.withGlobalPrefixSum(
        byV, Seq($"v"), $"t_n", "vrk", "nv", "cum_t", "n_tot")
        .withColumn("cum_b", $"cum_t" - $"t_n")
      pf.agg(
          sum($"a_n").as("n_a"),
          max($"n_tot").as("n"),
          sum($"a_n".cast(dec) * (lit(2L) * $"cum_b" + $"t_n" + lit(1L))).as("r2_a"),
          sum(($"t_n".cast(dec) * $"t_n" * $"t_n") - $"t_n").as("tie_raw"))
        .select($"n_a", ($"n" - $"n_a").as("n_b"),
          // decimal product BEFORE the subtraction: n_a·(n_a+1) wraps
          // Long near 3e9 rows per arm (review finding; HUGEINT mirror)
          ($"r2_a" - $"n_a".cast(dec) * ($"n_a" + lit(1L))).cast("long").as("u2_a"),
          $"tie_raw".cast("long").as("tie_sum"), $"n")
        .select($"n_a", $"n_b", $"u2_a", $"tie_sum",
          round(($"u2_a".cast("double") - $"n_a".cast("double") * $"n_b") /
            (lit(2.0) * sqrt($"n_a".cast("double") * $"n_b" / lit(12.0) *
              (($"n" + lit(1L)) - $"tie_sum".cast("double") /
                ($"n".cast("double") * ($"n" - lit(1L)))))), 6).as("z"))
    },

    // -------------------------------------------------- chi-square contingency
    // Independence audit of order priority × status: one fact scan, one
    // (5×3)-cell aggregate; marginals and the grand total re-aggregate
    // the PINNED 15-row cell frame (zero extra fact scans). Expected
    // counts and per-cell contributions are single float expressions of
    // exact BIGINTs — per-cell output avoids any cross-engine float-sum
    // ordering entirely (the spec sums contributions for the statistic).
    "q160_chi_square_cells" -> { (s, dir) =>
      import s.implicits._
      val cells = Pin.lazily(t(s, dir, "orders")
        .groupBy($"o_orderpriority", $"o_orderstatus")
        .agg(count(lit(1)).as("obs")))
      val rt = cells.groupBy($"o_orderpriority").agg(sum($"obs").as("rt"))
      val ct = cells.groupBy($"o_orderstatus").agg(sum($"obs").as("ct"))
      val nn = cells.agg(sum($"obs").as("n_tot"))
      val e = ($"rt" * $"ct").cast("double") / $"n_tot"
      cells
        .join(broadcast(rt), "o_orderpriority")
        .join(broadcast(ct), "o_orderstatus")
        .crossJoin(broadcast(nn))
        .select($"o_orderpriority", $"o_orderstatus", $"obs",
          round(e, 6).as("expected"),
          round(($"obs" - e) * ($"obs" - e) / e, 6).as("contrib"))
        .orderBy($"o_orderpriority", $"o_orderstatus")
    },

    // ----------------------------------------------------- Benford digit audit
    // First-significant-digit distribution of order values vs Benford's
    // log10(1+1/d) — the classic fabricated-data screen. The digit comes
    // from the cents BIGINT's decimal string (no log10-of-value edge
    // cases at exact powers of ten); digit-granularity (9 rows) from one
    // scan, total derived from the pinned digit frame.
    "q161_benford_digits" -> { (s, dir) =>
      import s.implicits._
      val d = Pin.lazily(t(s, dir, "orders")
        .select(substring(cents($"o_totalprice").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n_d")))
      val nn = d.agg(sum($"n_d").as("n"))
      d.crossJoin(broadcast(nn))
        .select($"digit", $"n_d",
          round($"n_d" / $"n", 6).as("obs_freq"),
          round(log10(lit(1.0) + lit(1.0) / $"digit"), 6).as("benford_freq"),
          round(abs($"n_d" / $"n" - log10(lit(1.0) + lit(1.0) / $"digit")), 6)
            .as("abs_dev"))
        .orderBy($"digit")
    },

    // -------------------------------------------------------- MAD outliers
    // Robust per-segment outlier counts: median + median-absolute-
    // deviation (the robust σ), flagging |x−med| > 3·1.4826·MAD. Three
    // group-granularity passes over the pinned 2-column projection
    // (medians are holistic — Spark's exact interpolated percentile ≡
    // DuckDB quantile_cont, the q26 convention); the 5-row stats frame
    // broadcasts back for the count pass.
    "q162_mad_outliers" -> { (s, dir) =>
      import s.implicits._
      val c = Pin.lazily(t(s, dir, "customer")
        .select($"c_mktsegment", $"c_acctbal"))
      val med = c.groupBy($"c_mktsegment")
        .agg(expr("percentile(c_acctbal, 0.5D)").as("med"))
      val stats = c.join(broadcast(med), "c_mktsegment")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), max($"med").as("med"),
          expr("percentile(abs(c_acctbal - med), 0.5D)").as("mad"))
      c.join(broadcast(stats), "c_mktsegment")
        .groupBy($"c_mktsegment")
        .agg(max($"n").as("n"), max($"med").as("med"), max($"mad").as("mad"),
          sum(when(abs($"c_acctbal" - $"med") > lit(4.4478) * $"mad", 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy($"c_mktsegment")
    },

    // ------------------------------------------------------- autocorrelation
    // Lag-1..7 autocorrelation of daily revenue — seasonality detection
    // for the volume-anomaly family (q98). Calendar-lag pairs come from
    // an equi-join of the day frame against itself through a broadcast
    // 7-row offset spine (no window, no sort); Pearson r per lag is
    // assembled from exact DECIMAL(38,0) moments with one mirrored float
    // expression. Missing calendar days simply drop those pairs —
    // identical semantics in both engines.
    "q163_revenue_autocorr" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir)
      val lagDim = broadcast(s.range(1, 8).select(col("id").cast("int").as("lag")))
      day.as("a").crossJoin(lagDim)
        .join(day.as("b"), $"b.d" === date_sub($"a.d", $"lag"))
        .select($"lag", $"a.cents".as("xa"), $"b.cents".as("xb"))
        .groupBy($"lag").agg(
          count(lit(1)).as("np"),
          sum($"xa".cast(dec)).as("sx"), sum($"xb".cast(dec)).as("sy"),
          sum($"xa".cast(dec) * $"xb").as("sxy"),
          sum($"xa".cast(dec) * $"xa").as("sxx"),
          sum($"xb".cast(dec) * $"xb").as("syy"))
        .select($"lag", $"np",
          round(($"np" * $"sxy" - $"sx" * $"sy").cast("double") /
            (sqrt(($"np" * $"sxx" - $"sx" * $"sx").cast("double")) *
             sqrt(($"np" * $"syy" - $"sy" * $"sy").cast("double"))), 6).as("acf"))
        .orderBy($"lag")
    },

    // ------------------------------------------------------------ EWMA
    // Exponentially weighted moving average of daily revenue (α = 1/2,
    // 21-day window). Sibling of q116 (per-type recursive float EWMA for
    // anomaly baselines) — this is the WINDOWED, integer-exact form: a
    // bounded 21-term window with dyadic weights, chosen when the result
    // must be order-independent and bit-reproducible under any
    // partitioning (q116's recursive fold is the unbounded-memory-free
    // stream shape). Weights 2^(20−off) keep the numerator an EXACT
    // integer sum — no order-dependent float accumulation, bit-identical
    // across engines and partitionings. The window is a calendar
    // equi-join through a broadcast 21-row offset spine over the
    // day-granularity frame; partial leading windows renormalize via the
    // matched-weight denominator. The output stays integer to the end:
    // ewma_cents_e4 = ⌊num·10⁴/den⌋ via exact decimal floor division —
    // ROUND-of-double differs between engines exactly at scale-4 ties
    // (Spark rounds the decimal expansion HALF_UP, DuckDB rounds the
    // binary double), which a first cut of this query hit on the fixture.
    "q164_ewma_revenue" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir)
      val offDim = broadcast(s.range(0, 21).select(col("id").cast("int").as("off")))
      day.as("a").crossJoin(offDim)
        .join(day.as("b"), $"b.d" === date_sub($"a.d", $"off"))
        .select($"a.d".as("d"), $"a.cents".as("rev_cents"),
          $"b.cents".as("bc"), pow(lit(2.0), lit(20) - $"off").cast("long").as("w"))
        .groupBy($"d", $"rev_cents")
        .agg(sum($"bc".cast(dec) * $"w").as("num"), sum($"w").as("den"))
        .withColumn("sc", $"num" * lit(10000L))
        .select($"d", $"rev_cents",
          (($"sc" - pmod($"sc", $"den")) / $"den").cast("long").as("ewma_cents_e4"))
        .orderBy($"d")
    },

    // --------------------------------------------------------- PageRank
    // PageRank (damping 0.85, 3 power iterations from uniform) over the
    // brand co-occurrence graph — "central" brands that co-sell with
    // everything. The corpus-scale work is the basket/edge aggregation
    // (shared, pinned); each iteration is then an edge-granularity join
    // (≤625 rows here; E rows in general) between the broadcast rank
    // vector and the pinned edge list — the standard distributed
    // power-iteration shape, with per-iteration cost O(E), not O(n²).
    // The oracle unrolls the same three iterations as CTEs.
    "q165_brand_pagerank" -> { (s, dir) =>
      import s.implicits._
      val edges = brandEdges(s, dir)
      val ow = edges.groupBy($"src").agg(sum($"w").as("outw"))
      val brands = t(s, dir, "part").select($"p_brand".as("brand")).distinct()
      val nbF = broadcast(brands.agg(count(lit(1)).as("nb")))
      var r = brands.crossJoin(nbF).select($"brand", (lit(1.0) / $"nb").as("r"))
      for (_ <- 1 to 3) {
        val contrib = edges.join(broadcast(ow), "src")
          .join(broadcast(r.select($"brand".as("src"), $"r".as("rp"))), "src")
          .groupBy($"dst").agg(sum(($"w" / $"outw") * $"rp").as("m"))
        r = brands.crossJoin(nbF)
          .join(broadcast(contrib), $"brand" === $"dst", "left")
          .select($"brand",
            (lit(0.15) / $"nb" + lit(0.85) * coalesce($"m", lit(0.0))).as("r"))
      }
      r.select($"brand", round($"r", 6).as("pagerank")).orderBy($"brand")
    },

    // --------------------------------------------- sorted-neighborhood dedup
    // SNM: normalize → sort → compare only the w=2 forward neighbors per
    // block (block = 8-char normalized prefix, sort key = 64-char prefix).
    // Candidate generation is one partitioned window — O(n·w) pairs vs
    // LSH's band-bucket joins; Levenshtein (threshold-capped, so Spark
    // abandons early) runs only on candidates. Accepts pairs with edit
    // distance ≤ 30% of the longer text.
    "q166_sorted_neighborhood" -> { (s, dir) =>
      import s.implicits._
      // Candidate generation moves ONLY (doc_id, 64-char sort key)
      // through the range exchange + sort — never document text; both
      // forward neighbors come out of ONE window pass (array + explode —
      // two filtered branches would plan two scan+sort+window subtrees).
      // Text joins back for the O(n·w) candidate pairs only, the q84
      // verify-stage discipline: at corpus scale full text crossing the
      // candidate sort is the cost that kills SNM.
      val d = t(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id",
          substring(regexp_replace(lower($"text"), "[^a-z0-9]", ""), 1, 64).as("skey"))
        .withColumn("blk", substring($"skey", 1, 8))
      val w = Window.partitionBy($"blk").orderBy($"skey", $"doc_id")
      val cand = d.withColumn("nbrs", array(
          lead($"doc_id", 1).over(w), lead($"doc_id", 2).over(w)))
        .select($"doc_id".as("id_x"), explode($"nbrs").as("id_y"))
        .filter($"id_y".isNotNull)
        .select(least($"id_x", $"id_y").as("doc_a"),
          greatest($"id_x", $"id_y").as("doc_b"))
      val txt = t(s, dir, "documents")
        .select($"doc_id", $"text")
      cand
        .join(txt.toDF("doc_a", "text_a"), "doc_a")
        .join(txt.toDF("doc_b", "text_b"), "doc_b")
        .withColumn("k",
          floor(lit(0.3) * greatest(length($"text_a"), length($"text_b"))).cast("int"))
        // free prune before the DP: levenshtein ≥ |len_a − len_b|, so a
        // length gap beyond the band k already rejects the pair — this
        // drops the bulk of the random sorted neighbors without touching
        // characters (they dominate SNM verify cost; same predicate in
        // the oracle, so the admitted set is unchanged by construction)
        .filter(abs(length($"text_a") - length($"text_b")) <= $"k")
        // re-spread the admitted pairs before the banded DP: AQE coalesces
        // the candidate exchange to one partition and the O(len·k) verify
        // then runs serially (2×1.4 s single-task stages measured; a
        // pre-join spread doesn't work here — the planner broadcasts the
        // id-only candidate side and the verify inherits the text scan's
        // partitioning instead)
        .transform(spread)
        .withColumn("edit_dist", expr("levenshtein(text_a, text_b, k)").cast("long"))
        .filter($"edit_dist" >= 0)
        .select($"doc_a", $"doc_b", $"edit_dist")
        .orderBy($"doc_a", $"doc_b")
    },

    // ------------------------------------------------- session sequence mining
    // Top-20 event-type trigrams within sessions — the frequent-sequence
    // complement to q156's pairwise transitions. Rides the shared pinned
    // sessionization; two leads in ONE (user, session)-partitioned
    // WindowExec; trigram counts are a bounded-domain aggregate
    // (|types|³); top-k is TakeOrderedAndProject with a total tiebreak.
    "q167_session_trigrams" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"sess_seq").orderBy($"ms", $"event_id")
      CoreQueries.sessionized(s, dir)
        .withColumn("t1", lead($"event_type", 1).over(w))
        .withColumn("t2", lead($"event_type", 2).over(w))
        .filter($"t1".isNotNull && $"t2".isNotNull)
        .select(concat_ws(">", $"event_type", $"t1", $"t2").as("trigram"))
        .groupBy($"trigram").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"trigram").limit(20)
    },

    // ------------------------------------------------------------- Gini
    // Gini coefficient of customer SPEND concentration — the revenue
    // twin of q126's token-mass Gini/Lorenz audit (same estimator, same
    // GlobalRank machinery, different inventory: q126 asks "do a few
    // documents own the token mass", this asks "do a few customers own
    // the revenue" — the two dashboards a curation team and a business
    // team actually run):
    // G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending spend. The rank
    // comes from GlobalRank's two-pass distributed row number (unique
    // total order via the custkey tiebreak) — no single-partition
    // window; Σ rank·cents is one exact DECIMAL(38,0) aggregate.
    "q168_gini_spend" -> { (s, dir) =>
      import s.implicits._
      val spend = t(s, dir, "orders")
        .groupBy($"o_custkey").agg(sum(cents($"o_totalprice")).as("cents"))
      GlobalRank.withGlobalRank(spend, Seq($"cents", $"o_custkey"), "rk", "n")
        .agg(max($"n").as("n"), sum($"cents").as("total_cents"),
          sum($"rk".cast(dec) * $"cents").as("s"))
        .select($"n", $"total_cents",
          round(lit(2.0) * $"s".cast("double") /
              ($"n".cast("double") * $"total_cents") -
            ($"n" + lit(1L)).cast("double") / $"n", 6).as("gini"))
    },

    // ------------------------------------------------------- changepoint
    // Single best mean-shift changepoint of the daily revenue series:
    // for every split point (≥7 days each side), score =
    // √(i·(n−i)/n)·|mean_left − mean_right| (the two-sample t numerator
    // shape), argmax with a calendar tiebreak. Prefix sums of exact cents
    // ride GlobalRank's two-pass cumsum over the day-granularity frame —
    // no unpartitioned data window, even though at any corpus size this
    // frame is calendar-bounded. Means ship as exact ⌊·10⁴⌋ integers (the
    // q164 ROUND-tie lesson); the score is one mirrored float expression.
    "q169_revenue_changepoint" -> { (s, dir) =>
      import s.implicits._
      val pf = GlobalRank.withGlobalPrefixSum(
        dailyRevenueCents(s, dir), Seq($"d"), $"cents", "i", "nd", "p", "tot")
      val pl = $"p".cast(dec) * lit(10000L)
      val pr = ($"tot" - $"p").cast(dec) * lit(10000L)
      pf.filter($"i" >= 7 && $"i" <= $"nd" - 7)
        .select($"d", $"i".as("n_left"), ($"nd" - $"i").as("n_right"),
          ((pl - pmod(pl, $"i")) / $"i").cast("long").as("mean_l_e4"),
          ((pr - pmod(pr, $"nd" - $"i")) / ($"nd" - $"i")).cast("long").as("mean_r_e4"),
          (sqrt(($"i" * ($"nd" - $"i")).cast("double") / $"nd") *
            abs($"p".cast("double") / $"i" -
              ($"tot" - $"p").cast("double") / ($"nd" - $"i"))).as("score"))
        .orderBy($"score".desc, $"d").limit(1)
    },

    // ---------------------------------------------------- triangle counting
    // Per-brand triangle counts over the co-occurrence graph — the
    // clustering-structure complement to q165's centrality. Edges are
    // canonically oriented (x<y), so each wedge x<y<z is generated
    // exactly once by the e(x,y)⋈e(y,z) join and closed by one probe of
    // e(x,z) — the standard distributed triangle-enumeration shape, cost
    // Σ_v deg(v)² on wedges, never |V|³. (On skewed degree graphs orient
    // by (degree, id) instead of id so hubs sit on the cheap side; the
    // brand graph is near-regular, so lexicographic keeps oracle parity
    // trivially.) Brand granularity end-to-end after the shared pinned
    // basket frame.
    "q170_brand_triangles" -> { (s, dir) =>
      import s.implicits._
      val e = brandPairCounts(s, dir).select($"brand_a".as("x"), $"brand_b".as("y"))
      val tri = e.as("e1")
        .join(e.toDF("y", "z").as("e2"), "y")
        .join(e.toDF("x", "z").as("e3"), Seq("x", "z"))
        .select($"x", $"y", $"z")
      val members = tri.select($"x".as("tb"))
        .unionAll(tri.select($"y".as("tb")))
        .unionAll(tri.select($"z".as("tb")))
      t(s, dir, "part").select($"p_brand".as("brand")).distinct()
        .join(members, $"brand" === $"tb", "left")
        .groupBy($"brand").agg(count($"tb").as("n_triangles"))
        .orderBy($"brand")
    },

    // ------------------------------------------------ LLR collocations
    // Dunning log-likelihood-ratio collocations over document bigrams —
    // the significance-aware complement to q111's PMI (PMI overweights
    // rare pairs; LLR ranks by evidence). Marginals are the BIGRAM
    // table's own row/column sums (vocab²-bounded aggregate); the 2×2
    // cell terms are a fixed four-term expression of exact counts, so
    // engine float-sum ordering never applies.
    "q171_llr_collocations" -> { (s, dir) =>
      import s.implicits._
      val wprev = Pin.lazily(
        t(s, dir, "documents")
          .select($"doc_id", posexplode(split(lower($"text"), " ")).as(Seq("pos", "tok")))
          .withColumn("prev",
            lag($"tok", 1).over(Window.partitionBy($"doc_id").orderBy($"pos"))))
      val bi = Pin.lazily(wprev.filter($"prev".isNotNull)
        .groupBy($"prev", $"tok").agg(count(lit(1)).as("k11")))
      val rf = bi.groupBy($"prev").agg(sum($"k11").as("r_c"))
      val cf = bi.groupBy($"tok").agg(sum($"k11").as("c_c"))
      val nn = bi.agg(sum($"k11").as("n_bi"))
      def term(k: Column, row: Column, colc: Column): Column =
        when(k > 0, k.cast("double") *
          log(k.cast("double") * $"n_bi".cast("double") /
            (row.cast("double") * colc.cast("double"))))
          .otherwise(lit(0.0))
      bi.filter($"k11" >= 5)
        .join(broadcast(rf), "prev")
        .join(broadcast(cf), "tok")
        .crossJoin(broadcast(nn))
        .withColumn("k12", $"r_c" - $"k11")
        .withColumn("k21", $"c_c" - $"k11")
        .withColumn("k22", $"n_bi" - $"r_c" - $"c_c" + $"k11")
        .select($"prev", $"tok", $"k11".as("c_bi"),
          round(lit(2.0) * (term($"k11", $"r_c", $"c_c") +
            term($"k12", $"r_c", $"n_bi" - $"c_c") +
            term($"k21", $"n_bi" - $"r_c", $"c_c") +
            term($"k22", $"n_bi" - $"r_c", $"n_bi" - $"c_c")), 6).as("llr"))
        .orderBy($"prev", $"tok")
    },

    // --------------------------------------------------------- Zipf fit
    // CORPUS-WIDE rank-frequency Zipf fit over the top-200 vocabulary —
    // q122's per-source screen aggregated to one corpus fingerprint
    // (q122 compares sources against each other via GroupTopK heaps;
    // this fits the global head via GlobalRank — the one number that
    // goes on the dataset card). OLS slope of ln(freq) on ln(rank);
    // natural text sits near −1. The regression reduces a 200-row
    // control-plane frame, rounded once at the end.
    "q172_zipf_slope" -> { (s, dir) =>
      import s.implicits._
      val hist = t(s, dir, "documents")
        .select(explode(split(lower($"text"), " ")).as("w"))
        .filter(length($"w") > 0)
        .groupBy($"w").agg(count(lit(1)).as("c"))
      GlobalRank.withGlobalRank(hist, Seq($"c".desc, $"w"), "rk", "nw")
        .filter($"rk" <= 200)
        .select(log($"rk".cast("double")).as("x"), log($"c".cast("double")).as("y"))
        .agg(count(lit(1)).as("n_words"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
        .withColumn("slope_raw",
          ($"n_words" * $"sxy" - $"sx" * $"sy") / ($"n_words" * $"sxx" - $"sx" * $"sx"))
        .select($"n_words", round($"slope_raw", 6).as("slope"),
          round(($"sy" - $"slope_raw" * $"sx") / $"n_words", 6).as("intercept"))
    },

    // --------------------------------------------------- audience overlap
    // Exact pairwise audience overlap + Jaccard between event types —
    // "how much do signup users overlap with purchase users". The
    // (type, user) DISTINCT frame self-joins on user: per-user expansion
    // is bounded by |types|² (≤25), so the join output scales linearly in
    // users. Per-type totals broadcast back. At sketch scale (types ×
    // billions of users, no exact join budget) the q92 mergeable-HLL
    // rollup computes the same table with inclusion–exclusion.
    "q173_audience_overlap" -> { (s, dir) =>
      import s.implicits._
      val tu = Pin.lazily(events(s, dir)
        .select($"event_type".as("et"), $"user_id").distinct())
      val cnt = tu.groupBy($"et").agg(count(lit(1)).as("n_et"))
      tu.as("a").join(tu.as("b"),
          $"a.user_id" === $"b.user_id" && $"a.et" < $"b.et")
        .select($"a.et".as("type_a"), $"b.et".as("type_b"))
        .groupBy($"type_a", $"type_b").agg(count(lit(1)).as("n_both"))
        .join(broadcast(cnt.toDF("type_a", "n_a")), "type_a")
        .join(broadcast(cnt.toDF("type_b", "n_b")), "type_b")
        .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_both",
          round($"n_both" / ($"n_a" + $"n_b" - $"n_both"), 6).as("jaccard"))
        .orderBy($"type_a", $"type_b")
    },

    // ------------------------------------------------ manifest file skipping
    // Metadata-pruned range scan: a per-file (min,max) stats manifest
    // over a price-sorted layout lets the scan OPEN only the files whose
    // envelope intersects the predicate — the file-skipping economics
    // that make selective scans at 100 TB read O(selectivity) files, not
    // the corpus. Layout write + manifest are memoized per (application,
    // fixture dir) — write-once/scan-many is the operator's thesis (the
    // q91 bucketing lesson); StatsSpec asserts the skip really happens
    // and that pruning never changes results. The oracle sees only the
    // final aggregate, which is layout-independent by construction.
    "q174_manifest_pruned_scan" -> { (s, dir) =>
      import s.implicits._
      val (scan, _, _) = Layout.prunedRangeScan(
        s, "o_totalprice", 50000.0, 100000.0, priceManifest(s, dir))
      scan.agg(count(lit(1)).as("n_orders"),
        sum(cents($"o_totalprice")).as("rev_cents"))
    },

    // --------------------------------------------------- Kaplan–Meier
    // Survival analysis of signup → first-purchase conversion: per-user
    // durations in days (censored at the study end for never-converters),
    // then the Kaplan–Meier product-limit estimator over the life table.
    // The corpus-scale work is the per-user aggregation; the life table
    // is DURATION-granularity (calendar-bounded — control-plane at any
    // corpus size), so the sequential product folds on the driver like
    // q157's chain solve. The oracle computes the identical estimator as
    // EXP(Σ ln(1−dᵢ/nᵢ)) under a cumulative window; ROUND(…,6) absorbs
    // the product-vs-exp-log ulp difference.
    "q175_kaplan_meier" -> { (s, dir) =>
      import s.implicits._
      var atRisk = 0L
      var sKm = 1.0
      val rows = conversionLifeTable(s, dir) match { case lt =>
        atRisk = lt.map(r => r._2 + r._3).sum
        lt.map { case (dur, d, c) =>
          val nRisk = atRisk
          sKm *= 1.0 - d.toDouble / nRisk
          atRisk -= d + c
          (dur, nRisk, d, c,
            BigDecimal(sKm).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      s.createDataFrame(rows)
        .toDF("dur", "n_risk", "n_conv", "n_cens", "s_km")
        .orderBy($"dur")
    },

    // ------------------------------------------- Nelson–Aalen hazard
    // Cumulative-hazard view of the SAME signup→purchase life table as
    // q175: H(t) = Σ_{dᵢ≤t} dᵢ/nᵢ with Greenwood-style SE² = Σ dᵢ/nᵢ²,
    // plus the Fleming–Harrington survival e^(−H) — the estimator pair
    // an analyst reads when event counts per duration are small and the
    // KM product is jumpy. Identical scale shape to q175 (corpus-wide
    // work = the per-user aggregation; the life table is duration-
    // granularity control-plane, folded on the driver); the oracle's
    // cumulative window adds the identical doubles in the identical dur
    // order, and ROUND(…,6) absorbs the exp() libm ulp.
    "q238_nelson_aalen" -> { (s, dir) =>
      import s.implicits._
      val lt = conversionLifeTable(s, dir)
      var atRisk = lt.map(r => r._2 + r._3).sum
      var h = 0.0
      var v = 0.0
      val rows = lt.map { case (dur, d, c) =>
        val nRisk = atRisk
        h += d.toDouble / nRisk
        v += d.toDouble / nRisk / nRisk
        atRisk -= d + c
        (dur, nRisk, d, c,
          BigDecimal(h).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(math.sqrt(v)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble,
          BigDecimal(math.exp(-h)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
      }
      s.createDataFrame(rows)
        .toDF("dur", "n_risk", "n_conv", "n_cens", "h_na", "se_na", "s_fh")
        .orderBy($"dur")
    },

    // ------------------------------------------- rolling-median smoother
    // 7-day centered rolling MEDIAN of daily revenue with the relative
    // deviation of each day from its window — the robust smoother the
    // EWMA (q164) and moving-average (q209 trend) family lacks: one
    // outage or flash-sale day shifts a mean window, barely moves the
    // median. No data-row window anywhere: the day frame is calendar-
    // bounded, and the window is a ±3-day theta self-join (the q199
    // day-pair idiom) grouped back to day granularity. The median is the
    // interpolated percentile over ≤7 values — the q26-pinned
    // percentile/quantile_cont parity — emitted RAW; the deviation is
    // the one rounded float with a −0.0 guard.
    "q239_rolling_median" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir)
      val a = day.select($"d", $"cents")
      val b = day.select($"d".as("db"), $"cents".as("cb"))
      a.join(b, datediff($"db", $"d").between(-3, 3))
        .groupBy($"d", $"cents")
        .agg(count(lit(1)).as("win_n"),
          expr("percentile(cast(cb as double), 0.5D)").as("med"))
        .select($"d".as("day"), $"cents", $"win_n", $"med".as("med_cents"),
          (round(($"cents".cast("double") - $"med") / $"med", 6) + lit(0d))
            .as("rel_dev"))
        .orderBy($"day")
    },

    // --------------------------------------------------- t-closeness
    // The third rung of the privacy-audit ladder (q176 k-anonymity, q217
    // l-diversity): per QI group (nation × segment), the earth-mover's
    // distance between the group's ordered sensitive-attribute
    // distribution (acctbal bands) and the table-wide one — small groups
    // can be k-anonymous and diverse yet still leak by SKEW, which EMD
    // is the standard measure of. For ordered bands, EMD = Σ|cumP_g −
    // cumP|/(m−1); both cumulatives are cross-multiplied to the exact
    // integer |cum_g·N − cum·n_g| (DECIMAL(38,0) — both factors are
    // corpus-scale counts), summed exactly, ONE float division at the
    // end. Dense (group × band) grid from two broadcast control-plane
    // frames; the only data-wide work is the (group, band) aggregate.
    // Cumulatives ride a band-spine theta join, not a window.
    "q240_t_closeness" -> { (s, dir) =>
      import s.implicits._
      val rows = Pin.lazily(t(s, dir, "customer")
        .groupBy($"c_nationkey", $"c_mktsegment",
          floor($"c_acctbal" / 1000.0).cast("long").as("band"))
        .agg(count(lit(1)).as("cnt")))
      val bands = rows.groupBy($"band").agg(sum($"cnt").as("gcnt"))
      val groups = rows.groupBy($"c_nationkey", $"c_mktsegment")
        .agg(sum($"cnt").as("n_g"))
      val tot = bands.agg(sum($"gcnt").as("nn"), count(lit(1)).as("m"))
      val dense = groups.crossJoin(broadcast(bands.select($"band")))
        .join(rows, Seq("c_nationkey", "c_mktsegment", "band"), "left")
        .select($"c_nationkey", $"c_mktsegment", $"n_g", $"band",
          coalesce($"cnt", lit(0L)).as("cnt"))
      // cumulative counts via band-spine theta joins (≤ groups·m² rows)
      val withCum = dense.as("a")
        .join(dense.select($"c_nationkey".as("nk2"), $"c_mktsegment".as("ms2"),
          $"band".as("b2"), $"cnt".as("cnt2")),
          $"nk2" === $"c_nationkey" && $"ms2" === $"c_mktsegment" &&
            $"b2" <= $"band")
        .groupBy($"c_nationkey", $"c_mktsegment", $"n_g", $"band")
        .agg(sum($"cnt2").as("cum_g"))
        .join(broadcast(bands.as("bb")
          .join(bands.select($"band".as("b3"), $"gcnt".as("g3")),
            $"b3" <= $"band")
          .groupBy($"band").agg(sum($"g3").as("cum_all"))), Seq("band"))
      withCum.crossJoin(broadcast(tot))
        .groupBy($"c_nationkey", $"c_mktsegment", $"n_g", $"nn", $"m")
        .agg(sum(abs($"cum_g".cast(dec) * $"nn" - $"cum_all".cast(dec) * $"n_g"))
          .as("num"))
        .select($"c_nationkey", $"c_mktsegment", $"n_g",
          round($"num".cast("double") /
            (($"m" - 1).cast("double") * $"n_g".cast("double") *
              $"nn".cast("double")), 6).as("t_emd"))
        .withColumn("leaky", $"t_emd" > lit(TClosenessMax.toDouble))
        .orderBy($"c_nationkey", $"c_mktsegment")
    },

    // ------------------------------------- caliper nearest-neighbor match
    // Covariate matching with a caliper — the causal-inference estimator
    // between q188's CUPED and q191's diff-in-diff: each treated
    // customer (md5 arm, the q216 split) matches the nearest CONTROL by
    // account balance within a $500 caliper (with replacement, tie to
    // the smaller key — a well-defined nearest, not order-dependent
    // greedy), then ATT = mean matched outcome difference. Scale shape
    // is q204's grid join on a 1-D axis: candidates from caliper-width
    // bins with the probe side exploded to ±1 bins (provably covers the
    // caliper ball, no duplicate pairs), exact-integer distance filter,
    // GroupTopK k=1 argmin — never treated×control. The brute-force
    // all-pairs oracle re-proves no candidate was missed. Outcome sums
    // exact cents; ATT is the one rounded float (−0.0 guarded — it can
    // be negative).
    "q244_nn_matching" -> { (s, dir) =>
      import s.implicits._
      val y = t(s, dir, "orders").groupBy($"o_custkey")
        .agg(sum(cents($"o_totalprice")).as("yy"))
      val cust = Pin.lazily(t(s, dir, "customer")
        .select($"c_custkey", cents($"c_acctbal").as("sc"),
          (substring(md5($"c_custkey".cast("string")), 1, 1) <= "7")
            .as("treated"))
        .join(y, $"c_custkey" === $"o_custkey", "left")
        .select($"c_custkey", $"sc", $"treated",
          coalesce($"yy", lit(0L)).as("y")))
      val cal = lit(MatchCaliperCents)
      val ctl = cust.filter(!$"treated")
        .select($"c_custkey".as("ck"), $"sc".as("scc"), $"y".as("yc"))
        .withColumn("bin",
          floor($"scc".cast("double") / cal.cast("double")).cast("long"))
      val tr = cust.filter($"treated")
        .withColumn("b0",
          floor($"sc".cast("double") / cal.cast("double")).cast("long"))
        .withColumn("bin", explode(array($"b0" - 1, $"b0", $"b0" + 1)))
      val pairs = tr.join(ctl, Seq("bin"))
        .withColumn("ad", abs($"sc" - $"scc"))
        .filter($"ad" <= cal)
      val matched = graft.plans.GroupTopK(pairs, Seq($"c_custkey"),
        Seq($"ad".asc, $"ck".asc), 1)
      val base = cust.agg(
        sum(when($"treated", 1L).otherwise(0L)).as("n_treated"),
        sum(when(!$"treated", 1L).otherwise(0L)).as("n_control"))
      matched.agg(count(lit(1)).as("n_matched"),
          sum($"y").as("sy_t"), sum($"yc").as("sy_c"))
        .crossJoin(broadcast(base))
        .select($"n_treated", $"n_control", $"n_matched",
          round($"n_matched".cast("double") / $"n_treated".cast("double"), 6)
            .as("match_rate"),
          (round(($"sy_t" - $"sy_c").cast("double") /
            $"n_matched".cast("double"), 6) + lit(0d)).as("att_cents"))
        // an empty match set must emit ZERO rows, matching the oracle's
        // GROUP-BY-over-empty shape (a global agg would emit a NULL-ATT
        // row the SQL side never produces; review finding)
        .filter($"n_matched" > 0)
    },

    // ------------------------------------------- linear gap interpolation
    // Time-series gap fill: missing calendar days on the revenue series
    // interpolated linearly between their known neighbors — the repair
    // step between q61's zero-fill densification and q23's last-value
    // carry-forward (zero-fill biases means down, carry-forward lags
    // trends; linear is the standard report-grade fill). Neighbors come
    // from two theta joins on the calendar-bounded day frame (latest
    // known before / earliest known after — the q242 idiom), and the
    // interpolated value is EXACT e4 fixed point:
    // (vp·(n−d) + vn·(d−p))·10⁴ div (n−p) — integer division of exact
    // DECIMAL products, the q209 discipline, so no float ever enters the
    // output. Interior gaps only by construction (the spine spans
    // min..max known days).
    "q246_linear_interpolation" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir)
      val spine = day.agg(min($"d").as("d0"), max($"d").as("d1"))
        .select(explode(sequence($"d0", $"d1")).as("d"))
      val dense = Pin.lazily(spine.join(day, Seq("d"), "left"))
      val known = dense.filter($"cents".isNotNull)
      val missing = dense.filter($"cents".isNull).select($"d")
      val prevN = missing
        .join(known.select($"d".as("pd"), $"cents".as("pv")), $"pd" < $"d")
        .groupBy($"d").agg(max(struct($"pd", $"pv")).as("p"))
      val nextN = missing
        .join(known.select($"d".as("nd"), $"cents".as("nv")), $"nd" > $"d")
        .groupBy($"d").agg(min(struct($"nd", $"nv")).as("n"))
      // LONG is ample: cents·gap·10⁴ reaches ~10¹⁷ only at 10¹¹-cent days
      // over 100-day gaps; positive operands make Spark's truncating div
      // and DuckDB's floor // identical
      val interp = prevN.join(nextN, "d")
        .select($"d",
          expr("(p.pv * datediff(n.nd, d) + n.nv * datediff(d, p.pd)) " +
            "* 10000L div datediff(n.nd, p.pd)").as("value_e4"),
          lit(true).as("interpolated"))
      known
        .select($"d", ($"cents" * lit(10000L)).as("value_e4"),
          lit(false).as("interpolated"))
        .unionByName(interp)
        .select($"d".as("day"), $"value_e4", $"interpolated")
        .orderBy($"day")
    },

    // ------------------------------------------- hot streaks (islands)
    // The gaps-and-islands operator: maximal runs of consecutive
    // calendar days with revenue above the overall daily mean, each run
    // rolled up to (start, end, length, peak, total). The classic SQL
    // formulation (diff of two ROW_NUMBERs) is an unpartitioned window;
    // here the DENSE calendar spine (q61's idiom, so an orderless day
    // breaks a run like any cold day) gets island starts from a
    // hot×cold theta join — start = latest cold day before + 1 — the
    // q196/q199 calendar²-bounded pair idiom, then one start-granularity
    // rollup. The threshold compare is cents > S/n, one mirrored float
    // per day; everything else is exact integers and dates.
    "q242_hot_streaks" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir)
      val bounds = day.agg(min($"d").as("d0"), max($"d").as("d1"),
        sum($"cents").as("sc"), count(lit(1)).as("nd"))
      val flagged = Pin.lazily(bounds
        .select($"d0", ($"sc".cast("double") / $"nd".cast("double")).as("thr"),
          explode(sequence($"d0", $"d1")).as("d"))
        .join(day, Seq("d"), "left")
        .select($"d", $"d0", coalesce($"cents", lit(0L)).as("cents"),
          (coalesce($"cents", lit(0L)).cast("double") > $"thr").as("hot")))
      val hot = flagged.filter($"hot")
      val cold = flagged.filter(!$"hot").select($"d".as("bd"))
      hot.join(cold, $"bd" < $"d", "left")
        .groupBy($"d", $"d0", $"cents")
        .agg(max($"bd").as("pb"))
        .select($"d", $"cents",
          coalesce(date_add($"pb", 1), $"d0").as("island_start"))
        .groupBy($"island_start")
        .agg(max($"d").as("island_end"), count(lit(1)).as("n_days"),
          max($"cents").as("peak_cents"), sum($"cents").as("sum_cents"))
        .orderBy($"island_start")
    },

    // ------------------------------------------------ brand k-core
    // k-core decomposition of the brand co-purchase graph — the
    // community-density layer over the shared edge spine that q165
    // (PageRank, influence), q170 (triangles, local density), and q220
    // (BFS, reachability) each read differently: iteratively peel nodes
    // of degree < k until the remainder is stable; a node's CORENESS is
    // the largest k that keeps it. The one corpus-scale step is the
    // shared memoized basket self-join; the GRAPH is brand-granularity
    // (≤25 nodes / ≤625 edges), so the peel folds on the DRIVER like
    // every other control-plane sequential estimator (q175 life table,
    // q211 Holt, q232 GESD) — the earlier DataFrame peel loop spent
    // ~100 Spark jobs (14 s at sf0.1) iterating a 625-row frame. A
    // corpus-scale graph (users, documents) peels with DISTRIBUTED
    // node/edge frames and a driver convergence scalar — the q47
    // connected-components loop shape; the collect here is justified
    // only because nodes are design-bounded. Deterministic and
    // engine-exact (integer degrees only); FULL oracle since r8 — the
    // peel unrolls in DuckDB with k as a column (26 bounded rounds cover
    // every k-slice's fixpoint, see the oracle) — plus the StatsSpec
    // replay that rebuilds the edge set independently from raw tables.
    "q243_brand_kcore" -> { (s, dir) =>
      import s.implicits._
      val edges = brandEdges(s, dir).select($"src", $"dst").distinct()
        .as[(String, String)].collect()
      val adj: Map[String, Set[String]] = edges.groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val coreness = scala.collection.mutable.Map.empty[String, Long]
      adj.keys.foreach(b => coreness(b) = 0L)
      var alive = adj.keySet
      var k = 1L
      while (alive.nonEmpty) {
        var changed = true
        while (changed) {
          val next = alive.filter(b => adj(b).count(alive) >= k)
          changed = next.size < alive.size && next.nonEmpty
          if (next.size < alive.size) alive = next
        }
        if (alive.nonEmpty) {
          alive.foreach(b => coreness(b) = k)
          k += 1
        }
      }
      s.createDataFrame(coreness.toIndexedSeq.sortBy(_._1))
        .toDF("brand", "coreness").orderBy($"brand")
    },

    // --------------------------------------- sample-ratio mismatch check
    // The experiment-hygiene gate every A/B readout (q155/q188/q216)
    // should run FIRST: under the deterministic md5 arm split the design
    // ratio is 8/16, so nA−nB ~ N(0, N) and SRM shows up as an extreme
    // z = (nA−nB)/√N — a tiny p here means broken assignment or logging,
    // and every downstream readout is void. One user-granularity
    // distinct aggregate; counts exact, z the single mirrored float, p
    // through the shared A&S erf polynomial, flagged at the field-
    // standard p < 0.001.
    "q241_srm_check" -> { (s, dir) =>
      import s.implicits._
      val users = events(s, dir).select($"user_id").distinct()
        .select(when(substring(md5($"user_id".cast("string")), 1, 1) <= "7",
          1L).otherwise(0L).as("ta"))
      users.agg(count(lit(1)).as("n_users"), sum($"ta").as("n_a"),
          (count(lit(1)) - sum($"ta")).as("n_b"))
        .withColumn("z", ($"n_a" - $"n_b").cast("double") /
          sqrt($"n_users".cast("double")))
        .withColumn("pval", erfcPval($"z"))
        .select($"n_users", $"n_a", $"n_b",
          round($"n_a".cast("double") / $"n_users".cast("double"), 6)
            .as("ratio_a"),
          (round($"z", 6) + lit(0d)).as("z_srm"),
          round($"pval", 6).as("p_value"),
          ($"pval" < lit(SrmAlpha.toDouble)).as("srm_detected"))
    },

    // ---------------------------------------------------- k-anonymity
    // Privacy audit: group sizes over the quasi-identifier triple
    // (nation, market segment, balance coarsened to 1000-unit bands) —
    // rows in groups smaller than 5 are re-identifiable; coarsened
    // numerics still leak, which is exactly what this audit surfaces.
    // One group-granularity aggregate, pinned so the table-wide k (the
    // min group size) derives from the same frame; output is the
    // violating groups with the table k alongside.
    "q176_k_anonymity" -> { (s, dir) =>
      import s.implicits._
      val g = Pin.lazily(t(s, dir, "customer")
        .groupBy($"c_nationkey", $"c_mktsegment",
          floor($"c_acctbal" / 1000.0).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("group_size")))
      val kTab = g.agg(min($"group_size").as("k_table"))
      g.filter($"group_size" < 5)
        .crossJoin(broadcast(kTab))
        .select($"c_nationkey", $"c_mktsegment", $"bal_band", $"group_size", $"k_table")
        .orderBy($"c_nationkey", $"c_mktsegment", $"bal_band")
    },

    // ------------------------------------------- consistent hashing
    // Consistent-hash ring assignment + rebalance audit — the shard-map
    // op behind every distributed KV/cache tier: 8 shards × 4 virtual
    // nodes on a 2⁴⁸ md5 ring, each key owned by the first vnode
    // clockwise; then shard s3 is removed and the audit measures what
    // MOVED — consistent hashing's contract is that only the removed
    // shard's keys move (≈1/8, vs rehash-everything's 7/8), which the
    // spec gates. The ring is 32 broadcast rows; both assignment passes
    // are key-scan × tiny-ring joins reduced by min() — scan-bound at
    // any key count, no shuffle of the ring. Exact integer counts; the
    // one float is the moved fraction.
    "q218_consistent_hash" -> { (s, dir) =>
      import s.implicits._
      def ring(drop: Option[String]): DataFrame = {
        val vn = (0 until 8).flatMap { sh =>
          (0 until 4).map(i => (s"s$sh", i))
        }.filterNot { case (shd, _) => drop.contains(shd) }
        broadcast(vn.toDF("shard", "vi")
          .withColumn("vpos", conv(substring(
            md5(concat(lit("vn:"), $"shard", lit(":"), $"vi".cast("string"))),
            1, 12), 16, 10).cast("long")))
      }
      val keys = Pin.lazily(t(s, dir, "customer")
        .select($"c_custkey".as("k"),
          conv(substring(md5(concat(lit("k:"), $"c_custkey".cast("string"))),
            1, 12), 16, 10).cast("long").as("kpos")))
      def assign(r: DataFrame, col: String): DataFrame = {
        val m = keys.crossJoin(r)
          .groupBy($"k")
          .agg(min(when($"vpos" >= $"kpos", $"vpos")).as("cand"),
            min($"vpos").as("fb"))
          .select($"k", coalesce($"cand", $"fb").as("apos"))
        m.join(r.select($"shard".as(col), $"vpos"), $"apos" === $"vpos")
          .select($"k", org.apache.spark.sql.functions.col(col))
      }
      val before = assign(ring(None), "shard_before")
      val after = assign(ring(Some("s3")), "shard_after")
      val j = Pin.lazily(before.join(after, "k")
        .withColumn("moved", ($"shard_before" =!= $"shard_after").cast("long")))
      val tot = j.agg(count(lit(1)).as("n_keys"), sum($"moved").as("n_moved"))
      j.groupBy($"shard_after".as("shard"))
        .agg(count(lit(1)).as("n_after"), sum($"moved").as("moved_in"))
        .join(j.groupBy($"shard_before".as("shard"))
          .agg(count(lit(1)).as("n_before")), Seq("shard"), "full_outer")
        .na.fill(0L, Seq("n_after", "moved_in", "n_before"))
        .crossJoin(broadcast(tot))
        .select($"shard", $"n_before", $"n_after", $"moved_in",
          round($"n_moved".cast("double") / $"n_keys", 6).as("moved_frac"))
        .orderBy($"shard")
    },

    // --------------------------------------------------- l-diversity
    // l-diversity audit over q176's quasi-identifier groups: k-anonymity
    // (group size ≥ k) still leaks when a small group is HOMOGENEOUS in
    // the sensitive attribute — every member shares it, so linkage
    // reveals it without identifying the row. Per QI group: distinct
    // sensitive values (the sensitive stand-in: the customer's spend
    // band, coarsened order total), distinct-l, and entropy-l via exact
    // integer share terms (Σ cnt·ln(cnt) at group granularity, one float
    // ln mirrored). Groups failing distinct-l < 2 are the finding. Two
    // stacked aggregates, both map-combinable; group-granularity output.
    "q217_l_diversity" -> { (s, dir) =>
      import s.implicits._
      val spend = t(s, dir, "orders")
        .groupBy($"o_custkey").agg(sum(cents($"o_totalprice")).as("sp"))
        .select($"o_custkey",
          floor($"sp".cast("double") / 10000000.0).cast("long").as("spend_band"))
      val rows = t(s, dir, "customer")
        .join(spend, $"c_custkey" === $"o_custkey", "inner")
        .select($"c_nationkey", $"c_mktsegment",
          floor($"c_acctbal" / 1000.0).cast("long").as("bal_band"),
          $"spend_band")
      val per = rows.groupBy($"c_nationkey", $"c_mktsegment", $"bal_band",
          $"spend_band")
        .agg(count(lit(1)).as("cnt"))
      per.groupBy($"c_nationkey", $"c_mktsegment", $"bal_band")
        .agg(sum($"cnt").as("group_size"),
          count(lit(1)).as("distinct_l"),
          sum($"cnt".cast("double") * log($"cnt".cast("double"))).as("slog"))
        .select($"c_nationkey", $"c_mktsegment", $"bal_band",
          $"group_size", $"distinct_l",
          // entropy-l = exp(H) with H = ln(n) − Σ cnt·ln(cnt)/n
          round(exp(log($"group_size".cast("double")) -
            $"slog" / $"group_size"), 6).as("entropy_l"),
          ($"distinct_l" < 2).as("homogeneous"))
        .orderBy($"c_nationkey", $"c_mktsegment", $"bal_band")
    },

    // ----------------------------------------------- day-of-week index
    // Weekly seasonality: average revenue per weekday over the overall
    // daily average (index 1.0 = a flat week) — the calendar complement
    // to q163's autocorrelation. All moments exact off the shared pinned
    // day frame; the index is one mirrored float division of exact
    // integer products. Weekday is Monday=0 in both engines (Spark
    // weekday(), DuckDB isodow−1 — dayofweek() anchors differ).
    "q177_dow_seasonality" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir)
      val tot = day.agg(count(lit(1)).as("nd_tot"), sum($"cents").as("tot"))
      day.groupBy(weekday($"d").as("dow"))
        .agg(count(lit(1)).as("n_days"), sum($"cents").as("rev_cents"))
        .crossJoin(broadcast(tot))
        .select($"dow", $"n_days", $"rev_cents",
          round(($"rev_cents".cast(dec) * $"nd_tot").cast("double") /
            (($"n_days".cast(dec) * $"tot")).cast("double"), 6).as("idx"))
        .orderBy($"dow")
    },

    // --------------------------------------------------- RAG chunking
    // Overlapping sliding-window chunking (64-word chunks, stride 48 —
    // 16-word overlap), the retrieval-corpus preparation step between
    // cleaning and embedding. Chunking is a per-row array transform (no
    // shuffle); chunks ship as md5 digests + token counts, so the output
    // (and at scale, the shuffle toward the embedder) carries 16-byte
    // digests, not text. Tail chunks shorter than the stride are kept —
    // same rule stated in the oracle's slice arithmetic.
    "q179_rag_chunks" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id", split(lower($"text"), " ").as("ws"))
        .filter(size($"ws") >= 1)
        .select($"doc_id", explode(expr(
          """transform(sequence(0, cast(floor((size(ws) - 1) / 48.0) as int)),
            |  g -> struct(g as chunk_idx,
            |    size(slice(ws, g * 48 + 1, 64)) as n_tokens,
            |    md5(concat_ws(' ', slice(ws, g * 48 + 1, 64))) as chunk_md5))""".stripMargin))
          .as("c"))
        .select($"doc_id", $"c.chunk_idx", $"c.n_tokens", $"c.chunk_md5")
        .orderBy($"doc_id", $"chunk_idx")
    },

    // ----------------------------------------------------- PII audit
    // Regex PII/identifier audit over every free-text field (documents
    // text, events props): per (field, pattern) row counts and total
    // occurrence counts — the scrubbing pre-pass a training-data
    // pipeline runs before release. Patterns are RE2/Java-common
    // character classes (no engine-specific syntax); each field is
    // scanned ONCE with all patterns fused into one aggregate, then the
    // 2-row frame unpivots to (field, pattern) rows. The redaction
    // projection (regexp_replace with the same patterns) is exercised in
    // StatsSpec on synthetic rows, since the fixtures are PII-free by
    // construction — which the zero email/ipv4/phone rows here prove.
    "q180_pii_audit" -> { (s, dir) =>
      import s.implicits._
      val fields = t(s, dir, "documents").filter($"text".isNotNull)
        .select(lit("documents.text").as("field"), $"text".as("s"))
        .unionByName(events(s, dir).filter($"props".isNotNull)
          .select(lit("events.props").as("field"), $"props".as("s")))
      val aggCols = count(lit(1)).as("n_scanned") +:
        PiiPatterns.flatMap { case (name, re) =>
          Seq(
            sum(when(size(regexp_extract_all($"s", lit(re), lit(0))) > 0, 1L)
              .otherwise(0L)).as(s"${name}_rows"),
            sum(size(regexp_extract_all($"s", lit(re), lit(0))).cast("long"))
              .as(s"${name}_occ"))
        }
      val agg = fields.groupBy($"field").agg(aggCols.head, aggCols.tail: _*)
      val stackArgs = PiiPatterns.map { case (name, _) =>
        s"'$name', ${name}_rows, ${name}_occ"
      }.mkString(", ")
      agg.select($"field", $"n_scanned",
          expr(s"stack(${PiiPatterns.size}, $stackArgs) as (pattern, n_rows_hit, n_occurrences)"))
        .select($"field", $"pattern", $"n_scanned", $"n_rows_hit", $"n_occurrences")
        .orderBy($"field", $"pattern")
    },

    // ------------------------------------------- logistic regression
    // Distributed batch-gradient logistic regression — the trained
    // quality/domain classifier step of a curation pipeline (the
    // fastText-classifier role; q141's DSIR is the importance-weight
    // sibling). Label: lang = 'en'; features: cheap per-doc signals.
    // Each of the LogregIters iterations is ONE aggregate pass over the
    // PINNED feature frame (4 gradient sums + loss — map-side partial
    // agg, e12 fixed-point so the sums are partition-order-free);
    // weights live on the driver and re-enter as literals, the KMeans
    // pattern. FULL oracle since r8: the unrolled-arithmetic convention
    // (q157/q72) replays standardization moments, all 25 gradient
    // rounds, and the accuracy count in DuckDB. Weights and loss emit
    // at 6 dp (float-chain corollary): the e12 floor makes the SUMS
    // partition-order-free but each per-row term still passes libm
    // exp/ln BEFORE the floor, and a 1-ulp libm divergence flips a
    // floor unit when a term lands on a boundary — observed at sf0.1
    // (train_loss off by one final-ulp; 5k-row sf0.01 never hit a
    // boundary). train_acc stays RAW — one division of exact integers.
    // StatsSpec additionally pins monotone loss, an accuracy floor over
    // the majority class, and a first-iteration gradient recompute.
    "q181_logreg_quality" -> { (s, dir) =>
      import s.implicits._
      val (w, lastLoss) = logregFit(s, dir)
      val feats = logregFeatures(s, dir)
      val zF = logregScore(w)(s)
      val accRow = feats.agg(count(lit(1)).as("n"),
        sum(when((zF > 0).cast("double") === $"y", 1L).otherwise(0L)).as("c"))
        .collect().head
      val acc = accRow.getLong(1).toDouble / accRow.getLong(0)
      val rows = w.zipWithIndex.map { case (wi, i) => (s"w$i", wi + 0.0) } :+
        ("train_acc", acc + 0.0) :+ ("train_loss", lastLoss + 0.0)
      s.createDataFrame(rows).toDF("param", "value")
        .select($"param",
          when($"param" === "train_acc", $"value")
            .otherwise(round($"value", 6) + lit(0d)).as("value"))
        .orderBy($"param")
    },

    // ------------------------------------------- gains / lift table
    // Decile gains chart for the q181 classifier — the evaluation step
    // between training and deployment: rank all docs by score (two-pass
    // GlobalRank + exact ntile, no single-partition window), then per
    // decile the positive rate, cumulative recall and lift over the base
    // rate. The 10-row decile frame folds on the driver (control-plane;
    // a window over it would trip the registry's no-unpartitioned-window
    // sweep for nothing). FULL oracle since r8: the weights come from
    // the shared unrolled-GD CTEs (see q181), the decile replays the
    // exact ntileFromRank integer arithmetic, and rates/lift emit RAW.
    // StatsSpec replays training + ranking independently.
    "q186_classifier_gains" -> { (s, dir) =>
      import s.implicits._
      val (w, _) = logregFit(s, dir)
      val scored = logregFeatures(s, dir)
        .select($"doc_id", $"y", logregScore(w)(s).as("score"))
      val dec = GlobalRank.withGlobalRank(
          scored, Seq($"score".desc, $"doc_id"), "rk", "n")
        .select(GlobalRank.ntileFromRank($"rk", $"n", 10).as("decile"), $"y")
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_docs"), sum($"y").cast("long").as("n_pos"))
        .orderBy($"decile").collect()
      val totN = dec.map(_.getLong(1)).sum
      val totPos = dec.map(_.getLong(2)).sum
      val base = totPos.toDouble / totN
      var cum = 0L
      val rows = dec.toIndexedSeq.map { r =>
        val (d, nD, nP) = (r.getLong(0), r.getLong(1), r.getLong(2))
        cum += nP
        (d, nD, nP, nP.toDouble / nD + 0.0, cum.toDouble / totPos + 0.0,
          nP.toDouble / nD / base + 0.0)
      }
      s.createDataFrame(rows)
        .toDF("decile", "n_docs", "n_pos", "pos_rate", "cum_recall", "lift")
        .orderBy($"decile")
    },

    // ----------------------------------------------------------- AUC
    // ROC AUC of the q181 classifier via the rank-sum identity
    // AUC = (R₊ − n₊(n₊+1)/2)/(n₊·n₋) — exactly q159's midrank machinery
    // pointed at scores: score-granularity frame, distributed prefix sum
    // for the tie-aware ranks, DECIMAL moments, one float division.
    // Ties (docs with identical feature vectors) get midrank credit —
    // the probabilistic AUC definition. FULL oracle since r8 (shared
    // unrolled-GD weights + the same midrank prefix-sum identity in
    // SQL); StatsSpec additionally recomputes by brute-force pair
    // counting.
    "q187_classifier_auc" -> { (s, dir) =>
      import s.implicits._
      val (w, _) = logregFit(s, dir)
      val sv = logregFeatures(s, dir)
        .select(logregScore(w)(s).as("score"), $"y")
        .groupBy($"score")
        .agg(sum($"y").cast("long").as("pos_n"), count(lit(1)).as("t_n"))
      GlobalRank.withGlobalPrefixSum(
          sv, Seq($"score"), $"t_n", "vrk", "nv", "cum_t", "n_tot")
        .withColumn("cum_b", $"cum_t" - $"t_n")
        .agg(sum($"pos_n").as("n_pos"), max($"n_tot").as("n"),
          sum($"pos_n".cast(dec) * (lit(2L) * $"cum_b" + $"t_n" + lit(1L)))
            .as("r2_pos"))
        .select($"n_pos", ($"n" - $"n_pos").as("n_neg"),
          (($"r2_pos" - $"n_pos".cast(dec) * ($"n_pos" + lit(1L)))
              .cast("double") /
            (lit(2.0) * $"n_pos".cast("double") * ($"n" - $"n_pos")))
            .as("auc"))
    },

    // ------------------------------------------------- jackknife CI
    // Delete-one-group jackknife confidence interval for a RATIO metric
    // (average order value) — the standard error a plain per-row stddev
    // gets wrong for ratios. Customers hash (md5, the SQL-expressible
    // q141 recipe) into 32 buckets; leave-one-bucket-out θ₍g₎ are exact
    // ratios off the bucket-granularity frame; SE and the 95% interval
    // reduce the 32-row control-plane frame. At corpus scale the only
    // data-wide work is the one bucket aggregate.
    "q182_jackknife_ci" -> { (s, dir) =>
      import s.implicits._
      val b = Pin.lazily(t(s, dir, "orders")
        .groupBy((conv(substring(md5($"o_custkey".cast("string")), 1, 8), 16, 10)
          .cast("long") % 32).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_g"), sum(cents($"o_totalprice")).as("s_g")))
      val tot = b.agg(sum($"n_g").as("n"), sum($"s_g").as("sc"),
        count(lit(1)).as("g"))
      val thetas = b.crossJoin(broadcast(tot))
        .select($"n", $"sc", $"g",
          (($"sc" - $"s_g").cast("double") / ($"n" - $"n_g")).as("theta_g"))
      val mean = thetas.agg(max($"n").as("n"), max($"sc").as("sc"), max($"g").as("g"),
        (sum($"theta_g") / max($"g")).as("tbar"))
      thetas.crossJoin(broadcast(mean.select($"tbar")))
        .agg(max($"n").as("n_orders"), max($"g").as("n_buckets"),
          max(($"sc".cast("double") / $"n")).as("theta_cents"),
          sum(($"theta_g" - $"tbar") * ($"theta_g" - $"tbar")).as("ssq"),
          max($"g").as("g2"))
        .select($"n_orders", $"n_buckets",
          round($"theta_cents", 6).as("aov_cents"),
          round(sqrt(($"g2" - 1).cast("double") / $"g2" * $"ssq"), 6).as("se_cents"))
    },

    // ------------------------------------------------ padding waste
    // Batch-padding efficiency for inference/training: fixed batches of
    // 32 docs padded to the batch max token count, comparing arrival
    // (doc_id) order against length-sorted order — the measurement that
    // justifies length bucketing (sorted batching cuts padding waste).
    // Both rankings ride GlobalRank (no single-partition window); batch
    // stats and the final totals are exact integer aggregates, one float
    // division per strategy row.
    "q183_padding_waste" -> { (s, dir) =>
      import s.implicits._
      val toks = Pin.lazily(t(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id", size(split(lower($"text"), " ")).cast("long").as("n_tok")))
      def strategy(name: String, order: Seq[Column]): DataFrame =
        GlobalRank.withGlobalRank(toks, order, "rk", "n")
          .withColumn("batch", expr("(rk - 1) div 32"))
          .groupBy($"batch")
          .agg(count(lit(1)).as("n_b"), max($"n_tok").as("mx"), sum($"n_tok").as("st"))
          .agg(count(lit(1)).as("n_batches"), sum($"n_b").as("n_docs"),
            sum($"st").as("total_tokens"), sum($"n_b" * $"mx").as("padded_tokens"))
          .select(lit(name).as("strategy"), $"n_docs", $"n_batches",
            $"total_tokens", $"padded_tokens",
            round(($"padded_tokens" - $"total_tokens").cast("double") /
              $"padded_tokens", 6).as("waste_pct"))
      strategy("arrival", Seq($"doc_id"))
        .unionByName(strategy("length_sorted", Seq($"n_tok", $"doc_id")))
        .orderBy($"strategy")
    },

    // -------------------------------------------- forecast backtest
    // Seasonal-naive backtest over daily revenue: predict each day with
    // the value 1 day ago (naive) and 7 days ago (seasonal naive), score
    // MAE/MAPE over the scored days — the baseline every revenue
    // forecast must beat, and the q177/q163 seasonality evidence in
    // error terms (lag-7 should win on a weekly-seasonal series).
    // Predictions come from the same broadcast offset-spine equi-join as
    // q163; MAE stays an exact ⌊·10⁴⌋ integer, MAPE is one mirrored AVG.
    "q184_seasonal_naive_backtest" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir)
      val lagDim = broadcast(Seq(1, 7).toDF("lag"))
      val sc = day.as("a").crossJoin(lagDim)
        .join(day.as("b"), $"b.d" === date_sub($"a.d", $"lag"))
        .select($"lag", $"a.cents".as("actual"), $"b.cents".as("pred"))
        .withColumn("ad", abs($"actual" - $"pred"))
        .groupBy($"lag")
        .agg(count(lit(1)).as("n_days"),
          sum($"ad".cast(dec)).as("sad"),
          avg($"ad".cast("double") / $"actual").as("mape_raw"))
      val sadScaled = $"sad" * lit(10000L)
      sc.select(concat(lit("lag"), $"lag").as("strategy"), $"n_days",
          ((sadScaled - pmod(sadScaled, $"n_days")) / $"n_days").cast("long")
            .as("mae_cents_e4"),
          round($"mape_raw", 6).as("mape"))
        .orderBy($"strategy")
    },

    // --------------------------------------------- join-size estimation
    // Join cardinality WITHOUT the join: |A⋈B| on a key = Σ_k cA(k)·cB(k)
    // over the key-granularity count frames — the planner-style estimate
    // that costs two aggregates + a key-level join instead of
    // materializing row-level join output (at 100 TB: key-cardinality
    // work vs row-cardinality work). Alongside the exact identity, a
    // deterministic 1/16 key sample (md5 recipe, q141 family) scaled
    // ×16 shows the sketch path a planner would actually run; its
    // relative error is the output's last column. The oracle recomputes
    // both from scratch — including, at sf0.01 scale, the ground-truth
    // row count the identity must equal.
    "q185_join_size_estimate" -> { (s, dir) =>
      import s.implicits._
      val ca = t(s, dir, "orders").groupBy($"o_orderkey".as("k"))
        .agg(count(lit(1)).as("ca"))
      val cb = t(s, dir, "lineitem").groupBy($"l_orderkey".as("k"))
        .agg(count(lit(1)).as("cb"))
      val joined = Pin.lazily(ca.join(cb, "k")
        .withColumn("prod", ($"ca".cast(dec) * $"cb"))
        .withColumn("samp",
          (conv(substring(md5($"k".cast("string")), 1, 8), 16, 10)
            .cast("long") % 16) === 0))
      joined.agg(
          sum($"prod").as("exact_rows"),
          sum(when($"samp", $"prod").otherwise(lit(0L).cast(dec)))
            .as("sampled_sum"))
        .select($"exact_rows".cast("long").as("exact_join_rows"),
          ($"sampled_sum" * lit(16L)).cast("long").as("estimated_join_rows"))
        .select($"exact_join_rows", $"estimated_join_rows",
          round(abs($"estimated_join_rows" - $"exact_join_rows").cast("double") /
            $"exact_join_rows", 6).as("rel_error"))
    },

    // ------------------------------------------------------- CUPED
    // Variance-reduced experiment readout (CUPED): adjust each user's
    // post-period purchase count by their PRE-period count — the
    // covariate trick that shrinks A/B confidence intervals without
    // touching the point estimate's expectation. Period split at the
    // event-time midpoint; arms reuse q155's md5 hash split. Everything
    // reduces to ONE user-granularity aggregate pass: pooled θ =
    // cov(x,y)/var(x) and the correlation² (the variance-reduction
    // factor) come from exact DECIMAL moments; per-arm raw and adjusted
    // deltas are mirrored float expressions. The pooled-mean term of the
    // textbook formula cancels in the A−B difference, which is what
    // ships.
    "q188_cuped" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
      // integer division, NOT /2-then-cast: the float quotient lands on
      // .5 when min+max is odd, where Spark's cast truncates but DuckDB's
      // rounds — the cutoff itself would diverge (the q164 tie family)
      val span = ev.agg(min($"ms").as("mn"), max($"ms").as("mx"))
        .select(expr("(mn + mx) div 2").as("cut"))
      val users = ev.crossJoin(broadcast(span))
        .groupBy($"user_id")
        .agg(
          sum(when($"event_type" === "purchase" && $"ms" < $"cut", 1L)
            .otherwise(0L)).as("x"),
          sum(when($"event_type" === "purchase" && $"ms" >= $"cut", 1L)
            .otherwise(0L)).as("y"))
        .withColumn("is_a",
          substring(md5($"user_id".cast("string")), 1, 1) <= "7")
      val m = users.agg(
        count(lit(1)).as("n"),
        sum($"x".cast(dec)).as("sx"), sum($"y".cast(dec)).as("sy"),
        sum($"x".cast(dec) * $"y").as("sxy"),
        sum($"x".cast(dec) * $"x").as("sxx"),
        sum($"y".cast(dec) * $"y").as("syy"),
        sum(when($"is_a", 1L).otherwise(0L)).as("n_a"),
        sum(when($"is_a", $"x").otherwise(0L)).as("xa"),
        sum(when($"is_a", $"y").otherwise(0L)).as("ya"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("n_b"),
        sum(when(!$"is_a", $"x").otherwise(0L)).as("xb"),
        sum(when(!$"is_a", $"y").otherwise(0L)).as("yb"))
      val theta = ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
        ($"n" * $"sxx" - $"sx" * $"sx").cast("double")
      val diffRaw = $"ya".cast("double") / $"n_a" - $"yb".cast("double") / $"n_b"
      val diffCuped = ($"ya".cast("double") / $"n_a" -
          $"theta" * ($"xa".cast("double") / $"n_a")) -
        ($"yb".cast("double") / $"n_b" - $"theta" * ($"xb".cast("double") / $"n_b"))
      val rho2 = (($"n" * $"sxy" - $"sx" * $"sy").cast("double") *
          ($"n" * $"sxy" - $"sx" * $"sy").cast("double")) /
        (($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
          ($"n" * $"syy" - $"sy" * $"sy").cast("double"))
      m.withColumn("theta", theta)
        .select($"n_a", $"n_b", round($"theta", 6).as("theta"),
          round(diffRaw, 6).as("diff_raw"),
          round(diffCuped, 6).as("diff_cuped"),
          round(rho2, 6).as("variance_reduction"))
    },

    // ------------------------------------- difference-in-differences
    // Two-period DiD experiment readout — the quasi-experimental sibling
    // of q155's z-test and q188's CUPED: arms come from the same md5 hash
    // split, periods from the same event-time midpoint (integer `div 2` —
    // the q188 cutoff lesson), outcome = per-user purchase count in each
    // period, zeros included, so every user contributes one pre and one
    // post observation. Estimate = the four-cell-mean contrast
    // (T,post − T,pre) − (C,post − C,pre); its SE pools the four cell
    // variances, each from EXACT decimal moments (n·Σy² − (Σy)² over
    // n(n−1)); floats appear only in the final mirrored divisions. Plan
    // is q188's: ONE user-granularity hash aggregate (map-side combined)
    // then ONE single-row fold — at 100 TB the shuffle carries one row
    // per user and the readout is a 1-row frame.
    "q191_diff_in_diff" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
      val span = ev.agg(min($"ms").as("mn"), max($"ms").as("mx"))
        .select(expr("(mn + mx) div 2").as("cut"))
      val users = ev.crossJoin(broadcast(span))
        .groupBy($"user_id")
        .agg(
          sum(when($"event_type" === "purchase" && $"ms" < $"cut", 1L)
            .otherwise(0L)).as("x"),
          sum(when($"event_type" === "purchase" && $"ms" >= $"cut", 1L)
            .otherwise(0L)).as("y"))
        .withColumn("is_t",
          substring(md5($"user_id".cast("string")), 1, 1) <= "7")
      val m = users.agg(
        sum(when($"is_t", 1L).otherwise(0L)).as("n_t"),
        sum(when(!$"is_t", 1L).otherwise(0L)).as("n_c"),
        sum(when($"is_t", $"x").otherwise(0L).cast(dec)).as("tx"),
        sum(when($"is_t", $"y").otherwise(0L).cast(dec)).as("ty"),
        sum(when(!$"is_t", $"x").otherwise(0L).cast(dec)).as("cx"),
        sum(when(!$"is_t", $"y").otherwise(0L).cast(dec)).as("cy"),
        sum(when($"is_t", $"x".cast(dec) * $"x").otherwise(lit(0).cast(dec)))
          .as("tx2"),
        sum(when($"is_t", $"y".cast(dec) * $"y").otherwise(lit(0).cast(dec)))
          .as("ty2"),
        sum(when(!$"is_t", $"x".cast(dec) * $"x").otherwise(lit(0).cast(dec)))
          .as("cx2"),
        sum(when(!$"is_t", $"y".cast(dec) * $"y").otherwise(lit(0).cast(dec)))
          .as("cy2"))
      // sample variance of a cell from its exact moments; the (n, n-1)
      // denominators stay integer until the one double division
      def cellVar(n: Column, sv: Column, sv2: Column): Column =
        (n.cast(dec) * sv2 - sv * sv).cast("double") /
          (n.cast("double") * (n - 1).cast("double"))
      val did = ($"ty".cast("double") / $"n_t".cast("double") -
          $"tx".cast("double") / $"n_t".cast("double")) -
        ($"cy".cast("double") / $"n_c".cast("double") -
          $"cx".cast("double") / $"n_c".cast("double"))
      val se = sqrt(
        cellVar($"n_t", $"tx", $"tx2") / $"n_t".cast("double") +
          cellVar($"n_t", $"ty", $"ty2") / $"n_t".cast("double") +
          cellVar($"n_c", $"cx", $"cx2") / $"n_c".cast("double") +
          cellVar($"n_c", $"cy", $"cy2") / $"n_c".cast("double"))
      m.withColumn("se", se)
        .select($"n_t", $"n_c",
          round(did, 6).as("did_estimate"),
          round($"se", 6).as("se"),
          round(did / $"se", 6).as("t_stat"))
    },

    // ------------------------------------------- Poisson bootstrap CI
    // Bootstrap confidence interval for the mean order price WITHOUT
    // materializing resamples — the Poisson(1) trick: each (row,
    // replicate) pair draws an independent approximately-Poisson weight,
    // so all B resampled means come out of ONE aggregate pass over a
    // map-side `explode(sequence)` fan-out. Nothing reshuffles raw rows
    // per replicate: partial aggregation folds each task's rows into B
    // partial sums, and the shuffle carries B×tasks tiny rows — the only
    // bootstrap that works at 100 TB. Draws are deterministic — md5 of
    // key:group, where each 32-hex digest feeds FOUR replicate uniforms
    // (8 hex chars each), then inverse-CDF thresholds shared verbatim
    // with the oracle — replicate sums are exact DECIMAL/LONG, each
    // replicate mean is ONE mirrored float division rounded to 6dp, and
    // the CI bounds are interpolated percentiles over those 32 rounded
    // means — emitted RAW, never re-rounded (the q26/q178 convention).
    // Weights cap at 6 (P[W>6 | λ=1] ≈ 8e-5 per draw): deterministic,
    // shared with the oracle, negligible truncation bias.
    "q192_poisson_bootstrap" -> { (s, dir) =>
      import s.implicits._
      // one md5 digest feeds FOUR replicates (8 hex chars each of the
      // 32-char digest) — the draw count is the dominant cost and this
      // quarters it without touching determinism or independence
      // spread the 16-byte (key, cents) rows across the configured
      // parallelism BEFORE the ×B/4 md5 fan-out: fused into a single-file
      // scan this entire digest loop ran in ONE task (2.5 s of the query)
      val reps = spreadIfNarrow(t(s, dir, "orders")
          .select($"o_orderkey", cents($"o_totalprice").as("c")))
        .withColumn("g", explode(expr(s"sequence(0, ${BootstrapReps / 4 - 1})")))
        .withColumn("hx", md5(concat($"o_orderkey".cast("string"), lit(":"),
          $"g".cast("string"))))
        .withColumn("lane", explode(expr("sequence(0, 3)")))
        .withColumn("rep", $"g" * 4 + $"lane")
        .withColumn("u",
          conv(expr("substring(hx, lane * 8 + 1, 8)"), 16, 10).cast("long")
            .cast("double") / lit(4294967296.0))
      val w = PoissonCdf.zipWithIndex.foldRight(lit(PoissonCdf.size)) {
        case ((c, k), rest) => when($"u" < lit(c.toDouble), lit(k)).otherwise(rest)
      }
      // Replicate sums ride LONG cents, not DECIMAL: cents are exact for
      // 2-dp money, Σw·cents stays exact far past this fan-out (overflow
      // needs ~10⁹ orders in ONE replicate — switch to DECIMAL(38,0)
      // there), and the B·n decimal multiplies were the dominant bench
      // cost of the whole query. The /100.0 and the (Σw·cents ≤ 2⁵³)
      // integer→double conversions are correctly rounded in both engines,
      // so the emitted means are bit-identical to the old decimal path.
      val means = reps.withColumn("w", w)
        .groupBy($"rep")
        .agg(sum($"w".cast("long") * $"c").as("sc"),
          sum($"w".cast("long")).as("nv"))
        .select(round($"sc".cast("double") / lit(100.0) /
          $"nv".cast("double"), 6).as("m"))
      val base = t(s, dir, "orders")
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast(money)).as("sp"))
      means.agg(
          expr("percentile(m, array(0.025D, 0.975D))").as("ci"),
          count(lit(1)).as("b_reps"))
        .crossJoin(broadcast(base))
        .select($"n_orders", $"b_reps",
          round(moneyOut($"sp") / $"n_orders".cast("double"), 6)
            .as("mean_price"),
          element_at($"ci", 1).as("ci_lo"),
          element_at($"ci", 2).as("ci_hi"))
    },

    // ------------------------------------------------- power analysis
    // Pre-experiment power analysis / minimum-detectable-effect grid —
    // the readout that comes BEFORE q155/q188/q191 ship: from the
    // historical purchase-conversion baseline, the two-proportion sample
    // size n = (z_α/2+z_β)²·(p_B(1−p_B)+p_A(1−p_A))/(p_A−p_B)² for a
    // grid of relative lifts, against the users actually available per
    // arm. Conversion = a high-value purchase (value ≥ 200) — on this
    // fixture EVERY user purchases eventually, so the ≥1-purchase rate
    // degenerates to 1.0 and p·(1+lift) > 1 flips the formula's sign;
    // the thresholded event keeps the baseline mid-range at every SF.
    // z constants are shared literal STRINGS (the PoissonCdf
    // convention) so both engines parse identical doubles; conversion
    // counts are exact distincts; the grid is a 4-row broadcast spine.
    // CEIL lands on exact-integer doubles only if the formula does —
    // identical inputs → identical double → identical ceiling.
    "q193_power_mde" -> { (s, dir) =>
      import s.implicits._
      val base = events(s, dir).agg(
        countDistinct($"user_id").as("users"),
        countDistinct(when($"event_type" === "purchase" &&
          $"value" >= PowerConvValue, $"user_id")).as("converters"))
      val z = lit(PowerZAlpha.toDouble) + lit(PowerZBeta.toDouble)
      PowerLifts.toDF("lift_pct")
        .crossJoin(broadcast(base))
        .withColumn("p_base",
          $"converters".cast("double") / $"users".cast("double"))
        .withColumn("p_treat",
          $"p_base" * (lit(1.0) + $"lift_pct".cast("double") / lit(100.0)))
        .withColumn("n_required",
          ceil((z * z) *
            ($"p_base" * (lit(1.0) - $"p_base") +
              $"p_treat" * (lit(1.0) - $"p_treat")) /
            (($"p_treat" - $"p_base") * ($"p_treat" - $"p_base")))
            .cast("long"))
        .withColumn("n_avail_per_arm", expr("users div 2"))
        .select($"lift_pct".cast("long").as("lift_pct"),
          round($"p_base", 6).as("p_base"),
          round($"p_treat", 6).as("p_treat"),
          $"n_required", $"n_avail_per_arm",
          ($"n_avail_per_arm" >= $"n_required").as("powered"))
        .orderBy($"lift_pct")
    },

    // ------------------------------------------- multiple testing (BH)
    // Mix-shift scan with false-discovery-rate control — the multiple-
    // testing layer q155/q160/q191 stop short of: per event type, a
    // two-proportion z on the type's share of traffic between the two
    // halves of the period, then Benjamini–Hochberg at α=0.05 across the
    // whole family. p-values come from the shared A&S 7.1.26 polynomial
    // (neither engine ships erf; both evaluate the identical Horner tree,
    // and 2·(1−Φ(|z|)) reduces to exactly poly·e^(−x²) — no cancellation).
    // The test frame is segment-granularity (one row per type — thousands
    // at worst when segmenting finer), ranked by GlobalRank rather than
    // an unpartitioned window, so the registry-wide no-global-window
    // guarantee holds even when the family gets large; k* is one more
    // 1-row fold. Counts are exact longs; z, the p-value and the BH
    // threshold compare are the only float math, mirrored verbatim.
    "q195_fdr_mixshift" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
      val span = ev.agg(min($"ms").as("mn"), max($"ms").as("mx"))
        .select(expr("(mn + mx) div 2").as("cut"))
      val byType = Pin.lazily(ev.crossJoin(broadcast(span))
        .groupBy($"event_type")
        .agg(sum(when($"ms" < $"cut", 1L).otherwise(0L)).as("c1"),
          sum(when($"ms" >= $"cut", 1L).otherwise(0L)).as("c2")))
      val tot = byType.agg(sum($"c1").as("n1"), sum($"c2").as("n2"))
      val pp = ($"c1" + $"c2").cast("double") / ($"n1" + $"n2").cast("double")
      val scored = byType.crossJoin(broadcast(tot))
        .withColumn("z",
          ($"c1".cast("double") / $"n1".cast("double") -
            $"c2".cast("double") / $"n2".cast("double")) /
            sqrt(pp * (lit(1.0) - pp) *
              (lit(1.0) / $"n1".cast("double") + lit(1.0) / $"n2".cast("double"))))
        .withColumn("pval", erfcPval($"z"))
      val ranked = Pin.lazily(GlobalRank.withGlobalRank(scored,
        Seq($"pval".asc, $"event_type".asc), "rk", "m"))
      val kstar = ranked.agg(
        max(when($"pval" <=
          $"rk".cast("double") * lit(FdrAlpha.toDouble) / $"m".cast("double"),
          $"rk")).as("kstar"))
      ranked.crossJoin(broadcast(kstar))
        .select($"event_type", $"c1", $"c2",
          (round($"z", 6) + lit(0d)).as("z_score"),
          round($"pval", 6).as("p_value"), $"rk",
          coalesce($"rk" <= $"kstar", lit(false)).as("discovery"))
        .orderBy($"rk")
    },

    // --------------------------------------------- Mann–Kendall trend
    // Non-parametric monotone-trend test on daily revenue — the
    // distribution-free complement to q163's autocorrelation and q184's
    // backtest: S = Σ_{i<j} sign(x_j − x_i) over the MEMOIZED day frame,
    // tie-corrected variance, continuity-corrected z, p-value through
    // the shared q195 erf polynomial. The pairwise self-join is bounded
    // by CALENDAR², not corpus (a decade is ~3650 rows → 6.7M sign
    // pairs), the same control-plane argument as the q163/q164 family;
    // S and both variance terms are exact integers, z/p the mirrored
    // float tail. Two-sided test at α=0.05 labels the trend.
    "q196_mann_kendall" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir)
      val a = day.select($"d".as("da"), $"cents".as("xa"))
      val b = day.select($"d".as("db"), $"cents".as("xb"))
      val sAgg = a.join(b, $"da" < $"db")
        .agg(sum(when($"xb" > $"xa", 1L).when($"xb" < $"xa", -1L)
          .otherwise(0L)).as("s_stat"))
      val nAgg = day.agg(count(lit(1)).as("n"))
      val tieAgg = day.groupBy($"cents").agg(count(lit(1)).as("t"))
        .filter($"t" >= 2)
        .agg(coalesce(sum($"t" * ($"t" - 1) * (lit(2L) * $"t" + 5)), lit(0L))
          .as("tie_term"))
      val varS = ($"n" * ($"n" - 1) * (lit(2L) * $"n" + 5) - $"tie_term")
        .cast("double") / lit(18.0)
      val z = when($"s_stat" > 0, ($"s_stat" - 1).cast("double") / sqrt($"mkvar"))
        .when($"s_stat" < 0, ($"s_stat" + 1).cast("double") / sqrt($"mkvar"))
        .otherwise(lit(0.0))
      sAgg.crossJoin(broadcast(nAgg)).crossJoin(broadcast(tieAgg))
        .withColumn("mkvar", varS)
        .withColumn("z", z)
        .withColumn("pval", erfcPval($"z"))
        .select($"n".as("n_days"), $"s_stat",
          (round($"z", 6) + lit(0d)).as("z_mk"),
          round($"pval", 6).as("p_value"),
          when($"pval" < lit(FdrAlpha.toDouble) && $"s_stat" > 0, "increasing")
            .when($"pval" < lit(FdrAlpha.toDouble) && $"s_stat" < 0, "decreasing")
            .otherwise("none").as("trend"))
    },

    // ----------------------------------------------- Theil–Sen slope
    // Robust trend MAGNITUDE to q196's trend EXISTENCE: the Theil–Sen
    // estimator — median of all pairwise slopes over the memoized day
    // frame, with the median-residual intercept. Breakdown point 29%:
    // a month of outage days or a flash-sale spike moves it barely,
    // where OLS (q167-family regressions) chases it. Same calendar²-
    // bounded pair frame as q196; slopes are single float divisions of
    // exact integer differences, and both medians are interpolated
    // percentiles emitted RAW (the q26/q178 convention — never re-ROUND
    // an interpolated value).
    "q197_theil_sen" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir)
      val t0 = day.agg(min($"d").as("d0"))
      val dt = day.crossJoin(broadcast(t0))
        .select(datediff($"d", $"d0").cast("long").as("t"), $"cents")
      // The pair enumeration is an EXPLODING join (guide §3): n day rows in,
      // n·(n−1)/2 slope rows out. Left as-is, AQE coalesces the tiny input
      // to ONE partition and the whole n² emission runs single-task (1.7 s
      // of the query, twice — repartitionByRange's sample pass re-executes
      // its child); spreading the stream side across the session's shuffle
      // partitions BEFORE the join parallelizes the emission, and pinning
      // the slopes makes the range sampler read blocks instead of
      // re-running the join.
      // both sides spread: whichever side the BNL streams then carries the
      // session's partition count (the other is a trivial tiny broadcast)
      val spread = dt.repartition(s.sessionState.conf.numShufflePartitions)
      val a = spread.select($"t".as("ta"), $"cents".as("xa"))
      val b = spread.select($"t".as("tb"), $"cents".as("xb"))
      val slopes = Pin(a.join(b, $"ta" < $"tb")
        .select((($"xb" - $"xa").cast("double") /
          ($"tb" - $"ta").cast("double")).as("sl")))
      // Median by DISTRIBUTED rank selection, not percentile(): the
      // exact-percentile aggregate funnels every pair through one final
      // buffer (4.5 s/iter here, unbounded at scale); GlobalRank range-
      // sorts instead and the median is two rank-selected rows. The
      // interpolation lo + f·(hi−lo) is bit-identical to both engines'
      // percentile/quantile_cont formula; rank ties among equal slope
      // VALUES select the same value whichever tied row wins.
      // One consumer: every ranked row carries np, so the two target
      // ranks are per-row arithmetic and the rank runs once.
      val half = lit(0.5) * ($"np" - 1).cast("double")
      val sl = GlobalRank.withGlobalRank(slopes, Seq($"sl".asc), "rk", "np")
        .withColumn("t1", floor(half).cast("long") + 1)
        .withColumn("f", half - floor(half))
        .withColumn("t2", least($"t1" + 1, $"np"))
        .filter($"rk" === $"t1" || $"rk" === $"t2")
        .agg(max($"np").as("n_pairs"), max($"f").as("f"),
          max(when($"rk" === $"t1", $"sl")).as("x1"),
          max(when($"rk" === $"t2", $"sl")).as("x2"))
        .select($"n_pairs",
          ($"x1" + $"f" * ($"x2" - $"x1")).as("slope"))
      dt.crossJoin(broadcast(sl))
        .agg(count(lit(1)).as("n_days"), max($"n_pairs").as("n_pairs"),
          max($"slope").as("slope_cents_per_day"),
          expr("percentile(cast(cents as double) - slope * cast(t as double), 0.5D)")
            .as("intercept_cents"))
    },

    // ------------------------------------------- DP noisy release
    // Differentially-private count release — the publication step after
    // q176's k-anonymity and q180's PII audit: per (day × type) event
    // counts released with Laplace(1/ε) noise at ε=1 (event-level
    // adjacency, sensitivity 1), plus the per-cell absolute error the
    // analyst needs for utility accounting. Noise is the inverse-CDF
    // transform μ − b·sgn(u−½)·ln(1−2|u−½|) of the md5 cell uniform —
    // deterministic and mirrored verbatim (production would swap ONLY
    // the uniform for a secure RNG; the release pipeline is identical),
    // with the log argument clamped at 2⁻³² so a lattice-edge draw
    // can't produce ±∞. Negative releases are kept — post-processing
    // (clamping) is the consumer's choice, not the mechanism's. One
    // cell-granularity aggregate + stateless scalar math: release cost
    // is group-count-bounded at any corpus size.
    "q198_dp_release" -> { (s, dir) =>
      import s.implicits._
      val cells = events(s, dir)
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("true_n"))
      cells
        .withColumn("u",
          conv(substring(md5(concat($"day".cast("string"), lit(":"),
            $"event_type")), 1, 8), 16, 10).cast("long")
            .cast("double") / lit(4294967296.0))
        .withColumn("v", $"u" - lit(0.5))
        .withColumn("noise",
          when($"v" >= 0, lit(-1.0)).otherwise(lit(1.0)) *
            log(greatest(lit(1.0) - lit(2.0) * abs($"v"),
              lit(DpMinMag.toDouble))) / lit(DpEpsilon.toDouble))
        .select($"day", $"event_type", $"true_n",
          (round($"true_n" + $"noise", 6) + lit(0d)).as("noisy_n"),
          round(abs($"noise"), 6).as("abs_err"))
        .orderBy($"day", $"event_type")
    },

    // --------------------------------------------------- max drawdown
    // Maximum drawdown of daily revenue — the ops-dashboard "worst slide
    // from any peak" readout: max over ordered day pairs of
    // (peak − trough), with the dates that realize it. Third rider on
    // the calendar²-bounded day pair frame (q196/q197); everything is
    // exact integer cents until the one mirrored relative division, and
    // the realizing pair is TakeOrderedAndProject with (dd desc, peak,
    // trough) tie-breaks — fully deterministic.
    "q199_max_drawdown" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir)
      val a = day.select($"d".as("peak_day"), $"cents".as("xa"))
      val b = day.select($"d".as("trough_day"), $"cents".as("xb"))
      a.join(b, $"peak_day" < $"trough_day")
        .select($"peak_day", $"trough_day", $"xa", $"xb",
          ($"xa" - $"xb").as("dd"))
        .orderBy($"dd".desc, $"peak_day".asc, $"trough_day".asc)
        .limit(1)
        .select($"peak_day", $"trough_day",
          $"xa".as("peak_cents"), $"xb".as("trough_cents"),
          $"dd".as("drawdown_cents"),
          round($"dd".cast("double") / $"xa".cast("double"), 6)
            .as("drawdown_frac"))
    },

    // -------------------------------------- quantile normalization
    // Cross-source quantile normalization — the batch-effect correction
    // for per-source scorer drift (one source's quality scores run hot,
    // another's cold; mixing on raw scores then skews curation): every
    // doc's score maps to the POOLED distribution's value at the doc's
    // within-source relative rank, so all sources share one scale.
    // Plan: TWO GlobalRank passes over the shared quality frame (the
    // q183 two-ordering pattern) — (source, quality, doc_id) makes
    // within-source ranks contiguous slices of one global rank (no
    // per-source window, so a giant source cannot skew a partition),
    // and (quality, doc_id) builds the pooled rank→value table. The
    // audit output selects each source's decile rows by an EQUI-join on
    // precomputed target ranks (the q126 recipe) and interpolates the
    // pooled value lo + f·(hi−lo), emitted RAW. Rank products stay
    // under 2⁶³ to ~3·10⁹ docs per table — beyond that, route the
    // position product through DECIMAL (same bound family as q158).
    "q200_quantile_normalize" -> { (s, dir) =>
      import s.implicits._
      val sc0 = TextQueries.qualityScored(s, dir)
        .select($"doc_id", $"source", $"quality")
      val g = Pin.lazily(GlobalRank.withGlobalRank(sc0,
        Seq($"source".asc, $"quality".asc, $"doc_id".asc), "grk", "n_all"))
      val pooled = Pin.lazily(GlobalRank.withGlobalRank(sc0,
        Seq($"quality".asc, $"doc_id".asc), "prk", "n_tot")
        .select($"prk", $"quality".as("pq")))
      val ss = g.groupBy($"source")
        .agg(min($"grk").as("rk0"), count(lit(1)).as("n_s"))
      val docs = g.join(broadcast(ss), "source")
        .withColumn("rk_s", $"grk" - $"rk0" + 1)
      val targets = ss.filter($"n_s" >= 2)
        .crossJoin(broadcast((1 to 9).toDF("decile")))
        .select($"source", $"decile",
          (expr("(decile * (n_s - 1)) div 10") + 1).as("tr"))
      val sel = docs
        .join(broadcast(targets),
          docs("source") === targets("source") && $"rk_s" === $"tr")
        .drop(targets("source"))
        .withColumn("pos",
          (($"rk_s" - 1) * ($"n_all" - 1)).cast("double") /
            ($"n_s" - 1).cast("double"))
        .withColumn("t1", floor($"pos").cast("long") + 1)
        .withColumn("f", $"pos" - floor($"pos"))
        .withColumn("t2", least($"t1" + 1, $"n_all"))
      sel
        .join(pooled.select($"prk".as("t1"), $"pq".as("v1")), "t1")
        .join(pooled.select($"prk".as("t2"), $"pq".as("v2")), "t2")
        .select($"source", $"decile".cast("long").as("decile"),
          $"n_s".as("n_docs"), $"quality".as("q_raw"),
          ($"v1" + $"f" * ($"v2" - $"v1")).as("q_norm"))
        .orderBy($"source", $"decile")
    },

    // --------------------------------------- user-level DP release
    // q198's release hardened to USER-level adjacency — the version that
    // actually protects a person, and the part that's hard at scale:
    // contribution bounding. Each user's events in a (day × type) cell
    // clamp to C=4 BEFORE counting (one (user, cell) aggregate, then
    // least(count, C) — both map-side combinable), so removing any one
    // user changes the released count by at most C, and Laplace(C/ε)
    // noise at ε=1 gives user-level ε-DP. The released frame reports
    // both the clamped count and the clamp loss (true − bounded), the
    // utility the analyst pays for the guarantee. Same md5 inverse-CDF
    // noise as q198 (swap the uniform for a secure RNG in production;
    // the pipeline is identical).
    "q201_dp_user_level" -> { (s, dir) =>
      import s.implicits._
      val perUser = events(s, dir)
        .groupBy(to_date($"ts").as("day"), $"event_type", $"user_id")
        .agg(count(lit(1)).as("nu"))
      val cells = perUser
        .groupBy($"day", $"event_type")
        .agg(sum($"nu").as("true_n"),
          sum(least($"nu", lit(DpUserCap.toLong))).as("bounded_n"))
      cells
        .withColumn("u",
          conv(substring(md5(concat($"day".cast("string"), lit(":"),
            $"event_type", lit(":u"))), 1, 8), 16, 10).cast("long")
            .cast("double") / lit(4294967296.0))
        .withColumn("v", $"u" - lit(0.5))
        .withColumn("noise",
          when($"v" >= 0, lit(-1.0)).otherwise(lit(1.0)) *
            log(greatest(lit(1.0) - lit(2.0) * abs($"v"),
              lit(DpMinMag.toDouble))) *
            (lit(DpUserCap.toDouble) / lit(DpEpsilon.toDouble)))
        .select($"day", $"event_type", $"true_n", $"bounded_n",
          ($"true_n" - $"bounded_n").as("clamp_loss"),
          (round($"bounded_n" + $"noise", 6) + lit(0d)).as("noisy_n"))
        .orderBy($"day", $"event_type")
    },

    // -------------------------------------------------- cohort LTV
    // 13-week cohort LTV curves — the revenue companion to q48's
    // retention counts: users cohort by first-activity week, purchase
    // revenue accumulates per cohort over age weeks, per-user LTV
    // divides by cohort size. Week indices are exact integer arithmetic
    // off the global min day (calendar-week semantics differ between
    // engines; day-diff `div 7` does not). Revenue is float event data,
    // so the q36 policy applies: cells sum RAW doubles, the cumulative
    // window adds those cells in the same deterministic age order in
    // both engines, and ONE round(6) per output column absorbs the
    // ~1e-9 order noise — never round-then-combine. Cells with no
    // purchases are absent in both engines identically (the curve is a
    // sparse frame; q61's spine densifies when a dashboard needs 0s).
    // Scale: two user-granularity aggregates + one (cohort × ≤13) cell
    // frame; the window partitions by cohort (bounded rows each).
    "q202_cohort_ltv" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
      val base = ev.agg(min(to_date($"ts")).as("d0"))
      val first = Pin.lazily(ev.groupBy($"user_id")
        .agg(min(to_date($"ts")).as("fd")))
      val rev = ev.filter($"event_type" === "purchase" && $"value".isNotNull)
        .select($"user_id", to_date($"ts").as("day"), $"value")
      val cohortSize = first.crossJoin(broadcast(base))
        .groupBy(expr("datediff(fd, d0) div 7").as("cohort_week"))
        .agg(count(lit(1)).as("cohort_users"))
      val cells = rev.join(first, "user_id").crossJoin(broadcast(base))
        .withColumn("cohort_week", expr("datediff(fd, d0) div 7"))
        .withColumn("age_week", expr("datediff(day, fd) div 7"))
        .filter($"age_week" <= LtvMaxAgeWeeks)
        .groupBy($"cohort_week", $"age_week")
        .agg(sum($"value").as("rev"))
      val w = Window.partitionBy($"cohort_week").orderBy($"age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum", sum($"rev").over(w))
        .join(broadcast(cohortSize), "cohort_week")
        .select($"cohort_week".cast("long").as("cohort_week"),
          $"age_week".cast("long").as("age_week"), $"cohort_users",
          round($"rev", 6).as("week_revenue"),
          round($"cum", 6).as("cum_revenue"),
          round($"cum" / $"cohort_users", 6).as("ltv_per_user"))
        .orderBy($"cohort_week", $"age_week")
    },

    // --------------------------------- Holt double-exponential smoothing
    // Holt's linear-trend smoothing over daily revenue — the forecasting
    // step up from q164's level-only EWMA (a trending series lags a
    // level-only smoother by trend/α forever; Holt tracks the slope).
    // Per day: level, trend, the one-step-ahead fit l+b, and its error —
    // the residual stream forecast monitors alert on (q184 benchmarks
    // the naive baselines this must beat). The recursion is inherently
    // sequential, so it FOLDS ON THE DRIVER over the collected day frame
    // — the q157/q175 convention: day-granularity is control-plane at
    // any corpus size; the corpus-scale work (the daily aggregate) stays
    // distributed and memoized. The oracle replays the identical fold as
    // a recursive CTE — same literals (α, 1−α, β, 1−β each parsed, never
    // derived), same operation order, so every raw double matches
    // bit-wise. Outputs quantize ENGINE-SIDE as floor(x·100) fixed-point
    // (e2 of a cent): a decimal ROUND at 1e8-cents magnitude sits past
    // double's reliable digits and the engines' rounding paths diverge
    // on near-boundary values (measured — Spark rounds the exact double,
    // DuckDB rounds a double·10⁶ product); floor of the identical
    // double·100 product is deterministic in both.
    "q211_holt_smoothing" -> { (s, dir) =>
      import s.implicits._
      val lt = dailyRevenueCents(s, dir).orderBy($"d").collect()
        .map(r => (r.getDate(0), r.getLong(1)))
      val (al, a1) = (HoltAlpha.toDouble, Holt1mA.toDouble)
      val (be, b1) = (HoltBeta.toDouble, Holt1mB.toDouble)
      var l = lt(0)._2.toDouble
      var b = lt(1)._2.toDouble - lt(0)._2.toDouble
      val rows = lt.zipWithIndex.map { case ((d, c), i) =>
        if (i == 0) (d, c, l, b, Option.empty[Double], Option.empty[Double])
        else {
          val y = c.toDouble
          val fitted = l + b
          val l2 = al * y + a1 * (l + b)
          val b2 = be * (l2 - l) + b1 * b
          l = l2; b = b2
          (d, c, l, b, Some(fitted), Some(y - fitted))
        }
      }
      s.createDataFrame(rows.toIndexedSeq)
        .toDF("day", "cents", "l", "b", "f", "e")
        .select($"day", $"cents",
          floor($"l" * 100).cast("long").as("level_e2"),
          floor($"b" * 100).cast("long").as("trend_e2"),
          floor($"f" * 100).cast("long").as("fitted_e2"),
          floor($"e" * 100).cast("long").as("err_e2"))
        .orderBy($"day")
    },

    // ------------------------------------ Bayesian A/B posterior readout
    // Thompson-sampling-style decision readout for the q155 experiment:
    // Beta(1+c, 1+n−c) posteriors per arm, P(A beats B) via the normal
    // approximation Φ((μA−μB)/√(vA+vB)) through the SHARED A&S erf
    // polynomial (the q195/q196 machinery), and the ship/continue call at
    // 95%. Posterior moments are closed-form rationals of the exact
    // integer counts — μ = (1+c)/(2+n), v = (1+c)(1+n−c)/((2+n)²(3+n)) —
    // stated identically in both engines with the denominator kept in
    // DOUBLE (its integer form overflows LONG at ~10⁹ users/arm). One
    // user-granularity aggregate; everything after is a 1-row fold.
    "q216_bayes_ab" -> { (s, dir) =>
      import s.implicits._
      val users = events(s, dir).groupBy($"user_id")
        .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("p"))
        .select(when($"p" >= 3, 1L).otherwise(0L).as("conv"),
          when(substring(md5($"user_id".cast("string")), 1, 1) <= "7", 1L)
            .otherwise(0L).as("ta"))
      val c = users.agg(
        sum($"ta").as("n_a"), sum($"ta" * $"conv").as("c_a"),
        sum(lit(1L) - $"ta").as("n_b"),
        sum((lit(1L) - $"ta") * $"conv").as("c_b"))
      def mu(n: Column, cc: Column) =
        (cc + lit(1L)).cast("double") / (n + lit(2L))
      def vr(n: Column, cc: Column) =
        (cc + lit(1L)).cast("double") * (n - cc + lit(1L)) /
          ((n + lit(2L)).cast("double") * (n + lit(2L)) * (n + lit(3L)))
      val zd = (mu($"n_a", $"c_a") - mu($"n_b", $"c_b")) /
        sqrt(vr($"n_a", $"c_a") + vr($"n_b", $"c_b"))
      val base = c.withColumn("zd", zd)
      val withP = base.withColumn("pval", erfcPval($"zd"))
        .withColumn("pab",
          when($"zd" >= 0, lit(1.0) - $"pval" / lit(2.0))
            .otherwise($"pval" / lit(2.0)))
      withP.select($"n_a", $"c_a", $"n_b", $"c_b",
        round(mu($"n_a", $"c_a"), 6).as("post_mean_a"),
        round(mu($"n_b", $"c_b"), 6).as("post_mean_b"),
        (round($"zd", 6) + lit(0d)).as("z_diff"),
        round($"pab", 6).as("p_a_beats_b"),
        when($"pab" >= lit(0.95), lit("ship_A"))
          .when($"pab" <= lit(0.05), lit("ship_B"))
          .otherwise(lit("continue")).as("decision"))
    },

    // --------------------------------------- smoothed target encoding
    // Target encoding with additive (m-estimate) smoothing — the feature-
    // engineering primitive that turns a high-cardinality category into a
    // numeric feature without leaking small-sample noise: enc(cat) =
    // (S_cat + m·prior)/(n_cat + m), prior = global mean, m = 50 virtual
    // rows. Everything stays EXACT integers: with prior = Sg/Ng, enc =
    // (S·Ng + m·Sg)/(Ng·(n + m)) — one DECIMAL/HUGEINT rational per
    // category, truncated to e4 fixed point (the q209/q211 discipline).
    // Cost: one map-combinable per-category aggregate + a broadcast
    // 1-row global frame; the encoding table is category-granularity and
    // broadcasts back to any training scan for free.
    "q214_target_encoding" -> { (s, dir) =>
      import s.implicits._
      val m = 50L
      val rows = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .select($"p_brand".as("brand"), cents($"l_extendedprice").as("c"))
      val per = rows.groupBy($"brand")
        .agg(count(lit(1)).as("n"), sum($"c").as("sc"))
      val g = per.agg(sum($"n").as("ng"), sum($"sc").as("sg"))
      def tdiv(num: Column, den: Column): Column =
        ((num - (num % den)) / den).cast("long")
      per.crossJoin(broadcast(g))
        .select($"brand", $"n", $"sc",
          tdiv($"sc".cast(dec) * lit(10000L), $"n".cast(dec)).as("mean_e4"),
          tdiv(($"sc".cast(dec) * $"ng" + lit(m).cast(dec) * $"sg") * lit(10000L),
            $"ng".cast(dec) * ($"n" + lit(m))).as("enc_e4"))
        .orderBy($"brand")
    },

    // ------------------------------------ price–volume–mix decomposition
    // Revenue-bridge decomposition between two years — the BI "waterfall"
    // that explains WHERE a revenue delta came from: per brand,
    // price effect = S₁ − S₀·Q₁/Q₀ (what revenue would have moved had
    // volume stayed on old prices) and volume effect = S₀·(Q₁−Q₀)/Q₀,
    // summing exactly to ΔS (up to the two e4 truncations, gated in the
    // spec). All moments are exact integer (cents, quantity) sums from
    // ONE map-combinable aggregate per (brand, year); the rationals go
    // through DECIMAL/HUGEINT e4 floor division — no float anywhere.
    "q215_price_volume_mix" -> { (s, dir) =>
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .withColumn("yr", year($"o_orderdate"))
        .filter($"yr" === 1995 || $"yr" === 1996)
        .groupBy($"p_brand".as("brand"), $"yr")
        .agg(sum(cents($"l_extendedprice")).as("s"),
          sum($"l_quantity".cast("long")).as("q"))
      val w = li.groupBy($"brand").agg(
        sum(when($"yr" === 1995, $"s")).as("s0"),
        sum(when($"yr" === 1995, $"q")).as("q0"),
        sum(when($"yr" === 1996, $"s")).as("s1"),
        sum(when($"yr" === 1996, $"q")).as("q1"))
        .filter($"s0".isNotNull && $"q0".isNotNull && $"s1".isNotNull &&
          $"q1".isNotNull && $"q0" > 0)
      def tdiv(num: Column, den: Column): Column =
        ((num - (num % den)) / den).cast("long")
      w.select($"brand", $"s0", $"q0", $"s1", $"q1",
          ($"s1" - $"s0").as("delta_cents"),
          tdiv(($"s1".cast(dec) * $"q0" - $"s0".cast(dec) * $"q1") * lit(10000L),
            $"q0".cast(dec)).as("price_effect_e4"),
          tdiv($"s0".cast(dec) * ($"q1" - $"q0") * lit(10000L),
            $"q0".cast(dec)).as("volume_effect_e4"))
        .orderBy($"brand")
    },

    // ------------------------------------------ sequential brand rules
    // Temporal association rules "first bought A, LATER first bought B"
    // — the sequence-mining face of q158's (unordered) basket rules:
    // co-occurrence says A and B sell together, the sequence says which
    // one RECRUITS the other (cross-sell direction). Per (customer,
    // brand): first-purchase date — ONE digest-granularity aggregate —
    // then a per-customer self-join whose fan-out is bounded by
    // brands-per-customer² (tens), never corpus². Rule stats stay exact
    // integers: n_seq (customers where first(A) strictly precedes
    // first(B); same-day excluded, stated identically), confidence =
    // n_seq/n_A, and lift against the base rate P(B)·n_A via ONE
    // mirrored float expression. Min support 5 customers.
    "q212_sequential_rules" -> { (s, dir) =>
      import s.implicits._
      val firsts = Pin.lazily(t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_custkey".as("cust"), $"p_brand".as("brand"))
        .agg(min(to_date($"o_orderdate")).as("fd")))
      val nCust = firsts.select($"cust").distinct()
        .agg(count(lit(1)).as("n_cust"))
      val nBrand = firsts.groupBy($"brand").agg(count(lit(1)).as("n_br"))
      val seqs = firsts.as("a").join(firsts.as("b"),
          $"a.cust" === $"b.cust" && $"a.fd" < $"b.fd" &&
            $"a.brand" =!= $"b.brand")
        .groupBy($"a.brand".as("brand_a"), $"b.brand".as("brand_b"))
        .agg(count(lit(1)).as("n_seq"))
        .filter($"n_seq" >= 5)
      seqs
        .join(broadcast(nBrand.toDF("brand_a", "n_a")), "brand_a")
        .join(broadcast(nBrand.toDF("brand_b", "n_b")), "brand_b")
        .crossJoin(broadcast(nCust))
        .select($"brand_a", $"brand_b", $"n_seq", $"n_a", $"n_b",
          round($"n_seq".cast("double") / $"n_a", 6).as("confidence"),
          round(($"n_seq".cast("double") / $"n_a") /
            ($"n_b".cast("double") / $"n_cust"), 6).as("lift"))
        .orderBy($"brand_a", $"brand_b")
    },

    // ------------------------------------------------- uplift deciles
    // Uplift (incrementality) by targeting decile — the experimentation
    // readout that tells a growth team WHO to treat: users rank by an
    // observable targeting score (click engagement), and within each
    // decile the treated−control conversion gap estimates the treatment
    // effect for that segment; the cumulative curve is the Qini-style
    // "treat the top k deciles" payoff. Ranking rides GlobalRank +
    // ntileFromRank (the q45 recipe — no unpartitioned window; NTILE
    // semantics match exactly). All counts are exact integers; the two
    // rate gaps are the only floats, mirrored and NULL-guarded when a
    // decile lacks an arm. Cumulation is a ≤10-row theta-join.
    "q213_uplift_deciles" -> { (s, dir) =>
      import s.implicits._
      val users = events(s, dir).groupBy($"user_id").agg(
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("purchases"),
          sum(when($"event_type" === "click", 1L).otherwise(0L)).as("clicks"))
        .select($"user_id",
          when($"purchases" >= 3, 1L).otherwise(0L).as("conv"),
          $"clicks",
          when(substring(md5($"user_id".cast("string")), 1, 1) <= "7", 1L)
            .otherwise(0L).as("treated"))
      val ranked = GlobalRank.withGlobalRank(users,
        Seq($"clicks".desc, $"user_id".asc), "rk", "n_total")
      val dec = ranked
        .withColumn("decile", GlobalRank.ntileFromRank($"rk", $"n_total", 10))
        .groupBy($"decile").agg(
          sum($"treated").as("n_t"),
          sum($"treated" * $"conv").as("c_t"),
          sum(lit(1L) - $"treated").as("n_c"),
          sum((lit(1L) - $"treated") * $"conv").as("c_c"))
      val cum = dec.select($"decile".as("d0"))
        .join(dec.toDF("d2", "nt2", "ct2", "nc2", "cc2"), $"d2" <= $"d0")
        .groupBy($"d0").agg(sum($"nt2").as("cnt"), sum($"ct2").as("cct"),
          sum($"nc2").as("cnc"), sum($"cc2").as("ccc"))
      dec.join(cum, $"decile" === $"d0")
        .select($"decile", $"n_t", $"c_t", $"n_c", $"c_c",
          when($"n_t" > 0 && $"n_c" > 0,
            round($"c_t".cast("double") / $"n_t" -
              $"c_c".cast("double") / $"n_c", 6) + lit(0d)).as("uplift"),
          when($"cnt" > 0 && $"cnc" > 0,
            round($"cct".cast("double") / $"cnt" -
              $"ccc".cast("double") / $"cnc", 6) + lit(0d)).as("cum_uplift"))
        .orderBy($"decile")
    },

    // --------------------------------------- inter-rater agreement
    // Cohen's kappa between two independent document raters — the
    // labeling-pipeline QA statistic: when two annotators (here two
    // deterministic heuristic raters: a length/word-count rater and a
    // punctuation/uppercase-density rater) binary-label the same corpus,
    // kappa measures agreement BEYOND what their marginal rates produce
    // by chance: κ = (p_o − p_e)/(1 − p_e). Rater predicates are pure
    // integer comparisons (cross-multiplied ratios — no float in the
    // labels); the 2×2 table is one map-side-combinable aggregate;
    // marginal products route through DECIMAL(38,0)/HUGEINT before the
    // one float division (LONG·LONG overflows at corpus scale). One row
    // out. The chance-agreement guard (p_e < 1) is stated identically in
    // the oracle.
    "q208_cohens_kappa" -> { (s, dir) =>
      import s.implicits._
      val lab = t(s, dir, "documents").select(
        (length($"text") >= 300 && size(split($"text", " ")) >= 60)
          .cast("long").as("r1"),
        (regexp_count($"text", lit("[.!?,;:]")) * 50 <= length($"text") &&
          regexp_count($"text", lit("[A-Z]")) * 5 <= length($"text"))
          .cast("long").as("r2"))
      val c = lab.agg(count(lit(1)).as("n"),
        sum($"r1" * $"r2").as("n11"),
        sum($"r1" * (lit(1L) - $"r2")).as("n10"),
        sum((lit(1L) - $"r1") * $"r2").as("n01"),
        sum((lit(1L) - $"r1") * (lit(1L) - $"r2")).as("n00"))
      val po = ($"n11" + $"n00").cast("double") / $"n"
      val pe = (($"n11" + $"n10").cast(dec) * ($"n11" + $"n01").cast(dec) +
        ($"n01" + $"n00").cast(dec) * ($"n10" + $"n00").cast(dec))
        .cast("double") / ($"n".cast("double") * $"n".cast("double"))
      c.select($"n", $"n11", $"n10", $"n01", $"n00",
          round(po, 6).as("p_observed"),
          round(pe, 6).as("p_expected"),
          when(pe < lit(1.0),
            (round((po - pe) / (lit(1.0) - pe), 6) + lit(0d))).as("kappa"))
    },

    // ----------------------------------- additive seasonal decomposition
    // Classical decomposition of daily revenue: trend = centered 7-day
    // moving average (full windows only), seasonal = day-of-week mean of
    // the detrended series, residual = the rest — the explainable split
    // behind q177's seasonality readout and the input shape anomaly
    // monitors want (alert on RESIDUAL, not raw, or every Sunday pages).
    // Runs entirely on the memoized day-cents frame: the centered window
    // and the dow means are calendar-bounded theta-joins/aggregates (the
    // q199 idiom — no unpartitioned window). Day-of-week comes from
    // datediff-mod-7 off a fixed epoch, NOT dayofweek() (engines disagree
    // on week-start conventions). ALL outputs are exact e4 fixed-point
    // integers (q164's idiom): trend = sw/7, seasonal = Σdet7/(7n),
    // residual = (det7·n − Σdet7)/(7n), each as ⌊·10⁴⌋-toward-zero via
    // DECIMAL num − num%den — float rounding at revenue magnitude (1e8
    // cents) exceeds double's 15.9 significant digits at a 1e-6 grain,
    // so a ROUND(…,6) formulation hash-diverges; integers cannot.
    "q209_seasonal_decompose" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir)
      val tr = day.select($"d".as("d0"))
        .join(day.select($"d".as("d2"), $"cents".as("c2")),
          datediff($"d2", $"d0") >= -3 && datediff($"d2", $"d0") <= 3)
        .groupBy($"d0")
        .agg(count(lit(1)).as("nw"), sum($"c2").as("sw"))
        .filter($"nw" === 7)
        .select($"d0", $"sw")
      val det = day.join(tr, $"d" === $"d0")
        .select($"d", $"cents",
          (datediff($"d", lit("1995-01-01").cast("date")) % 7).as("dow"),
          $"sw", ($"cents" * 7 - $"sw").as("det7"))
      val sea = det.groupBy($"dow")
        .agg(count(lit(1)).as("nd"), sum($"det7").as("sum7"))
      // truncate-toward-zero division (DuckDB's `//` semantics on
      // negatives — pmod would FLOOR and diverge on negative numerators)
      def tdiv(num: Column, den: Column): Column =
        ((num - (num % den)) / den).cast("long")
      det.join(broadcast(sea), "dow")
        .select($"d".as("day"), $"cents",
          tdiv($"sw".cast(dec) * lit(10000L), lit(7L).cast(dec)).as("trend_e4"),
          $"dow".cast("long").as("dow"),
          tdiv($"sum7".cast(dec) * lit(10000L), ($"nd" * 7).cast(dec))
            .as("seasonal_e4"),
          tdiv(($"det7".cast(dec) * $"nd" - $"sum7") * lit(10000L),
            ($"nd" * 7).cast(dec)).as("residual_e4"))
        .orderBy($"day")
    },

    // ------------------------------------- always-valid sequential test
    // mSPRT (mixture sequential probability ratio test) over the A/B
    // experiment q155 reads once at a fixed horizon: the always-valid
    // p-value lets an experimenter PEEK DAILY and stop early without
    // inflating false positives (Johari et al., "Peeking at A/B tests",
    // KDD'17). Per calendar day d: cumulative per-arm users (first
    // activity ≤ d) and conversions (3rd purchase ≤ d — q155's
    // non-degenerate definition), the normal-approximation likelihood
    // ratio against a N(0, τ²) effect mixture,
    //   lnΛ_d = ½·ln(V/(V+τ²)) + δ²τ² / (2V(V+τ²)),  V = p̂(1−p̂)(1/n_a+1/n_b),
    // and p_d = min(1, 1/max_{s≤d} Λ_s) — monotone by construction.
    // Scale: ONE user-granularity aggregate, then everything runs on
    // (day × arm) increments — cumulative sums and the running max are
    // calendar-bounded theta-joins (the q199 day-pair idiom), never an
    // unpartitioned window over data rows. Degenerate days (no
    // conversions yet, or all users converted) NULL the ratio, stated
    // identically in the oracle; the running max skips NULLs in both
    // engines.
    "q205_msprt_sequential" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
      val purch3 = ev.filter($"event_type" === "purchase")
        .withColumn("rn", row_number().over(
          Window.partitionBy($"user_id").orderBy($"ts", $"event_id")))
        .filter($"rn" === 3).select($"user_id", to_date($"ts").as("cd"))
      val users = ev.groupBy($"user_id").agg(min(to_date($"ts")).as("fd"))
        .join(purch3, Seq("user_id"), "left")
        .withColumn("arm",
          when(substring(md5($"user_id".cast("string")), 1, 1) <= "7", "A")
            .otherwise("B"))
      val newU = users.groupBy($"fd", $"arm").agg(count(lit(1)).as("nn"))
      val newC = users.filter($"cd".isNotNull)
        .groupBy($"cd", $"arm").agg(count(lit(1)).as("nc"))
      val spine = ev.select(to_date($"ts").as("d")).distinct()
      val nCum = spine.join(newU, $"fd" <= $"d")
        .groupBy($"d", $"arm").agg(sum($"nn").as("n"))
      val cCum = spine.join(newC, $"cd" <= $"d")
        .groupBy($"d", $"arm").agg(sum($"nc").as("c"))
      val ds = nCum.join(cCum, Seq("d", "arm"), "left").na.fill(0L, Seq("c"))
      val wide = ds.groupBy($"d").agg(
        sum(when($"arm" === "A", $"n")).as("n_a"),
        sum(when($"arm" === "A", $"c")).as("c_a"),
        sum(when($"arm" === "B", $"n")).as("n_b"),
        sum(when($"arm" === "B", $"c")).as("c_b"))
      val t2 = lit(MsprtTau2.toDouble)
      val p = ($"c_a" + $"c_b").cast("double") / ($"n_a" + $"n_b")
      val v = p * (lit(1.0) - p) * (lit(1.0) / $"n_a" + lit(1.0) / $"n_b")
      val dl = $"c_a".cast("double") / $"n_a" - $"c_b".cast("double") / $"n_b"
      val lam = wide.withColumn("dl", dl).withColumn("v", v)
        .withColumn("log_lambda",
          when($"n_a" > 0 && $"n_b" > 0 &&
              $"c_a" + $"c_b" > 0 && $"c_a" + $"c_b" < $"n_a" + $"n_b",
            lit(0.5) * log($"v" / ($"v" + t2)) +
              $"dl" * $"dl" * t2 / (lit(2.0) * $"v" * ($"v" + t2))))
      val run = lam.select($"d".as("d0"))
        .join(lam.select($"d".as("d2"), $"log_lambda".as("ll2")), $"d2" <= $"d0")
        .groupBy($"d0").agg(max($"ll2").as("max_ll"))
      lam.join(run, $"d" === $"d0")
        .select($"d".as("day"), $"n_a", $"c_a", $"n_b", $"c_b",
          (round($"dl", 6) + lit(0d)).as("delta"),
          (round($"log_lambda", 6) + lit(0d)).as("log_lambda"),
          when($"max_ll".isNotNull,
            round(least(lit(1.0), exp(-$"max_ll")), 6)).as("p_always"),
          when($"max_ll".isNotNull,
            when(exp(-$"max_ll") <= lit(MsprtAlpha.toDouble), 1L).otherwise(0L))
            .as("rejected"))
        .orderBy($"day")
    },

    // ------------------------------------------- KMV sketch overlap
    // Month-over-month returning-customer estimation from k-minimum-value
    // sketches — the mergeable-sketch answer to q173's exact self-join
    // overlap. The scale thesis: exact distinct-intersection at 100 TB
    // ships every key through a shuffle PER PAIR of periods; a KMV sketch
    // ships k=128 hashes per month (GroupTopK bottom-k heaps — bounded
    // map-side state, no sort), and ALL downstream set algebra runs at
    // sketch granularity (months × k rows, control-plane). Union sketch
    // per consecutive-month pair = k smallest of the merged hash sets;
    // intersection via the inclusion ratio ρ = |both-member hashes in the
    // union sketch|/k (Bar-Yossef et al.; Beyer et al. SIGMOD'07). A
    // sketch that never filled (kn < k) holds the whole key set, so the
    // estimator degrades to the EXACT count — both branches stated
    // identically in the oracle. Same-customer rows hash identically
    // across months, which is what makes the membership join exact.
    "q203_kmv_monthly_overlap" -> { (s, dir) =>
      import s.implicits._
      val mu = t(s, dir, "orders")
        .select(date_trunc("month", $"o_orderdate").cast("date").as("m"),
          $"o_custkey")
        .distinct()
        .withColumn("h",
          conv(substring(md5(concat(lit("kmv:"), $"o_custkey".cast("string"))),
            1, 12), 16, 10).cast("long"))
      val sk = Pin.lazily(graft.plans.GroupTopK(mu,
          Seq($"m"), Seq($"h".asc, $"o_custkey".asc), KmvK)
        .select($"m", $"h"))
      val st = sk.groupBy($"m").agg(count(lit(1)).as("kn"), max($"h").as("hk"))
      def est(kn: Column, hk: Column): Column =
        when(kn < lit(KmvK), kn.cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(KmvM.toDouble) / hk)
      val months = sk.select($"m").distinct()
      val pairs = months.toDF("ma")
        .join(months.toDF("mb"), add_months($"ma", 1) === $"mb")
      // merged hash set per pair, then its k smallest: the pair window is
      // ≤ 2k rows per partition by construction (two sketches), so the
      // row_number is control-plane no matter the corpus size.
      val mh = broadcast(pairs)
        .join(sk, $"m" === $"ma" || $"m" === $"mb")
        .select($"ma", $"mb", $"h").distinct()
      val w = Window.partitionBy($"ma", $"mb").orderBy($"h")
      val uk = mh.withColumn("rn", row_number().over(w))
        .filter($"rn" <= KmvK).select($"ma", $"mb", $"h")
      val ag = uk
        .join(sk.select($"m".as("ma"), $"h", lit(1L).as("ia")), Seq("ma", "h"), "left")
        .join(sk.select($"m".as("mb"), $"h", lit(1L).as("ib")), Seq("mb", "h"), "left")
        .groupBy($"ma", $"mb")
        .agg(count(lit(1)).as("ku"), max($"h").as("hku"),
          sum(coalesce($"ia", lit(0L)) * coalesce($"ib", lit(0L))).as("kboth"))
      ag
        .join(broadcast(st.select($"m".as("ma"), $"kn".as("kna"), $"hk".as("hka"))), "ma")
        .join(broadcast(st.select($"m".as("mb"), $"kn".as("knb"), $"hk".as("hkb"))), "mb")
        .select($"ma".as("month_a"), $"mb".as("month_b"),
          round(est($"kna", $"hka"), 6).as("est_a"),
          round(est($"knb", $"hkb"), 6).as("est_b"),
          round(est($"ku", $"hku"), 6).as("est_union"),
          round(($"kboth".cast("double") / $"ku") * est($"ku", $"hku"), 6)
            .as("est_returning"),
          round($"kboth".cast("double") / $"ku", 6).as("kmv_jaccard"))
        .orderBy($"month_a")
    },

    // --------------------------------------------- item-item neighbors
    // Item-item collaborative-filtering neighbors: cosine similarity on
    // the co-purchase counts — pair_n/√(cnt_a·cnt_b) — with each brand's
    // top-5 neighbor list. The recommender face of the q158/q165/q170
    // basket family, riding the SAME memoized basket and pair frames
    // (the self-join cost is paid once per application across all four
    // consumers). Count products route through DECIMAL before the double
    // sqrt (the q158 HUGEINT lesson); neighbor lists ride GroupTopK with
    // cosine-then-name tie-breaks decided on raw doubles.
    "q194_item_item_cosine" -> { (s, dir) =>
      import s.implicits._
      val bb = brandBaskets(s, dir)
      val cnt = bb.groupBy($"brand").agg(count(lit(1)).as("cnt"))
      val pairs = brandPairCounts(s, dir)
      val sym = pairs
        .select($"brand_a".as("brand"), $"brand_b".as("nbr"), $"pair_n")
        .unionAll(pairs
          .select($"brand_b".as("brand"), $"brand_a".as("nbr"), $"pair_n"))
      val scored = sym
        .join(broadcast(cnt.select($"brand", $"cnt".as("cnt_self"))), "brand")
        .join(broadcast(cnt.select($"brand".as("nbr"), $"cnt".as("cnt_nbr"))),
          "nbr")
        .withColumn("cosine",
          $"pair_n".cast("double") /
            sqrt(($"cnt_self".cast(dec) * $"cnt_nbr").cast("double")))
      val w = Window.partitionBy($"brand").orderBy($"cosine".desc, $"nbr".asc)
      graft.plans.GroupTopK(scored, Seq($"brand"),
          Seq($"cosine".desc, $"nbr".asc), 5)
        .withColumn("rk", row_number().over(w).cast("long"))
        .select($"brand", $"rk", $"nbr".as("neighbor"), $"pair_n",
          round($"cosine", 6).as("cosine"))
        .orderBy($"brand", $"rk")
    },

    // ------------------------------------------------- repair audit
    // Ledger-repair audit over customer balances: negative balances are
    // treated as sentinel errors to IMPUTE with the segment median of
    // valid balances; values above the segment p99 get CAPPED. This is
    // the audit face (counts + both thresholds); the repaired projection
    // is a stateless CASE over the broadcast 5-row threshold frame
    // (StatsSpec applies it and checks the invariants). Thresholds are
    // interpolated percentiles emitted RAW — identical float expressions
    // in both engines (the q26 convention); no ROUND anywhere, because
    // interpolated midpoints land exactly on decimal ties where engine
    // ROUND semantics diverge (the q164 lesson).
    "q178_repair_audit" -> { (s, dir) =>
      import s.implicits._
      val c = Pin.lazily(t(s, dir, "customer")
        .select($"c_mktsegment", $"c_acctbal"))
      val th = c.filter($"c_acctbal" >= 0)
        .groupBy($"c_mktsegment")
        .agg(expr("percentile(c_acctbal, 0.5D)").as("med"),
          expr("percentile(c_acctbal, 0.99D)").as("p99"))
      c.join(broadcast(th), "c_mktsegment")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(when($"c_acctbal" < 0, 1L).otherwise(0L)).as("n_imputed"),
          sum(when($"c_acctbal" > $"p99", 1L).otherwise(0L)).as("n_capped"),
          max($"med").as("med"), max($"p99").as("p99"))
        .orderBy($"c_mktsegment")
    },

    // --------------------------------------------- sweep-line concurrency
    // Peak concurrent sessions per calendar day — the classic interval
    // sweep-line, distributed. Session intervals come from the SHARED
    // sessionization (q15's exact frame, so the two can never drift);
    // boundaries collapse to a per-millisecond (n_start, n_end) frame —
    // session-boundary granularity, ≪ event granularity — and the one
    // global running sum rides GlobalRank's two-pass prefix machinery,
    // never an unpartitioned data-row window. Concurrency is inclusive
    // ([start, end]): active(ms) = Σ_{m≤ms} starts − Σ_{m<ms} ends
    //                            = prefix(starts − ends) + ends(ms),
    // one prefix sum plus a local term. Peak day/instant selection is
    // two day-granularity aggregates (max, then min-ms at max) — no
    // argmax window, fully deterministic under ties.
    "q219_max_concurrency" -> { (s, dir) =>
      import s.implicits._
      val iv = CoreQueries.sessionized(s, dir)
        .groupBy($"user_id", $"sess_seq")
        .agg(min($"ms").as("sms"), max($"ms").as("ems"))
      val st = iv.groupBy($"sms".as("ms")).agg(count(lit(1)).as("n_start"))
      val en = iv.groupBy($"ems".as("ms")).agg(count(lit(1)).as("n_end"))
      val pts = st.join(en, Seq("ms"), "full_outer")
        .na.fill(0L, Seq("n_start", "n_end"))
      val act = Pin.lazily(GlobalRank.withGlobalPrefixSum(
          pts, Seq($"ms"), $"n_start" - $"n_end", "rk", "nn", "cum_d", "tot")
        .select($"ms", to_date(timestamp_millis($"ms")).as("d"),
          ($"cum_d" + $"n_end").as("active")))
      val peak = act.groupBy($"d").agg(max($"active").as("peak"))
      act.join(broadcast(peak), Seq("d"))
        .filter($"active" === $"peak")
        .groupBy($"d").agg(max($"peak").as("peak"), min($"ms").as("peak_ms"))
        .orderBy($"d")
    },

    // --------------------------------------------------- BFS hop distance
    // Single-source shortest hop distance over the brand co-purchase
    // graph (the q158/q165/q170 edge spine, pair_n ≥ 10, both
    // directions) — frontier-expansion BFS, the Pregel shape: each round
    // is one frontier⋈edges shuffle at edge granularity plus an anti-join
    // against the visited set; rounds are bounded by the graph diameter
    // (cap 6). The driver-side emptiness probe per round is the same
    // convergence pattern as q47's connected components. The fixture
    // graph is brand-granularity, but every per-round operation is a
    // distributed join — the identical plan runs on a billion-node
    // co-occurrence graph, where frontier and visited frames stay
    // node-granularity and edges never replicate.
    "q220_brand_bfs" -> { (s, dir) =>
      import s.implicits._
      val pc = brandPairCounts(s, dir).filter($"pair_n" >= 10)
      val edges = Pin.lazily(pc.select($"brand_a".as("src"), $"brand_b".as("dst"))
        .union(pc.select($"brand_b".as("src"), $"brand_a".as("dst"))))
      var dist = Pin.lazily(Seq(("Brand#1", 0L)).toDF("brand", "dist"))
      var frontier = dist.select($"brand")
      var depth = 0L
      var done = false
      while (!done && depth < 6) {
        val next = Pin.lazily(frontier.join(edges, $"brand" === $"src")
          .select($"dst".as("brand")).distinct()
          .join(dist.select($"brand".as("vb")), $"brand" === $"vb", "left_anti")
          .withColumn("dist", lit(depth + 1L)))
        if (next.isEmpty) done = true
        else {
          dist = Pin.lazily(dist.union(next))
          frontier = next.select($"brand")
          depth += 1
        }
      }
      t(s, dir, "part").select($"p_brand".as("brand")).distinct()
        .join(dist, Seq("brand"), "left_outer")
        .orderBy($"brand")
    },

    // ---------------------------------------------- Shapley attribution
    // Exact Shapley-value channel attribution (Shapley 1953 applied to
    // conversion journeys): channels are the four non-purchase event
    // types; a user's coalition is the SET of channels they touched
    // (bitmask), the characteristic function v(S) is the observed
    // ≥3-purchase conversion rate of users with exactly that set (0 for
    // unobserved sets), and φ_i = Σ_{S∌i} |S|!(n−1−|S|)!/n!·(v(S∪i)−v(S))
    // is computed EXACTLY over the 16-subset control-plane frame.
    // Float discipline: v(S) is held as exact e6 fixed point
    // ((conv·10⁶) div users — truncating integer division, mirroring
    // DuckDB //), weights as 24·w integers, so the Shapley sum is an
    // exact BIGINT in any order; ONE float division at the end (and a
    // −0.0 guard, since channel contributions can be negative). Scale:
    // one user-granularity aggregate, then everything is ≤16-row algebra.
    "q221_shapley_attribution" -> { (s, dir) =>
      import s.implicits._
      val per = events(s, dir).groupBy($"user_id").agg(
          max(when($"event_type" === "view", 1L).otherwise(0L)).as("bv"),
          max(when($"event_type" === "click", 1L).otherwise(0L)).as("bc"),
          max(when($"event_type" === "signup", 1L).otherwise(0L)).as("bs"),
          max(when($"event_type" === "error", 1L).otherwise(0L)).as("be"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("np"))
        .select(($"bv" + $"bc" * 2 + $"bs" * 4 + $"be" * 8).as("mask"),
          when($"np" >= 3, 1L).otherwise(0L).as("conv"))
      val obs = per.groupBy($"mask")
        .agg(count(lit(1)).as("n_u"), sum($"conv").as("n_c"))
      val v6 = broadcast(s.range(16).select($"id".as("m"))
        .join(obs, $"m" === $"mask", "left_outer")
        .select($"m",
          coalesce(expr("(n_c * 1000000) div n_u"), lit(0L)).as("v6"),
          coalesce($"n_u", lit(0L)).as("n_u"),
          coalesce($"n_c", lit(0L)).as("n_c")))
      val ch = Seq(("view", 1L), ("click", 2L), ("signup", 4L), ("error", 8L))
        .toDF("channel", "bit")
      val terms = ch.crossJoin(v6.select($"m", $"v6"))
        .filter($"m".bitwiseAND($"bit") === 0)
        .withColumn("ssz", $"m".bitwiseAND(lit(1L)) +
          shiftright($"m", 1).bitwiseAND(lit(1L)) +
          shiftright($"m", 2).bitwiseAND(lit(1L)) +
          shiftright($"m", 3).bitwiseAND(lit(1L)))
        .withColumn("w24", when($"ssz" === 0, 6L).when($"ssz" === 3, 6L)
          .otherwise(2L))
        .join(v6.select($"m".as("msi"), $"v6".as("v6_si")),
          $"msi" === $"m" + $"bit")
      val touch = ch.crossJoin(v6)
        .filter($"m".bitwiseAND($"bit") =!= 0)
        .groupBy($"channel")
        .agg(sum($"n_u").as("n_users"), sum($"n_c").as("n_conv"))
      terms.groupBy($"channel", $"bit")
        .agg(sum($"w24" * ($"v6_si" - $"v6")).as("phi24e6"))
        .join(touch, Seq("channel"))
        .select($"channel", $"n_users", $"n_conv",
          (round($"phi24e6".cast("double") / lit(24000000.0), 6) + lit(0d))
            .as("shapley"))
        .orderBy($"channel")
    },

    // ----------------------------------------------- mutual information
    // Mutual information between event type and day-of-week — the
    // information-theoretic complement to q160's chi-square (chi-square
    // detects dependence; MI quantifies it in nats). q160's per-cell
    // discipline: output each cell's contribution (c/N)·ln(c·N/(c_x·c_y))
    // rather than a float SUM whose accumulation order differs between
    // engines. Exact integer counts throughout; the count products go
    // DECIMAL→double (c_x·c_y overflows LONG at ~3·10⁹ rows per
    // marginal); ONE mirrored float expression per cell with the −0.0
    // guard (independent cells contribute exactly 0). One fact scan;
    // marginals re-aggregate the pinned ≤35-cell frame.
    "q222_mutual_information" -> { (s, dir) =>
      import s.implicits._
      val cells = Pin.lazily(events(s, dir)
        .groupBy($"event_type", weekday(to_date($"ts")).as("dow"))
        .agg(count(lit(1)).as("obs")))
      val mx = cells.groupBy($"event_type").agg(sum($"obs").as("n_x"))
      val my = cells.groupBy($"dow").agg(sum($"obs").as("n_y"))
      val nn = cells.agg(sum($"obs").as("n_tot"))
      cells.join(broadcast(mx), "event_type")
        .join(broadcast(my), "dow")
        .crossJoin(broadcast(nn))
        .select($"event_type", $"dow".cast("long").as("dow"), $"obs",
          $"n_x", $"n_y",
          (round(($"obs".cast("double") / $"n_tot") *
            log(($"obs".cast(dec) * $"n_tot").cast("double") /
              ($"n_x".cast(dec) * $"n_y").cast("double")), 6) + lit(0d))
            .as("mi_term"))
        .orderBy($"event_type", $"dow")
    },

    // ------------------------------------------------- Pareto frontier
    // Skyline query over parts (minimize retail price, maximize size):
    // a point is dominated iff some part is ≤ price and ≥ size with one
    // strict. The scale-true plan is O(n log n), never the all-pairs
    // dominance test: collapse to the distinct (price, size) frame, then
    // per price the max size, then ONE exclusive global prefix max over
    // prices ([[GlobalRank.withGlobalPrefixMax]] — the two-pass
    // distributed cummax, no unpartitioned data-row window). A pair
    // survives iff its size beats every strictly-cheaper price's best
    // size AND is its own price's best. The DuckDB oracle mirrors the
    // same prefix-max form (their window over the price-granularity
    // frame), proving the sweep equals the dominance definition.
    "q223_pareto_frontier" -> { (s, dir) =>
      import s.implicits._
      val pp = Pin.lazily(t(s, dir, "part")
        .groupBy(cents($"p_retailprice").as("price_c"),
          $"p_size".cast("long").as("p_size"))
        .agg(count(lit(1)).as("n_parts")))
      val pm = pp.groupBy($"price_c").agg(max($"p_size").as("pmax"))
      val cm = GlobalRank.withGlobalPrefixMax(
        pm, Seq($"price_c"), $"pmax", "prk", "pn", "cmax_lt")
      pp.join(cm.select($"price_c", $"pmax", $"cmax_lt"), "price_c")
        .filter(($"cmax_lt".isNull || $"cmax_lt" < $"p_size") &&
          $"p_size" === $"pmax")
        .select($"price_c", $"p_size", $"n_parts")
        .orderBy($"price_c")
    },

    // ---------------------------------------------- Neyman allocation
    // Optimal stratified-sample allocation (Neyman 1934): allocate a
    // fixed budget n=1000 across market-segment strata ∝ N_h·S_h, so
    // high-variance strata get proportionally more samples than
    // proportional allocation would give. Float discipline: S_h comes
    // from exact DECIMAL moments (Σv and Σv² in cents — Σv² overflows
    // LONG at per-customer spends ~10⁹ cents) via ONE mirrored
    // sqrt(num/den); then S_h is quantized to e2 fixed point with
    // floor(sd·100) — floor of the identical double is engine-safe where
    // a float SUM across strata would not be — making N_h·sd_e2 and its
    // stratum total EXACT BIGINTs, so shares and the integer allocation
    // ((n·w_h) div W, truncating like DuckDB //) are order-free.
    "q224_neyman_allocation" -> { (s, dir) =>
      import s.implicits._
      val spend = t(s, dir, "orders")
        .groupBy($"o_custkey").agg(sum(cents($"o_totalprice")).as("v"))
      val strata = Pin.lazily(t(s, dir, "customer")
        .join(spend, $"c_custkey" === $"o_custkey", "left_outer")
        .select($"c_mktsegment", coalesce($"v", lit(0L)).as("v"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_h"),
          sum($"v".cast(dec)).as("sv"),
          sum($"v".cast(dec) * $"v").as("sv2"))
        .filter($"n_h" >= 2)
        .select($"c_mktsegment", $"n_h",
          floor(sqrt(
            (($"n_h" * $"sv2" - $"sv" * $"sv").cast("double")) /
              (($"n_h".cast(dec) * ($"n_h" - 1)).cast("double"))) * 100.0)
            .cast("long").as("sd_e2"))
        .withColumn("nshs", $"n_h" * $"sd_e2"))
      val tot = strata.agg(sum($"nshs").as("w_tot"))
      strata.crossJoin(broadcast(tot))
        .select($"c_mktsegment", $"n_h",
          round($"sd_e2".cast("double") / 100.0, 6).as("sd"),
          round($"nshs".cast("double") / $"w_tot", 6).as("share"),
          expr("(1000 * nshs) div w_tot").as("alloc_n"))
        .orderBy($"c_mktsegment")
    },

    // ------------------------------------------------------ BM25 ranking
    // Okapi BM25 retrieval (Robertson–Spärck Jones) for a fixed 3-term
    // query over the document corpus — the ranking face of the retrieval
    // family (q50 TF-IDF features, q189 RRF fusion): per term,
    // idf·tf·(k₁+1)/(tf + k₁·(1−b+b·len/avgdl)) with k₁=1.2, b=0.75.
    // Exact ingredients (tf, df, len, Σlen, N) are integer aggregates;
    // per-term scores are mirrored float expressions; the 3-term total is
    // summed in FIXED LITERAL ORDER (s_spark + s_join + s_window) via a
    // pivot to columns — a float SUM over term rows would accumulate in
    // engine-dependent order. Top-10 ships via TakeOrderedAndProject on
    // the raw double (round only on output). Scale: tf frame is
    // (doc × query-term) granularity; df/avgdl are broadcast scalars.
    "q225_bm25" -> { (s, dir) =>
      import s.implicits._
      val terms = Seq("spark", "join", "window")
      val docs = Pin.lazily(t(s, dir, "documents")
        .select($"doc_id", split(lower($"text"), " ").as("ws"))
        .select($"doc_id", size($"ws").cast("long").as("dl"), $"ws"))
      val tok = docs.select($"doc_id", explode($"ws").as("token"))
        .filter($"token".isin(terms: _*))
      val stats = tok.groupBy($"token").agg(countDistinct($"doc_id").as("df"))
      val corpus = docs.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
      val perTerm = tok.groupBy($"doc_id", $"token")
        .agg(count(lit(1)).as("tf"))
        .join(broadcast(stats), "token")
        .join(docs.select($"doc_id", $"dl"), "doc_id")
        .crossJoin(broadcast(corpus))
        .select($"doc_id", $"token", $"tf",
          (log(($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5))) *
            $"tf".cast("double") * (lit(1.2) + lit(1.0)) /
            ($"tf".cast("double") + lit(1.2) * (lit(1.0) - lit(0.75) +
              lit(0.75) * $"dl".cast("double") * $"n_docs" / $"sum_dl")))
            .as("sc"))
      val piv = perTerm.groupBy($"doc_id")
        .pivot("token", terms)
        .agg(first($"sc").as("sc"), first($"tf").as("tf"))
      docs.select($"doc_id", $"dl")
        .join(piv, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"dl",
          coalesce(col("spark_tf"), lit(0L)).as("tf_spark"),
          coalesce(col("join_tf"), lit(0L)).as("tf_join"),
          coalesce(col("window_tf"), lit(0L)).as("tf_window"),
          (coalesce(col("spark_sc"), lit(0.0)) +
            coalesce(col("join_sc"), lit(0.0)) +
            coalesce(col("window_sc"), lit(0.0))).as("score_raw"))
        .orderBy($"score_raw".desc, $"doc_id").limit(10)
        .select($"doc_id", $"dl", $"tf_spark", $"tf_join", $"tf_window",
          round($"score_raw", 6).as("score"))
    },

    // ------------------------------------------ Jaro–Winkler ER blocking
    // Blocked entity resolution over part names with the native
    // [[graft.functions.JaroWinkler]] codegen expression (the
    // record-linkage scorer Spark lacks; its semantics are pinned
    // bit-for-bit to DuckDB's jaro_winkler_similarity, so the raw-double
    // ≥0.85 threshold cannot flip rows between engines). The classic
    // blocking shape: collapse to NAME granularity first (names ≪ rows —
    // the entity-resolution working set), block on the first name token,
    // and score only within-block pairs via the block equi-join — never
    // an all-pairs cross product. Complements q166's sorted-neighborhood
    // (window-based) and q84's edit-distance verify (Levenshtein): this
    // is the third classic candidate-generation strategy with the
    // third classic scorer. Hot blocks are the known blocking caveat —
    // profile with q87 and salt (ops/Salting) or widen the key if one
    // block dominates.
    "q226_jw_blocking" -> { (s, dir) =>
      import s.implicits._
      graft.functions.StringSimilarity.register(s)
      val names = Pin.lazily(t(s, dir, "part")
        .groupBy($"p_name").agg(count(lit(1)).as("n_parts"))
        .withColumn("blk", split($"p_name", " ").getItem(0)))
      val a = names.select($"blk", $"p_name".as("name_a"), $"n_parts".as("parts_a"))
      val b = names.select($"blk", $"p_name".as("name_b"), $"n_parts".as("parts_b"))
      a.join(b, Seq("blk"))
        .filter($"name_a" < $"name_b")
        .withColumn("jw", graft.functions.StringSimilarity
          .jaroWinkler($"name_a", $"name_b"))
        .filter($"jw" >= 0.85)
        .select($"blk", $"name_a", $"name_b", $"parts_a", $"parts_b",
          round($"jw", 6).as("jw"))
        .orderBy($"blk", $"name_a", $"name_b")
    },

    // ------------------------------------------------- compaction plan
    // Small-file compaction planning — the maintenance operator behind
    // every partitioned warehouse (and exactly what Spark's own file
    // coalescing does at read time): pack per-day event partitions, in
    // day order, into output files of ~target rows via next-fit on the
    // EXCLUSIVE prefix sum: file_id = (Σ rows before this day) div
    // target. Pure integer arithmetic over the day-granularity frame;
    // the one global cumsum is GlobalRank's two-pass prefix — at any
    // corpus scale the plan frame is bounded by distinct partition keys,
    // never rows. A single day larger than target stays one (oversized)
    // file — next-fit never splits a partition, matching the "compact
    // without rewriting hot partitions" contract.
    "q227_compaction_plan" -> { (s, dir) =>
      import s.implicits._
      val target = 500L
      val days = events(s, dir)
        .groupBy(to_date($"ts").as("d"))
        .agg(count(lit(1)).as("n_rows"))
      GlobalRank.withGlobalPrefixSum(
          days, Seq($"d"), $"n_rows", "rk", "nd", "cum", "tot")
        .withColumn("file_id", expr(s"(cum - n_rows) div $target"))
        .groupBy($"file_id")
        .agg(count(lit(1)).as("n_days"), min($"d").as("day_min"),
          max($"d").as("day_max"), sum($"n_rows").as("n_rows"))
        .orderBy($"file_id")
    },

    // ------------------------------------------ dictionary-encoding advisor
    // Storage-layout advisor: for each low-cardinality string column,
    // estimate the dictionary-encoding win — plain bytes = Σ len(value)
    // vs dict bytes = Σ len(distinct values) + n·⌈log₂ ndv⌉/8. The bit
    // width comes from length(bin(ndv−1)) — INTEGER string length of the
    // binary representation, not a float log whose ceil could sit on a
    // power-of-two boundary. Per column: one full aggregate + one
    // distinct aggregate, unioned at column granularity (5 rows out).
    // One float division (the ratio) per row, mirrored.
    "q228_dict_encoding_advisor" -> { (s, dir) =>
      import s.implicits._
      def advise(table: String, column: String): DataFrame = {
        val src = t(s, dir, table).select(col(column).as("v"))
        val full = src.agg(count(lit(1)).as("n"),
          sum(length($"v")).cast("long").as("plain_bytes"))
        val dict = src.distinct().agg(count(lit(1)).as("ndv"),
          sum(length($"v")).cast("long").as("dict_values_bytes"))
        full.crossJoin(dict)
          .select(lit(table).as("tbl"), lit(column).as("col_name"),
            $"n", $"ndv", $"plain_bytes", $"dict_values_bytes",
            when($"ndv" <= 1, lit(1L))
              .otherwise(length(bin($"ndv" - 1)).cast("long")).as("code_bits"))
          .withColumn("dict_bytes",
            $"dict_values_bytes" + expr("(n * code_bits + 7) div 8"))
          .select($"tbl", $"col_name", $"n", $"ndv", $"plain_bytes",
            $"code_bits", $"dict_bytes",
            round($"dict_bytes".cast("double") / $"plain_bytes", 6)
              .as("size_ratio"))
      }
      advise("orders", "o_orderpriority")
        .union(advise("orders", "o_orderstatus"))
        .union(advise("customer", "c_mktsegment"))
        .union(advise("part", "p_brand"))
        .union(advise("part", "p_type"))
        .orderBy($"tbl", $"col_name")
    },

    // ------------------------------------------ partition-layout advisor
    // Which partition key should a 100 TB events table use? For each
    // candidate (event_type, event day, a 64-way user-hash bucket):
    // distinct partition count, rows in the largest partition, and the
    // skew ratio max·ndv/n (1 = perfectly balanced). The q87 join-skew
    // profile generalized to LAYOUT choice: high ndv with low skew
    // prunes well and writes balanced files; low ndv (event_type) means
    // giant partitions; hash buckets trade pruning for balance. One
    // aggregate per candidate at partition-key granularity, unioned into
    // a 3-row advisory. Exact integers + one mirrored float each.
    "q229_partition_layout_advisor" -> { (s, dir) =>
      import s.implicits._
      val ev = Pin.lazily(events(s, dir)
        .select($"event_type", to_date($"ts").as("d"), $"user_id"))
      def profile(name: String, key: Column): DataFrame =
        ev.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
          .agg(count(lit(1)).as("n_parts"), sum($"cnt").as("n_rows"),
            max($"cnt").as("max_part"))
          .select(lit(name).as("candidate"), $"n_parts", $"n_rows", $"max_part",
            round(($"max_part".cast(dec) * $"n_parts").cast("double") /
              $"n_rows".cast("double"), 6).as("skew_ratio"))
      profile("event_type", $"event_type")
        .union(profile("event_day", $"d".cast("string")))
        .union(profile("user_bucket64", pmod($"user_id", lit(64L)).cast("string")))
        .orderBy($"candidate")
    },

    // ------------------------------------------ isotonic calibration (PAV)
    // Pool-adjacent-violators isotonic regression of the return rate
    // against quantity bins — the calibration step q97's binned reliability
    // readout stops short of: the LEAST-SQUARES monotone fit, via the
    // closed minimax form iso(k) = max_{i≤k} min_{j≥k} mean(y over bins
    // i..j), which equals the PAV solution exactly (Ayer et al. 1955) and
    // needs no sequential pooling loop. Scale shape: ONE data-wide
    // aggregate to B=10 bin rows; the interval means and the minimax are
    // B³ work over broadcast control-plane frames — corpus size never
    // appears after the first groupBy. Interval means are single float
    // divisions of exact BIGINT interval sums; min/max over identical
    // doubles are engine-order-free.
    "q230_isotonic_calibration" -> { (s, dir) =>
      import s.implicits._
      val b = Pin.lazily(t(s, dir, "lineitem")
        .select(expr("(cast(l_quantity as bigint) - 1) div 5").as("bin"),
          when($"l_returnflag" === "R", 1L).otherwise(0L).as("y"))
        .groupBy($"bin").agg(sum($"y").as("pos"), count(lit(1)).as("n")))
      val iv = b.select($"bin".as("i"))
        .crossJoin(broadcast(b.select($"bin".as("j"))))
        .filter($"i" <= $"j")
        .join(broadcast(b), $"bin".between($"i", $"j"))
        .groupBy($"i", $"j")
        .agg((sum($"pos").cast("double") / sum($"n").cast("double")).as("mean"))
      val iso = b.select($"bin".as("k"))
        .join(broadcast(iv), $"i" <= $"k" && $"k" <= $"j")
        .groupBy($"k", $"i").agg(min($"mean").as("mn"))
        .groupBy($"k").agg(max($"mn").as("iso_rate"))
      // Rates ride RAW (unrounded) — a single IEEE division of exact
      // BIGINT sums is bit-identical cross-engine, while ROUND(x, 6)
      // half-way resolution drifted across DuckDB versions (r7 driver
      // red despite exact local match; the q26/q164 convention).
      b.join(broadcast(iso), $"bin" === $"k")
        .select($"bin", $"n", $"pos",
          ($"pos".cast("double") / $"n".cast("double")).as("raw_rate"),
          ($"iso_rate" + lit(0d)).as("iso_rate"))
        .orderBy($"bin")
    },

    // ------------------------------------- empirical-Bayes rate shrinkage
    // Beta-binomial shrinkage of per-brand return rates toward the grand
    // mean — the small-sample fix for ranking segments by a rate (a brand
    // with 3/5 returns must not outrank one with 400/1000): method-of-
    // moments prior strength s = m(1−m)/v − 1 from the brand-level mean
    // and variance of raw rates, then shrunk = (x + m·s)/(n + s). The
    // James-Stein-flavored complement to q214's m-estimate target encoding
    // (fixed smoothing m=100 there; the prior strength here is ESTIMATED
    // from the between-brand spread). One fact-wide aggregate to ≤25
    // brand rows; the prior is a 1-row fold over those, broadcast back.
    // Degenerate v=0 (all brands identical) yields NULL shrinkage rather
    // than a fabricated prior.
    "q231_eb_shrinkage" -> { (s, dir) =>
      import s.implicits._
      // Prior moments ride e12 fixed-point rates (pq = x·10¹² div n, an
      // exact integer), so Σpq and Σpq² are order-free exact sums — a
      // float Σp over brand rows would be partition-order-dependent
      // (review finding). The 10⁻¹² quantization is 6 orders below the
      // ROUND(…,6) output grain. s ≤ 0 (between-brand variance at or
      // above m(1−m) — no valid beta prior exists there) degenerates to
      // NULL exactly like v = 0, instead of anti-shrinking rates out of
      // [0,1] (review finding).
      val br = Pin.lazily(t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("x"),
          count(lit(1)).as("n"))
        .withColumn("p", $"x".cast("double") / $"n".cast("double"))
        // x rides DECIMAL(38,0) through the 1e12 multiply: a LONG
        // multiply wraps silently in Spark past x ≈ 9.2e6 (sf ≳ 150)
        // where DuckDB's BIGINT would raise — the q158 silent-wrap-vs-
        // raise divergence (review finding). Oracle mirrors via HUGEINT.
        .withColumn("pq", expr(
          "cast((cast(x as decimal(38,0)) * 1000000000000) div n as bigint)")))
      val pri = br
        .agg(count(lit(1)).cast("double").as("k"),
          sum($"pq").as("sq"), sum($"pq".cast(dec) * $"pq").as("sqq"))
        .select($"k", ($"sq".cast("double") / lit(1e12)).as("sqd"),
          ($"sqq".cast("double") / lit(1e24)).as("sqqd"))
        .select(($"sqd" / $"k").as("m"),
          (($"sqqd" - $"sqd" * $"sqd" / $"k") / $"k").as("v"))
        .select($"m", $"v",
          when($"v" > 0 && $"m" * (lit(1.0) - $"m") / $"v" - lit(1.0) > 0,
            $"m" * (lit(1.0) - $"m") / $"v" - lit(1.0)).as("s"))
      // Rates and prior strength emit RAW: every value is a fixed-order
      // IEEE chain over exact integer sums (bit-identical cross-engine),
      // whereas ROUND(…,6) tie resolution is DuckDB-version-sensitive
      // (r7 driver red; q26/q164 convention).
      br.crossJoin(broadcast(pri))
        .select($"p_brand", $"n", $"x",
          ($"p" + lit(0d)).as("raw_rate"),
          ($"s" + lit(0d)).as("prior_strength"),
          (($"x".cast("double") + $"m" * $"s") /
            ($"n".cast("double") + $"s")).as("shrunk_rate"))
        .orderBy($"p_brand")
    },

    // ---------------------------------------------- GESD outlier rounds
    // Generalized extreme studentized deviate on daily revenue — the
    // masking-proof upgrade to q98's single-pass z-scan: remove the most
    // extreme day, RECOMPUTE mean/sd without it, repeat (one giant outlier
    // inflates sd enough to hide a second; q98 would miss it, round 2
    // here sees it). Four rounds over the calendar-bounded day frame,
    // driver-side like q211's Holt recursion (the frame is control-plane
    // at any corpus size; only the one orders-wide aggregate inside
    // dailyRevenueCents touches data). Moments are exact BigInt sums
    // (Σx² at 10⁹-cents days overflows LONG — both engines carry it in
    // arbitrary precision and round once to double, identically); the
    // statistic |x−x̄|/s and its 3σ flag are the mirrored float tail.
    // Fixed threshold, not the t-based λ_i: neither engine ships an
    // inverse-t CDF, and a literal gate keeps the flag engine-mirrored.
    "q232_gesd_outliers" -> { (s, dir) =>
      import s.implicits._
      val day = dailyRevenueCents(s, dir).orderBy($"d").collect()
        .map(r => (r.getDate(0), r.getLong(1)))
      var remaining = day.toVector
      val out = Vector.newBuilder[(Int, java.sql.Date, Long, Double, Boolean)]
      for (rnd <- 1 to GesdRounds) {
        val n = remaining.size.toDouble
        val sD = remaining.iterator.map(x => BigInt(x._2)).sum.toDouble
        val qD = remaining.iterator.map(x => BigInt(x._2) * BigInt(x._2))
          .sum.toDouble
        val mean = sD / n
        val sd = math.sqrt((qD - sD * sD / n) / (n - 1.0))
        val (bd, bc) = remaining
          .minBy { case (d, c) => (-math.abs(c.toDouble - mean), d.getTime) }
        val rstat = math.abs(bc.toDouble - mean) / sd
        out += ((rnd, bd, bc, rstat, rstat > GesdThreshold.toDouble))
        remaining = remaining.filterNot(_._1 == bd)
      }
      s.createDataFrame(out.result())
        .toDF("round_i", "day", "cents", "rs", "flag")
        .select($"round_i", $"day", $"cents",
          (round($"rs", 6) + lit(0d)).as("r_stat"),
          $"flag".as("is_outlier"))
        .orderBy($"round_i")
    },

    // ------------------------------------------- split-conformal interval
    // Distribution-free prediction interval for order value — the
    // uncertainty wrapper q181's point classifier and q184's backtest
    // lack: a THREE-way key split (train fits the per-priority mean
    // predictor; calibration supplies residuals; test audits coverage —
    // conformal's exchangeability argument needs the predictor
    // independent of BOTH scored halves, so fitting on the calibration
    // half itself would void the guarantee; review finding), with q̂ =
    // the ⌈(1−α)(n+1)⌉-th SMALLEST calibration residual (the exact order
    // statistic conformal requires — an interpolated percentile would
    // void the finite-sample guarantee). Rank selection rides the two-
    // pass GlobalRank —
    // no global window touches data rows; the 5-row predictor and the
    // 1-row (n, k, q̂) frame broadcast onto the test scan. Residuals are
    // |exact-cents − mean| with the mean a single float division, so both
    // engines rank identical doubles; q̂ is emitted RAW (the q26
    // convention).
    "q233_conformal_interval" -> { (s, dir) =>
      import s.implicits._
      val o = t(s, dir, "orders").select($"o_orderkey",
        $"o_orderpriority".as("prio"), cents($"o_totalprice").as("c"))
      val trn = o.filter($"o_orderkey" % 3 === 0)
      val cal = o.filter($"o_orderkey" % 3 === 1)
      val tst = o.filter($"o_orderkey" % 3 === 2)
      val preds = Pin.lazily(trn.groupBy($"prio")
        .agg(sum($"c").as("sc"), count(lit(1)).as("nc"))
        .select($"prio",
          ($"sc".cast("double") / $"nc".cast("double")).as("yhat")))
      val res = cal.join(broadcast(preds), "prio")
        .select(abs($"c".cast("double") - $"yhat").as("r"))
      val nk = res.agg(count(lit(1)).as("n_cal"))
        .select($"n_cal",
          least(ceil((lit(1.0) - lit(ConformalAlpha.toDouble)) *
            ($"n_cal" + 1).cast("double")), $"n_cal").as("kk"))
      val qhat = GlobalRank.withGlobalRank(res, Seq($"r".asc), "rk", "np")
        .join(broadcast(nk), $"rk" === $"kk")
        .agg(max($"n_cal").as("n_cal"), max($"kk").as("k_rank"),
          max($"r").as("qhat"))
      tst.join(broadcast(preds), "prio")
        .crossJoin(broadcast(qhat))
        .agg(max($"n_cal").as("n_cal"), max($"k_rank").as("k_rank"),
          max($"qhat").as("qhat_cents"), count(lit(1)).as("n_test"),
          sum(when(abs($"c".cast("double") - $"yhat") <= $"qhat", 1L)
            .otherwise(0L)).as("n_covered"))
        // coverage emits RAW — single division of exact counts is
        // bit-identical cross-engine; ROUND(…,6) was DuckDB-version-
        // sensitive (r7 driver red; q26/q164 convention).
        .select($"n_cal", $"k_rank", $"qhat_cents", $"n_test", $"n_covered",
          ($"n_covered".cast("double") / $"n_test".cast("double"))
            .as("coverage"))
        // empty test half ⇒ zero rows, and an empty CALIBRATION half
        // (all-NULL global-agg row surviving the crossJoin) must vanish
        // too — the oracle's join-based qh CTE yields zero rows in both
        // directions (review findings; see q244)
        .filter($"n_test" > 0 && $"n_cal".isNotNull)
    },

    // ------------------------------------------ tombstone cascade audit
    // Right-to-be-forgotten impact audit — the deletion-side complement
    // to q77's anonymization and q180's PII scan: given a tombstone set
    // of customers (deterministic md5 sample standing in for the legal
    // request queue), count the rows each table would lose under
    // referential cascade (customer → orders → lineitem; events by
    // user key). Scale shape: the tombstone frame is request-queue-sized
    // — broadcast semi/left joins against each fact scan, never a
    // shuffle of the facts; the order-key cascade frame grows with the
    // tombstoned customers' order count and stays broadcastable at any
    // plausible deletion-queue size (if a batch ever outgrew that, the
    // same plan runs as a shuffle semi-join under AQE unchanged). Counts
    // are exact; pct is the one mirrored division.
    "q234_tombstone_cascade" -> { (s, dir) =>
      import s.implicits._
      val tomb = Pin.lazily(t(s, dir, "customer")
        .filter(substring(md5($"c_custkey".cast("string")), 1, 1) === "0")
        .select($"c_custkey".as("k")))
      val tombOrders = Pin.lazily(t(s, dir, "orders")
        .join(broadcast(tomb), $"o_custkey" === $"k")
        .select($"o_orderkey".as("tok")))
      def audit(name: String, df: DataFrame, key: Column,
          tombKeys: DataFrame, tk: Column): DataFrame =
        df.join(broadcast(tombKeys), key === tk, "left")
          .agg(count(lit(1)).as("rows_total"),
            sum(when(tk.isNotNull, 1L).otherwise(0L)).as("rows_tombstoned"))
          // pct emits RAW — one division of exact counts (q26/q164
          // convention; ROUND(…,6) was DuckDB-version-sensitive, r7 red)
          .select(lit(name).as("entity"), $"rows_total", $"rows_tombstoned",
            ($"rows_tombstoned".cast("double") /
              $"rows_total".cast("double")).as("pct"))
      audit("customer", t(s, dir, "customer").select($"c_custkey"),
          $"c_custkey", tomb, $"k")
        .union(audit("orders", t(s, dir, "orders").select($"o_custkey"),
          $"o_custkey", tomb, $"k"))
        .union(audit("lineitem", t(s, dir, "lineitem").select($"l_orderkey"),
          $"l_orderkey", tombOrders, $"tok"))
        .union(audit("events", events(s, dir).select($"user_id"),
          $"user_id", tomb, $"k"))
        .orderBy($"entity")
    },

    // -------------------------------------------- precision/recall sweep
    // Threshold sweep of a document-quality classifier — the operating-
    // point picker between q187's single-number AUC and q186's gains
    // deciles: score = distinct-word ratio (closed-form, so the oracle
    // replays it exactly — the TRAINED q181 scorer stays rows-only by
    // construction), label = English. Scores bucket into 20 fixed-width
    // bins in ONE data-wide aggregate; the ≥-threshold cumulatives are a
    // 20×20 spine self-join over the broadcast control-plane frame — the
    // q230 pattern, no data-row window, no per-threshold re-scan.
    // Precision/recall/F1 are single divisions of exact counts, with the
    // empty-prediction corner pinned to 0 identically in both engines.
    "q235_pr_curve" -> { (s, dir) =>
      import s.implicits._
      val b = Pin.lazily(t(s, dir, "documents")
        .filter($"text".isNotNull)
        .select(split(lower($"text"), " ").as("ws"),
          ($"lang" === "en").cast("long").as("y"))
        .select(least(floor(
            (size(array_distinct($"ws")).cast("double") /
              size($"ws").cast("double")) * 20), lit(19L)).as("bin"), $"y")
        .groupBy($"bin").agg(sum($"y").as("pos"), count(lit(1)).as("n")))
      val tot = b.agg(sum($"pos").as("tot_pos"))
      val cum = b.select($"bin".as("k"))
        .join(broadcast(b), $"bin" >= $"k")
        .groupBy($"k").agg(sum($"pos").as("tp"), sum($"n").as("n_predicted"))
      cum.crossJoin(broadcast(tot))
        .withColumn("p", $"tp".cast("double") / $"n_predicted".cast("double"))
        .withColumn("r", $"tp".cast("double") / $"tot_pos".cast("double"))
        .select($"k".as("bin"), ($"k".cast("double") / lit(20.0)).as("threshold"),
          $"n_predicted", $"tp",
          round($"p", 6).as("prec"), round($"r", 6).as("rec"),
          round(when($"p" + $"r" > 0, lit(2.0) * $"p" * $"r" / ($"p" + $"r"))
            .otherwise(lit(0.0)), 6).as("f1"))
        .orderBy($"bin")
    },

    // ----------------------------------------------- NDCG@5 recsys eval
    // Ranking-quality evaluation of a popularity recommender — the
    // metric layer over q194's item-item model: hold out each customer's
    // LAST order, recommend the 5 brands most sold in the remaining
    // (train) orders, score DCG@5 against the held-out basket and
    // normalize by the ideal DCG for the basket's size. Position weights
    // 1/log₂(p+1) and their prefix sums are shared literal strings
    // (NdcgW/NdcgIdcg — no engine-variant log is evaluated anywhere).
    // Scale: the split is one partitioned window; the model is a brand-
    // granularity aggregate whose top-5 (control data, the KMeans-
    // centroid convention) broadcasts back as a 5-row spine; per-user
    // scoring is one aggregate over the held-out baskets.
    "q236_ndcg_popularity" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
      val ranked = Pin.lazily(t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey",
          row_number().over(w).as("rn")))
      val brandOf = broadcast(t(s, dir, "part")
        .select($"p_partkey", $"p_brand"))
      val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
      val top5 = li
        .join(ranked.filter($"rn" > 1), $"l_orderkey" === $"o_orderkey")
        .join(brandOf, $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"p_brand").limit(NdcgK)
        .collect().map(_.getString(0))
      val spine = broadcast(
        s.createDataFrame(top5.toIndexedSeq.zipWithIndex.map {
          case (br, i) => (br, NdcgW(i).toDouble)
        }).toDF("p_brand", "w"))
      val baskets = li
        .join(ranked.filter($"rn" === 1), $"l_orderkey" === $"o_orderkey")
        .join(brandOf, $"l_partkey" === $"p_partkey")
        .select($"o_custkey".as("cust"), $"p_brand").distinct()
      val idcg = NdcgIdcg.map(_.toDouble)
      val perUser = baskets.join(spine, Seq("p_brand"), "left")
        .groupBy($"cust")
        .agg(count(lit(1)).as("bsz"),
          sum(coalesce($"w", lit(0.0))).as("dcg"))
        .select($"cust", ($"dcg" /
          when($"bsz" >= 5, lit(idcg(4)))
            .when($"bsz" === 4, lit(idcg(3)))
            .when($"bsz" === 3, lit(idcg(2)))
            .when($"bsz" === 2, lit(idcg(1)))
            .otherwise(lit(idcg(0)))).as("ndcg"))
      perUser.agg(count(lit(1)).as("n_users"),
        round(avg($"ndcg"), 6).as("avg_ndcg"),
        round(sum(when($"ndcg" > 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("hit_rate"))
    },

    // ------------------------------------- Adamic–Adar link prediction
    // Link prediction over the brand co-occurrence graph (the
    // q158/q165/q170 spine): for every brand pair NOT currently
    // connected, the Adamic–Adar score Σ_z 1/ln(deg z) over common
    // neighbors z — "which assortment affinities are about to appear".
    // A common neighbor is by construction adjacent to both endpoints,
    // so deg(z) ≥ 2 and ln never vanishes. Scale: the one corpus-scale
    // step is the shared memoized basket self-join (brandPairCounts);
    // the wedge join, degree table, and open-pair anti-join are all
    // ≤|brands|³ control-plane rows. Float cost is one 1/ln per wedge,
    // summed per pair and rounded.
    "q247_adamic_adar" -> { (s, dir) =>
      import s.implicits._
      val nb = brandBaskets(s, dir).agg(countDistinct($"ok").as("n_baskets"))
      // Pinned: e feeds five downstream references (both×2, wedges×2,
      // the anti-join); unpinned, each replays the threshold crossJoin +
      // basket-count aggregate (8 copies in the physical plan).
      val e = Pin.lazily(brandPairCounts(s, dir).crossJoin(broadcast(nb))
        .filter($"pair_n".cast("double") >=
          lit(AaSupportFrac.toDouble) * $"n_baskets".cast("double"))
        .select($"brand_a", $"brand_b"))
      val both = e.select($"brand_a".as("src"), $"brand_b".as("dst"))
        .unionByName(e.select($"brand_b".as("src"), $"brand_a".as("dst")))
      val deg = both.groupBy($"src").agg(count(lit(1)).as("deg"))
        .select($"src".as("z"), $"deg")
      val wedges = both.select($"dst".as("a"), $"src".as("z"))
        .join(both.select($"src".as("zz"), $"dst".as("c")),
          $"z" === $"zz" && $"a" < $"c")
        .select($"a", $"z", $"c")
      val open = wedges.join(e,
        wedges("a") === e("brand_a") && wedges("c") === e("brand_b"),
        "left_anti")
      open.join(deg, "z")
        .groupBy($"a", $"c")
        .agg(count(lit(1)).as("n_common"),
          round(sum(lit(1.0) / log($"deg".cast("double"))), 6).as("aa_score"))
        .select($"a".as("brand_a"), $"c".as("brand_b"), $"n_common", $"aa_score")
        .orderBy($"aa_score".desc, $"brand_a", $"brand_b")
    },

    // ------------------------------------- skip-gram pair extraction
    // Word2vec-style (center, context) training-pair extraction with
    // Mikolov frequency subsampling — the data-prep step that turns a
    // corpus into embedding-training pairs. Keep-probability
    // min(1, √(t/f)) is decided per token INSTANCE by the md5(doc:pos)
    // uniform (deterministic and partition-invariant); surviving tokens
    // pair with surviving neighbors within ±W positions via one
    // (doc, pos+off) equi-join — fan-out bounded at 2W per token, never
    // a per-doc cross join. The unigram frequency table is
    // vocabulary-bounded (broadcasts at any corpus size); pairs below
    // the min_count support floor are dropped, the word2vec convention.
    "q248_skipgram_pairs" -> { (s, dir) =>
      import s.implicits._
      val toks = t(s, dir, "documents").filter($"text".isNotNull)
        .select($"doc_id",
          posexplode(split(lower($"text"), " ")).as(Seq("pos", "tok")))
      val cnt = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum($"c").as("total"))
      val kept = Pin.lazily(toks.join(cnt, "tok").crossJoin(broadcast(tot))
        .withColumn("keep", least(lit(1.0),
          sqrt(lit(SkipgramT.toDouble) * $"total".cast("double") /
            $"c".cast("double"))))
        .withColumn("u",
          conv(substring(md5(concat($"doc_id".cast("string"), lit(":"),
            $"pos".cast("string"))), 1, 8), 16, 10).cast("long")
            .cast("double") / lit(4294967296.0))
        .filter($"u" < $"keep")
        .select($"doc_id", $"pos", $"tok"))
      val offsets = (-SkipgramWindow to SkipgramWindow).filter(_ != 0)
      val ctx = kept
        .withColumn("off", explode(typedLit(offsets)))
        .select($"doc_id", $"tok".as("center"), ($"pos" + $"off").as("cpos"))
      ctx.join(kept.select($"doc_id", $"pos".as("cpos"), $"tok".as("context")),
          Seq("doc_id", "cpos"))
        .groupBy($"center", $"context")
        .agg(count(lit(1)).as("n_pairs"))
        .filter($"n_pairs" >= SkipgramMinCount)
        .orderBy($"n_pairs".desc, $"center", $"context")
    },

    // ------------------------------------- Brier score decomposition
    // Murphy decomposition of a probabilistic classifier's Brier score —
    // Brier, reliability (calibration), resolution, and uncertainty off
    // decile forecast bins — the diagnostic that says WHY a mean squared
    // probability error is what it is. The forecaster is the fixed
    // literal-weight logistic rule over the raw q181 signals (deployed-
    // model constants, so the whole readout is closed-form). One
    // document-wide aggregate to the 10-row bin frame; every term after
    // is control-plane. Approximation note (standard): REL/RES use the
    // bin-mean forecast, so REL − RES + UNC ≈ Brier up to within-bin
    // forecast variance.
    "q249_brier_decomposition" -> { (s, dir) =>
      import s.implicits._
      val ws = split(lower($"text"), " ")
      val f = t(s, dir, "documents").filter($"text".isNotNull)
        .select(($"lang" === "en").cast("double").as("y"),
          (length($"text").cast("double") / size(ws)).as("r1"),
          (size(filter(ws, w => w === "the" || w === "a")).cast("double") /
            size(ws)).as("r2"),
          (size(array_distinct(ws)).cast("double") / size(ws)).as("r3"))
      val scored = f.select($"y",
        (lit(1.0) / (lit(1.0) + exp(-(lit(BrierW0.toDouble) +
          lit(BrierW1.toDouble) * $"r1" + lit(BrierW2.toDouble) * $"r2" +
          lit(BrierW3.toDouble) * $"r3")))).as("p"))
      // p quantizes to e12 fixed-point BEFORE the data-wide aggregate
      // (the q231 pattern): raw float Σp/Σp²/Σpy are partition-order-
      // dependent and not bit-mirrored against DuckDB's summation order
      // (review finding); integer sums are order-free. The 10⁻¹² grain
      // sits 6 orders below the emitted precision. pe² rides
      // DECIMAL(38,0) (HUGEINT in the oracle) — q231's overflow rule.
      val e12 = lit(1000000000000L)
      val qz = scored.select($"y".cast("long").as("yl"),
        least(floor($"p" * BrierBins), lit(BrierBins - 1L)).as("bin"),
        floor($"p" * lit(1e12)).cast("long").as("pe"))
      val bins = qz.groupBy($"bin")
        .agg(count(lit(1)).as("n_k"), sum($"yl").as("sy"),
          sum($"pe".cast(dec)).as("spe"),
          sum($"pe".cast(dec) * $"pe").as("sp2e"),
          sum(when($"yl" === 1L, $"pe").otherwise(0L).cast(dec)).as("spye"))
      val tot = bins.agg(sum($"n_k").as("n"), sum($"sy").as("sy_t"),
        sum($"sp2e").as("sp2_t"), sum($"spye").as("spy_t"))
      val terms = bins.crossJoin(broadcast(tot))
        .select($"bin", $"n", $"sy_t", $"sp2_t", $"spy_t",
          (($"spe" - $"sy".cast(dec) * e12).cast("double") / lit(1e12))
            .as("de"), $"n_k", $"sy")
        .select($"bin", $"n", $"sy_t", $"sp2_t", $"spy_t",
          ($"de" * $"de" / $"n_k".cast("double")).as("rel_term"),
          ($"n_k".cast("double") *
            ($"sy".cast("double") / $"n_k".cast("double") -
              $"sy_t".cast("double") / $"n".cast("double")) *
            ($"sy".cast("double") / $"n_k".cast("double") -
              $"sy_t".cast("double") / $"n".cast("double"))).as("res_term"))
      // Fixed-order 10-term folds (bin 0..9, left-to-right expression
      // tree) — a plain float SUM over the bin frame would be engine-
      // order-dependent. Brier's numerator stays an exact DECIMAL until
      // one final cast. Outputs emit RAW (q26/q164 convention).
      def fold(c: String): Column = (0 until BrierBins)
        .map(k => coalesce(sum(when($"bin" === k, col(c))), lit(0.0)))
        .reduceLeft(_ + _)
      terms.agg(max($"n").as("n_docs"),
          ((max($"sp2_t") - e12.cast(dec) *
              (lit(2L).cast(dec) * max($"spy_t") -
                e12.cast(dec) * max($"sy_t").cast(dec))).cast("double") /
            (max($"n").cast("double") * lit(1e24))).as("brier"),
          (fold("rel_term") / max($"n").cast("double")).as("reliability"),
          (fold("res_term") / max($"n").cast("double")).as("resolution"),
          ((max($"sy_t").cast("double") / max($"n").cast("double")) *
            (lit(1.0) - max($"sy_t").cast("double") /
              max($"n").cast("double"))).as("uncertainty"))
    },

    // ------------------------------------- randomized response release
    // Local-DP prevalence estimation via Warner randomized response —
    // the per-record privacy mechanism to q198's central-DP release:
    // with probability q each event's sensitive bit (value above the
    // threshold) is replaced by a fair coin, and the debiased estimator
    // π̂ = (obs − q/2)/(1 − q) recovers the prevalence. Both coins come
    // from ONE md5(event_id) uniform (u < q enters the lie branch,
    // u < q/2 reports 1 — deterministic, mirrored verbatim; production
    // swaps only the uniform for a secure RNG). One scan, one
    // type-granularity aggregate; true_pi is emitted for the utility
    // audit that a real release would drop.
    "q250_randomized_response" -> { (s, dir) =>
      import s.implicits._
      val q = lit(RrQ.toDouble)
      val ev = events(s, dir)
        .select($"event_id", $"event_type",
          (coalesce($"value", lit(0.0)) > lit(RrValueThr.toDouble))
            .cast("long").as("truth"))
        .withColumn("u",
          conv(substring(md5(concat(lit("rr:"), $"event_id".cast("string"))),
            1, 8), 16, 10).cast("long").cast("double") / lit(4294967296.0))
        .withColumn("report",
          when($"u" < q, when($"u" < q / lit(2.0), 1L).otherwise(0L))
            .otherwise($"truth"))
      val g = ev.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"truth").as("n_true"),
          sum($"report").as("n_reported"))
      val obs = $"n_reported".cast("double") / $"n".cast("double")
      val truePi = $"n_true".cast("double") / $"n".cast("double")
      val piHat = (obs - q / lit(2.0)) / (lit(1.0) - q)
      g.select($"event_type", $"n", $"n_true", $"n_reported",
          round(truePi, 6).as("true_pi"),
          round(obs, 6).as("obs_rate"),
          (round(piHat, 6) + lit(0d)).as("pi_hat"),
          round(abs(piHat - truePi), 6).as("abs_err"))
        .orderBy($"event_type")
    },

    // ------------------------- Johnson–Lindenstrauss distortion audit
    // Rademacher (±1) random projection of the 64-dim embeddings to
    // k = 16 with the measured pairwise distortion on a deterministic id
    // sample — the sizing audit run before committing a corpus to a
    // reduced-dimension index (the JL lemma bounds the ratio's spread;
    // the audit MEASURES it on real data). The ±1 matrix is generated
    // once in Scala and interpolated into both engines as literals, and
    // every dot/distance is the same left-to-right fold, so ratios are
    // bit-identical cross-engine. Scale: projection is a per-row map
    // (k·d multiply-adds, codegen'd — no shuffle); only the audited
    // SAMPLE is self-joined, and the sample is CAP-bounded (stride +
    // id cap → ≤ 2048 vectors, ≤ 2.1M pairs at ANY corpus size — a
    // stride alone would grow the pair count quadratically with the
    // corpus). Fixture vec_ids all sit below the cap, so the output is
    // unchanged at every test SF.
    "q251_jl_distortion" -> { (s, dir) =>
      import s.implicits._
      def sq(c: Column): Column = c * c
      val emb = t(s, dir, "embeddings")
        .filter($"vec_id" % JlSampleMod === 0 && $"vec_id" < JlSampleCap)
        .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
      def proj(e: Column, j: Int): Column =
        (0 until JlD).map(i => e.getItem(i) * lit(JlSigns(j)(i).toDouble))
          .reduce(_ + _)
      val pr = emb.select($"vec_id", $"emb",
        array((0 until JlK).map(j => proj($"emb", j)): _*).as("y"))
      val a = pr.select($"vec_id".as("vec_a"), $"emb".as("ea"), $"y".as("ya"))
      val b = pr.select($"vec_id".as("vec_b"), $"emb".as("eb"), $"y".as("yb"))
      val d2o = (0 until JlD)
        .map(i => sq($"ea".getItem(i) - $"eb".getItem(i))).reduce(_ + _)
      val d2p = (0 until JlK)
        .map(j => sq($"ya".getItem(j) - $"yb".getItem(j))).reduce(_ + _)
      a.join(b, $"vec_a" < $"vec_b")
        .select($"vec_a", $"vec_b",
          round(d2o, 6).as("d2_orig"),
          round(d2p / lit(JlK.toDouble), 6).as("d2_proj_scaled"),
          round((d2p / lit(JlK.toDouble)) / d2o, 6).as("ratio"))
        .orderBy($"vec_a", $"vec_b")
    },

    // ------------------------------- Fellegi–Sunter linkage weights
    // Probabilistic record linkage over the q226 blocking spine, scored
    // the Fellegi–Sunter way: each blocked candidate pair gets an
    // agreement vector over (name-JW≥τ, brand, type, size) and a match
    // weight Σ log₂(m/u) / log₂((1−m)/(1−u)). m comes from fixed priors
    // (the deployed-linker convention); u is ESTIMATED from offset
    // pseudo-pairs (key, key+Δ) — the Splink-style "random pairs are
    // non-matches" estimator — with a 1/(2n) continuity floor so a zero
    // count can't produce ±∞. Scale: blocking bounds candidates by
    // per-block width (two-word keys keep blocks narrow; a hot block is
    // the q60/q87 salting problem); the u frame is ONE row broadcast.
    "q252_fs_linkage" -> { (s, dir) =>
      import s.implicits._
      graft.functions.StringSimilarity.register(s)
      val parts = Pin.lazily(t(s, dir, "part")
        .select($"p_partkey", $"p_name", $"p_brand", $"p_type", $"p_size",
          concat_ws(" ", split_part($"p_name", lit(" "), lit(1)),
            split_part($"p_name", lit(" "), lit(2))).as("blk")))
      def agree(a: String, b: String): Seq[Column] = Seq(
        (graft.functions.StringSimilarity.jaroWinkler(
          col(s"$a.p_name"), col(s"$b.p_name")) >= lit(FsJwThr.toDouble))
          .as("g_name"),
        (col(s"$a.p_brand") === col(s"$b.p_brand")).as("g_brand"),
        (col(s"$a.p_type") === col(s"$b.p_type")).as("g_type"),
        (col(s"$a.p_size") === col(s"$b.p_size")).as("g_size"))
      // spread the STREAM side before the join: the pinned parts frame is
      // one partition, so pair emission + JW otherwise serialize in one
      // task; pre-spreading the narrow input parallelizes the fused
      // join+verify stage with no extra wide exchange
      val rnd = spread(parts).as("a").join(parts.as("b"),
          $"b.p_partkey" === $"a.p_partkey" + FsOffset)
        .select(agree("a", "b"): _*)
      val floorU = lit(1.0) / (lit(2.0) * $"n_u".cast("double"))
      def uCol(g: String): Column =
        least(greatest(col(s"r_$g"), floorU), lit(1.0) - floorU).as(s"u_$g")
      val u = rnd.agg(count(lit(1)).as("n_u"),
          avg($"g_name".cast("double")).as("r_g_name"),
          avg($"g_brand".cast("double")).as("r_g_brand"),
          avg($"g_type".cast("double")).as("r_g_type"),
          avg($"g_size".cast("double")).as("r_g_size"))
        .select($"n_u", uCol("g_name"), uCol("g_brand"), uCol("g_type"),
          uCol("g_size"))
      def w(g: String, m: String): Column = {
        val mv = lit(m.toDouble)
        when(col(g), log2(mv / col(s"u_$g")))
          .otherwise(log2((lit(1.0) - mv) / (lit(1.0) - col(s"u_$g"))))
      }
      // Hot-block salting (r8, the risk this query's r7 comment named):
      // block ids are the two-word name-prefix vocabulary — design-
      // bounded (TPC-H name words), so block SIZES are a control-plane
      // collect like the k-means centroids. Blocks wider than
      // FsHotFactor× the mean fan their pair loop across FsSaltN tasks
      // via the selective-hot-key salted join (ops/Salting); everything
      // else joins with salt 0 and zero replication cost. Multiplicity
      // is preserved exactly, so the result EQUALS the unsalted join —
      // the unchanged DuckDB oracle is the equality gate (q60 pattern).
      // The sizes collect is memoized per (application, dir): without it
      // q252's warm median ran 0.95–1.24× (sf0.1, SCALE.md memo table).
      val hotBlks: Set[Any] = AppCaches.memo(s, dir, "fsHotBlocks") {
        val sizes = parts.groupBy($"blk").agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val meanBlk = sizes.map(_._2).sum.toDouble / math.max(1, sizes.length)
        sizes.filter(_._2 > FsHotFactor * meanBlk).map(_._1).toSet
      }
      def side(sfx: String): DataFrame = parts.select(
        $"p_partkey".as(s"key_$sfx"), $"p_name".as(s"name_$sfx"),
        $"p_brand".as(s"brand_$sfx"), $"p_type".as(s"type_$sfx"),
        $"p_size".as(s"size_$sfx"), $"blk")
      val agreeR: Seq[Column] = Seq(
        (graft.functions.StringSimilarity.jaroWinkler(
          $"name_a", $"name_b") >= lit(FsJwThr.toDouble)).as("g_name"),
        ($"brand_a" === $"brand_b").as("g_brand"),
        ($"type_a" === $"type_b").as("g_type"),
        ($"size_a" === $"size_b").as("g_size"))
      // stream side pre-spread (same fix as rnd): candidate emission and
      // the O(len²) JW verify fuse into the post-join stage, so they run
      // at the configured parallelism instead of the pinned frame's one
      // task (measured 2×2 s single-task stages; a post-join respread
      // only moved the serialization cost into a wide-row exchange)
      val cand = Salting.saltedEquiJoin(spread(side("a")), side("b"), "blk",
          FsSaltN, Some(hotBlks))
        .filter($"key_a" < $"key_b")
        .select(col("key_a") +: col("key_b") +: agreeR: _*)
      cand.crossJoin(broadcast(u))
        .withColumn("mw", w("g_name", FsMName) + w("g_brand", FsMBrand) +
          w("g_type", FsMType) + w("g_size", FsMSize))
        .filter($"mw" >= lit(FsWeightCut.toDouble))
        .select($"key_a", $"key_b", $"g_name", $"g_brand", $"g_type",
          $"g_size", round($"mw", 6).as("match_weight"))
        .orderBy($"match_weight".desc, $"key_a", $"key_b")
    },

    // ------------------------------------------- one-way ANOVA (DOW)
    // One-way ANOVA F-test of order value across day-of-week groups —
    // "does the calendar move the MEAN basket, not just the volume?"
    // (q177 indexes volume; this tests value). All moments (n, Σx, Σx²)
    // are EXACT integer/decimal per-group aggregates; group means and
    // the between/within sums of squares are derived per group from
    // identical exact inputs in both engines, so only the final 7-term
    // float folds wobble (≪ the 1e-6 grain on the RATIO statistics —
    // raw cents² sums are deliberately NOT emitted; at 1e20 magnitude a
    // 6dp round is not cross-engine stable). Weekday is Monday=0 in
    // both engines (Spark weekday(), DuckDB isodow−1 — q177's rule).
    "q253_anova_dow" -> { (s, dir) =>
      import s.implicits._
      val x = cents($"o_totalprice")
      val grp = t(s, dir, "orders")
        .select(weekday($"o_orderdate").as("dow"), x.as("x"))
        .groupBy($"dow")
        .agg(count(lit(1)).as("n_g"), sum($"x".cast(dec)).as("s_g"),
          sum($"x".cast(dec) * $"x").as("q_g"))
      val tot = grp.agg(sum($"n_g").as("n"), sum($"s_g").as("s"),
        count(lit(1)).as("k"))
      val gm = $"s_g".cast("double") / $"n_g".cast("double")
      val tm = $"s".cast("double") / $"n".cast("double")
      grp.crossJoin(broadcast(tot))
        .agg(max($"n").as("n_orders"), max($"k").as("k_groups"),
          sum($"n_g".cast("double") * (gm - tm) * (gm - tm)).as("ssb"),
          sum($"q_g".cast("double") -
            $"s_g".cast("double") * $"s_g".cast("double") /
              $"n_g".cast("double")).as("ssw"))
        .select($"n_orders", $"k_groups",
          round(($"ssb" / ($"k_groups" - 1).cast("double")) /
            ($"ssw" / ($"n_orders" - $"k_groups").cast("double")), 6)
            .as("f_stat"),
          round($"ssb" / ($"ssb" + $"ssw"), 6).as("eta_sq"),
          ((($"ssb" / ($"k_groups" - 1).cast("double")) /
            ($"ssw" / ($"n_orders" - $"k_groups").cast("double"))) >
            lit(AnovaCritF.toDouble)).as("significant"))
    },

    // ------------------------------------- Spearman rank correlation
    // Spearman ρ (tie-averaged ranks) between order value and the
    // customer's account balance, next to Pearson r on the raw cents —
    // the monotone-vs-linear association pair. Ranks are DISTRIBUTED:
    // value-granularity frames ride GlobalRank's prefix sum, and the
    // tie-averaged rank is kept EXACT by doubling (2r̄ = 2·cum − cnt + 1,
    // an integer); all correlation moments are DECIMAL(38,0)-exact with
    // the doubling factor cancelling in ρ, so each coefficient is one
    // mirrored float expression over exact integers. No data-row global
    // window anywhere (the q45/q97 discipline). `rows` feeds three
    // branches unpinned: they share its exchanges by reuse, and even a
    // lazy pin would run the join's stages while the query is built.
    "q254_spearman" -> { (s, dir) =>
      import s.implicits._
      val rows = t(s, dir, "orders")
        .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
        .select(cents($"o_totalprice").as("x"), cents($"c_acctbal").as("y"))
      def doubledRanks(vcol: String): DataFrame = {
        val v = rows.groupBy(col(vcol).as("v")).agg(count(lit(1)).as("cnt"))
        GlobalRank.withGlobalPrefixSum(v, Seq(col("v")), col("cnt"),
            "vrk", "nv", "cum", "ntot")
          .select(col("v").as(vcol),
            (lit(2L) * col("cum") - col("cnt") + lit(1L)).as(s"dr_$vcol"))
      }
      val ranked = rows.join(doubledRanks("x"), "x").join(doubledRanks("y"), "y")
      def corr2(n: Column, sx: Column, sy: Column, sxx: Column, syy: Column,
          sxy: Column): Column =
        ((n * sxy - sx * sy).cast("double") /
          (sqrt((n * sxx - sx * sx).cast("double")) *
            sqrt((n * syy - sy * sy).cast("double"))))
      ranked.agg(count(lit(1)).as("n"),
          sum($"dr_x".cast(dec)).as("srx"), sum($"dr_y".cast(dec)).as("sry"),
          sum($"dr_x".cast(dec) * $"dr_x").as("srxx"),
          sum($"dr_y".cast(dec) * $"dr_y").as("sryy"),
          sum($"dr_x".cast(dec) * $"dr_y").as("srxy"),
          sum($"x".cast(dec)).as("sx"), sum($"y".cast(dec)).as("sy"),
          sum($"x".cast(dec) * $"x").as("sxx"),
          sum($"y".cast(dec) * $"y").as("syy"),
          sum($"x".cast(dec) * $"y").as("sxy"))
        .select($"n",
          round(corr2($"n".cast(dec), $"srx", $"sry", $"srxx", $"sryy",
            $"srxy"), 6).as("rho_spearman"),
          round(corr2($"n".cast(dec), $"sx", $"sy", $"sxx", $"syy",
            $"sxy"), 6).as("r_pearson"))
    },

    // ----------------------- Cochran–Mantel–Haenszel pooled odds ratio
    // Stratified 2×2 association — does a high account balance associate
    // with being a FREQUENT orderer (≥ CmhOrderFloor orders), pooled
    // across nation strata? — the confounder-adjusted complement to
    // q160's marginal chi-square (nation mix differences can fake or
    // mask a marginal association; CMH pools the per-stratum odds). One
    // customer-granularity aggregate + left join + one nation-
    // granularity aggregate; the 2×2 cells are exact longs and the only
    // floats are the per-stratum a·d/n, b·c/n terms (25-row
    // control-plane folds) and the final ratio.
    "q255_cmh_odds" -> { (s, dir) =>
      import s.implicits._
      val frequent = t(s, dir, "orders")
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_o"))
        .filter($"n_o" >= CmhOrderFloor).select($"o_custkey")
      val c = t(s, dir, "customer")
        .join(frequent, $"c_custkey" === $"o_custkey", "left")
        .select($"c_nationkey",
          ($"c_acctbal" > lit(CmhBalThr.toDouble)).cast("long").as("e"),
          $"o_custkey".isNotNull.cast("long").as("o"))
      val strata = c.groupBy($"c_nationkey")
        .agg(sum($"e" * $"o").as("a"),
          sum($"e" * (lit(1L) - $"o")).as("b"),
          sum((lit(1L) - $"e") * $"o").as("cc"),
          sum((lit(1L) - $"e") * (lit(1L) - $"o")).as("d"))
        .withColumn("n", $"a" + $"b" + $"cc" + $"d")
      strata.agg(count(lit(1)).as("n_strata"),
          sum($"a".cast("double") * $"d".cast("double") /
            $"n".cast("double")).as("s_ad"),
          sum($"b".cast("double") * $"cc".cast("double") /
            $"n".cast("double")).as("s_bc"))
        .select($"n_strata",
          round($"s_ad", 6).as("sum_ad_over_n"),
          round($"s_bc", 6).as("sum_bc_over_n"),
          round($"s_ad" / $"s_bc", 6).as("or_cmh"))
    }
  )

  val oracles: Map[String, String] = Map(

    "q158_basket_rules" ->
      """WITH bb AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        |            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM bb),
        |bc AS (SELECT brand, COUNT(*) AS cnt FROM bb GROUP BY brand),
        |pr AS (SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS pair_n
        |       FROM bb a JOIN bb b ON a.ok = b.ok AND a.brand < b.brand
        |       GROUP BY a.brand, b.brand)
        |SELECT pr.brand_a, pr.brand_b, pr.pair_n, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        |  ROUND(pr.pair_n / n.n_baskets, 6) AS support,
        |  ROUND(pr.pair_n / ca.cnt, 6) AS conf_a_b,
        |  ROUND(pr.pair_n / cb.cnt, 6) AS conf_b_a,
        |  ROUND(CAST(CAST(pr.pair_n AS HUGEINT) * n.n_baskets AS DOUBLE) /
        |        CAST(CAST(ca.cnt AS HUGEINT) * cb.cnt AS DOUBLE), 6) AS lift
        |FROM pr JOIN bc ca ON pr.brand_a = ca.brand
        |        JOIN bc cb ON pr.brand_b = cb.brand
        |        CROSS JOIN n
        |WHERE pr.pair_n >= 10
        |ORDER BY pr.brand_a, pr.brand_b""".stripMargin,

    "q159_mann_whitney_u" ->
      """WITH o AS (
        |  SELECT (o_orderpriority = '1-URGENT') AS is_a,
        |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |vv AS (SELECT v, CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS a_n,
        |         COUNT(*) AS t_n
        |       FROM o GROUP BY v),
        |c AS (SELECT v, a_n, t_n,
        |        CAST(COALESCE(SUM(t_n) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_b
        |      FROM vv),
        |agg AS (SELECT CAST(SUM(a_n) AS BIGINT) AS n_a, CAST(SUM(t_n) AS BIGINT) AS n,
        |          CAST(SUM(a_n * (2 * cum_b + t_n + 1)) AS BIGINT) AS r2_a,
        |          CAST(SUM(t_n * t_n * t_n - t_n) AS BIGINT) AS tie_sum
        |        FROM c)
        |SELECT n_a, (n - n_a) AS n_b,
        |  CAST(r2_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a, tie_sum,
        |  ROUND((CAST(CAST(r2_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS DOUBLE)
        |      - CAST(n_a AS DOUBLE) * (n - n_a)) /
        |    (2.0 * SQRT(CAST(n_a AS DOUBLE) * (n - n_a) / 12.0 *
        |      ((n + 1) - CAST(tie_sum AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))))), 6) AS z
        |FROM agg""".stripMargin,

    "q160_chi_square_cells" ->
      """WITH cells AS (
        |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS obs
        |  FROM orders GROUP BY o_orderpriority, o_orderstatus),
        |rt AS (SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS rt
        |       FROM cells GROUP BY o_orderpriority),
        |ct AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS ct
        |       FROM cells GROUP BY o_orderstatus),
        |nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n_tot FROM cells)
        |SELECT c.o_orderpriority, c.o_orderstatus, c.obs,
        |  ROUND(CAST(rt.rt * ct.ct AS DOUBLE) / nn.n_tot, 6) AS expected,
        |  ROUND((c.obs - CAST(rt.rt * ct.ct AS DOUBLE) / nn.n_tot) *
        |        (c.obs - CAST(rt.rt * ct.ct AS DOUBLE) / nn.n_tot) /
        |        (CAST(rt.rt * ct.ct AS DOUBLE) / nn.n_tot), 6) AS contrib
        |FROM cells c JOIN rt USING (o_orderpriority)
        |             JOIN ct USING (o_orderstatus)
        |             CROSS JOIN nn
        |ORDER BY c.o_orderpriority, c.o_orderstatus""".stripMargin,

    "q161_benford_digits" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1)
        |           AS INTEGER) AS digit
        |  FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n_d FROM d GROUP BY digit),
        |nn AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM g)
        |SELECT g.digit, g.n_d,
        |  ROUND(g.n_d / nn.n, 6) AS obs_freq,
        |  ROUND(LOG10(1.0 + 1.0 / g.digit), 6) AS benford_freq,
        |  ROUND(ABS(g.n_d / nn.n - LOG10(1.0 + 1.0 / g.digit)), 6) AS abs_dev
        |FROM g CROSS JOIN nn
        |ORDER BY g.digit""".stripMargin,

    "q162_mad_outliers" ->
      """WITH m AS (
        |  SELECT c_mktsegment, quantile_cont(c_acctbal, 0.5) AS med
        |  FROM customer GROUP BY c_mktsegment),
        |s AS (
        |  SELECT c.c_mktsegment, COUNT(*) AS n, MAX(m.med) AS med,
        |    quantile_cont(abs(c.c_acctbal - m.med), 0.5) AS mad
        |  FROM customer c JOIN m USING (c_mktsegment)
        |  GROUP BY c.c_mktsegment)
        |SELECT c.c_mktsegment, MAX(s.n) AS n, MAX(s.med) AS med, MAX(s.mad) AS mad,
        |  CAST(SUM(CASE WHEN abs(c.c_acctbal - s.med) > 4.4478 * s.mad
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM customer c JOIN s USING (c_mktsegment)
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin,

    "q163_revenue_autocorr" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |p AS (
        |  SELECT l.lag, a.cents AS xa, b.cents AS xb
        |  FROM day a CROSS JOIN range(1, 8) l(lag)
        |  JOIN day b ON b.d = a.d - CAST(l.lag AS INTEGER)),
        |agg AS (
        |  SELECT lag, COUNT(*) AS np,
        |    SUM(CAST(xa AS HUGEINT)) AS sx, SUM(CAST(xb AS HUGEINT)) AS sy,
        |    SUM(CAST(xa AS HUGEINT) * xb) AS sxy,
        |    SUM(CAST(xa AS HUGEINT) * xa) AS sxx,
        |    SUM(CAST(xb AS HUGEINT) * xb) AS syy
        |  FROM p GROUP BY lag)
        |SELECT CAST(lag AS INTEGER) AS lag, np,
        |  ROUND(CAST(np * sxy - sx * sy AS DOUBLE) /
        |    (SQRT(CAST(np * sxx - sx * sx AS DOUBLE)) *
        |     SQRT(CAST(np * syy - sy * sy AS DOUBLE))), 6) AS acf
        |FROM agg ORDER BY lag""".stripMargin,

    "q164_ewma_revenue" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |p AS (
        |  SELECT a.d, a.cents AS rev_cents, b.cents AS bc,
        |    CAST(POWER(2, 20 - o.off) AS BIGINT) AS w
        |  FROM day a CROSS JOIN range(0, 21) o(off)
        |  JOIN day b ON b.d = a.d - CAST(o.off AS INTEGER)),
        |g AS (
        |  SELECT d, rev_cents, SUM(CAST(bc AS HUGEINT) * w) AS num,
        |    CAST(SUM(w) AS BIGINT) AS den
        |  FROM p GROUP BY d, rev_cents)
        |SELECT d, rev_cents, CAST((num * 10000) // den AS BIGINT) AS ewma_cents_e4
        |FROM g ORDER BY d""".stripMargin,

    "q165_brand_pagerank" ->
      """WITH bb AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        |            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |e AS (SELECT a.brand AS src, b.brand AS dst, COUNT(*) AS w
        |      FROM bb a JOIN bb b ON a.ok = b.ok AND a.brand <> b.brand
        |      GROUP BY a.brand, b.brand),
        |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM e GROUP BY src),
        |bs AS (SELECT DISTINCT p_brand AS brand FROM part),
        |nn AS (SELECT COUNT(*) AS nb FROM bs),
        |r0 AS (SELECT brand, 1.0 / nn.nb AS r FROM bs CROSS JOIN nn),
        |c1 AS (SELECT e.dst, SUM((e.w / ow.outw) * r0.r) AS m
        |       FROM e JOIN ow ON ow.src = e.src JOIN r0 ON r0.brand = e.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT bs.brand, 0.15 / nn.nb + 0.85 * COALESCE(c1.m, 0.0) AS r
        |       FROM bs CROSS JOIN nn LEFT JOIN c1 ON c1.dst = bs.brand),
        |c2 AS (SELECT e.dst, SUM((e.w / ow.outw) * r1.r) AS m
        |       FROM e JOIN ow ON ow.src = e.src JOIN r1 ON r1.brand = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT bs.brand, 0.15 / nn.nb + 0.85 * COALESCE(c2.m, 0.0) AS r
        |       FROM bs CROSS JOIN nn LEFT JOIN c2 ON c2.dst = bs.brand),
        |c3 AS (SELECT e.dst, SUM((e.w / ow.outw) * r2.r) AS m
        |       FROM e JOIN ow ON ow.src = e.src JOIN r2 ON r2.brand = e.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT bs.brand, 0.15 / nn.nb + 0.85 * COALESCE(c3.m, 0.0) AS r
        |       FROM bs CROSS JOIN nn LEFT JOIN c3 ON c3.dst = bs.brand)
        |SELECT brand, ROUND(r, 6) AS pagerank FROM r3 ORDER BY brand""".stripMargin,

    "q166_sorted_neighborhood" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 64) AS skey
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (
        |  SELECT doc_id, text,
        |    LEAD(doc_id, 1) OVER w AS n1_id, LEAD(text, 1) OVER w AS n1_tx,
        |    LEAD(doc_id, 2) OVER w AS n2_id, LEAD(text, 2) OVER w AS n2_tx
        |  FROM d WINDOW w AS (PARTITION BY substr(skey, 1, 8) ORDER BY skey, doc_id)),
        |p AS (
        |  SELECT doc_id AS id_x, text AS tx_x, n1_id AS id_y, n1_tx AS tx_y
        |  FROM n WHERE n1_id IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, text, n2_id, n2_tx FROM n WHERE n2_id IS NOT NULL),
        |c AS (
        |  SELECT LEAST(id_x, id_y) AS doc_a, GREATEST(id_x, id_y) AS doc_b,
        |    CASE WHEN id_x < id_y THEN tx_x ELSE tx_y END AS text_a,
        |    CASE WHEN id_x < id_y THEN tx_y ELSE tx_x END AS text_b
        |  FROM p)
        |SELECT doc_a, doc_b, CAST(levenshtein(text_a, text_b) AS BIGINT) AS edit_dist
        |FROM c
        |WHERE ABS(length(text_a) - length(text_b))
        |    <= FLOOR(0.3 * GREATEST(length(text_a), length(text_b)))
        |  AND levenshtein(text_a, text_b)
        |    <= FLOOR(0.3 * GREATEST(length(text_a), length(text_b)))
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q167_session_trigrams" ->
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
         |l AS (
         |  SELECT event_type,
         |    LEAD(event_type, 1) OVER w AS t1, LEAD(event_type, 2) OVER w AS t2
         |  FROM x WINDOW w AS (PARTITION BY user_id, sess_seq ORDER BY ms, event_id))
         |SELECT event_type || '>' || t1 || '>' || t2 AS trigram, COUNT(*) AS n
         |FROM l WHERE t1 IS NOT NULL AND t2 IS NOT NULL
         |GROUP BY trigram
         |ORDER BY n DESC, trigram LIMIT 20""".stripMargin,

    "q168_gini_spend" ->
      """WITH sp AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rk FROM sp),
        |agg AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents,
        |          SUM(CAST(rk AS HUGEINT) * cents) AS s
        |        FROM r)
        |SELECT n, total_cents,
        |  ROUND(2.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * total_cents)
        |        - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        |FROM agg""".stripMargin,

    "q169_revenue_changepoint" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |r AS (
        |  SELECT d,
        |    ROW_NUMBER() OVER (ORDER BY d) AS i,
        |    CAST(SUM(cents) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p,
        |    COUNT(*) OVER () AS nd,
        |    CAST(SUM(cents) OVER () AS BIGINT) AS tot
        |  FROM day)
        |SELECT d, i AS n_left, (nd - i) AS n_right,
        |  CAST((CAST(p AS HUGEINT) * 10000) // i AS BIGINT) AS mean_l_e4,
        |  CAST((CAST(tot - p AS HUGEINT) * 10000) // (nd - i) AS BIGINT) AS mean_r_e4,
        |  SQRT(CAST(i * (nd - i) AS DOUBLE) / nd) *
        |    ABS(CAST(p AS DOUBLE) / i - CAST(tot - p AS DOUBLE) / (nd - i)) AS score
        |FROM r WHERE i >= 7 AND i <= nd - 7
        |ORDER BY score DESC, d LIMIT 1""".stripMargin,

    "q170_brand_triangles" ->
      """WITH bb AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        |            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |e AS (SELECT DISTINCT a.brand AS x, b.brand AS y
        |      FROM bb a JOIN bb b ON a.ok = b.ok AND a.brand < b.brand),
        |tr AS (SELECT e1.x, e1.y, e2.y AS z
        |       FROM e e1 JOIN e e2 ON e2.x = e1.y
        |                 JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |m AS (SELECT x AS tb FROM tr
        |      UNION ALL SELECT y FROM tr
        |      UNION ALL SELECT z FROM tr),
        |bs AS (SELECT DISTINCT p_brand AS brand FROM part)
        |SELECT bs.brand, COUNT(m.tb) AS n_triangles
        |FROM bs LEFT JOIN m ON m.tb = bs.brand
        |GROUP BY bs.brand ORDER BY bs.brand""".stripMargin,

    "q171_llr_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, t[i] AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS t
        |        FROM documents) s,
        |       LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
        |wprev AS (
        |  SELECT doc_id, pos, tok,
        |         LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM toks),
        |bi AS (SELECT prev, tok, COUNT(*) AS k11
        |       FROM wprev WHERE prev IS NOT NULL GROUP BY prev, tok),
        |rf AS (SELECT prev, CAST(SUM(k11) AS BIGINT) AS r_c FROM bi GROUP BY prev),
        |cf AS (SELECT tok, CAST(SUM(k11) AS BIGINT) AS c_c FROM bi GROUP BY tok),
        |nn AS (SELECT CAST(SUM(k11) AS BIGINT) AS n_bi FROM bi),
        |cells AS (
        |  SELECT b.prev, b.tok, b.k11, rf.r_c, cf.c_c, nn.n_bi,
        |    (rf.r_c - b.k11) AS k12, (cf.c_c - b.k11) AS k21,
        |    (nn.n_bi - rf.r_c - cf.c_c + b.k11) AS k22
        |  FROM bi b JOIN rf USING (prev) JOIN cf USING (tok) CROSS JOIN nn
        |  WHERE b.k11 >= 5)
        |SELECT prev, tok, k11 AS c_bi,
        |  ROUND(2.0 * (
        |    (CASE WHEN k11 > 0 THEN CAST(k11 AS DOUBLE) * LN(CAST(k11 AS DOUBLE) * CAST(n_bi AS DOUBLE) /
        |       (CAST(r_c AS DOUBLE) * CAST(c_c AS DOUBLE))) ELSE 0.0 END) +
        |    (CASE WHEN k12 > 0 THEN CAST(k12 AS DOUBLE) * LN(CAST(k12 AS DOUBLE) * CAST(n_bi AS DOUBLE) /
        |       (CAST(r_c AS DOUBLE) * CAST(n_bi - c_c AS DOUBLE))) ELSE 0.0 END) +
        |    (CASE WHEN k21 > 0 THEN CAST(k21 AS DOUBLE) * LN(CAST(k21 AS DOUBLE) * CAST(n_bi AS DOUBLE) /
        |       (CAST(n_bi - r_c AS DOUBLE) * CAST(c_c AS DOUBLE))) ELSE 0.0 END) +
        |    (CASE WHEN k22 > 0 THEN CAST(k22 AS DOUBLE) * LN(CAST(k22 AS DOUBLE) * CAST(n_bi AS DOUBLE) /
        |       (CAST(n_bi - r_c AS DOUBLE) * CAST(n_bi - c_c AS DOUBLE))) ELSE 0.0 END)), 6) AS llr
        |FROM cells
        |ORDER BY prev, tok""".stripMargin,

    "q172_zipf_slope" ->
      """WITH h AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT unnest(regexp_split_to_array(lower(text), ' ')) AS w
        |    FROM documents) s
        |  WHERE len(w) > 0 GROUP BY w),
        |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk FROM h),
        |pts AS (SELECT LN(CAST(rk AS DOUBLE)) AS x, LN(CAST(c AS DOUBLE)) AS y
        |        FROM r WHERE rk <= 200),
        |agg AS (SELECT COUNT(*) AS n_words, SUM(x) AS sx, SUM(y) AS sy,
        |          SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |        FROM pts),
        |fit AS (SELECT n_words, sx, sy,
        |          (n_words * sxy - sx * sy) / (n_words * sxx - sx * sx) AS slope_raw
        |        FROM agg)
        |SELECT n_words, ROUND(slope_raw, 6) AS slope,
        |  ROUND((sy - slope_raw * sx) / n_words, 6) AS intercept
        |FROM fit""".stripMargin,

    "q173_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type AS et, user_id FROM events),
        |cnt AS (SELECT et, COUNT(*) AS n_et FROM tu GROUP BY et),
        |pr AS (SELECT a.et AS type_a, b.et AS type_b, COUNT(*) AS n_both
        |       FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.et < b.et
        |       GROUP BY a.et, b.et)
        |SELECT pr.type_a, pr.type_b, ca.n_et AS n_a, cb.n_et AS n_b, pr.n_both,
        |  ROUND(pr.n_both / (ca.n_et + cb.n_et - pr.n_both), 6) AS jaccard
        |FROM pr JOIN cnt ca ON ca.et = pr.type_a
        |        JOIN cnt cb ON cb.et = pr.type_b
        |ORDER BY pr.type_a, pr.type_b""".stripMargin,

    "q174_manifest_pruned_scan" ->
      """SELECT COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders
        |WHERE o_totalprice >= 50000.0 AND o_totalprice < 100000.0""".stripMargin,

    "q175_kaplan_meier" ->
      """WITH st AS (
        |  SELECT user_id, MIN(epoch_ms(ts)) AS st
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |pt AS (
        |  SELECT e.user_id, MIN(epoch_ms(e.ts)) AS pt
        |  FROM events e JOIN st ON st.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= st.st
        |  GROUP BY e.user_id),
        |mx AS (SELECT MAX(epoch_ms(ts)) AS mx FROM events),
        |u AS (
        |  SELECT CASE WHEN pt.pt IS NOT NULL THEN (pt.pt - st.st) // 86400000
        |              ELSE (mx.mx - st.st) // 86400000 END AS dur,
        |    CASE WHEN pt.pt IS NOT NULL THEN 1 ELSE 0 END AS conv
        |  FROM st LEFT JOIN pt ON pt.user_id = st.user_id CROSS JOIN mx),
        |lt AS (SELECT dur, CAST(SUM(conv) AS BIGINT) AS n_conv,
        |         CAST(SUM(1 - conv) AS BIGINT) AS n_cens
        |       FROM u GROUP BY dur),
        |w AS (SELECT dur, n_conv, n_cens,
        |        (SELECT COUNT(*) FROM u) -
        |          CAST(COALESCE(SUM(n_conv + n_cens) OVER (ORDER BY dur
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |      FROM lt)
        |SELECT dur, n_risk, n_conv, n_cens,
        |  ROUND(PRODUCT(1.0 - CAST(n_conv AS DOUBLE) / n_risk) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS s_km
        |FROM w ORDER BY dur""".stripMargin,

    // Same life table as q175; the cumulative windows add the identical
    // doubles in dur order, matching the driver fold's sequence exactly.
    "q238_nelson_aalen" ->
      """WITH st AS (
        |  SELECT user_id, MIN(epoch_ms(ts)) AS st
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |pt AS (
        |  SELECT e.user_id, MIN(epoch_ms(e.ts)) AS pt
        |  FROM events e JOIN st ON st.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= st.st
        |  GROUP BY e.user_id),
        |mx AS (SELECT MAX(epoch_ms(ts)) AS mx FROM events),
        |u AS (
        |  SELECT CASE WHEN pt.pt IS NOT NULL THEN (pt.pt - st.st) // 86400000
        |              ELSE (mx.mx - st.st) // 86400000 END AS dur,
        |    CASE WHEN pt.pt IS NOT NULL THEN 1 ELSE 0 END AS conv
        |  FROM st LEFT JOIN pt ON pt.user_id = st.user_id CROSS JOIN mx),
        |lt AS (SELECT dur, CAST(SUM(conv) AS BIGINT) AS n_conv,
        |         CAST(SUM(1 - conv) AS BIGINT) AS n_cens
        |       FROM u GROUP BY dur),
        |w AS (SELECT dur, n_conv, n_cens,
        |        (SELECT COUNT(*) FROM u) -
        |          CAST(COALESCE(SUM(n_conv + n_cens) OVER (ORDER BY dur
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |      FROM lt)
        |SELECT dur, n_risk, n_conv, n_cens,
        |  ROUND(SUM(CAST(n_conv AS DOUBLE) / n_risk) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS h_na,
        |  ROUND(sqrt(SUM(CAST(n_conv AS DOUBLE) / n_risk / n_risk) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS se_na,
        |  ROUND(exp(-SUM(CAST(n_conv AS DOUBLE) / n_risk) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS s_fh
        |FROM w ORDER BY dur""".stripMargin,

    "q239_rolling_median" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE))
        |SELECT a.d AS day, a.cents, COUNT(*) AS win_n,
        |  quantile_cont(CAST(b.cents AS DOUBLE), 0.5) AS med_cents,
        |  ROUND((CAST(a.cents AS DOUBLE) -
        |         quantile_cont(CAST(b.cents AS DOUBLE), 0.5)) /
        |        quantile_cont(CAST(b.cents AS DOUBLE), 0.5), 6) + 0.0 AS rel_dev
        |FROM day a JOIN day b ON date_diff('day', a.d, b.d) BETWEEN -3 AND 3
        |GROUP BY a.d, a.cents
        |ORDER BY day""".stripMargin,

    // EMD numerator in exact cross-multiplied integers (HUGEINT), one
    // division at the end — no float cumulative anywhere.
    "q240_t_closeness" ->
      s"""WITH rows0 AS (
         |  SELECT c_nationkey, c_mktsegment,
         |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band,
         |    COUNT(*) AS cnt
         |  FROM customer GROUP BY 1, 2, 3),
         |bands AS (SELECT band, CAST(SUM(cnt) AS BIGINT) AS gcnt
         |          FROM rows0 GROUP BY band),
         |groups AS (SELECT c_nationkey, c_mktsegment,
         |             CAST(SUM(cnt) AS BIGINT) AS n_g
         |           FROM rows0 GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(gcnt) AS BIGINT) AS nn, COUNT(*) AS m
         |        FROM bands),
         |dense AS (
         |  SELECT g.c_nationkey, g.c_mktsegment, g.n_g, b.band,
         |    COALESCE(r.cnt, 0) AS cnt
         |  FROM groups g CROSS JOIN bands b
         |  LEFT JOIN rows0 r ON r.c_nationkey = g.c_nationkey
         |    AND r.c_mktsegment = g.c_mktsegment AND r.band = b.band),
         |cg AS (
         |  SELECT a.c_nationkey, a.c_mktsegment, a.n_g, a.band,
         |    CAST(SUM(b.cnt) AS BIGINT) AS cum_g
         |  FROM dense a JOIN dense b
         |    ON b.c_nationkey = a.c_nationkey
         |    AND b.c_mktsegment = a.c_mktsegment AND b.band <= a.band
         |  GROUP BY 1, 2, 3, 4),
         |ca AS (
         |  SELECT a.band, CAST(SUM(b.gcnt) AS BIGINT) AS cum_all
         |  FROM bands a JOIN bands b ON b.band <= a.band GROUP BY a.band),
         |emd AS (
         |  SELECT cg.c_nationkey, cg.c_mktsegment, cg.n_g, tot.nn, tot.m,
         |    SUM(ABS(CAST(cg.cum_g AS HUGEINT) * tot.nn -
         |            CAST(ca.cum_all AS HUGEINT) * cg.n_g)) AS num
         |  FROM cg JOIN ca ON ca.band = cg.band CROSS JOIN tot
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT c_nationkey, c_mktsegment, n_g,
         |  ROUND(CAST(num AS DOUBLE) /
         |    (CAST(m - 1 AS DOUBLE) * CAST(n_g AS DOUBLE) * CAST(nn AS DOUBLE)),
         |    6) AS t_emd,
         |  ROUND(CAST(num AS DOUBLE) /
         |    (CAST(m - 1 AS DOUBLE) * CAST(n_g AS DOUBLE) * CAST(nn AS DOUBLE)),
         |    6) > $TClosenessMax AS leaky
         |FROM emd ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // Brute-force all-pairs nearest — re-proves the binned candidate
    // generation missed nothing (the q204 oracle convention).
    "q244_nn_matching" ->
      s"""WITH y AS (
         |  SELECT o_custkey,
         |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS yy
         |  FROM orders GROUP BY o_custkey),
         |c AS (
         |  SELECT c_custkey, CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS sc,
         |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) <= '7' AS treated,
         |    COALESCE(y.yy, 0) AS y
         |  FROM customer LEFT JOIN y ON o_custkey = c_custkey),
         |tr AS (SELECT * FROM c WHERE treated),
         |ct AS (SELECT * FROM c WHERE NOT treated),
         |cand AS (
         |  SELECT tr.c_custkey AS tk, tr.y AS yt, ct.c_custkey AS ck,
         |    ct.y AS yc, ABS(tr.sc - ct.sc) AS ad
         |  FROM tr JOIN ct ON ABS(tr.sc - ct.sc) <= $MatchCaliperCents),
         |m AS (
         |  SELECT tk, yt, ck, yc FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY tk ORDER BY ad, ck) AS rn
         |    FROM cand) WHERE rn = 1),
         |base AS (
         |  SELECT CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_treated,
         |    CAST(SUM(CASE WHEN treated THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_control
         |  FROM c)
         |SELECT n_treated, n_control, COUNT(*) AS n_matched,
         |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(n_treated AS DOUBLE), 6)
         |    AS match_rate,
         |  ROUND(CAST(SUM(yt) - SUM(yc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         |    + 0.0 AS att_cents
         |FROM m CROSS JOIN base GROUP BY n_treated, n_control""".stripMargin,

    "q246_linear_interpolation" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM day),
        |spine AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        |  FROM span),
        |dense AS (
        |  SELECT s.d, day.cents FROM spine s LEFT JOIN day ON day.d = s.d),
        |known AS (SELECT d, cents FROM dense WHERE cents IS NOT NULL),
        |missing AS (SELECT d FROM dense WHERE cents IS NULL),
        |pv AS (
        |  SELECT m.d, MAX(k.d) AS pd
        |  FROM missing m JOIN known k ON k.d < m.d GROUP BY m.d),
        |pvv AS (SELECT pv.d, pv.pd, k.cents AS pvc
        |        FROM pv JOIN known k ON k.d = pv.pd),
        |nx AS (
        |  SELECT m.d, MIN(k.d) AS nd
        |  FROM missing m JOIN known k ON k.d > m.d GROUP BY m.d),
        |nxv AS (SELECT nx.d, nx.nd, k.cents AS nvc
        |        FROM nx JOIN known k ON k.d = nx.nd),
        |interp AS (
        |  SELECT p.d,
        |    ((p.pvc * date_diff('day', p.d, n.nd) +
        |      n.nvc * date_diff('day', p.pd, p.d)) * 10000) //
        |      date_diff('day', p.pd, n.nd) AS value_e4,
        |    TRUE AS interpolated
        |  FROM pvv p JOIN nxv n ON n.d = p.d)
        |SELECT d AS day, cents * 10000 AS value_e4, FALSE AS interpolated
        |FROM known
        |UNION ALL
        |SELECT d AS day, CAST(value_e4 AS BIGINT), interpolated FROM interp
        |ORDER BY day""".stripMargin,

    "q242_hot_streaks" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |bounds AS (
        |  SELECT MIN(d) AS d0, MAX(d) AS d1,
        |    CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS thr
        |  FROM day),
        |spine AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d,
        |    d0, thr
        |  FROM bounds),
        |fl AS (
        |  SELECT s.d, s.d0, COALESCE(day.cents, 0) AS cents,
        |    CAST(COALESCE(day.cents, 0) AS DOUBLE) > s.thr AS hot
        |  FROM spine s LEFT JOIN day ON day.d = s.d),
        |hot AS (SELECT * FROM fl WHERE hot),
        |cold AS (SELECT d AS bd FROM fl WHERE NOT hot),
        |st AS (
        |  SELECT h.d, h.cents,
        |    COALESCE(CAST(MAX(c.bd) + 1 AS DATE), MAX(h.d0)) AS island_start
        |  FROM hot h LEFT JOIN cold c ON c.bd < h.d
        |  GROUP BY h.d, h.cents)
        |SELECT island_start, MAX(d) AS island_end, COUNT(*) AS n_days,
        |  MAX(cents) AS peak_cents, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM st GROUP BY island_start
        |ORDER BY island_start""".stripMargin,

    // Peeling replayed with k AS A COLUMN: the node set is design-bounded
    // at 25 brands, so all 24 candidate k-slices peel in parallel through
    // 26 unrolled rounds (each round either removes ≥1 node from a slice
    // or the slice is already stable; 25 nodes ⇒ ≤ 24 removal rounds + 1
    // stable round, so round 26 is provably the fixpoint for every k).
    // coreness(v) = MAX k whose fixpoint still contains v — equal to the
    // sequential peel because k-core ⊆ (k−1)-core. Integer degrees only;
    // engine-exact. The q232/q165 bounded-unroll convention.
    "q243_brand_kcore" -> {
      val rounds = (1 to KcoreRounds).map { r =>
        val prev = s"a${r - 1}"
        s"""a$r AS MATERIALIZED (SELECT a.k, e.src AS n FROM e
           |  JOIN $prev a ON a.n = e.src
           |  JOIN $prev b ON b.k = a.k AND b.n = e.dst
           |  GROUP BY a.k, e.src HAVING COUNT(*) >= a.k)""".stripMargin
      }.mkString(",\n")
      s"""WITH bb AS MATERIALIZED (
         |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
         |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         |e AS MATERIALIZED (SELECT DISTINCT a.brand AS src, b.brand AS dst
         |      FROM bb a JOIN bb b ON a.ok = b.ok AND a.brand <> b.brand),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS n FROM e),
         |ks AS (SELECT CAST(k AS BIGINT) AS k FROM range(1, 25) t(k)),
         |a0 AS MATERIALIZED (SELECT ks.k, nodes.n FROM ks CROSS JOIN nodes),
         |$rounds,
         |mx AS (SELECT n, MAX(k) AS c FROM a$KcoreRounds GROUP BY n)
         |SELECT nodes.n AS brand, CAST(COALESCE(mx.c, 0) AS BIGINT) AS coreness
         |FROM nodes LEFT JOIN mx ON mx.n = nodes.n
         |ORDER BY brand""".stripMargin
    },

    "q241_srm_check" -> {
      s"""WITH u AS (
         |  SELECT DISTINCT user_id FROM events),
         |a AS (
         |  SELECT COUNT(*) AS n_users,
         |    CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
         |          <= '7' THEN 1 ELSE 0 END) AS BIGINT) AS n_a
         |  FROM u),
         |z0 AS (
         |  SELECT n_users, n_a, n_users - n_a AS n_b,
         |    CAST(n_a - (n_users - n_a) AS DOUBLE) /
         |      sqrt(CAST(n_users AS DOUBLE)) AS z
         |  FROM a),
         |z1 AS (SELECT *, $SqlErfX AS x FROM z0),
         |z2 AS (SELECT *, $SqlErfTv AS tv FROM z1),
         |p0 AS (SELECT *, $SqlErfPval AS pval FROM z2)
         |SELECT n_users, n_a, n_b,
         |  ROUND(CAST(n_a AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS ratio_a,
         |  ROUND(z, 6) + 0.0 AS z_srm, ROUND(pval, 6) AS p_value,
         |  pval < $SrmAlpha AS srm_detected
         |FROM p0""".stripMargin
    },

    "q176_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        |    COUNT(*) AS group_size
        |  FROM customer GROUP BY c_nationkey, c_mktsegment, FLOOR(c_acctbal / 1000.0)),
        |k AS (SELECT CAST(MIN(group_size) AS BIGINT) AS k_table FROM g)
        |SELECT g.c_nationkey, g.c_mktsegment, g.bal_band, g.group_size, k.k_table
        |FROM g CROSS JOIN k
        |WHERE g.group_size < 5
        |ORDER BY g.c_nationkey, g.c_mktsegment, g.bal_band""".stripMargin,

    "q177_dow_seasonality" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |tot AS (SELECT COUNT(*) AS nd_tot, CAST(SUM(cents) AS BIGINT) AS tot FROM day)
        |SELECT (isodow(d) - 1) AS dow, COUNT(*) AS n_days,
        |  CAST(SUM(cents) AS BIGINT) AS rev_cents,
        |  ROUND(CAST(CAST(SUM(cents) AS HUGEINT) * nd_tot AS DOUBLE) /
        |        CAST(CAST(COUNT(*) AS HUGEINT) * tot AS DOUBLE), 6) AS idx
        |FROM day CROSS JOIN tot
        |GROUP BY (isodow(d) - 1), nd_tot, tot
        |ORDER BY dow""".stripMargin,

    "q179_rag_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, CAST(g AS INT) AS chunk_idx,
        |    CAST(len(ws[g * 48 + 1 : g * 48 + 64]) AS INT) AS n_tokens,
        |    md5(array_to_string(ws[g * 48 + 1 : g * 48 + 64], ' ')) AS chunk_md5
        |  FROM d, LATERAL (SELECT unnest(range(0,
        |    CAST(FLOOR((len(ws) - 1) / 48.0) AS INT) + 1)) AS g) gg
        |  WHERE len(ws) >= 1)
        |SELECT doc_id, chunk_idx, n_tokens, chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q180_pii_audit" -> {
      val aggCols = PiiPatterns.map { case (name, re) =>
        s"""    CAST(SUM(CASE WHEN len(regexp_extract_all(s, '$re')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ${name}_rows,
           |    CAST(SUM(len(regexp_extract_all(s, '$re'))) AS BIGINT) AS ${name}_occ""".stripMargin
      }.mkString(",\n")
      val branches = PiiPatterns.map { case (name, _) =>
        s"SELECT field, '$name' AS pattern, n_scanned, ${name}_rows AS n_rows_hit, ${name}_occ AS n_occurrences FROM a"
      }.mkString("\n|UNION ALL\n|".stripMargin)
      s"""WITH f AS (
         |  SELECT 'documents.text' AS field, text AS s FROM documents WHERE text IS NOT NULL
         |  UNION ALL
         |  SELECT 'events.props' AS field, props AS s FROM events WHERE props IS NOT NULL),
         |a AS (
         |  SELECT field, COUNT(*) AS n_scanned,
         |$aggCols
         |  FROM f GROUP BY field)
         |$branches
         |ORDER BY field, pattern""".stripMargin
    },

    // The 25 batch-gradient rounds replayed arithmetic-for-arithmetic
    // (the q157/q72 convention): fixed-point standardization moments,
    // per-round e12 gradient/loss sums over f × the previous weight row,
    // the same ((p−y)·xₖ)·1e12 floor chain and wᵢ − 0.5·g update. exp/ln
    // ride libm in both engines — parity holds empirically (the q249
    // scorer family); the e12 quantization bounds any residual to floor-
    // boundary coincidences. MATERIALIZED rounds (q243 lesson).
    "q181_logreg_quality" -> logregOracle,

    // Shares the unrolled-GD weight CTEs; the decile replays
    // GlobalRank.ntileFromRank's exact integer arithmetic; the
    // cumulative fold is a window over the 10-row decile frame.
    "q186_classifier_gains" ->
      s"""WITH $logregCtes,
         |scd AS (SELECT f.doc_id, f.y,
         |    i.w0 * x0 + i.w1 * x1 + i.w2 * x2 + i.w3 * x3 AS score
         |  FROM f CROSS JOIN it$LogregIters i),
         |rk AS (SELECT doc_id, y,
         |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk,
         |    COUNT(*) OVER () AS n
         |  FROM scd),
         |dc AS (SELECT CASE WHEN rk <= (n % 10) * (n // 10 + 1)
         |    THEN (rk + n // 10) // (n // 10 + 1)
         |    ELSE (n % 10) + (rk - (n % 10) * (n // 10 + 1) + n // 10 - 1)
         |      // (n // 10) END AS decile, y
         |  FROM rk),
         |g AS (SELECT decile, COUNT(*) AS n_docs,
         |    CAST(SUM(y) AS BIGINT) AS n_pos FROM dc GROUP BY decile),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS totn,
         |    CAST(SUM(n_pos) AS BIGINT) AS totpos FROM g)
         |SELECT decile, n_docs, n_pos,
         |  CAST(n_pos AS DOUBLE) / n_docs + 0.0 AS pos_rate,
         |  CAST(SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
         |    AS DOUBLE) / totpos + 0.0 AS cum_recall,
         |  CAST(n_pos AS DOUBLE) / n_docs /
         |    (CAST(totpos AS DOUBLE) / totn) + 0.0 AS lift
         |FROM g CROSS JOIN t ORDER BY decile""".stripMargin,

    // Shares the unrolled-GD weights; the same midrank prefix-sum
    // identity over the score-granularity frame, HUGEINT moments.
    "q187_classifier_auc" ->
      s"""WITH $logregCtes,
         |sv AS (SELECT z AS score, CAST(SUM(y) AS BIGINT) AS pos_n,
         |    COUNT(*) AS t_n
         |  FROM (SELECT f.y, i.w0 * x0 + i.w1 * x1 + i.w2 * x2 +
         |      i.w3 * x3 AS z FROM f CROSS JOIN it$LogregIters i) s
         |  GROUP BY z),
         |pr AS (SELECT score, pos_n, t_n,
         |    CAST(SUM(t_n) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) - t_n AS cum_b,
         |    CAST(SUM(t_n) OVER () AS BIGINT) AS n
         |  FROM sv),
         |ag AS (SELECT CAST(SUM(pos_n) AS BIGINT) AS n_pos, MAX(n) AS n,
         |    SUM(CAST(pos_n AS HUGEINT) * (2 * cum_b + t_n + 1)) AS r2_pos
         |  FROM pr)
         |SELECT n_pos, n - n_pos AS n_neg,
         |  CAST(r2_pos - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE) /
         |    (2.0 * CAST(n_pos AS DOUBLE) * (n - n_pos)) AS auc
         |FROM ag""".stripMargin,

    "q182_jackknife_ci" -> {
      val horner = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      s"""WITH h AS (
         |  SELECT CAST($horner % 32 AS INT) AS bucket, o_totalprice
         |  FROM (SELECT md5(CAST(o_custkey AS VARCHAR)) AS hx, o_totalprice
         |        FROM orders) x),
         |b AS (SELECT bucket, COUNT(*) AS n_g,
         |        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS s_g
         |      FROM h GROUP BY bucket),
         |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(s_g) AS BIGINT) AS sc,
         |          COUNT(*) AS g
         |        FROM b),
         |th AS (SELECT n, sc, g,
         |         CAST(sc - s_g AS DOUBLE) / (n - n_g) AS theta_g
         |       FROM b CROSS JOIN tot),
         |m AS (SELECT SUM(theta_g) / MAX(g) AS tbar FROM th),
         |fin AS (SELECT MAX(th.n) AS n_orders, MAX(th.g) AS n_buckets,
         |          MAX(CAST(th.sc AS DOUBLE) / th.n) AS theta_cents,
         |          SUM((th.theta_g - m.tbar) * (th.theta_g - m.tbar)) AS ssq,
         |          MAX(th.g) AS g2
         |        FROM th CROSS JOIN m)
         |SELECT n_orders, n_buckets, ROUND(theta_cents, 6) AS aov_cents,
         |  ROUND(SQRT(CAST(g2 - 1 AS DOUBLE) / g2 * ssq), 6) AS se_cents
         |FROM fin""".stripMargin
    },

    "q183_padding_waste" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        |ra AS (SELECT n_tok, (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 32 AS batch
        |       FROM toks),
        |rs AS (SELECT n_tok, (ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) - 1) // 32 AS batch
        |       FROM toks),
        |ga AS (SELECT batch, COUNT(*) AS n_b, MAX(n_tok) AS mx,
        |         CAST(SUM(n_tok) AS BIGINT) AS st
        |       FROM ra GROUP BY batch),
        |gs AS (SELECT batch, COUNT(*) AS n_b, MAX(n_tok) AS mx,
        |         CAST(SUM(n_tok) AS BIGINT) AS st
        |       FROM rs GROUP BY batch),
        |fa AS (SELECT 'arrival' AS strategy, CAST(SUM(n_b) AS BIGINT) AS n_docs,
        |         COUNT(*) AS n_batches, CAST(SUM(st) AS BIGINT) AS total_tokens,
        |         CAST(SUM(n_b * mx) AS BIGINT) AS padded_tokens
        |       FROM ga),
        |fs AS (SELECT 'length_sorted', CAST(SUM(n_b) AS BIGINT), COUNT(*),
        |         CAST(SUM(st) AS BIGINT), CAST(SUM(n_b * mx) AS BIGINT)
        |       FROM gs),
        |u AS (SELECT * FROM fa UNION ALL SELECT * FROM fs)
        |SELECT strategy, n_docs, n_batches, total_tokens, padded_tokens,
        |  ROUND(CAST(padded_tokens - total_tokens AS DOUBLE) / padded_tokens, 6)
        |    AS waste_pct
        |FROM u ORDER BY strategy""".stripMargin,

    "q184_seasonal_naive_backtest" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |p AS (
        |  SELECT l.lag, a.cents AS actual, b.cents AS pred,
        |    ABS(a.cents - b.cents) AS ad
        |  FROM day a CROSS JOIN (SELECT 1 AS lag UNION ALL SELECT 7) l
        |  JOIN day b ON b.d = a.d - CAST(l.lag AS INTEGER)),
        |g AS (
        |  SELECT lag, COUNT(*) AS n_days, SUM(CAST(ad AS HUGEINT)) AS sad,
        |    AVG(CAST(ad AS DOUBLE) / actual) AS mape_raw
        |  FROM p GROUP BY lag)
        |SELECT 'lag' || CAST(lag AS VARCHAR) AS strategy, n_days,
        |  CAST((sad * 10000) // n_days AS BIGINT) AS mae_cents_e4,
        |  ROUND(mape_raw, 6) AS mape
        |FROM g ORDER BY strategy""".stripMargin,

    "q185_join_size_estimate" -> {
      val horner = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      s"""WITH ca AS (SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders GROUP BY o_orderkey),
         |cb AS (SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem GROUP BY l_orderkey),
         |j AS (
         |  SELECT ca.k, CAST(ca.ca AS HUGEINT) * cb.cb AS prod,
         |    ($horner % 16) = 0 AS samp
         |  FROM ca JOIN cb USING (k)
         |  CROSS JOIN LATERAL (SELECT md5(CAST(ca.k AS VARCHAR)) AS hx) h),
         |a AS (
         |  SELECT CAST(SUM(prod) AS BIGINT) AS exact_join_rows,
         |    CAST(SUM(CASE WHEN samp THEN prod ELSE 0 END) * 16 AS BIGINT)
         |      AS estimated_join_rows
         |  FROM j)
         |SELECT exact_join_rows, estimated_join_rows,
         |  ROUND(ABS(estimated_join_rows - exact_join_rows) /
         |    CAST(exact_join_rows AS DOUBLE), 6) AS rel_error
         |FROM a""".stripMargin
    },

    "q188_cuped" ->
      """WITH cutq AS (
        |  SELECT CAST((MIN(epoch_ms(ts)) + MAX(epoch_ms(ts))) // 2 AS BIGINT) AS cut
        |  FROM events),
        |u AS (
        |  SELECT e.user_id,
        |    CAST(SUM(CASE WHEN e.event_type = 'purchase' AND epoch_ms(e.ts) < c.cut
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN e.event_type = 'purchase' AND epoch_ms(e.ts) >= c.cut
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS y,
        |    (substr(md5(CAST(e.user_id AS VARCHAR)), 1, 1) <= '7') AS is_a
        |  FROM events e CROSS JOIN cutq c
        |  GROUP BY e.user_id),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN is_a THEN x ELSE 0 END) AS BIGINT) AS xa,
        |    CAST(SUM(CASE WHEN is_a THEN y ELSE 0 END) AS BIGINT) AS ya,
        |    CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN NOT is_a THEN x ELSE 0 END) AS BIGINT) AS xb,
        |    CAST(SUM(CASE WHEN NOT is_a THEN y ELSE 0 END) AS BIGINT) AS yb
        |  FROM u),
        |t AS (
        |  SELECT m.*,
        |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS theta
        |  FROM m)
        |SELECT n_a, n_b, ROUND(theta, 6) AS theta,
        |  ROUND(CAST(ya AS DOUBLE) / n_a - CAST(yb AS DOUBLE) / n_b, 6) AS diff_raw,
        |  ROUND((CAST(ya AS DOUBLE) / n_a - theta * (CAST(xa AS DOUBLE) / n_a)) -
        |        (CAST(yb AS DOUBLE) / n_b - theta * (CAST(xb AS DOUBLE) / n_b)), 6)
        |    AS diff_cuped,
        |  ROUND((CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)) /
        |        (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |    AS variance_reduction
        |FROM t""".stripMargin,

    "q191_diff_in_diff" ->
      """WITH cutq AS (
        |  SELECT CAST((MIN(epoch_ms(ts)) + MAX(epoch_ms(ts))) // 2 AS BIGINT) AS cut
        |  FROM events),
        |u AS (
        |  SELECT e.user_id,
        |    CAST(SUM(CASE WHEN e.event_type = 'purchase' AND epoch_ms(e.ts) < c.cut
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN e.event_type = 'purchase' AND epoch_ms(e.ts) >= c.cut
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS y,
        |    (substr(md5(CAST(e.user_id AS VARCHAR)), 1, 1) <= '7') AS is_t
        |  FROM events e CROSS JOIN cutq c
        |  GROUP BY e.user_id),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    SUM(CASE WHEN is_t THEN CAST(x AS HUGEINT) ELSE 0 END) AS tx,
        |    SUM(CASE WHEN is_t THEN CAST(y AS HUGEINT) ELSE 0 END) AS ty,
        |    SUM(CASE WHEN NOT is_t THEN CAST(x AS HUGEINT) ELSE 0 END) AS cx,
        |    SUM(CASE WHEN NOT is_t THEN CAST(y AS HUGEINT) ELSE 0 END) AS cy,
        |    SUM(CASE WHEN is_t THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS tx2,
        |    SUM(CASE WHEN is_t THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS ty2,
        |    SUM(CASE WHEN NOT is_t THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS cx2,
        |    SUM(CASE WHEN NOT is_t THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS cy2
        |  FROM u),
        |s AS (
        |  SELECT m.*,
        |    (CAST(ty AS DOUBLE) / CAST(n_t AS DOUBLE) -
        |     CAST(tx AS DOUBLE) / CAST(n_t AS DOUBLE)) -
        |    (CAST(cy AS DOUBLE) / CAST(n_c AS DOUBLE) -
        |     CAST(cx AS DOUBLE) / CAST(n_c AS DOUBLE)) AS did,
        |    sqrt(
        |      CAST(n_t * tx2 - tx * tx AS DOUBLE) /
        |        (CAST(n_t AS DOUBLE) * CAST(n_t - 1 AS DOUBLE)) / CAST(n_t AS DOUBLE) +
        |      CAST(n_t * ty2 - ty * ty AS DOUBLE) /
        |        (CAST(n_t AS DOUBLE) * CAST(n_t - 1 AS DOUBLE)) / CAST(n_t AS DOUBLE) +
        |      CAST(n_c * cx2 - cx * cx AS DOUBLE) /
        |        (CAST(n_c AS DOUBLE) * CAST(n_c - 1 AS DOUBLE)) / CAST(n_c AS DOUBLE) +
        |      CAST(n_c * cy2 - cy * cy AS DOUBLE) /
        |        (CAST(n_c AS DOUBLE) * CAST(n_c - 1 AS DOUBLE)) / CAST(n_c AS DOUBLE)) AS se
        |  FROM m)
        |SELECT n_t, n_c, ROUND(did, 6) AS did_estimate, ROUND(se, 6) AS se,
        |  ROUND(did / se, 6) AS t_stat
        |FROM s""".stripMargin,

    // Rebuilds the 8-hex-digit md5 draw with the q141 strpos-Horner
    // recipe; the inverse-CDF thresholds are interpolated from the SAME
    // PoissonCdf strings the Spark side parses, so both engines compare
    // the identical double u against the identical double thresholds.
    "q192_poisson_bootstrap" -> {
      val horner = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, (rep % 4) * 8 + $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      val cases = PoissonCdf.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }
        .mkString(" ")
      s"""WITH r AS (
         |  SELECT o_orderkey,
         |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c, rep,
         |    md5(CAST(o_orderkey AS VARCHAR) || ':' ||
         |        CAST(rep // 4 AS VARCHAR)) AS hx
         |  FROM orders CROSS JOIN range(0, $BootstrapReps) t(rep)),
         |uu AS (
         |  SELECT rep, c, CAST($horner AS DOUBLE) / 4294967296.0 AS u
         |  FROM r),
         |wts AS (
         |  SELECT rep, c, CASE $cases ELSE ${PoissonCdf.size} END AS w
         |  FROM uu),
         |mm AS (
         |  SELECT rep,
         |    ROUND(CAST(SUM(w * c) AS DOUBLE) / 100.0 /
         |          CAST(SUM(w) AS DOUBLE), 6) AS m
         |  FROM wts GROUP BY rep),
         |base AS (
         |  SELECT COUNT(*) AS n_orders,
         |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS sp
         |  FROM orders)
         |SELECT base.n_orders, (SELECT COUNT(*) FROM mm) AS b_reps,
         |  ROUND(${Tables.sqlMoneyOut("base.sp")} / CAST(base.n_orders AS DOUBLE), 6)
         |    AS mean_price,
         |  (SELECT quantile_cont(m, 0.025) FROM mm) AS ci_lo,
         |  (SELECT quantile_cont(m, 0.975) FROM mm) AS ci_hi
         |FROM base""".stripMargin
    },

    "q193_power_mde" -> {
      val grid = PowerLifts.map(l => s"($l)").mkString(", ")
      s"""WITH base AS (
         |  SELECT COUNT(DISTINCT user_id) AS users,
         |    COUNT(DISTINCT CASE WHEN event_type = 'purchase'
         |                        AND value >= $PowerConvValue
         |                        THEN user_id END) AS converters
         |  FROM events),
         |g(lift_pct) AS (VALUES $grid),
         |p AS (
         |  SELECT g.lift_pct, base.users,
         |    CAST(converters AS DOUBLE) / CAST(users AS DOUBLE) AS p_base,
         |    CAST(converters AS DOUBLE) / CAST(users AS DOUBLE) *
         |      (1.0 + CAST(g.lift_pct AS DOUBLE) / 100.0) AS p_treat
         |  FROM g CROSS JOIN base)
         |SELECT CAST(lift_pct AS BIGINT) AS lift_pct,
         |  ROUND(p_base, 6) AS p_base, ROUND(p_treat, 6) AS p_treat,
         |  CAST(CEIL((($PowerZAlpha + $PowerZBeta) * ($PowerZAlpha + $PowerZBeta)) *
         |    (p_base * (1.0 - p_base) + p_treat * (1.0 - p_treat)) /
         |    ((p_treat - p_base) * (p_treat - p_base))) AS BIGINT) AS n_required,
         |  users // 2 AS n_avail_per_arm,
         |  (users // 2 >= CAST(CEIL((($PowerZAlpha + $PowerZBeta) * ($PowerZAlpha + $PowerZBeta)) *
         |    (p_base * (1.0 - p_base) + p_treat * (1.0 - p_treat)) /
         |    ((p_treat - p_base) * (p_treat - p_base))) AS BIGINT)) AS powered
         |FROM p ORDER BY lift_pct""".stripMargin
    },

    "q195_fdr_mixshift" ->
      s"""WITH cutq AS (
         |  SELECT CAST((MIN(epoch_ms(ts)) + MAX(epoch_ms(ts))) // 2 AS BIGINT) AS cut
         |  FROM events),
         |bt AS (
         |  SELECT e.event_type,
         |    CAST(SUM(CASE WHEN epoch_ms(e.ts) < c.cut THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN epoch_ms(e.ts) >= c.cut THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM events e CROSS JOIN cutq c
         |  GROUP BY e.event_type),
         |tot AS (
         |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
         |  FROM bt),
         |sc AS (
         |  SELECT event_type, c1, c2,
         |    (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
         |     CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
         |    sqrt((CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) *
         |         (1.0 - CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) *
         |         (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) AS z
         |  FROM bt CROSS JOIN tot),
         |p1 AS (SELECT *, $SqlErfX AS x FROM sc),
         |p2 AS (SELECT *, $SqlErfTv AS tv FROM p1),
         |p3 AS (SELECT *, $SqlErfPval AS pval FROM p2),
         |rkt AS (
         |  SELECT event_type, c1, c2, z, pval,
         |    ROW_NUMBER() OVER (ORDER BY pval, event_type) AS rk,
         |    COUNT(*) OVER () AS m
         |  FROM p3),
         |ks AS (
         |  SELECT MAX(CASE WHEN pval <= CAST(rk AS DOUBLE) * $FdrAlpha /
         |                               CAST(m AS DOUBLE)
         |             THEN rk END) AS kstar
         |  FROM rkt)
         |SELECT event_type, c1, c2, ROUND(z, 6) + 0.0 AS z_score,
         |  ROUND(pval, 6) AS p_value, rk,
         |  COALESCE(rk <= kstar, FALSE) AS discovery
         |FROM rkt CROSS JOIN ks ORDER BY rk""".stripMargin,

    "q196_mann_kendall" ->
      s"""WITH day AS (
         |  SELECT CAST(o_orderdate AS DATE) AS d,
         |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
         |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
         |sp AS (
         |  SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
         |                       WHEN b.cents < a.cents THEN -1
         |                       ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM day a JOIN day b ON a.d < b.d),
         |nn AS (SELECT COUNT(*) AS n FROM day),
         |tt AS (
         |  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
         |    AS tie_term
         |  FROM (SELECT COUNT(*) AS t FROM day GROUP BY cents) g
         |  WHERE t >= 2),
         |zz AS (
         |  SELECT s_stat, n, tie_term,
         |    CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0 AS mkvar
         |  FROM sp CROSS JOIN nn CROSS JOIN tt),
         |z2 AS (
         |  SELECT *, CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(mkvar)
         |                 WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(mkvar)
         |                 ELSE 0.0 END AS z
         |  FROM zz),
         |z3 AS (SELECT *, $SqlErfX AS x FROM z2),
         |z4 AS (SELECT *, $SqlErfTv AS tv FROM z3),
         |z5 AS (SELECT *, $SqlErfPval AS pval FROM z4)
         |SELECT n AS n_days, s_stat, ROUND(z, 6) + 0.0 AS z_mk,
         |  ROUND(pval, 6) AS p_value,
         |  CASE WHEN pval < $FdrAlpha AND s_stat > 0 THEN 'increasing'
         |       WHEN pval < $FdrAlpha AND s_stat < 0 THEN 'decreasing'
         |       ELSE 'none' END AS trend
         |FROM z5""".stripMargin,

    "q197_theil_sen" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |t0 AS (SELECT MIN(d) AS d0 FROM day),
        |dt AS (
        |  SELECT CAST(date_diff('day', t0.d0, day.d) AS BIGINT) AS t, cents
        |  FROM day CROSS JOIN t0),
        |sl AS (
        |  SELECT COUNT(*) AS n_pairs,
        |    quantile_cont(CAST(b.cents - a.cents AS DOUBLE) /
        |                  CAST(b.t - a.t AS DOUBLE), 0.5) AS slope
        |  FROM dt a JOIN dt b ON a.t < b.t)
        |SELECT COUNT(*) AS n_days, MAX(sl.n_pairs) AS n_pairs,
        |  MAX(sl.slope) AS slope_cents_per_day,
        |  quantile_cont(CAST(dt.cents AS DOUBLE) - sl.slope * CAST(dt.t AS DOUBLE),
        |                0.5) AS intercept_cents
        |FROM dt CROSS JOIN sl""".stripMargin,

    // The md5 cell uniform decodes with the q141 strpos-Horner recipe;
    // the sign CASE, clamp and log are the identical scalar tree.
    "q198_dp_release" -> {
      val horner = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      s"""WITH cells AS (
         |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS true_n
         |  FROM events GROUP BY CAST(ts AS DATE), event_type),
         |h AS (
         |  SELECT day, event_type, true_n,
         |    md5(CAST(day AS VARCHAR) || ':' || event_type) AS hx
         |  FROM cells),
         |uu AS (
         |  SELECT day, event_type, true_n,
         |    CAST($horner AS DOUBLE) / 4294967296.0 - 0.5 AS v
         |  FROM h),
         |nn AS (
         |  SELECT day, event_type, true_n,
         |    (CASE WHEN v >= 0 THEN -1.0 ELSE 1.0 END) *
         |      ln(greatest(1.0 - 2.0 * abs(v), $DpMinMag)) / $DpEpsilon AS noise
         |  FROM uu)
         |SELECT day, event_type, true_n,
         |  ROUND(true_n + noise, 6) + 0.0 AS noisy_n,
         |  ROUND(abs(noise), 6) AS abs_err
         |FROM nn ORDER BY day, event_type""".stripMargin
    },

    "q199_max_drawdown" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE))
        |SELECT a.d AS peak_day, b.d AS trough_day,
        |  a.cents AS peak_cents, b.cents AS trough_cents,
        |  a.cents - b.cents AS drawdown_cents,
        |  ROUND(CAST(a.cents - b.cents AS DOUBLE) / CAST(a.cents AS DOUBLE), 6)
        |    AS drawdown_frac
        |FROM day a JOIN day b ON a.d < b.d
        |ORDER BY drawdown_cents DESC, peak_day, trough_day
        |LIMIT 1""".stripMargin,

    // Shares TextQueries.qualityCteBody (the one SQL definition of the
    // quality score) and replays both rankings as window functions.
    "q200_quantile_normalize" ->
      s"""WITH ${TextQueries.qualityCteBody},
         |g AS (
         |  SELECT doc_id, source, quality,
         |    ROW_NUMBER() OVER (ORDER BY source, quality, doc_id) AS grk,
         |    ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS prk,
         |    COUNT(*) OVER () AS n_all
         |  FROM scored),
         |ss AS (SELECT source, MIN(grk) AS rk0, COUNT(*) AS n_s
         |       FROM g GROUP BY source),
         |docs AS (
         |  SELECT g.*, g.grk - ss.rk0 + 1 AS rk_s, ss.n_s
         |  FROM g JOIN ss USING (source)),
         |tg AS (
         |  SELECT source, d AS decile, 1 + (d * (n_s - 1)) // 10 AS tr
         |  FROM ss CROSS JOIN range(1, 10) t(d)
         |  WHERE n_s >= 2),
         |sel AS (
         |  SELECT d.source, t.decile, d.n_s, d.quality, d.n_all,
         |    CAST((d.rk_s - 1) * (d.n_all - 1) AS DOUBLE) /
         |      CAST(d.n_s - 1 AS DOUBLE) AS pos
         |  FROM docs d JOIN tg t ON t.source = d.source AND d.rk_s = t.tr),
         |s2 AS (
         |  SELECT *, CAST(floor(pos) AS BIGINT) + 1 AS t1,
         |    pos - floor(pos) AS f
         |  FROM sel),
         |s3 AS (SELECT s2.*, LEAST(t1 + 1, n_all) AS t2 FROM s2),
         |pv AS (SELECT prk, quality AS pq FROM g)
         |SELECT s3.source, CAST(s3.decile AS BIGINT) AS decile,
         |  s3.n_s AS n_docs, s3.quality AS q_raw,
         |  a.pq + s3.f * (b.pq - a.pq) AS q_norm
         |FROM s3 JOIN pv a ON a.prk = s3.t1 JOIN pv b ON b.prk = s3.t2
         |ORDER BY s3.source, decile""".stripMargin,

    "q201_dp_user_level" -> {
      val horner = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      s"""WITH pu AS (
         |  SELECT CAST(ts AS DATE) AS day, event_type, user_id,
         |    COUNT(*) AS nu
         |  FROM events GROUP BY CAST(ts AS DATE), event_type, user_id),
         |cells AS (
         |  SELECT day, event_type,
         |    CAST(SUM(nu) AS BIGINT) AS true_n,
         |    CAST(SUM(LEAST(nu, $DpUserCap)) AS BIGINT) AS bounded_n
         |  FROM pu GROUP BY day, event_type),
         |h AS (
         |  SELECT *, md5(CAST(day AS VARCHAR) || ':' || event_type || ':u') AS hx
         |  FROM cells),
         |uu AS (
         |  SELECT day, event_type, true_n, bounded_n,
         |    CAST($horner AS DOUBLE) / 4294967296.0 - 0.5 AS v
         |  FROM h),
         |nn AS (
         |  SELECT day, event_type, true_n, bounded_n,
         |    (CASE WHEN v >= 0 THEN -1.0 ELSE 1.0 END) *
         |      ln(greatest(1.0 - 2.0 * abs(v), $DpMinMag)) *
         |      ($DpUserCap / $DpEpsilon) AS noise
         |  FROM uu)
         |SELECT day, event_type, true_n, bounded_n,
         |  true_n - bounded_n AS clamp_loss,
         |  ROUND(bounded_n + noise, 6) + 0.0 AS noisy_n
         |FROM nn ORDER BY day, event_type""".stripMargin
    },

    "q202_cohort_ltv" ->
      s"""WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
         |f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS fd
         |      FROM events GROUP BY user_id),
         |cs AS (
         |  SELECT CAST(date_diff('day', d0.d0, fd) AS BIGINT) // 7 AS cohort_week,
         |    COUNT(*) AS cohort_users
         |  FROM f CROSS JOIN d0 GROUP BY 1),
         |rev AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day, value
         |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
         |cells AS (
         |  SELECT CAST(date_diff('day', d0.d0, f.fd) AS BIGINT) // 7 AS cohort_week,
         |    CAST(date_diff('day', f.fd, r.day) AS BIGINT) // 7 AS age_week,
         |    SUM(r.value) AS rev
         |  FROM rev r JOIN f USING (user_id) CROSS JOIN d0
         |  WHERE CAST(date_diff('day', f.fd, r.day) AS BIGINT) // 7 <= $LtvMaxAgeWeeks
         |  GROUP BY 1, 2),
         |cum AS (
         |  SELECT cohort_week, age_week, rev,
         |    SUM(rev) OVER (PARTITION BY cohort_week ORDER BY age_week
         |                   ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM cells)
         |SELECT c.cohort_week, c.age_week, s.cohort_users,
         |  ROUND(c.rev, 6) AS week_revenue, ROUND(c.cum, 6) AS cum_revenue,
         |  ROUND(c.cum / s.cohort_users, 6) AS ltv_per_user
         |FROM cum c JOIN cs s USING (cohort_week)
         |ORDER BY c.cohort_week, c.age_week""".stripMargin,

    "q211_holt_smoothing" ->
      s"""WITH RECURSIVE day AS (
         |  SELECT CAST(o_orderdate AS DATE) AS d,
         |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
         |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
         |dd AS (
         |  SELECT row_number() OVER (ORDER BY d) AS i, d, cents,
         |    CAST(cents AS DOUBLE) AS y
         |  FROM day),
         |h AS (
         |  SELECT 1::BIGINT AS i, y AS l,
         |    (SELECT y FROM dd WHERE i = 2) - y AS b
         |  FROM dd WHERE i = 1
         |  UNION ALL
         |  SELECT dd.i,
         |    $HoltAlpha * dd.y + $Holt1mA * (h.l + h.b) AS l,
         |    $HoltBeta * (($HoltAlpha * dd.y + $Holt1mA * (h.l + h.b)) - h.l) +
         |      $Holt1mB * h.b AS b
         |  FROM h JOIN dd ON dd.i = h.i + 1)
         |SELECT dd.d AS day, dd.cents,
         |  CAST(floor(h.l * 100) AS BIGINT) AS level_e2,
         |  CAST(floor(h.b * 100) AS BIGINT) AS trend_e2,
         |  CASE WHEN hp.i IS NOT NULL
         |       THEN CAST(floor((hp.l + hp.b) * 100) AS BIGINT) END AS fitted_e2,
         |  CASE WHEN hp.i IS NOT NULL
         |       THEN CAST(floor((dd.y - (hp.l + hp.b)) * 100) AS BIGINT) END AS err_e2
         |FROM dd JOIN h ON h.i = dd.i
         |LEFT JOIN h hp ON hp.i = dd.i - 1
         |ORDER BY day""".stripMargin,

    "q218_consistent_hash" -> {
      def horner(col: String): String = (1 to 12)
        .map(i => s"(strpos('0123456789abcdef', substr($col, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      s"""WITH vn AS (
         |  SELECT 's' || CAST(t.s AS VARCHAR) AS shard, t.i AS vi,
         |    CAST(${horner("hx")} AS BIGINT) AS vpos
         |  FROM (SELECT s.s AS s, i.i AS i,
         |          md5('vn:s' || CAST(s.s AS VARCHAR) || ':' ||
         |              CAST(i.i AS VARCHAR)) AS hx
         |        FROM range(0, 8) s(s), range(0, 4) i(i)) t),
         |k AS (
         |  SELECT c_custkey AS k, CAST(${horner("hk")} AS BIGINT) AS kpos
         |  FROM (SELECT c_custkey,
         |          md5('k:' || CAST(c_custkey AS VARCHAR)) AS hk
         |        FROM customer)),
         |a0 AS (
         |  SELECT k.k,
         |    COALESCE(MIN(CASE WHEN vn.vpos >= k.kpos THEN vn.vpos END),
         |             MIN(vn.vpos)) AS apos
         |  FROM k CROSS JOIN vn GROUP BY k.k, k.kpos),
         |b0 AS (SELECT a0.k, vn.shard AS shard_before
         |       FROM a0 JOIN vn ON vn.vpos = a0.apos),
         |vn2 AS (SELECT * FROM vn WHERE shard <> 's3'),
         |a1 AS (
         |  SELECT k.k,
         |    COALESCE(MIN(CASE WHEN vn2.vpos >= k.kpos THEN vn2.vpos END),
         |             MIN(vn2.vpos)) AS apos
         |  FROM k CROSS JOIN vn2 GROUP BY k.k, k.kpos),
         |b1 AS (SELECT a1.k, vn2.shard AS shard_after
         |       FROM a1 JOIN vn2 ON vn2.vpos = a1.apos),
         |j AS (
         |  SELECT b0.k, shard_before, shard_after,
         |    CASE WHEN shard_before <> shard_after THEN 1 ELSE 0 END AS moved
         |  FROM b0 JOIN b1 ON b1.k = b0.k),
         |tot AS (SELECT COUNT(*) AS n_keys, CAST(SUM(moved) AS BIGINT) AS n_moved
         |        FROM j),
         |ga AS (SELECT shard_after AS shard, COUNT(*) AS n_after,
         |         CAST(SUM(moved) AS BIGINT) AS moved_in
         |       FROM j GROUP BY shard_after),
         |gb AS (SELECT shard_before AS shard, COUNT(*) AS n_before
         |       FROM j GROUP BY shard_before)
         |SELECT COALESCE(ga.shard, gb.shard) AS shard,
         |  CAST(COALESCE(gb.n_before, 0) AS BIGINT) AS n_before,
         |  CAST(COALESCE(ga.n_after, 0) AS BIGINT) AS n_after,
         |  CAST(COALESCE(ga.moved_in, 0) AS BIGINT) AS moved_in,
         |  ROUND(CAST(tot.n_moved AS DOUBLE) / tot.n_keys, 6) AS moved_frac
         |FROM ga FULL OUTER JOIN gb ON gb.shard = ga.shard
         |CROSS JOIN tot
         |ORDER BY shard""".stripMargin
    },

    "q217_l_diversity" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(floor(CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
        |      AS DOUBLE) / 10000000.0) AS BIGINT) AS spend_band
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band, spend_band
        |  FROM customer JOIN spend ON c_custkey = o_custkey),
        |per AS (
        |  SELECT c_nationkey, c_mktsegment, bal_band, spend_band,
        |    COUNT(*) AS cnt
        |  FROM r GROUP BY 1, 2, 3, 4)
        |SELECT c_nationkey, c_mktsegment, bal_band,
        |  CAST(SUM(cnt) AS BIGINT) AS group_size,
        |  COUNT(*) AS distinct_l,
        |  ROUND(exp(ln(CAST(SUM(cnt) AS DOUBLE)) -
        |    SUM(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) / SUM(cnt)), 6)
        |    AS entropy_l,
        |  COUNT(*) < 2 AS homogeneous
        |FROM per GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,

    "q216_bayes_ab" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 3
         |         THEN 1 ELSE 0 END AS conv,
         |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
         |         THEN 1 ELSE 0 END AS ta
         |  FROM events GROUP BY user_id),
         |c AS (
         |  SELECT CAST(SUM(ta) AS BIGINT) AS n_a,
         |    CAST(SUM(ta * conv) AS BIGINT) AS c_a,
         |    CAST(SUM(1 - ta) AS BIGINT) AS n_b,
         |    CAST(SUM((1 - ta) * conv) AS BIGINT) AS c_b
         |  FROM u),
         |zz AS (
         |  SELECT *,
         |    (CAST(c_a + 1 AS DOUBLE) / (n_a + 2) - CAST(c_b + 1 AS DOUBLE) / (n_b + 2)) /
         |    sqrt(
         |      CAST(c_a + 1 AS DOUBLE) * (n_a - c_a + 1) /
         |        (CAST(n_a + 2 AS DOUBLE) * (n_a + 2) * (n_a + 3)) +
         |      CAST(c_b + 1 AS DOUBLE) * (n_b - c_b + 1) /
         |        (CAST(n_b + 2 AS DOUBLE) * (n_b + 2) * (n_b + 3))) AS zd
         |  FROM c),
         |z1 AS (SELECT *, zd AS z FROM zz),
         |z3 AS (SELECT *, $SqlErfX AS x FROM z1),
         |z4 AS (SELECT *, $SqlErfTv AS tv FROM z3),
         |z5 AS (SELECT *, $SqlErfPval AS pval FROM z4),
         |pp AS (
         |  SELECT *, CASE WHEN zd >= 0 THEN 1.0 - pval / 2.0
         |                 ELSE pval / 2.0 END AS pab
         |  FROM z5)
         |SELECT n_a, c_a, n_b, c_b,
         |  ROUND(CAST(c_a + 1 AS DOUBLE) / (n_a + 2), 6) AS post_mean_a,
         |  ROUND(CAST(c_b + 1 AS DOUBLE) / (n_b + 2), 6) AS post_mean_b,
         |  ROUND(zd, 6) + 0.0 AS z_diff,
         |  ROUND(pab, 6) AS p_a_beats_b,
         |  CASE WHEN pab >= 0.95 THEN 'ship_A'
         |       WHEN pab <= 0.05 THEN 'ship_B'
         |       ELSE 'continue' END AS decision
         |FROM pp""".stripMargin,

    "q214_target_encoding" ->
      """WITH r AS (
        |  SELECT p.p_brand AS brand,
        |    CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) AS c
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |per AS (SELECT brand, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS sc
        |        FROM r GROUP BY brand),
        |g AS (SELECT CAST(SUM(n) AS BIGINT) AS ng, CAST(SUM(sc) AS BIGINT) AS sg
        |      FROM per)
        |SELECT brand, n, sc,
        |  CAST((CAST(sc AS HUGEINT) * 10000) // n AS BIGINT) AS mean_e4,
        |  CAST(((CAST(sc AS HUGEINT) * ng + CAST(50 AS HUGEINT) * sg) * 10000) //
        |       (CAST(ng AS HUGEINT) * (n + 50)) AS BIGINT) AS enc_e4
        |FROM per CROSS JOIN g ORDER BY brand""".stripMargin,

    "q215_price_volume_mix" ->
      """WITH li AS (
        |  SELECT p.p_brand AS brand, year(o.o_orderdate) AS yr,
        |    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE year(o.o_orderdate) IN (1995, 1996)
        |  GROUP BY p.p_brand, year(o.o_orderdate)),
        |w AS (
        |  SELECT brand,
        |    CAST(SUM(CASE WHEN yr = 1995 THEN s END) AS BIGINT) AS s0,
        |    CAST(SUM(CASE WHEN yr = 1995 THEN q END) AS BIGINT) AS q0,
        |    CAST(SUM(CASE WHEN yr = 1996 THEN s END) AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN yr = 1996 THEN q END) AS BIGINT) AS q1
        |  FROM li GROUP BY brand)
        |SELECT brand, s0, q0, s1, q1, s1 - s0 AS delta_cents,
        |  CAST(((CAST(s1 AS HUGEINT) * q0 - CAST(s0 AS HUGEINT) * q1) * 10000) //
        |       q0 AS BIGINT) AS price_effect_e4,
        |  CAST((CAST(s0 AS HUGEINT) * (q1 - q0) * 10000) // q0 AS BIGINT)
        |    AS volume_effect_e4
        |FROM w
        |WHERE s0 IS NOT NULL AND q0 IS NOT NULL AND s1 IS NOT NULL
        |  AND q1 IS NOT NULL AND q0 > 0
        |ORDER BY brand""".stripMargin,

    "q213_uplift_deciles" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 3
        |         THEN 1 ELSE 0 END AS conv,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
        |         THEN 1 ELSE 0 END AS treated
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT *, CAST(NTILE(10) OVER (ORDER BY clicks DESC, user_id) AS BIGINT)
        |    AS decile
        |  FROM u),
        |g AS (
        |  SELECT decile,
        |    CAST(SUM(treated) AS BIGINT) AS n_t,
        |    CAST(SUM(treated * conv) AS BIGINT) AS c_t,
        |    CAST(SUM(1 - treated) AS BIGINT) AS n_c,
        |    CAST(SUM((1 - treated) * conv) AS BIGINT) AS c_c
        |  FROM d GROUP BY decile),
        |cu AS (
        |  SELECT a.decile AS d0,
        |    CAST(SUM(b.n_t) AS BIGINT) AS cnt, CAST(SUM(b.c_t) AS BIGINT) AS cct,
        |    CAST(SUM(b.n_c) AS BIGINT) AS cnc, CAST(SUM(b.c_c) AS BIGINT) AS ccc
        |  FROM g a JOIN g b ON b.decile <= a.decile GROUP BY a.decile)
        |SELECT g.decile, n_t, c_t, n_c, c_c,
        |  CASE WHEN n_t > 0 AND n_c > 0
        |       THEN ROUND(CAST(c_t AS DOUBLE) / n_t -
        |                  CAST(c_c AS DOUBLE) / n_c, 6) + 0.0 END AS uplift,
        |  CASE WHEN cnt > 0 AND cnc > 0
        |       THEN ROUND(CAST(cct AS DOUBLE) / cnt -
        |                  CAST(ccc AS DOUBLE) / cnc, 6) + 0.0 END AS cum_uplift
        |FROM g JOIN cu ON cu.d0 = g.decile
        |ORDER BY g.decile""".stripMargin,

    "q212_sequential_rules" ->
      """WITH f AS (
        |  SELECT o.o_custkey AS cust, p.p_brand AS brand,
        |    MIN(CAST(o.o_orderdate AS DATE)) AS fd
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY o.o_custkey, p.p_brand),
        |nc AS (SELECT COUNT(DISTINCT cust) AS n_cust FROM f),
        |nb AS (SELECT brand, COUNT(*) AS n_br FROM f GROUP BY brand),
        |sq AS (
        |  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_seq
        |  FROM f a JOIN f b
        |    ON a.cust = b.cust AND a.fd < b.fd AND a.brand <> b.brand
        |  GROUP BY a.brand, b.brand
        |  HAVING COUNT(*) >= 5)
        |SELECT sq.brand_a, sq.brand_b, sq.n_seq,
        |  na.n_br AS n_a, nbb.n_br AS n_b,
        |  ROUND(CAST(sq.n_seq AS DOUBLE) / na.n_br, 6) AS confidence,
        |  ROUND((CAST(sq.n_seq AS DOUBLE) / na.n_br) /
        |        (CAST(nbb.n_br AS DOUBLE) / nc.n_cust), 6) AS lift
        |FROM sq
        |JOIN nb na ON na.brand = sq.brand_a
        |JOIN nb nbb ON nbb.brand = sq.brand_b
        |CROSS JOIN nc
        |ORDER BY sq.brand_a, sq.brand_b""".stripMargin,

    "q208_cohens_kappa" ->
      """WITH lab AS (
        |  SELECT
        |    CAST(length(text) >= 300 AND
        |         len(string_split(text, ' ')) >= 60 AS BIGINT) AS r1,
        |    CAST(len(regexp_extract_all(text, '[.!?,;:]')) * 50 <= length(text) AND
        |         len(regexp_extract_all(text, '[A-Z]')) * 5 <= length(text) AS BIGINT) AS r2
        |  FROM documents),
        |c AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(r1 * r2) AS BIGINT) AS n11,
        |    CAST(SUM(r1 * (1 - r2)) AS BIGINT) AS n10,
        |    CAST(SUM((1 - r1) * r2) AS BIGINT) AS n01,
        |    CAST(SUM((1 - r1) * (1 - r2)) AS BIGINT) AS n00
        |  FROM lab),
        |k AS (
        |  SELECT *,
        |    CAST(n11 + n00 AS DOUBLE) / n AS po,
        |    CAST(CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
        |         CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
        |  FROM c)
        |SELECT n, n11, n10, n01, n00,
        |  ROUND(po, 6) AS p_observed,
        |  ROUND(pe, 6) AS p_expected,
        |  CASE WHEN pe < 1.0
        |       THEN ROUND((po - pe) / (1.0 - pe), 6) + 0.0 END AS kappa
        |FROM k""".stripMargin,

    "q209_seasonal_decompose" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |tr AS (
        |  SELECT a.d AS d0, CAST(SUM(b.cents) AS BIGINT) AS sw
        |  FROM day a JOIN day b
        |    ON date_diff('day', a.d, b.d) BETWEEN -3 AND 3
        |  GROUP BY a.d HAVING COUNT(*) = 7),
        |det AS (
        |  SELECT day.d, day.cents,
        |    CAST(date_diff('day', DATE '1995-01-01', day.d) AS BIGINT) % 7 AS dow,
        |    sw, day.cents * 7 - sw AS det7
        |  FROM day JOIN tr ON tr.d0 = day.d),
        |sea AS (SELECT dow, COUNT(*) AS nd, CAST(SUM(det7) AS BIGINT) AS sum7
        |        FROM det GROUP BY dow)
        |SELECT det.d AS day, det.cents,
        |  CAST((CAST(sw AS HUGEINT) * 10000) // 7 AS BIGINT) AS trend_e4,
        |  det.dow,
        |  CAST((CAST(sum7 AS HUGEINT) * 10000) // (nd * 7) AS BIGINT) AS seasonal_e4,
        |  CAST(((CAST(det7 AS HUGEINT) * nd - sum7) * 10000) // (nd * 7) AS BIGINT)
        |    AS residual_e4
        |FROM det JOIN sea ON sea.dow = det.dow
        |ORDER BY day""".stripMargin,

    "q205_msprt_sequential" ->
      s"""WITH p3 AS (
         |  SELECT user_id, CAST(ts AS DATE) AS cd FROM (
         |    SELECT user_id, ts,
         |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |    FROM events WHERE event_type = 'purchase') WHERE rn = 3),
         |ua AS (
         |  SELECT u.user_id, u.fd, p3.cd,
         |    CASE WHEN substr(md5(CAST(u.user_id AS VARCHAR)), 1, 1) <= '7'
         |         THEN 'A' ELSE 'B' END AS arm
         |  FROM (SELECT user_id, MIN(CAST(ts AS DATE)) AS fd
         |        FROM events GROUP BY user_id) u
         |  LEFT JOIN p3 USING (user_id)),
         |nu AS (SELECT fd, arm, COUNT(*) AS nn FROM ua GROUP BY fd, arm),
         |nc AS (SELECT cd, arm, COUNT(*) AS nc FROM ua
         |       WHERE cd IS NOT NULL GROUP BY cd, arm),
         |sp AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
         |ncum AS (SELECT sp.d, nu.arm, CAST(SUM(nn) AS BIGINT) AS n
         |         FROM sp JOIN nu ON nu.fd <= sp.d GROUP BY sp.d, nu.arm),
         |ccum AS (SELECT sp.d, nc.arm, CAST(SUM(nc.nc) AS BIGINT) AS c
         |         FROM sp JOIN nc ON nc.cd <= sp.d GROUP BY sp.d, nc.arm),
         |ds AS (SELECT ncum.d, ncum.arm, ncum.n, COALESCE(ccum.c, 0) AS c
         |       FROM ncum LEFT JOIN ccum
         |         ON ccum.d = ncum.d AND ccum.arm = ncum.arm),
         |wide AS (
         |  SELECT d,
         |    CAST(SUM(CASE WHEN arm = 'A' THEN n END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN arm = 'A' THEN c END) AS BIGINT) AS c_a,
         |    CAST(SUM(CASE WHEN arm = 'B' THEN n END) AS BIGINT) AS n_b,
         |    CAST(SUM(CASE WHEN arm = 'B' THEN c END) AS BIGINT) AS c_b
         |  FROM ds GROUP BY d),
         |st AS (
         |  SELECT *, CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b AS dl,
         |    (CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)) *
         |      (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)) *
         |      (1.0 / n_a + 1.0 / n_b) AS v
         |  FROM wide),
         |lam AS (
         |  SELECT *,
         |    CASE WHEN n_a > 0 AND n_b > 0 AND c_a + c_b > 0
         |              AND c_a + c_b < n_a + n_b
         |         THEN 0.5 * ln(v / (v + $MsprtTau2)) +
         |              dl * dl * $MsprtTau2 / (2.0 * v * (v + $MsprtTau2))
         |    END AS log_lambda
         |  FROM st),
         |run AS (
         |  SELECT a.d AS d0, MAX(b.log_lambda) AS max_ll
         |  FROM lam a JOIN lam b ON b.d <= a.d GROUP BY a.d)
         |SELECT lam.d AS day, n_a, c_a, n_b, c_b,
         |  ROUND(dl, 6) + 0.0 AS delta,
         |  ROUND(log_lambda, 6) + 0.0 AS log_lambda,
         |  CASE WHEN max_ll IS NOT NULL
         |       THEN ROUND(LEAST(1.0, exp(-max_ll)), 6) END AS p_always,
         |  CASE WHEN max_ll IS NOT NULL THEN
         |    CAST(CASE WHEN exp(-max_ll) <= $MsprtAlpha THEN 1 ELSE 0 END AS BIGINT)
         |  END AS rejected
         |FROM lam JOIN run ON run.d0 = lam.d
         |ORDER BY day""".stripMargin,

    "q203_kmv_monthly_overlap" -> {
      val horner = (1 to 12)
        .map(i => s"(strpos('0123456789abcdef', substr(hex, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      val estA = s"CASE WHEN sa.kn < $KmvK THEN CAST(sa.kn AS DOUBLE) " +
        s"ELSE ${KmvK - 1}e0 * $KmvM / sa.hk END"
      val estB = s"CASE WHEN sb.kn < $KmvK THEN CAST(sb.kn AS DOUBLE) " +
        s"ELSE ${KmvK - 1}e0 * $KmvM / sb.hk END"
      val estU = s"CASE WHEN ag.ku < $KmvK THEN CAST(ag.ku AS DOUBLE) " +
        s"ELSE ${KmvK - 1}e0 * $KmvM / ag.hku END"
      s"""WITH mu AS (
         |  SELECT DISTINCT date_trunc('month', o_orderdate) AS m, o_custkey
         |  FROM orders),
         |hx AS (
         |  SELECT m, o_custkey,
         |    md5('kmv:' || CAST(o_custkey AS VARCHAR)) AS hex
         |  FROM mu),
         |hv AS (SELECT m, o_custkey, CAST($horner AS BIGINT) AS h FROM hx),
         |sk AS (
         |  SELECT m, h FROM (
         |    SELECT m, h,
         |      row_number() OVER (PARTITION BY m ORDER BY h, o_custkey) AS rn
         |    FROM hv) WHERE rn <= $KmvK),
         |st AS (SELECT m, COUNT(*) AS kn, MAX(h) AS hk FROM sk GROUP BY m),
         |mo AS (SELECT DISTINCT m FROM sk),
         |pr AS (SELECT a.m AS ma, b.m AS mb FROM mo a
         |       JOIN mo b ON a.m + INTERVAL 1 MONTH = b.m),
         |mh AS (SELECT DISTINCT pr.ma, pr.mb, s.h
         |       FROM pr JOIN sk s ON s.m = pr.ma OR s.m = pr.mb),
         |uk AS (
         |  SELECT ma, mb, h FROM (
         |    SELECT ma, mb, h,
         |      row_number() OVER (PARTITION BY ma, mb ORDER BY h) AS rn
         |    FROM mh) WHERE rn <= $KmvK),
         |fl AS (
         |  SELECT u.ma, u.mb, u.h,
         |    (CASE WHEN a.h IS NULL THEN 0 ELSE 1 END) *
         |    (CASE WHEN b.h IS NULL THEN 0 ELSE 1 END) AS bo
         |  FROM uk u
         |  LEFT JOIN sk a ON a.m = u.ma AND a.h = u.h
         |  LEFT JOIN sk b ON b.m = u.mb AND b.h = u.h),
         |ag AS (SELECT ma, mb, COUNT(*) AS ku, MAX(h) AS hku,
         |         CAST(SUM(bo) AS BIGINT) AS kboth
         |       FROM fl GROUP BY ma, mb)
         |SELECT CAST(ag.ma AS DATE) AS month_a, CAST(ag.mb AS DATE) AS month_b,
         |  ROUND($estA, 6) AS est_a,
         |  ROUND($estB, 6) AS est_b,
         |  ROUND($estU, 6) AS est_union,
         |  ROUND((CAST(ag.kboth AS DOUBLE) / ag.ku) * ($estU), 6) AS est_returning,
         |  ROUND(CAST(ag.kboth AS DOUBLE) / ag.ku, 6) AS kmv_jaccard
         |FROM ag JOIN st sa ON sa.m = ag.ma JOIN st sb ON sb.m = ag.mb
         |ORDER BY month_a""".stripMargin
    },

    "q194_item_item_cosine" ->
      """WITH bb AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        |            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |cnt AS (SELECT brand, COUNT(*) AS cnt FROM bb GROUP BY brand),
        |pr AS (SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS pair_n
        |       FROM bb a JOIN bb b ON a.ok = b.ok AND a.brand < b.brand
        |       GROUP BY a.brand, b.brand),
        |sym AS (SELECT brand_a AS brand, brand_b AS nbr, pair_n FROM pr
        |        UNION ALL
        |        SELECT brand_b AS brand, brand_a AS nbr, pair_n FROM pr),
        |sc AS (SELECT s.brand, s.nbr, s.pair_n,
        |         CAST(s.pair_n AS DOUBLE) /
        |           sqrt(CAST(CAST(ca.cnt AS HUGEINT) * cb.cnt AS DOUBLE)) AS cosine
        |       FROM sym s JOIN cnt ca ON s.brand = ca.brand
        |                  JOIN cnt cb ON s.nbr = cb.brand),
        |rk AS (SELECT brand, nbr, pair_n, cosine,
        |         ROW_NUMBER() OVER (PARTITION BY brand
        |                            ORDER BY cosine DESC, nbr) AS rk
        |       FROM sc)
        |SELECT brand, rk, nbr AS neighbor, pair_n, ROUND(cosine, 6) AS cosine
        |FROM rk WHERE rk <= 5 ORDER BY brand, rk""".stripMargin,

    "q178_repair_audit" ->
      """WITH th AS (
        |  SELECT c_mktsegment,
        |    quantile_cont(c_acctbal, 0.5) AS med,
        |    quantile_cont(c_acctbal, 0.99) AS p99
        |  FROM customer WHERE c_acctbal >= 0 GROUP BY c_mktsegment)
        |SELECT c.c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN c.c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
        |  CAST(SUM(CASE WHEN c.c_acctbal > th.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
        |  MAX(th.med) AS med, MAX(th.p99) AS p99
        |FROM customer c JOIN th USING (c_mktsegment)
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin,

    "q219_max_concurrency" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
         |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
         |  FROM events),
         |x AS (
         |  SELECT user_id, ms,
         |    CAST(SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms >= ${CoreQueries.SessionGapMs} THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ms, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq
         |  FROM g),
         |iv AS (SELECT user_id, sess_seq, MIN(ms) AS sms, MAX(ms) AS ems
         |       FROM x GROUP BY user_id, sess_seq),
         |st AS (SELECT sms AS ms, COUNT(*) AS n_start FROM iv GROUP BY sms),
         |en AS (SELECT ems AS ms, COUNT(*) AS n_end FROM iv GROUP BY ems),
         |pts AS (
         |  SELECT COALESCE(st.ms, en.ms) AS ms,
         |    COALESCE(st.n_start, 0) AS n_start, COALESCE(en.n_end, 0) AS n_end
         |  FROM st FULL OUTER JOIN en ON en.ms = st.ms),
         |a AS (
         |  SELECT ms, CAST(epoch_ms(ms) AS DATE) AS d,
         |    CAST(n_end + SUM(n_start - n_end)
         |      OVER (ORDER BY ms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS active
         |  FROM pts),
         |pk AS (SELECT d, MAX(active) AS peak FROM a GROUP BY d)
         |SELECT pk.d, pk.peak, MIN(a.ms) AS peak_ms
         |FROM pk JOIN a ON a.d = pk.d AND a.active = pk.peak
         |GROUP BY pk.d, pk.peak ORDER BY pk.d""".stripMargin,

    "q220_brand_bfs" ->
      """WITH RECURSIVE bb AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |pr AS (
        |  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS pair_n
        |  FROM bb a JOIN bb b ON a.ok = b.ok AND a.brand < b.brand
        |  GROUP BY a.brand, b.brand),
        |e AS (
        |  SELECT brand_a AS src, brand_b AS dst FROM pr WHERE pair_n >= 10
        |  UNION ALL
        |  SELECT brand_b AS src, brand_a AS dst FROM pr WHERE pair_n >= 10),
        |r AS (
        |  SELECT 'Brand#1' AS brand, 0 AS dist
        |  UNION
        |  SELECT e.dst AS brand, r.dist + 1 AS dist
        |  FROM r JOIN e ON e.src = r.brand WHERE r.dist < 6),
        |d AS (SELECT brand, MIN(dist) AS dist FROM r GROUP BY brand)
        |SELECT p.brand, CAST(d.dist AS BIGINT) AS dist
        |FROM (SELECT DISTINCT p_brand AS brand FROM part) p
        |LEFT JOIN d ON d.brand = p.brand
        |ORDER BY p.brand""".stripMargin,

    "q221_shapley_attribution" ->
      """WITH per AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) * 1 +
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 2 +
        |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) * 4 +
        |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 8 AS mask,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 3
        |         THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY user_id),
        |obs AS (SELECT mask, COUNT(*) AS n_u, SUM(conv) AS n_c
        |        FROM per GROUP BY mask),
        |v6 AS (
        |  SELECT m.range AS m,
        |    COALESCE((obs.n_c * 1000000) // obs.n_u, 0) AS v6,
        |    COALESCE(obs.n_u, 0) AS n_u, COALESCE(obs.n_c, 0) AS n_c
        |  FROM range(0, 16) m LEFT JOIN obs ON obs.mask = m.range),
        |ch AS (
        |  SELECT * FROM (VALUES ('view', 1), ('click', 2), ('signup', 4),
        |                        ('error', 8)) AS t(channel, bit)),
        |terms AS (
        |  SELECT ch.channel, ch.bit, v.m, v.v6,
        |    ((v.m & 1) + ((v.m >> 1) & 1) + ((v.m >> 2) & 1) + ((v.m >> 3) & 1)) AS ssz,
        |    si.v6 AS v6_si
        |  FROM ch CROSS JOIN v6 v
        |  JOIN v6 si ON si.m = v.m + ch.bit
        |  WHERE (v.m & ch.bit) = 0),
        |phi AS (
        |  SELECT channel,
        |    CAST(SUM((CASE WHEN ssz IN (0, 3) THEN 6 ELSE 2 END) * (v6_si - v6))
        |      AS BIGINT) AS phi24e6
        |  FROM terms GROUP BY channel),
        |touch AS (
        |  SELECT ch.channel,
        |    CAST(SUM(v.n_u) AS BIGINT) AS n_users,
        |    CAST(SUM(v.n_c) AS BIGINT) AS n_conv
        |  FROM ch CROSS JOIN v6 v WHERE (v.m & ch.bit) <> 0
        |  GROUP BY ch.channel)
        |SELECT phi.channel, touch.n_users, touch.n_conv,
        |  ROUND(CAST(phi.phi24e6 AS DOUBLE) / 24000000.0, 6) + 0.0 AS shapley
        |FROM phi JOIN touch ON touch.channel = phi.channel
        |ORDER BY phi.channel""".stripMargin,

    "q222_mutual_information" ->
      """WITH cells AS (
        |  SELECT event_type, (isodow(CAST(ts AS DATE)) - 1) AS dow,
        |    COUNT(*) AS obs
        |  FROM events GROUP BY event_type, (isodow(CAST(ts AS DATE)) - 1)),
        |mx AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS n_x
        |       FROM cells GROUP BY event_type),
        |my AS (SELECT dow, CAST(SUM(obs) AS BIGINT) AS n_y
        |       FROM cells GROUP BY dow),
        |nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n_tot FROM cells)
        |SELECT c.event_type, CAST(c.dow AS BIGINT) AS dow, c.obs,
        |  mx.n_x, my.n_y,
        |  ROUND((CAST(c.obs AS DOUBLE) / n_tot) *
        |    LN(CAST(CAST(c.obs AS HUGEINT) * n_tot AS DOUBLE) /
        |       CAST(CAST(mx.n_x AS HUGEINT) * my.n_y AS DOUBLE)), 6) + 0.0
        |    AS mi_term
        |FROM cells c
        |JOIN mx ON mx.event_type = c.event_type
        |JOIN my ON my.dow = c.dow
        |CROSS JOIN nn
        |ORDER BY c.event_type, c.dow""".stripMargin,

    "q223_pareto_frontier" ->
      """WITH pp AS (
        |  SELECT CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_c,
        |    CAST(p_size AS BIGINT) AS p_size, COUNT(*) AS n_parts
        |  FROM part GROUP BY 1, 2),
        |pm AS (SELECT price_c, MAX(p_size) AS pmax FROM pp GROUP BY price_c),
        |cm AS (
        |  SELECT price_c, pmax,
        |    MAX(pmax) OVER (ORDER BY price_c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cmax_lt
        |  FROM pm)
        |SELECT pp.price_c, pp.p_size, pp.n_parts
        |FROM pp JOIN cm ON cm.price_c = pp.price_c
        |WHERE (cm.cmax_lt IS NULL OR cm.cmax_lt < pp.p_size)
        |  AND pp.p_size = cm.pmax
        |ORDER BY pp.price_c""".stripMargin,

    "q224_neyman_allocation" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY o_custkey),
        |strata AS (
        |  SELECT c.c_mktsegment, COUNT(*) AS n_h,
        |    CAST(SUM(CAST(COALESCE(s.v, 0) AS HUGEINT)) AS HUGEINT) AS sv,
        |    CAST(SUM(CAST(COALESCE(s.v, 0) AS HUGEINT) * COALESCE(s.v, 0))
        |      AS HUGEINT) AS sv2
        |  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
        |  GROUP BY c.c_mktsegment HAVING COUNT(*) >= 2),
        |sd AS (
        |  SELECT c_mktsegment, n_h,
        |    CAST(FLOOR(SQRT(
        |      CAST(n_h * sv2 - sv * sv AS DOUBLE) /
        |      CAST(CAST(n_h AS HUGEINT) * (n_h - 1) AS DOUBLE)) * 100.0)
        |      AS BIGINT) AS sd_e2
        |  FROM strata),
        |w AS (SELECT c_mktsegment, n_h, sd_e2, n_h * sd_e2 AS nshs FROM sd),
        |tot AS (SELECT CAST(SUM(nshs) AS BIGINT) AS w_tot FROM w)
        |SELECT w.c_mktsegment, w.n_h,
        |  ROUND(CAST(w.sd_e2 AS DOUBLE) / 100.0, 6) AS sd,
        |  ROUND(CAST(w.nshs AS DOUBLE) / w_tot, 6) AS share,
        |  CAST((1000 * w.nshs) // w_tot AS BIGINT) AS alloc_n
        |FROM w CROSS JOIN tot
        |ORDER BY w.c_mktsegment""".stripMargin,

    "q225_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), ' ') AS ws
        |  FROM documents),
        |docs AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d),
        |tok AS (
        |  SELECT doc_id, unnest(ws) AS token FROM d),
        |ft AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
        |       WHERE token IN ('spark', 'join', 'window')
        |       GROUP BY doc_id, token),
        |st AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
        |       WHERE token IN ('spark', 'join', 'window') GROUP BY token),
        |corpus AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
        |           FROM docs),
        |per AS (
        |  SELECT ft.doc_id, ft.token, ft.tf,
        |    LN((n_docs - df + 0.5) / (df + 0.5)) * CAST(ft.tf AS DOUBLE) *
        |      (1.2 + 1.0) /
        |      (CAST(ft.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
        |        0.75 * CAST(docs.dl AS DOUBLE) * n_docs / sum_dl)) AS sc
        |  FROM ft JOIN st ON st.token = ft.token
        |  JOIN docs ON docs.doc_id = ft.doc_id
        |  CROSS JOIN corpus),
        |piv AS (
        |  SELECT doc_id,
        |    MAX(CASE WHEN token = 'spark' THEN sc END) AS spark_sc,
        |    MAX(CASE WHEN token = 'join' THEN sc END) AS join_sc,
        |    MAX(CASE WHEN token = 'window' THEN sc END) AS window_sc,
        |    MAX(CASE WHEN token = 'spark' THEN tf END) AS spark_tf,
        |    MAX(CASE WHEN token = 'join' THEN tf END) AS join_tf,
        |    MAX(CASE WHEN token = 'window' THEN tf END) AS window_tf
        |  FROM per GROUP BY doc_id)
        |SELECT docs.doc_id, docs.dl,
        |  CAST(COALESCE(piv.spark_tf, 0) AS BIGINT) AS tf_spark,
        |  CAST(COALESCE(piv.join_tf, 0) AS BIGINT) AS tf_join,
        |  CAST(COALESCE(piv.window_tf, 0) AS BIGINT) AS tf_window,
        |  ROUND(COALESCE(piv.spark_sc, 0.0) + COALESCE(piv.join_sc, 0.0) +
        |        COALESCE(piv.window_sc, 0.0), 6) AS score
        |FROM docs LEFT JOIN piv ON piv.doc_id = docs.doc_id
        |ORDER BY (COALESCE(piv.spark_sc, 0.0) + COALESCE(piv.join_sc, 0.0) +
        |          COALESCE(piv.window_sc, 0.0)) DESC, docs.doc_id
        |LIMIT 10""".stripMargin,

    "q226_jw_blocking" ->
      """WITH names AS (
        |  SELECT p_name, COUNT(*) AS n_parts,
        |    split_part(p_name, ' ', 1) AS blk
        |  FROM part GROUP BY p_name)
        |SELECT a.blk, a.p_name AS name_a, b.p_name AS name_b,
        |  a.n_parts AS parts_a, b.n_parts AS parts_b,
        |  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |FROM names a JOIN names b
        |  ON b.blk = a.blk AND a.p_name < b.p_name
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.85
        |ORDER BY a.blk, a.p_name, b.p_name""".stripMargin,

    "q227_compaction_plan" ->
      """WITH days AS (
        |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_rows
        |  FROM events GROUP BY CAST(ts AS DATE)),
        |c AS (
        |  SELECT d, n_rows,
        |    SUM(n_rows) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM days)
        |SELECT CAST((cum - n_rows) // 500 AS BIGINT) AS file_id,
        |  COUNT(*) AS n_days, MIN(d) AS day_min, MAX(d) AS day_max,
        |  CAST(SUM(n_rows) AS BIGINT) AS n_rows
        |FROM c GROUP BY CAST((cum - n_rows) // 500 AS BIGINT)
        |ORDER BY file_id""".stripMargin,

    "q228_dict_encoding_advisor" -> {
      def one(table: String, column: String): String =
        s"""SELECT '$table' AS tbl, '$column' AS col_name, f.n, d.ndv,
           |  f.plain_bytes,
           |  CASE WHEN d.ndv <= 1 THEN 1
           |       ELSE CAST(LENGTH(bin(d.ndv - 1)) AS BIGINT) END AS code_bits,
           |  d.dict_values_bytes +
           |    (f.n * (CASE WHEN d.ndv <= 1 THEN 1
           |            ELSE CAST(LENGTH(bin(d.ndv - 1)) AS BIGINT) END) + 7) // 8
           |    AS dict_bytes,
           |  ROUND(CAST(d.dict_values_bytes +
           |    (f.n * (CASE WHEN d.ndv <= 1 THEN 1
           |            ELSE CAST(LENGTH(bin(d.ndv - 1)) AS BIGINT) END) + 7) // 8
           |    AS DOUBLE) / f.plain_bytes, 6) AS size_ratio
           |FROM (SELECT COUNT(*) AS n,
           |        CAST(SUM(LENGTH($column)) AS BIGINT) AS plain_bytes
           |      FROM $table) f
           |CROSS JOIN (SELECT COUNT(*) AS ndv,
           |        CAST(SUM(LENGTH(v)) AS BIGINT) AS dict_values_bytes
           |      FROM (SELECT DISTINCT $column AS v FROM $table)) d""".stripMargin
      Seq(("orders", "o_orderpriority"), ("orders", "o_orderstatus"),
        ("customer", "c_mktsegment"), ("part", "p_brand"), ("part", "p_type"))
        .map((one _).tupled)
        .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col_name")
    },

    "q229_partition_layout_advisor" -> {
      def one(name: String, keyExpr: String): String =
        s"""SELECT '$name' AS candidate, COUNT(*) AS n_parts,
           |  CAST(SUM(cnt) AS BIGINT) AS n_rows, MAX(cnt) AS max_part,
           |  ROUND(CAST(CAST(MAX(cnt) AS HUGEINT) * COUNT(*) AS DOUBLE) /
           |        CAST(SUM(cnt) AS DOUBLE), 6) AS skew_ratio
           |FROM (SELECT $keyExpr AS k, COUNT(*) AS cnt
           |      FROM events GROUP BY $keyExpr)""".stripMargin
      Seq(("event_type", "event_type"),
        ("event_day", "CAST(CAST(ts AS DATE) AS VARCHAR)"),
        ("user_bucket64", "CAST(user_id % 64 AS VARCHAR)"))
        .map((one _).tupled)
        .mkString("", "\nUNION ALL\n", "\nORDER BY candidate")
    },

    // Minimax identity replayed directly; l_quantity is integer-valued
    // (1..50) so the BIGINT cast is exact in both engines.
    "q230_isotonic_calibration" ->
      """WITH b AS (
        |  SELECT (CAST(l_quantity AS BIGINT) - 1) // 5 AS bin,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY 1),
        |iv AS (
        |  SELECT i.bin AS i, j.bin AS j,
        |    CAST(SUM(m.pos) AS DOUBLE) / CAST(SUM(m.n) AS DOUBLE) AS mean
        |  FROM b i JOIN b j ON i.bin <= j.bin
        |  JOIN b m ON m.bin BETWEEN i.bin AND j.bin
        |  GROUP BY i.bin, j.bin),
        |mi AS (
        |  SELECT k.bin AS k, iv.i, MIN(iv.mean) AS mn
        |  FROM b k JOIN iv ON iv.i <= k.bin AND k.bin <= iv.j
        |  GROUP BY k.bin, iv.i),
        |iso AS (SELECT k, MAX(mn) AS iso_rate FROM mi GROUP BY k)
        |SELECT b.bin, b.n, b.pos,
        |  CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE) AS raw_rate,
        |  iso.iso_rate + 0.0 AS iso_rate
        |FROM b JOIN iso ON b.bin = iso.k
        |ORDER BY b.bin""".stripMargin,

    "q231_eb_shrinkage" ->
      """WITH br AS (
        |  SELECT p_brand,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    COUNT(*) AS n
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand),
        |pp AS (SELECT p_brand, x, n,
        |  CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |  CAST((CAST(x AS HUGEINT) * 1000000000000) // n AS BIGINT) AS pq
        |  FROM br),
        |pri AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS k,
        |    CAST(SUM(pq) AS DOUBLE) / 1e12 AS sqd,
        |    CAST(SUM(CAST(pq AS HUGEINT) * pq) AS DOUBLE) / 1e24 AS sqqd
        |  FROM pp),
        |mv AS (SELECT sqd / k AS m, (sqqd - sqd * sqd / k) / k AS v FROM pri),
        |sx AS (SELECT m, v,
        |  CASE WHEN v > 0 AND m * (1.0 - m) / v - 1.0 > 0
        |       THEN m * (1.0 - m) / v - 1.0 ELSE NULL END AS s
        |  FROM mv)
        |SELECT p_brand, n, x, p + 0.0 AS raw_rate,
        |  s + 0.0 AS prior_strength,
        |  (CAST(x AS DOUBLE) + m * s) / (CAST(n AS DOUBLE) + s)
        |    AS shrunk_rate
        |FROM pp CROSS JOIN sx ORDER BY p_brand""".stripMargin,

    // Four unrolled remove-recompute rounds; Σx² rides HUGEINT (exact)
    // and rounds to double once, matching the Spark side's BigInt path.
    "q232_gesd_outliers" -> {
      def stats(src: String, id: Int): String =
        s"""s$id AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           |  CAST(SUM(cents) AS DOUBLE) AS s,
           |  CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS q
           |  FROM $src)""".stripMargin
      def pick(src: String, id: Int): String =
        s"""o$id AS (SELECT d, cents,
           |  ABS(CAST(cents AS DOUBLE) - s / n) /
           |    sqrt((q - s * s / n) / (n - 1.0)) AS r
           |  FROM $src, s$id
           |  ORDER BY ABS(CAST(cents AS DOUBLE) - s / n) DESC, d LIMIT 1)""".stripMargin
      def excl(prev: String, id: Int): String =
        s"d$id AS (SELECT $prev.* FROM $prev WHERE d NOT IN (SELECT d FROM o${id - 1}))"
      val rounds = (1 to GesdRounds).map { i =>
        val src = if (i == 1) "day" else s"d$i"
        val pieces = Seq(
          if (i == 1) "" else excl(if (i == 2) "day" else s"d${i - 1}", i),
          stats(src, i), pick(src, i))
        pieces.filter(_.nonEmpty).mkString(",\n")
      }.mkString(",\n")
      val sel = (1 to GesdRounds).map { i =>
        s"""SELECT $i AS round_i, d AS day, cents,
           |  ROUND(r, 6) + 0.0 AS r_stat, r > $GesdThreshold AS is_outlier
           |FROM o$i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH day AS (
         |  SELECT CAST(o_orderdate AS DATE) AS d,
         |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
         |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
         |$rounds
         |$sel
         |ORDER BY round_i""".stripMargin
    },

    "q233_conformal_interval" ->
      s"""WITH o AS (SELECT o_orderkey, o_orderpriority AS prio,
         |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c FROM orders),
         |trn AS (SELECT * FROM o WHERE o_orderkey % 3 = 0),
         |cal AS (SELECT * FROM o WHERE o_orderkey % 3 = 1),
         |tst AS (SELECT * FROM o WHERE o_orderkey % 3 = 2),
         |preds AS (SELECT prio,
         |    CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS yhat
         |  FROM trn GROUP BY prio),
         |res AS (SELECT ABS(CAST(c AS DOUBLE) - yhat) AS r
         |  FROM cal JOIN preds USING (prio)),
         |nk AS (SELECT COUNT(*) AS n_cal,
         |    LEAST(CAST(CEIL((1.0 - $ConformalAlpha) *
         |      CAST(COUNT(*) + 1 AS DOUBLE)) AS BIGINT), COUNT(*)) AS kk
         |  FROM res),
         |rk AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn FROM res),
         |qh AS (SELECT n_cal, kk AS k_rank, r AS qhat
         |  FROM rk JOIN nk ON rn = kk),
         |cov AS (SELECT n_cal, k_rank, qhat, COUNT(*) AS n_test,
         |    CAST(SUM(CASE WHEN ABS(CAST(c AS DOUBLE) - yhat) <= qhat
         |        THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
         |  FROM tst JOIN preds USING (prio) CROSS JOIN qh
         |  GROUP BY n_cal, k_rank, qhat)
         |SELECT n_cal, k_rank, qhat AS qhat_cents, n_test, n_covered,
         |  CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage
         |FROM cov""".stripMargin,

    "q234_tombstone_cascade" ->
      """WITH tomb AS (
        |  SELECT c_custkey AS k FROM customer
        |  WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0'),
        |tord AS (SELECT o_orderkey AS tok FROM orders JOIN tomb ON o_custkey = k)
        |SELECT 'customer' AS entity, COUNT(*) AS rows_total,
        |  CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS rows_tombstoned,
        |  CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS pct
        |FROM customer LEFT JOIN tomb ON c_custkey = k
        |UNION ALL
        |SELECT 'orders', COUNT(*),
        |  CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)
        |FROM orders LEFT JOIN tomb ON o_custkey = k
        |UNION ALL
        |SELECT 'lineitem', COUNT(*),
        |  CAST(SUM(CASE WHEN tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(SUM(CASE WHEN tok IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)
        |FROM lineitem LEFT JOIN tord ON l_orderkey = tok
        |UNION ALL
        |SELECT 'events', COUNT(*),
        |  CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)
        |FROM events LEFT JOIN tomb ON user_id = k
        |ORDER BY entity""".stripMargin,

    "q235_pr_curve" ->
      """WITH d AS (
        |  SELECT regexp_split_to_array(lower(text), ' ') AS ws,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (
        |  SELECT LEAST(CAST(FLOOR((CAST(len(list_distinct(ws)) AS DOUBLE) /
        |      CAST(len(ws) AS DOUBLE)) * 20) AS BIGINT), 19) AS bin,
        |    CAST(SUM(y) AS BIGINT) AS pos, COUNT(*) AS n
        |  FROM d GROUP BY 1),
        |tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS tot_pos FROM b),
        |cum AS (
        |  SELECT k.bin AS k, CAST(SUM(b.pos) AS BIGINT) AS tp,
        |    CAST(SUM(b.n) AS BIGINT) AS n_predicted
        |  FROM b k JOIN b ON b.bin >= k.bin GROUP BY k.bin),
        |pr AS (
        |  SELECT k, n_predicted, tp,
        |    CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE) AS p,
        |    CAST(tp AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS r
        |  FROM cum CROSS JOIN tot)
        |SELECT k AS bin, CAST(k AS DOUBLE) / 20.0 AS threshold,
        |  n_predicted, tp,
        |  ROUND(p, 6) AS prec, ROUND(r, 6) AS rec,
        |  ROUND(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
        |        ELSE 0.0 END, 6) AS f1
        |FROM pr ORDER BY bin""".stripMargin,

    "q236_ndcg_popularity" -> {
      // e0 suffix on every literal: a bare decimal literal is DECIMAL in
      // DuckDB, whose decimal→double cast is 1 ulp off the correctly-
      // rounded parse for two of these constants, and a DECIMAL weight
      // would make the oracle's SUM exact-decimal where Spark sums
      // doubles (the KmvM e-notation convention; found by review).
      val wCase = NdcgW.zipWithIndex
        .map { case (w, i) => s"WHEN ${i + 1} THEN ${w}e0" }
        .mkString("CASE pos ", " ", " END")
      val idcgCase = s"""CASE WHEN bsz >= 5 THEN ${NdcgIdcg(4)}e0
         |    WHEN bsz = 4 THEN ${NdcgIdcg(3)}e0
         |    WHEN bsz = 3 THEN ${NdcgIdcg(2)}e0
         |    WHEN bsz = 2 THEN ${NdcgIdcg(1)}e0
         |    ELSE ${NdcgIdcg(0)}e0 END""".stripMargin
      s"""WITH ranked AS (
         |  SELECT o_orderkey, o_custkey,
         |    ROW_NUMBER() OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |  FROM orders),
         |tb AS (
         |  SELECT p_brand, COUNT(*) AS cnt
         |  FROM lineitem
         |  JOIN ranked ON l_orderkey = o_orderkey AND rn > 1
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY p_brand),
         |top5 AS (
         |  SELECT p_brand, $wCase AS w FROM (
         |    SELECT p_brand,
         |      ROW_NUMBER() OVER (ORDER BY cnt DESC, p_brand) AS pos
         |    FROM tb) WHERE pos <= $NdcgK),
         |baskets AS (
         |  SELECT DISTINCT o_custkey AS cust, p_brand
         |  FROM lineitem
         |  JOIN ranked ON l_orderkey = o_orderkey AND rn = 1
         |  JOIN part ON l_partkey = p_partkey),
         |u AS (
         |  SELECT cust, COUNT(*) AS bsz,
         |    SUM(COALESCE(w, 0e0)) AS dcg
         |  FROM baskets LEFT JOIN top5 USING (p_brand) GROUP BY cust),
         |n AS (SELECT cust, dcg / ($idcgCase) AS ndcg FROM u)
         |SELECT COUNT(*) AS n_users, ROUND(AVG(ndcg), 6) AS avg_ndcg,
         |  ROUND(CAST(SUM(CASE WHEN ndcg > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE), 6) AS hit_rate
         |FROM n""".stripMargin
    },

    "q247_adamic_adar" ->
      s"""WITH bb AS (
         |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
         |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
         |pc AS (
         |  SELECT a.brand AS ba, b.brand AS bc, COUNT(*) AS n
         |  FROM bb a JOIN bb b ON b.ok = a.ok AND a.brand < b.brand
         |  GROUP BY a.brand, b.brand),
         |nb AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets FROM bb),
         |e AS (SELECT ba, bc FROM pc CROSS JOIN nb
         |      WHERE CAST(n AS DOUBLE) >=
         |        $AaSupportFrac * CAST(n_baskets AS DOUBLE)),
         |b2 AS (SELECT ba AS src, bc AS dst FROM e
         |       UNION ALL SELECT bc AS src, ba AS dst FROM e),
         |deg AS (SELECT src AS z, COUNT(*) AS deg FROM b2 GROUP BY src),
         |w AS (SELECT x.dst AS a, x.src AS z, y.dst AS c
         |      FROM b2 x JOIN b2 y ON y.src = x.src AND x.dst < y.dst),
         |ne AS (SELECT w.a, w.z, w.c FROM w
         |       LEFT JOIN e ON e.ba = w.a AND e.bc = w.c
         |       WHERE e.ba IS NULL)
         |SELECT ne.a AS brand_a, ne.c AS brand_b, COUNT(*) AS n_common,
         |  ROUND(SUM(1.0 / ln(deg.deg)), 6) AS aa_score
         |FROM ne JOIN deg ON deg.z = ne.z
         |GROUP BY ne.a, ne.c
         |ORDER BY aa_score DESC, brand_a, brand_b""".stripMargin,

    "q248_skipgram_pairs" -> {
      val horner = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      s"""WITH tk0 AS (
         |  SELECT doc_id,
         |    unnest([{'pos': i - 1, 'w': ws[i]} for i in range(1, len(ws) + 1)]) AS u
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
         |        FROM documents WHERE text IS NOT NULL) s),
         |tk AS (SELECT doc_id, u.pos AS pos, u.w AS tok FROM tk0),
         |cnt AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
         |kh AS (
         |  SELECT tk.doc_id, tk.pos, tk.tok, cnt.c, tot.total,
         |    md5(CAST(tk.doc_id AS VARCHAR) || ':' || CAST(tk.pos AS VARCHAR)) AS hx
         |  FROM tk JOIN cnt ON cnt.tok = tk.tok CROSS JOIN tot),
         |kept AS (
         |  SELECT doc_id, pos, tok FROM kh
         |  WHERE CAST($horner AS DOUBLE) / 4294967296.0 <
         |    least(1.0, sqrt($SkipgramT * CAST(total AS DOUBLE) / CAST(c AS DOUBLE))))
         |SELECT a.tok AS center, b.tok AS context, COUNT(*) AS n_pairs
         |FROM kept a JOIN kept b
         |  ON b.doc_id = a.doc_id
         | AND b.pos BETWEEN a.pos - $SkipgramWindow AND a.pos + $SkipgramWindow
         | AND b.pos <> a.pos
         |GROUP BY a.tok, b.tok
         |HAVING COUNT(*) >= $SkipgramMinCount
         |ORDER BY n_pairs DESC, center, context""".stripMargin
    },

    "q249_brier_decomposition" ->
      s"""WITH f AS (
         |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         |    CAST(LENGTH(text) AS DOUBLE) / len(ws) AS r1,
         |    CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS DOUBLE) /
         |      len(ws) AS r2,
         |    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS r3
         |  FROM (SELECT lang, text, string_split(lower(text), ' ') AS ws
         |        FROM documents WHERE text IS NOT NULL) s),
         |p AS (
         |  SELECT y, 1.0 / (1.0 + exp(-($BrierW0 + $BrierW1 * r1 +
         |    $BrierW2 * r2 + $BrierW3 * r3))) AS p
         |  FROM f),
         |qz AS (
         |  SELECT CAST(y AS BIGINT) AS yl,
         |    LEAST(CAST(FLOOR(p * $BrierBins) AS BIGINT),
         |      ${BrierBins - 1}) AS bin,
         |    CAST(FLOOR(p * 1e12) AS BIGINT) AS pe
         |  FROM p),
         |b AS (
         |  SELECT bin, COUNT(*) AS n_k, CAST(SUM(yl) AS BIGINT) AS sy,
         |    SUM(CAST(pe AS HUGEINT)) AS spe,
         |    SUM(CAST(pe AS HUGEINT) * pe) AS sp2e,
         |    SUM(CAST(CASE WHEN yl = 1 THEN pe ELSE 0 END AS HUGEINT)) AS spye
         |  FROM qz GROUP BY bin),
         |t AS (SELECT CAST(SUM(n_k) AS BIGINT) AS n,
         |  CAST(SUM(sy) AS BIGINT) AS sy_t,
         |  SUM(sp2e) AS sp2_t, SUM(spye) AS spy_t FROM b),
         |terms AS (
         |  SELECT bin, n, sy_t, sp2_t, spy_t,
         |    de * de / CAST(n_k AS DOUBLE) AS rel_term,
         |    CAST(n_k AS DOUBLE) * dd * dd AS res_term
         |  FROM (SELECT b.bin, b.n_k, b.sy, t.n, t.sy_t, t.sp2_t, t.spy_t,
         |      CAST(b.spe - CAST(b.sy AS HUGEINT) * 1000000000000 AS DOUBLE)
         |        / 1e12 AS de,
         |      CAST(b.sy AS DOUBLE) / CAST(b.n_k AS DOUBLE) -
         |        CAST(t.sy_t AS DOUBLE) / CAST(t.n AS DOUBLE) AS dd
         |    FROM b CROSS JOIN t) s)
         |SELECT MAX(n) AS n_docs,
         |  CAST(MAX(sp2_t) - CAST(1000000000000 AS HUGEINT) *
         |      (CAST(2 AS HUGEINT) * MAX(spy_t) -
         |        CAST(1000000000000 AS HUGEINT) * MAX(sy_t)) AS DOUBLE) /
         |    (CAST(MAX(n) AS DOUBLE) * 1e24) AS brier,
         |  (${foldSql("rel_term")}) / CAST(MAX(n) AS DOUBLE) AS reliability,
         |  (${foldSql("res_term")}) / CAST(MAX(n) AS DOUBLE) AS resolution,
         |  (CAST(MAX(sy_t) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)) *
         |    (1.0 - CAST(MAX(sy_t) AS DOUBLE) / CAST(MAX(n) AS DOUBLE))
         |    AS uncertainty
         |FROM terms""".stripMargin,

    "q250_randomized_response" -> {
      val horner = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      s"""WITH ev AS (
         |  SELECT event_type,
         |    CASE WHEN COALESCE(value, 0.0) > $RrValueThr THEN 1 ELSE 0 END
         |      AS truth,
         |    md5('rr:' || CAST(event_id AS VARCHAR)) AS hx
         |  FROM events),
         |u AS (
         |  SELECT event_type, truth,
         |    CAST($horner AS DOUBLE) / 4294967296.0 AS u
         |  FROM ev),
         |r AS (
         |  SELECT event_type, truth,
         |    CASE WHEN u < $RrQ
         |         THEN CASE WHEN u < $RrQ / 2.0 THEN 1 ELSE 0 END
         |         ELSE truth END AS report
         |  FROM u),
         |g AS (
         |  SELECT event_type, COUNT(*) AS n,
         |    CAST(SUM(truth) AS BIGINT) AS n_true,
         |    CAST(SUM(report) AS BIGINT) AS n_reported
         |  FROM r GROUP BY event_type)
         |SELECT event_type, n, n_true, n_reported,
         |  ROUND(CAST(n_true AS DOUBLE) / CAST(n AS DOUBLE), 6) AS true_pi,
         |  ROUND(CAST(n_reported AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate,
         |  ROUND((CAST(n_reported AS DOUBLE) / CAST(n AS DOUBLE) - $RrQ / 2.0) /
         |    (1.0 - $RrQ), 6) + 0.0 AS pi_hat,
         |  ROUND(abs((CAST(n_reported AS DOUBLE) / CAST(n AS DOUBLE) -
         |      $RrQ / 2.0) / (1.0 - $RrQ) -
         |    CAST(n_true AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS abs_err
         |FROM g ORDER BY event_type""".stripMargin
    },

    // Sign matrix, projections, and every distance are spelled out as the
    // SAME left-associated chains the Spark side folds, so all doubles are
    // bit-identical cross-engine (the q34/q121 fold-order discipline).
    "q251_jl_distortion" -> {
      def projSql(side: String, j: Int): String =
        (0 until JlD)
          .map(i => s"$side.emb[${i + 1}] * ${JlSigns(j)(i)}.0")
          .mkString(" + ")
      val yCols = (0 until JlK)
        .map(j => s"${projSql("e", j)} AS y$j")
        .mkString(",\n         |    ")
      val d2o = (0 until JlD)
        .map(i => s"(a.emb[${i + 1}] - b.emb[${i + 1}]) * " +
          s"(a.emb[${i + 1}] - b.emb[${i + 1}])")
        .mkString(" + ")
      val d2p = (0 until JlK)
        .map(j => s"(a.y$j - b.y$j) * (a.y$j - b.y$j)")
        .mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings
         |  WHERE vec_id % $JlSampleMod = 0 AND vec_id < $JlSampleCap),
         |p AS (
         |  SELECT vec_id, emb,
         |    $yCols
         |  FROM e e)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ROUND($d2o, 6) AS d2_orig,
         |  ROUND(($d2p) / ${JlK}.0, 6) AS d2_proj_scaled,
         |  ROUND((($d2p) / ${JlK}.0) / ($d2o), 6) AS ratio
         |FROM p a JOIN p b ON a.vec_id < b.vec_id
         |ORDER BY vec_a, vec_b""".stripMargin
    },

    "q252_fs_linkage" -> {
      def uExpr(r: String): String =
        s"LEAST(GREATEST($r, 1.0 / (2.0 * n_u)), 1.0 - 1.0 / (2.0 * n_u))"
      def wExpr(g: String, m: String, u: String): String =
        s"(CASE WHEN $g THEN log2($m / $u) " +
          s"ELSE log2((1.0 - $m) / (1.0 - $u)) END)"
      val wSum = wExpr("g_name", FsMName, "u_name") + " +\n         |  " +
        wExpr("g_brand", FsMBrand, "u_brand") + " +\n         |  " +
        wExpr("g_type", FsMType, "u_type") + " +\n         |  " +
        wExpr("g_size", FsMSize, "u_size")
      s"""WITH p AS (
         |  SELECT p_partkey, p_name, p_brand, p_type, p_size,
         |    split_part(p_name, ' ', 1) || ' ' || split_part(p_name, ' ', 2)
         |      AS blk
         |  FROM part),
         |u0 AS (
         |  SELECT COUNT(*) AS n_u,
         |    AVG(CASE WHEN jaro_winkler_similarity(a.p_name, b.p_name)
         |          >= $FsJwThr THEN 1.0 ELSE 0.0 END) AS r_name,
         |    AVG(CASE WHEN a.p_brand = b.p_brand THEN 1.0 ELSE 0.0 END)
         |      AS r_brand,
         |    AVG(CASE WHEN a.p_type = b.p_type THEN 1.0 ELSE 0.0 END)
         |      AS r_type,
         |    AVG(CASE WHEN a.p_size = b.p_size THEN 1.0 ELSE 0.0 END)
         |      AS r_size
         |  FROM p a JOIN p b ON b.p_partkey = a.p_partkey + $FsOffset),
         |u AS (
         |  SELECT n_u, ${uExpr("r_name")} AS u_name,
         |    ${uExpr("r_brand")} AS u_brand, ${uExpr("r_type")} AS u_type,
         |    ${uExpr("r_size")} AS u_size
         |  FROM u0),
         |cand AS (
         |  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
         |    jaro_winkler_similarity(a.p_name, b.p_name) >= $FsJwThr AS g_name,
         |    a.p_brand = b.p_brand AS g_brand,
         |    a.p_type = b.p_type AS g_type,
         |    a.p_size = b.p_size AS g_size
         |  FROM p a JOIN p b ON b.blk = a.blk AND a.p_partkey < b.p_partkey)
         |SELECT key_a, key_b, g_name, g_brand, g_type, g_size,
         |  ROUND($wSum, 6) AS match_weight
         |FROM cand CROSS JOIN u
         |WHERE ($wSum) >= $FsWeightCut
         |ORDER BY match_weight DESC, key_a, key_b""".stripMargin
    },

    "q253_anova_dow" ->
      s"""WITH g AS (
         |  SELECT isodow(CAST(o_orderdate AS DATE)) - 1 AS dow,
         |    COUNT(*) AS n_g,
         |    SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS s_g,
         |    SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) *
         |        CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS q_g
         |  FROM orders GROUP BY 1),
         |tt AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, SUM(s_g) AS s,
         |         COUNT(*) AS k FROM g),
         |terms AS (
         |  SELECT n, k, n_g,
         |    CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS gm,
         |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS tm,
         |    CAST(q_g AS DOUBLE) - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
         |      CAST(n_g AS DOUBLE) AS wterm
         |  FROM g CROSS JOIN tt)
         |SELECT n AS n_orders, CAST(k AS BIGINT) AS k_groups,
         |  ROUND((SUM(CAST(n_g AS DOUBLE) * (gm - tm) * (gm - tm)) /
         |      CAST(k - 1 AS DOUBLE)) /
         |    (SUM(wterm) / CAST(n - k AS DOUBLE)), 6) AS f_stat,
         |  ROUND(SUM(CAST(n_g AS DOUBLE) * (gm - tm) * (gm - tm)) /
         |    (SUM(CAST(n_g AS DOUBLE) * (gm - tm) * (gm - tm)) + SUM(wterm)),
         |    6) AS eta_sq,
         |  (SUM(CAST(n_g AS DOUBLE) * (gm - tm) * (gm - tm)) /
         |      CAST(k - 1 AS DOUBLE)) /
         |    (SUM(wterm) / CAST(n - k AS DOUBLE)) > $AnovaCritF AS significant
         |FROM terms GROUP BY n, k""".stripMargin,

    "q254_spearman" ->
      """WITH o AS (
        |  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS x,
        |    CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS y
        |  FROM orders JOIN customer ON c_custkey = o_custkey),
        |vx AS (SELECT x AS v, COUNT(*) AS cnt FROM o GROUP BY x),
        |rx AS (SELECT v, 2 * SUM(cnt) OVER (ORDER BY v) - cnt + 1 AS dr
        |       FROM vx),
        |vy AS (SELECT y AS v, COUNT(*) AS cnt FROM o GROUP BY y),
        |ry AS (SELECT v, 2 * SUM(cnt) OVER (ORDER BY v) - cnt + 1 AS dr
        |       FROM vy),
        |j AS (SELECT o.x, o.y, rx.dr AS drx, ry.dr AS dry
        |      FROM o JOIN rx ON rx.v = o.x JOIN ry ON ry.v = o.y),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |        SUM(CAST(drx AS HUGEINT)) AS srx,
        |        SUM(CAST(dry AS HUGEINT)) AS sry,
        |        SUM(CAST(drx AS HUGEINT) * drx) AS srxx,
        |        SUM(CAST(dry AS HUGEINT) * dry) AS sryy,
        |        SUM(CAST(drx AS HUGEINT) * dry) AS srxy,
        |        SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |        SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |        SUM(CAST(y AS HUGEINT) * y) AS syy,
        |        SUM(CAST(x AS HUGEINT) * y) AS sxy
        |      FROM j)
        |SELECT CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n * srxy - srx * sry AS DOUBLE) /
        |    (SQRT(CAST(n * srxx - srx * srx AS DOUBLE)) *
        |     SQRT(CAST(n * sryy - sry * sry AS DOUBLE))), 6) AS rho_spearman,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS r_pearson
        |FROM m""".stripMargin,

    "q255_cmh_odds" ->
      s"""WITH ho AS (
         |  SELECT o_custkey FROM orders GROUP BY o_custkey
         |  HAVING COUNT(*) >= $CmhOrderFloor),
         |c AS (
         |  SELECT c_nationkey,
         |    CASE WHEN c_acctbal > $CmhBalThr THEN 1 ELSE 0 END AS e,
         |    CASE WHEN ho.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS o
         |  FROM customer LEFT JOIN ho ON ho.o_custkey = c_custkey),
         |st AS (
         |  SELECT c_nationkey,
         |    CAST(SUM(e * o) AS BIGINT) AS a,
         |    CAST(SUM(e * (1 - o)) AS BIGINT) AS b,
         |    CAST(SUM((1 - e) * o) AS BIGINT) AS cc,
         |    CAST(SUM((1 - e) * (1 - o)) AS BIGINT) AS d
         |  FROM c GROUP BY c_nationkey),
         |s2 AS (SELECT a, b, cc, d, a + b + cc + d AS n FROM st)
         |SELECT COUNT(*) AS n_strata,
         |  ROUND(SUM(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) /
         |    CAST(n AS DOUBLE)), 6) AS sum_ad_over_n,
         |  ROUND(SUM(CAST(b AS DOUBLE) * CAST(cc AS DOUBLE) /
         |    CAST(n AS DOUBLE)), 6) AS sum_bc_over_n,
         |  ROUND(SUM(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) /
         |      CAST(n AS DOUBLE)) /
         |    SUM(CAST(b AS DOUBLE) * CAST(cc AS DOUBLE) /
         |      CAST(n AS DOUBLE)), 6) AS or_cmh
         |FROM s2""".stripMargin
  )
}
