package graft

import org.apache.spark.sql.{DataFrame, GraftPlanApi}
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{GraftExtensions, Shared, SharedPlan, SharedStrategy}

/**
 * `Shared` must keep every consumer's copy of a frame identical, so the
 * frame's shuffle runs once and the other consumers reuse it, without
 * changing a row and without running a Spark job while the query is built.
 */
class SharedSpec extends AnyFunSuite with SparkSuite {

  /** A distinct with two diverging consumers: a filter on the grouping
    * key, which the optimizer pushes below the distinct, and a rollup of a
    * different column subset. */
  private def consumers(d: DataFrame): DataFrame = {
    import spark.implicits._
    val a = d.filter($"k" < 20).groupBy($"k".as("key")).agg(count(lit(1)).as("n"))
    val b = d.groupBy($"v".as("key")).agg(count(lit(1)).as("n"))
    a.select(lit("a").as("side"), $"key", $"n")
      .union(b.select(lit("b").as("side"), $"key", $"n"))
  }

  private def frame: DataFrame = {
    import spark.implicits._
    spark.range(0, 4000, 1, 4)
      .select(($"id" % 97).as("k"), ($"id" % 13).as("v"), ($"id" % 7).as("w"))
      .distinct()
  }

  private def reusedShuffles(df: DataFrame): Int =
    planNodes(df).count {
      case s: ShuffleQueryStageExec => s.plan.isInstanceOf[ReusedExchangeExec]
      case _ => false
    }

  test("consumers of a shared distinct reuse its one shuffle, with the same rows and no build job") {
    val plain = consumers(frame)
    val (shared, jobs) = jobsIn(consumers(Shared(frame)))
    assert(jobs === 0)
    val rows = shared.collect().map(_.toString).sorted
    assert(rows.nonEmpty)
    assert(rows.sameElements(plain.collect().map(_.toString).sorted))
    // without the barrier the pushed filter splits the copies: no reuse
    assert(reusedShuffles(plain) === 0, plain.queryExecution.executedPlan.toString)
    assert(reusedShuffles(shared) === 1, shared.queryExecution.executedPlan.toString)
  }

  test("Shared rejects a nondeterministic frame") {
    val e = intercept[IllegalArgumentException](Shared(spark.range(10).withColumn("r", rand())))
    assert(e.getMessage.contains("deterministic"))
  }

  test("the barrier survives optimization and leaves no node in the physical plan") {
    import spark.implicits._
    val df = Shared(frame).select($"k")
    assert(df.queryExecution.optimizedPlan.collect { case p: SharedPlan => p }.size === 1)
    assert(!df.queryExecution.executedPlan.toString.contains("Shared"))
  }

  test("GraftExtensions installs SharedStrategy") {
    assert(GraftPlanApi.plannerStrategies(spark, new GraftExtensions()).contains(SharedStrategy))
  }

  /** Queries whose build ran lazy checkpoints or an in-plan eager pin (the
    * dedup spine's, q107's fingerprints, q34's and q82's cell assignment)
    * and no other Spark job. Every
    * such frame is Shared or unpinned now, so building them runs nothing. */
  private val formerPinQueries = Seq(
    "q31_neardup_jaccard", "q32_dedup_minhash_lsh", "q34_cosine_neardup", "q53_decontamination",
    "q76_curation_pipeline", "q82_semdedup", "q83_containment_neardup", "q84_edit_neardup",
    "q85_incremental_lsh", "q88_bigram_logprob", "q95_source_lift",
    "q104_type_transitions", "q107_winnow_fingerprint_pairs", "q111_pmi_bigrams",
    "q112_contamination_frac", "q113_boilerplate_strip", "q115_source_overlap",
    "q118_shingle_novelty", "q120_source_kl", "q126_token_gini",
    "q128_rolling_active", "q131_prefix_filter_jaccard", "q144_revenue_attribution",
    "q145_bpe_tokenize", "q146_ks_drift", "q151_ks_binned",
    "q154_time_decay_attribution", "q156_session_transitions", "q160_chi_square_cells",
    "q161_benford_digits", "q167_session_trigrams", "q171_llr_collocations",
    "q173_audience_overlap", "q176_k_anonymity", "q182_jackknife_ci",
    "q185_join_size_estimate", "q189_rrf_hybrid", "q195_fdr_mixshift",
    "q200_quantile_normalize", "q202_cohort_ltv", "q203_kmv_monthly_overlap",
    "q212_sequential_rules", "q218_consistent_hash", "q219_max_concurrency",
    "q222_mutual_information", "q223_pareto_frontier", "q224_neyman_allocation",
    "q226_jw_blocking", "q230_isotonic_calibration", "q231_eb_shrinkage",
    "q233_conformal_interval", "q234_tombstone_cascade", "q235_pr_curve",
    "q240_t_closeness", "q242_hot_streaks", "q244_nn_matching",
    "q246_linear_interpolation", "q247_adamic_adar", "q248_skipgram_pairs",
    "q261_negative_sampling", "q263_kneser_ney", "q264_epoch_allocation",
    "q269_heaps_fit")

  test("building a former lazy-pin or spine-pin query runs no Spark job") {
    val built = formerPinQueries.map { q =>
      // the first build may list the fixture's files or fill a memo; count the second
      SparkEntry.queries(q)(spark, sf0001)
      q -> jobsIn(SparkEntry.queries(q)(spark, sf0001))._2
    }
    assert(built.forall(_._2 == 0), s"build-time jobs: ${built.filter(_._2 > 0)}")
  }
}
