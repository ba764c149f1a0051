package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each query group lives in graft.ops.*; this object is only the registry.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ DedupQueries.queries ++ SimilarityQueries.queries ++
      SimilarityQueries.extraQueries ++ TextQueries.queries ++
      MultimodalQueries.queries ++ CurationQueries.queries ++
      StatsQueries.queries ++ StreamingQueries.queries

  /** Registry entries sorted by name, restricted to the CSV `only` when
    * given. Any unknown name fails: a typo must not produce a clean
    * zero-query run that reads as a success. */
  def selected(only: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val names = only.map(_.split(",").toSet)
    val unknown = names.getOrElse(Set.empty).filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    all.toSeq.sortBy(_._1).filter { case (n, _) => names.forall(_.contains(n)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ DedupQueries.oracles ++ SimilarityQueries.oracles ++
      TextQueries.oracles ++ MultimodalQueries.oracles ++ CurationQueries.oracles ++
      StatsQueries.oracles ++ StreamingQueries.oracles

  /** Oracles whose SQL embeds fixture-derived control-plane literals
    * (q140/q150's eigenvectors): built at Verify-dump time with the same
    * session + fixture dir the queries ran with, so the interpolated
    * literals are bit-identical to the ones inside the Spark plans.
    * Verify merges these over [[oracleSql]] when writing
    * oracle_sql.json. */
  def dynamicOracleSql(spark: SparkSession, sfDir: String): Map[String, String] =
    SimilarityQueries.dynamicOracles(spark, sfDir)
}
