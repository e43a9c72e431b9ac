package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.sources.PlanCache

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory) to DataFrame
  * builders over a testdata dir; `oracleSql` holds the DuckDB-dialect
  * equivalent for the driver's correctness compare. Column names/aliases
  * are kept identical on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CartAnalytics.q01TopAbandonedParts(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, each
    * wrapped once in the [[graft.sources.PlanCache]]: a warm construction
    * over unchanged content reuses its analyzed plan. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    (CartAnalytics.queries ++ Dedup.queries ++ Similarity.queries ++
      TextAnalysis.queries ++ EventsAnalytics.queries ++ Multimodal.queries ++
      Curation.queries).map { case (name, build) => name -> PlanCache(name)(build) }

  /** For each key in queries, equivalent SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CartAnalytics.oracleSql ++ Dedup.oracleSql ++ Similarity.oracleSql ++
      TextAnalysis.oracleSql ++ EventsAnalytics.oracleSql ++ Multimodal.oracleSql ++
      Curation.oracleSql

  /** [[oracleSql]] with corpus-adaptive entries resolved for `dir`:
    * d04's signature width depends on corpus cardinality (2 words to
    * 8192 docs, 3 beyond) and the six IVF-indexed mirrors
    * (s03/s05/s07/s10/s12/s13) embed the corpus-sized cell count k
    * ([[graft.operators.Similarity.ivfKFor]]), so those texts are
    * generated HERE at the parameters the operators will actually use.
    * Every driver sf is in the 2-word / k-floor regime, where this
    * equals the static map. */
  def oracleSqlFor(spark: SparkSession, dir: String): Map[String, String] =
    oracleSql ++ Similarity.oracleSqlFor(spark, dir) +
      ("d04_simhash" ->
        Dedup.simhashOracleSql(Dedup.simWordsFor(Dedup.docCount(spark, dir))))
}
