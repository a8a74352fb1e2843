package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator's query; `oracleSql`
  * holds the DuckDB-equivalent SQL for those expressible in ANSI SQL
  * (the driver hash-compares results column-name-sorted, so aliases
  * match exactly on both sides).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Shape: fact⋈dims star join → aggregate — the canonical pattern the
    * engine optimizes (broadcast dims, partial aggregation).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_nation_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.GeoQueries.queries ++
      graft.queries.LlmQueries.queries ++
      graft.queries.SimilarityQueries.queries ++
      graft.queries.TemporalQueries.queries ++
      graft.queries.GovernanceQueries.queries

  /** The queries `names` names, in that order; all of them when it is
    * empty. A typo'd name fails loudly: silently selecting nothing
    * would make a spot-check look green while checking nothing. */
  def named(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val unknown = names.toSet -- queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    if (names.isEmpty) queries.toSeq else names.distinct.map(n => n -> queries(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracleSql ++
      graft.queries.GeoQueries.oracleSql ++
      graft.queries.LlmQueries.oracleSql ++
      graft.queries.SimilarityQueries.oracleSql ++
      graft.queries.TemporalQueries.oracleSql ++
      graft.queries.GovernanceQueries.oracleSql
}
