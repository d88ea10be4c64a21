package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every implemented operator has a `queries` entry; those with an exact
  * ANSI-SQL equivalent also have an `oracleSql` entry (DuckDB hash-compare).
  * Column names and rounding are mirrored on both sides — see SURVEY.md §3
  * for the float-determinism rules. Query definitions live in
  * graft.queries.* (one object per operator family).
  */
object SparkEntry {

  /** The corpus [[entry]] reads. */
  val EntryDir = "/root/testdata/sf0.001"

  /** Flagship query on [[EntryDir]]; `Smoke` checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Pricing(spark, EntryDir)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Analytics.queries ++ GeoQueries.queries ++ TextQueries.queries ++
      DedupQueries.queries ++ AnnQueries.queries ++ EventQueries.queries ++ GeoExtQueries.queries ++ CartogramQueries.queries ++ ContourQueries.queries ++ SourceQueries.queries ++ PolyQueries.queries ++ CurationQueries.queries ++ RetrievalQueries.queries ++ HtmlQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get the driver's weaker
    * rows-only check (non-SQL-expressible ops). */
  def oracleSql: Map[String, String] =
    Analytics.oracles ++ GeoQueries.oracles ++ TextQueries.oracles ++
      DedupQueries.oracles ++ AnnQueries.oracles ++ EventQueries.oracles ++ GeoExtQueries.oracles ++ CartogramQueries.oracles ++ ContourQueries.oracles ++ SourceQueries.oracles ++ PolyQueries.oracles ++ CurationQueries.oracles ++ RetrievalQueries.oracles ++ HtmlQueries.oracles
}
