package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query packs live under graft.queries (one object per domain); this
  * object aggregates their registrations. Every SQL-expressible operator
  * has BOTH a `queries` entry and an `oracleSql` entry (driver t2 gate).
  */
object SparkEntry {

  private[graft] val packs: Seq[QueryPack] = Seq(
    ReferenceQueries,
    AnalyticsQueries,
    IvmQueries,
    DedupQueries,
    SimilarityQueries,
    TextQueries,
    MultimodalQueries,
    CurationQueries,
    SearchQueries,
    SelectionQueries,
    TokenizerQueries,
    LearnQueries,
    GovernanceQueries,
    ProbeQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("harvest_tasks")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap
}
