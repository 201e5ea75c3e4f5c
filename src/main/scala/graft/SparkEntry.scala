package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries. Every `queries` key with a
  * matching `oracleSql` key is hash-checked against DuckDB by the driver
  * (column names are part of the contract — both sides alias
  * identically).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's signature analytics query — "highest volume trading
    * period" (sql/Redshift_queries.sql:12-18) — realized as top-1 revenue
    * line item.
    */
  def entry(spark: SparkSession): DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(1)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ RelationalQueries.queries ++ TextQueries.queries ++
      DedupQueries.queries ++ SubstrDedup.queries ++ SimilarityQueries.queries ++
      SqlQueries.queries ++ MultimodalQueries.queries ++ TemporalQueries.queries

  /** The shared index builders the bench charges to `build:` lines, in
    * build order: dedup, substring, similarity, then text.
    */
  def indexBuilders(s: SparkSession, dir: String): Seq[(String, () => Unit)] =
    DedupQueries.indexBuilders(s, dir) ++ SubstrDedup.indexBuilders(s, dir) ++
      SimilarityQueries.indexBuilders(s, dir) ++ TextQueries.indexBuilders(s, dir)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    CoreQueries.oracle ++ RelationalQueries.oracle ++ TextQueries.oracle ++
      DedupQueries.oracle ++ SubstrDedup.oracle ++ SimilarityQueries.oracle ++
      SqlQueries.oracle ++ MultimodalQueries.oracle ++ TemporalQueries.oracle
}
