package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CatalogEntry, ExtensionQueries, ParityQueries}

/** Driver contract (SURVEY.md §7).
  * `queries` and `oracleSql` are two views of one catalog: each
  * [[CatalogEntry]] carries its query and its oracle SQL together. */
object SparkEntry {

  private def catalog: Seq[CatalogEntry] = ParityQueries.entries ++ ExtensionQueries.entries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs a two-table transport plan (dim build + target-side lookup
    * join) through the engine. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_refer_target_dep")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(e => e.name -> e.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    catalog.map(e => e.name -> e.oracleSql).toMap
}
