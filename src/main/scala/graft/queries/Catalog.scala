package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its name, the engine query, and the DuckDB SQL
  * that must reproduce its rows over the same parquet fixtures. */
final case class CatalogEntry(name: String, run: Catalog.Q, oracleSql: String)

object Catalog {

  /** A catalog query over the fixture directory. */
  type Q = (SparkSession, String) => DataFrame

  /** The fixture table `name` under `dir`. */
  def pq(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
