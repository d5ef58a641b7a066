package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QueryRegistry
import graft.queries.Shared.lakeCatalog
import graft.search.Discovery

/** Driver contract — one `queries` entry per implemented operator family
  * from SURVEY.md §2, each with its DuckDB oracle in `oracleSql` under the
  * same name. Both maps are views over [[graft.queries.QueryRegistry]],
  * where every query's Spark plan sits next to its oracle SQL.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: top-k unionable tables for `supplier`
    * over the whole lake, sketch-only mode (E4/minimum slice, SURVEY §7).
    */
  def entry(spark: SparkSession): DataFrame =
    Discovery.searchUnionable(
      lakeCatalog(spark, "/root/testdata/sf0.001"), "supplier", k = 10)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.specs.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    QueryRegistry.specs.map(q => q.name -> q.oracleSql).toMap
}
