package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.queries.{Oracle, Query, Registry, RelationalQueries}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Both maps are views of [[graft.queries.Registry]]. Every entry in
  * `queries` has an `oracleSql` twin (DuckDB-runnable, same column
  * NAMES) unless the op is not SQL-expressible. Such a query is
  * registered with a [[graft.queries.GatedBy]] check that names its
  * twins: oracle queries that run its code path at exact parameters.
  * The driver checks that it returns rows.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.pipelineMaterialDemand(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.build).toMap

  /** DuckDB oracle SQL per query key (same parquet tables, same column
    * names — driver sorts columns by name before hashing values). */
  def oracleSql: Map[String, String] =
    Registry.all.collect { case Query(name, _, Oracle(sql)) => name -> sql }.toMap
}
