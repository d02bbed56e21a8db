package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the named query catalog from the per-module defs
  * (graft.queries.*). Every query with SQL-expressible semantics
  * carries DuckDB oracle SQL; approximate/hash-dependent operators
  * (MinHash, SimHash) are declared rows-only per the contract.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_demand_heatmap")(spark, "/root/testdata/sf0.001")

  /** Each module's defs. `++` keeps the last of two equal keys, so a
    * query name defined in two modules would silently lose one;
    * CatalogSpec checks that no two share a key. */
  private[graft] val modules: Seq[Map[String, QueryDef]] = Seq(
    graft.queries.Parity.defs, graft.queries.Relational.defs,
    graft.queries.Pipeline.defs, graft.queries.Cached.defs,
    graft.queries.Advanced.defs, graft.queries.TpchShapes.defs,
    graft.queries.Stats.defs, graft.queries.Bucketing.defs,
    graft.queries.Warehouse.defs, graft.queries.Corpus.defs)

  private val catalog: Map[String, QueryDef] = modules.reduce(_ ++ _)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] =
    catalog.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }
}
