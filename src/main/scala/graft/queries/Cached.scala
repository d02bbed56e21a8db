package graft.queries

import graft.{QueryDef, Tables}
import graft.Rounding.{r6, r6sql}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's load-bearing performance decision re-expressed:
  * derive a featured table ONCE, `cache()` it, and fan out several
  * aggregates over the single InMemoryRelation
  * (/root/reference/yellow_taxi_etl.py:95 caches the featured trips
  * table that feeds 1 quantile sketch + 7 group-by analytics; SURVEY
  * §4 calls the cache the one deliberate optimization in the
  * pipeline). Here: featured events → three differently-keyed
  * aggregates, unioned into one deterministic result so the whole
  * fan-out is a single oracle-checked query. The plan shows one
  * parquet scan into InMemoryRelation and three InMemoryTableScan
  * consumers.
  *
  * At 100 TB the same shape holds with MEMORY_AND_DISK storage (the
  * default): the scan+feature cost is paid once instead of once per
  * consumer; partial aggregation keeps each consumer's shuffle tiny
  * (bounded by its group-key cardinality).
  */
object Cached {

  /** events + derived feature columns, the shared cached input
    * (P1/E1/E2 features on the harness events table). */
  def featuredEvents(df: DataFrame): DataFrame =
    df.withColumn("h", hour(col("ts")))
      .withColumn("dow", dayofweek(col("ts")))

  val cachedMultiAgg: QueryDef = QueryDef.sql(
    s"""WITH f AS (SELECT hour(ts) AS h, dayofweek(ts) + 1 AS dow,
                         event_type, value
                  FROM events),
       u AS (
         SELECT 'by_hour' AS slice, lpad(CAST(h AS VARCHAR), 2, '0') AS key,
                count(*) AS n, ${r6sql("sum(value)")} AS total_value
         FROM f GROUP BY 2
         UNION ALL
         SELECT 'by_dow', CAST(dow AS VARCHAR),
                count(*), ${r6sql("sum(value)")}
         FROM f GROUP BY 2
         UNION ALL
         SELECT 'by_type', event_type, count(*), ${r6sql("sum(value)")}
         FROM f GROUP BY 2)
       SELECT slice, key, n, total_value FROM u ORDER BY slice, key""") {
    (s, d) =>
      val featured = graft.Caching.retain(featuredEvents(Tables.events(s, d)
        .select(col("ts"), col("event_type"), col("value"))).cache())
      def slice(tag: String, key: Column): DataFrame = featured
        .groupBy(key.as("key"))
        .agg(count(lit(1)).as("n"), r6(sum(col("value"))).as("total_value"))
        .select(lit(tag).as("slice"), col("key"), col("n"),
          col("total_value"))
      slice("by_hour", lpad(col("h").cast("string"), 2, "0"))
        .unionByName(slice("by_dow", col("dow").cast("string")))
        .unionByName(slice("by_type", col("event_type")))
        .orderBy(col("slice"), col("key"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q36_cached_multi_agg" -> cachedMultiAgg,
  )
}
