package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Anomaly, Clean, Features}
import graft.Rounding.{r6, r6sql}
import org.apache.spark.sql.functions._

/** Reference-parity queries: the 7 analytics tables of
  * /root/reference/yellow_taxi_etl.py:101-200 (A1-A7 in SURVEY.md
  * §2.4) plus the cleaning stage (P6) and the feature layer (P1,
  * E1-E8), re-instantiated over the harness testdata per the SURVEY
  * §7 mapping: `events` plays the trip table (ts ≈ pickup time,
  * user_id ≈ PULocationID, event_type ≈ payment_type, value ≈
  * fare_amount); `lineitem` carries the multi-measure shapes.
  *
  * Scale notes (100 TB stance): every query is scan → map-side
  * partial agg → shuffle on low-cardinality keys → final agg — the
  * same 2-stage HashAggregate profile the reference's plans get, with
  * shuffle volume proportional to group cardinality, not input rows.
  * No driver-side collect anywhere (the reference's approxQuantile
  * round-trip is replaced by an in-plan broadcast threshold join).
  */
object Parity {

  /** A1 demand_heatmap — count by (zone, hour).
    * Ref: yellow_taxi_etl.py:101-105. */
  val demandHeatmap: QueryDef = QueryDef.sql(
    """SELECT user_id, CAST(hour(ts) AS INTEGER) AS pickup_hour,
       count(*) AS n_trips
       FROM events GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    Tables.events(s, d)
      .withColumn("pickup_hour", Features.hourOf(col("ts")))
      .groupBy(col("user_id"), col("pickup_hour"))
      .agg(count(lit(1)).as("n_trips"))
      .orderBy(col("user_id"), col("pickup_hour"))
  }

  /** A2 tip_trends — avg ratio by (zone, payment type).
    * Ref: yellow_taxi_etl.py:110-116. l_discount plays tip_pct. */
  val tipTrends: QueryDef = QueryDef.sql(
    s"""SELECT l_suppkey, l_returnflag,
       ${r6sql("avg(l_discount)")} AS avg_tip_pct, count(*) AS n_trips
       FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"), col("l_returnflag"))
      .agg(r6(avg(col("l_discount"))).as("avg_tip_pct"),
        count(lit(1)).as("n_trips"))
      .orderBy(col("l_suppkey"), col("l_returnflag"))
  }

  /** A3 fare_anomalies — rows above the in-plan p99 threshold.
    * Ref: yellow_taxi_etl.py:121-129; the driver-side approxQuantile
    * round-trip becomes a broadcast single-row aggregate join
    * (Anomaly.percentileFilter) so the plan stays fully distributed. */
  val fareAnomalies: QueryDef = QueryDef.sql(
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate
       FROM orders
       WHERE o_totalprice >= (SELECT quantile_cont(o_totalprice, 0.99)
                              FROM orders)
       ORDER BY o_orderkey""") { (s, d) =>
    Anomaly.percentileFilter(Tables.orders(s, d), "o_totalprice", 0.99)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate")
      .orderBy(col("o_orderkey"))
  }

  /** A4 trip_performance — multi-measure agg by (zone, hour, dow) +
    * post-agg weekend flag. Ref: yellow_taxi_etl.py:134-148. */
  val tripPerformance: QueryDef = QueryDef.sql(
    s"""SELECT user_id, CAST(hour(ts) AS INTEGER) AS pickup_hour,
       CAST(dayofweek(ts) + 1 AS INTEGER) AS pickup_dow,
       ${r6sql("avg(value)")} AS avg_value,
       ${r6sql("sum(value)")} AS total_value, count(*) AS n_trips,
       (CAST(dayofweek(ts) + 1 AS INTEGER) IN (1, 7)) AS is_weekend
       FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""") { (s, d) =>
    Tables.events(s, d)
      .withColumn("pickup_hour", Features.hourOf(col("ts")))
      .withColumn("pickup_dow", Features.dowOf(col("ts")))
      .groupBy(col("user_id"), col("pickup_hour"), col("pickup_dow"))
      .agg(r6(avg(col("value"))).as("avg_value"),
        r6(sum(col("value"))).as("total_value"),
        count(lit(1)).as("n_trips"))
      .withColumn("is_weekend", Features.isWeekend(col("pickup_dow")))
      .orderBy(col("user_id"), col("pickup_hour"), col("pickup_dow"))
  }

  /** A5 popular_routes — count+avgs by route with HAVING and a
    * DESC sort (tie-broken to total order, unlike the reference's
    * non-unique sort key — SURVEY §5.1). Ref: yellow_taxi_etl.py:153-164. */
  val popularRoutes: QueryDef = QueryDef.sql(
    s"""SELECT l_partkey, l_suppkey, count(*) AS n_trips,
       ${r6sql("avg(l_quantity)")} AS avg_qty,
       ${r6sql("avg(l_extendedprice)")} AS avg_price
       FROM lineitem GROUP BY 1, 2 HAVING count(*) >= 5
       ORDER BY n_trips DESC, l_partkey, l_suppkey""") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("n_trips"),
        r6(avg(col("l_quantity"))).as("avg_qty"),
        r6(avg(col("l_extendedprice"))).as("avg_price"))
      .filter(col("n_trips") >= 5)
      .orderBy(col("n_trips").desc, col("l_partkey"), col("l_suppkey"))
  }

  /** A6 payment_analysis — agg by (zone, hour, payment type) + CASE
    * decode of the categorical. Ref: yellow_taxi_etl.py:169-186. */
  val paymentAnalysis: QueryDef = QueryDef.sql(
    s"""SELECT user_id, CAST(hour(ts) AS INTEGER) AS pickup_hour,
       event_type, count(*) AS n_trips,
       ${r6sql("avg(value)")} AS avg_value,
       ${r6sql("sum(value)")} AS total_value,
       CASE WHEN event_type = 'purchase' THEN 'Revenue'
            WHEN event_type = 'click' THEN 'Engagement'
            WHEN event_type = 'view' THEN 'Engagement'
            WHEN event_type = 'signup' THEN 'Acquisition'
            WHEN event_type = 'error' THEN 'Failure'
            ELSE 'Unknown' END AS payment_method
       FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""") { (s, d) =>
    Tables.events(s, d)
      .withColumn("pickup_hour", Features.hourOf(col("ts")))
      .groupBy(col("user_id"), col("pickup_hour"), col("event_type"))
      .agg(count(lit(1)).as("n_trips"),
        r6(avg(col("value"))).as("avg_value"),
        r6(sum(col("value"))).as("total_value"))
      .withColumn("payment_method", Features.decode(col("event_type"),
        Seq("purchase" -> "Revenue", "click" -> "Engagement",
          "view" -> "Engagement", "signup" -> "Acquisition",
          "error" -> "Failure"), "Unknown"))
      .orderBy(col("user_id"), col("pickup_hour"), col("event_type"))
  }

  /** A7 distance_distribution — agg grouped by a derived bucket CASE
    * column. Ref: yellow_taxi_etl.py:191-200 (5-bucket CASE :87-94). */
  val distanceDistribution: QueryDef = QueryDef.sql(
    s"""SELECT l_suppkey,
       CASE WHEN l_quantity < 10 THEN 'Very Short'
            WHEN l_quantity < 20 THEN 'Short'
            WHEN l_quantity < 30 THEN 'Medium'
            WHEN l_quantity < 40 THEN 'Long'
            ELSE 'Very Long' END AS qty_category,
       count(*) AS n_trips,
       ${r6sql("avg(l_extendedprice)")} AS avg_price,
       ${r6sql("sum(l_extendedprice)")} AS total_price
       FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    Tables.lineitem(s, d)
      .withColumn("qty_category", Features.bucketize(col("l_quantity"),
        Seq(10, 20, 30, 40),
        Seq("Very Short", "Short", "Medium", "Long", "Very Long")))
      .groupBy(col("l_suppkey"), col("qty_category"))
      .agg(count(lit(1)).as("n_trips"),
        r6(avg(col("l_extendedprice"))).as("avg_price"),
        r6(sum(col("l_extendedprice"))).as("total_price"))
      .orderBy(col("l_suppkey"), col("qty_category"))
  }

  /** P6 cleaning — dropna over every column, then a summary count
    * (keeps the verify output small). Ref: cleaning.py:10-18. */
  val cleanDropna: QueryDef = QueryDef.sql(
    """SELECT o_orderstatus, count(*) AS n_rows FROM orders
       WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
         AND o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
         AND o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Clean.dropNulls(Tables.orders(s, d))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("o_orderstatus"))
  }

  /** P1/E1-E8 feature layer — row-level derived columns (hour, dow,
    * guarded ratios, bucket CASE, weekend flag) with a pushed-down
    * key filter. Ref: yellow_taxi_etl.py:68-94. */
  val featureMatrix: QueryDef = QueryDef.sql(
    s"""SELECT l_orderkey, l_linenumber,
       CAST(hour(l_shipdate) AS INTEGER) AS ship_hour,
       CAST(dayofweek(l_shipdate) + 1 AS INTEGER) AS ship_dow,
       (CAST(dayofweek(l_shipdate) + 1 AS INTEGER) IN (1, 7)) AS is_weekend,
       ${r6sql("""CASE WHEN l_quantity > 0
             THEN l_extendedprice / l_quantity END""")} AS price_per_unit,
       ${r6sql("l_extendedprice * (1 - l_discount)")} AS discounted_price,
       CASE WHEN l_quantity < 10 THEN 'Very Short'
            WHEN l_quantity < 20 THEN 'Short'
            WHEN l_quantity < 30 THEN 'Medium'
            WHEN l_quantity < 40 THEN 'Long'
            ELSE 'Very Long' END AS qty_category
       FROM lineitem WHERE l_orderkey <= 500
       ORDER BY l_orderkey, l_linenumber""") { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 500)
      .select(col("l_orderkey"), col("l_linenumber"),
        Features.hourOf(col("l_shipdate")).as("ship_hour"),
        Features.dowOf(col("l_shipdate")).as("ship_dow"),
        Features.isWeekend(Features.dowOf(col("l_shipdate")))
          .as("is_weekend"),
        r6(Features.guardedRatio(col("l_extendedprice"), col("l_quantity")))
          .as("price_per_unit"),
        r6(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("discounted_price"),
        Features.bucketize(col("l_quantity"), Seq(10, 20, 30, 40),
          Seq("Very Short", "Short", "Medium", "Long", "Very Long"))
          .as("qty_category"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q01_demand_heatmap" -> demandHeatmap,
    "q02_tip_trends" -> tipTrends,
    "q03_fare_anomalies" -> fareAnomalies,
    "q04_trip_performance" -> tripPerformance,
    "q05_popular_routes" -> popularRoutes,
    "q06_payment_analysis" -> paymentAnalysis,
    "q07_distance_distribution" -> distanceDistribution,
    "q08_clean_dropna" -> cleanDropna,
    "q09_feature_matrix" -> featureMatrix,
  )
}
