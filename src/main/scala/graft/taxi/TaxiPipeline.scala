package graft.taxi

import graft.ops.{Clean, Features}
import graft.sources.{Sink, Sinks}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference pipeline, faithful to the real NYC TLC Yellow Taxi
  * schema: runnable on any 19-column TLC trip table under the
  * reference's own column names (SURVEY.md §1.2). Maps 1:1 to
  * /root/reference/yellow_taxi_etl.py — cleaning (cleaning.py:10-18),
  * feature engineering (:68-94), the seven analytics tables
  * (:101-200), the p99 fare-anomaly threshold (:121-129), and sink
  * fan-out with the fare_anomalies always-overwrite quirk
  * (:205-211) — re-expressed as idiomatic Scala Spark over the
  * shared graft.ops builders.
  *
  * Scale notes (the shape the reference runs at ~40M rows/yr and
  * this module keeps at 100 TB): ONE scan feeds a cache of the nine
  * columns the features and the tables read ([[consumedColumns]]),
  * not the reference's 19 raw + 7 derived; each table derives the
  * features it uses on top of that cache, inside its own map stage.
  * Every analytic is a partial-agg → single shuffle on 2-3
  * low-cardinality keys (≤265 zones × 24 h × 7 dow), so shuffle
  * volume is thousands of rows against billions scanned; the
  * quantile is a driver-side GK sketch (bounded memory) whose scalar
  * re-enters the plan as a pushed-down literal filter. The p99
  * sketch runs eagerly over the cached columns, so the cache is
  * filled once before any table is written; the seven writes then
  * run concurrently as separate Spark jobs over that one cache
  * ([[graft.sources.Sinks.writeAll]]), which keeps the cores busy
  * where one-at-a-time writes of small aggregates would leave most
  * of them idle between jobs.
  */
object TaxiPipeline {

  /** cleaning.py:10-18's null-check list — all 19 base columns. */
  val baseColumns: Seq[String] = Seq(
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "RatecodeID",
    "store_and_fwd_flag", "PULocationID", "DOLocationID", "payment_type",
    "fare_amount", "extra", "mta_tax", "tip_amount", "tolls_amount",
    "improvement_surcharge", "total_amount", "congestion_surcharge",
    "Airport_fee")

  /** Stage 1 (cleaning.py): drop rows with NULL in any base column. */
  def clean(raw: DataFrame): DataFrame = Clean.dropNulls(raw, baseColumns)

  /** The nine columns [[features]] and the seven tables read: the
    * only ones [[run]] caches. The cache is built from rows, column
    * by column, so its fill time and memory grow with every cached
    * column; the reference's 26 would cost about three times the
    * memory. */
  val consumedColumns: Seq[String] = Seq(
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "PULocationID", "DOLocationID", "payment_type", "fare_amount",
    "tip_amount", "trip_distance")

  /** Feature layer (yellow_taxi_etl.py:68-94): the seven derived
    * columns, preserving the reference's null-guard semantics
    * (tip_pct / avg_speed_mph / revenue_per_mile are NULL when their
    * guard fails — `when` without `otherwise`). Two projections
    * instead of seven chained `withColumn`s, so every plan built on
    * it has less for Catalyst to collapse: the first adds six
    * columns, the second adds avg_speed_mph, which reads
    * trip_minutes, in the reference's column order. */
  def features(df: DataFrame): DataFrame = {
    val pickup = col("tpep_pickup_datetime")
    val six = df.select(col("*"),
      Features.hourOf(pickup).as("pickup_hour"),
      Features.dowOf(pickup).as("pickup_dow"),
      Features.minutesBetween(pickup, col("tpep_dropoff_datetime"))
        .as("trip_minutes"),
      Features.guardedRatio(col("tip_amount"), col("fare_amount"))
        .as("tip_pct"),
      Features.guardedRatio(col("fare_amount"), col("trip_distance"))
        .as("revenue_per_mile"),
      Features.bucketize(col("trip_distance"), Seq(1, 3, 5, 10),
        Seq("Very Short", "Short", "Medium", "Long", "Very Long"))
        .as("distance_category"))
    val avgSpeed = when(col("trip_minutes") > 0,
      col("trip_distance") / (col("trip_minutes") / lit(60.0)))
      .as("avg_speed_mph")
    six.select(six.columns.toSeq.flatMap { c =>
      if (c == "tip_pct") Seq(col(c), avgSpeed) else Seq(col(c))
    }: _*)
  }

  /** A1 (yellow_taxi_etl.py:101-105). */
  def demandHeatmap(df: DataFrame): DataFrame =
    df.groupBy("PULocationID", "pickup_hour")
      .agg(count(lit(1)).as("n_trips"))

  /** A2 (:110-116). */
  def tipTrends(df: DataFrame): DataFrame =
    df.groupBy("PULocationID", "payment_type")
      .agg(avg("tip_pct").as("avg_tip_pct"), count(lit(1)).as("n_trips"))

  /** A3 (:121-129): p99 threshold via the GK sketch (driver scalar),
    * re-embedded as a literal filter — the reference's two-phase
    * data-dependent query (C1). */
  def fareAnomalies(df: DataFrame, relativeError: Double = 0.01): DataFrame = {
    val threshold =
      df.stat.approxQuantile("fare_amount", Array(0.99), relativeError)(0)
    df.filter(col("fare_amount") >= lit(threshold))
      .select("VendorID", "tpep_pickup_datetime", "PULocationID",
        "DOLocationID", "fare_amount", "tip_amount", "trip_distance")
  }

  /** A4 (:134-148): nine aggregates + post-agg weekend flag. */
  def tripPerformance(df: DataFrame): DataFrame =
    df.groupBy("PULocationID", "pickup_hour", "pickup_dow")
      .agg(
        avg("trip_minutes").as("avg_trip_duration"),
        avg("avg_speed_mph").as("avg_speed"),
        avg("revenue_per_mile").as("avg_revenue_per_mile"),
        avg("fare_amount").as("avg_fare"),
        sum("fare_amount").as("total_revenue"),
        count(lit(1)).as("n_trips"),
        avg("trip_distance").as("avg_trip_distance"),
        avg("tip_amount").as("avg_tip"),
        avg("tip_pct").as("avg_tip_percentage"))
      .withColumn("is_weekend", Features.isWeekend(col("pickup_dow")))

  /** A5 (:153-164): HAVING n_trips >= 10, global sort desc. */
  def popularRoutes(df: DataFrame, minTrips: Int = 10): DataFrame =
    df.groupBy("PULocationID", "DOLocationID", "pickup_hour")
      .agg(
        count(lit(1)).as("n_trips"),
        avg("trip_minutes").as("avg_duration"),
        avg("fare_amount").as("avg_fare"),
        avg("trip_distance").as("avg_distance"),
        avg("tip_amount").as("avg_tip"))
      .filter(col("n_trips") >= minTrips)
      .orderBy(col("n_trips").desc)

  /** A6 (:169-186): aggregates + payment_method decode. */
  def paymentAnalysis(df: DataFrame): DataFrame =
    df.groupBy("PULocationID", "pickup_hour", "payment_type")
      .agg(
        count(lit(1)).as("n_trips"),
        avg("fare_amount").as("avg_fare"),
        avg("tip_amount").as("avg_tip"),
        avg("tip_pct").as("avg_tip_percentage"),
        sum("fare_amount").as("total_revenue"))
      .withColumn("payment_method", Features.decode(col("payment_type"),
        Seq(1 -> "Credit Card", 2 -> "Cash", 3 -> "No Charge",
          4 -> "Dispute"), "Unknown"))

  /** A7 (:191-200): grouped by the derived distance bucket. */
  def distanceDistribution(df: DataFrame): DataFrame =
    df.groupBy("PULocationID", "pickup_hour", "distance_category")
      .agg(
        count(lit(1)).as("n_trips"),
        avg("fare_amount").as("avg_fare"),
        avg("trip_minutes").as("avg_duration"),
        avg("tip_amount").as("avg_tip"),
        sum("fare_amount").as("total_revenue"))

  /** Full flagship run (yellow_taxi_etl.py main) over the cleaned
    * trips: cache their [[consumedColumns]] once, derive the features
    * on top of that cache, compute all seven analytics (the eager p99
    * threshold fills the cache), then write them to the sink
    * concurrently with the reference's mode plumbing (fare_anomalies
    * always overwritten — threshold is per-run). Each table's plan
    * computes only the derived columns it reads. Returns the table
    * map for inspection/testing. */
  def run(cleaned: DataFrame, sink: Sink,
      overwrite: Boolean): Seq[(String, DataFrame)] = {
    val df = features(graft.Caching.retain(
      cleaned.select(consumedColumns.map(col): _*).cache()))
    val tables = Seq(
      "demand_heatmap" -> demandHeatmap(df),
      "tip_trends" -> tipTrends(df),
      "fare_anomalies" -> fareAnomalies(df),
      "trip_performance" -> tripPerformance(df),
      "popular_routes" -> popularRoutes(df),
      "payment_analysis" -> paymentAnalysis(df),
      "distance_distribution" -> distanceDistribution(df))
    Sinks.writeAll(tables, sink, overwrite)
    tables
  }
}
