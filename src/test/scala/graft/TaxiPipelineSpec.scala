package graft

import graft.sources.Sink
import graft.taxi.TaxiPipeline
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp
import scala.collection.mutable

/** One TLC trip row; defaults describe a boring weekday trip.
  * Top-level so Spark can derive a product encoder. */
case class Trip(
    VendorID: Int = 1,
    tpep_pickup_datetime: Timestamp =
      Timestamp.valueOf("2024-01-15 10:00:00"), // Monday → dow 2
    tpep_dropoff_datetime: Timestamp =
      Timestamp.valueOf("2024-01-15 10:30:00"),
    passenger_count: java.lang.Long = 1L,
    trip_distance: Double = 2.0,
    RatecodeID: java.lang.Long = 1L,
    store_and_fwd_flag: String = "N",
    PULocationID: Int = 100,
    DOLocationID: Int = 200,
    payment_type: Long = 1L,
    fare_amount: Double = 10.0,
    extra: Double = 0.5,
    mta_tax: Double = 0.5,
    tip_amount: Double = 2.0,
    tolls_amount: Double = 0.0,
    improvement_surcharge: Double = 0.3,
    total_amount: Double = 13.3,
    congestion_surcharge: Double = 2.5,
    Airport_fee: Double = 0.0)

/** Golden tests for the taxi-faithful module over a synthetic
  * 19-column TLC fixture (the reference's own data blobs are
  * stripped from its checkout) — semantics mapped 1:1 to
  * /root/reference/yellow_taxi_etl.py:68-200. */
class TaxiPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(trips: Trip*): DataFrame = trips.toDF()

  test("features: durations, guarded ratios, buckets, dow — golden") {
    val f = TaxiPipeline.features(df(
      Trip(), // 30 min, 2 mi, $10, $2 tip
      Trip(fare_amount = 0.0, trip_distance = 0.0,
        tpep_dropoff_datetime = Timestamp.valueOf("2024-01-15 10:00:00")),
      Trip(tpep_pickup_datetime = Timestamp.valueOf("2024-01-13 23:00:00"),
        tpep_dropoff_datetime = Timestamp.valueOf("2024-01-13 23:45:00"))
    )).collect()
    val r0 = f(0)
    assert(r0.getAs[Int]("pickup_hour") == 10)
    assert(r0.getAs[Int]("pickup_dow") == 2) // Monday, 1=Sunday
    assert(r0.getAs[Double]("trip_minutes") == 30.0)
    assert(r0.getAs[Double]("tip_pct") == 0.2)
    assert(r0.getAs[Double]("avg_speed_mph") == 4.0) // 2mi / 0.5h
    assert(r0.getAs[Double]("revenue_per_mile") == 5.0)
    // zero fare/distance/duration → all three guards yield NULL
    val r1 = f(1)
    assert(r1.isNullAt(r1.fieldIndex("tip_pct")))
    assert(r1.isNullAt(r1.fieldIndex("avg_speed_mph")))
    assert(r1.isNullAt(r1.fieldIndex("revenue_per_mile")))
    // Saturday 23:00 → dow 7
    assert(f(2).getAs[Int]("pickup_dow") == 7)
  }

  test("distance buckets: reference boundaries are exclusive upper") {
    val cats = TaxiPipeline.features(df(
      Trip(trip_distance = 0.99), Trip(trip_distance = 1.0),
      Trip(trip_distance = 2.99), Trip(trip_distance = 3.0),
      Trip(trip_distance = 4.99), Trip(trip_distance = 5.0),
      Trip(trip_distance = 9.99), Trip(trip_distance = 10.0)))
      .select("distance_category").collect().map(_.getString(0)).toSeq
    assert(cats == Seq("Very Short", "Short", "Short", "Medium", "Medium",
      "Long", "Long", "Very Long"))
  }

  test("demand heatmap counts by zone and hour") {
    val got = TaxiPipeline.demandHeatmap(TaxiPipeline.features(df(
      Trip(), Trip(), Trip(PULocationID = 101)))).collect()
      .map(r => (r.getAs[Int]("PULocationID"), r.getAs[Int]("pickup_hour"),
        r.getAs[Long]("n_trips"))).toSet
    assert(got == Set((100, 10, 2L), (101, 10, 1L)))
  }

  test("trip performance: null-skipping avg + weekend flag") {
    val got = TaxiPipeline.tripPerformance(TaxiPipeline.features(df(
      Trip(), Trip(fare_amount = 0.0, tip_amount = 0.0), // tip_pct NULL
      Trip(tpep_pickup_datetime = Timestamp.valueOf("2024-01-14 10:00:00"),
        tpep_dropoff_datetime = Timestamp.valueOf("2024-01-14 10:30:00")))))
      .collect().map(r => (r.getAs[Int]("pickup_dow"),
        r.getAs[Double]("avg_tip_percentage"),
        r.getAs[Boolean]("is_weekend"), r.getAs[Long]("n_trips"))).toSet
    // weekday group: avg over {0.2, NULL} = 0.2 (NULL skipped); Sunday: weekend
    assert(got == Set((2, 0.2, false, 2L), (1, 0.2, true, 1L)))
  }

  test("popular routes: HAVING >= 10 and desc order") {
    val busy = Seq.fill(12)(Trip())
    val quiet = Seq.fill(3)(Trip(DOLocationID = 999))
    val got = TaxiPipeline.popularRoutes(
      TaxiPipeline.features(df(busy ++ quiet: _*)))
    val rows = got.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Int]("DOLocationID") == 200)
    assert(rows(0).getAs[Long]("n_trips") == 12L)
  }

  test("payment analysis decodes payment_type incl. unknown") {
    val got = TaxiPipeline.paymentAnalysis(TaxiPipeline.features(df(
      Trip(payment_type = 1), Trip(payment_type = 2),
      Trip(payment_type = 3), Trip(payment_type = 4),
      Trip(payment_type = 9))))
      .select("payment_type", "payment_method").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(1L -> "Credit Card", 2L -> "Cash", 3L -> "No Charge",
      4L -> "Dispute", 9L -> "Unknown"))
  }

  test("fare anomalies: p99 filter keeps the expensive tail, 7 cols") {
    val normal = (1 to 99).map(i => Trip(fare_amount = 10.0 + i * 0.01))
    val spike = Trip(fare_amount = 500.0)
    val got = TaxiPipeline.fareAnomalies(
      TaxiPipeline.features(df(normal :+ spike: _*)))
    val rows = got.collect()
    assert(rows.map(_.getAs[Double]("fare_amount")).contains(500.0))
    assert(got.columns.toSeq == Seq("VendorID", "tpep_pickup_datetime",
      "PULocationID", "DOLocationID", "fare_amount", "tip_amount",
      "trip_distance"))
    assert(rows.length < 100) // the bulk is filtered out
  }

  test("clean drops rows with NULL in any of the 19 base columns") {
    val withNull = df(Trip(), Trip()).withColumn("passenger_count",
      when(col("fare_amount") > 0, null.asInstanceOf[java.lang.Long]))
    assert(TaxiPipeline.clean(withNull).count() == 0)
    assert(TaxiPipeline.clean(df(Trip())).count() == 1)
  }

  private val sevenTables = Seq("demand_heatmap", "tip_trends",
    "fare_anomalies", "trip_performance", "popular_routes",
    "payment_analysis", "distance_distribution")

  test("run: seven tables reach the sink; fare_anomalies always overwrite") {
    // the writes run concurrently, so the recorder is synchronized and
    // the check is on what was written, not in which order
    val writes = mutable.ArrayBuffer[(String, SaveMode, Long)]()
    val recorder = new Sink {
      override def write(d: DataFrame, t: String, m: SaveMode): Unit = {
        val n = d.count()
        writes.synchronized { writes += ((t, m, n)) }
      }
    }
    TaxiPipeline.run(df(Seq.fill(12)(Trip()): _*), recorder,
      overwrite = false)
    val got = writes.synchronized(writes.toList)
    val expected = sevenTables.map(t => t ->
      (if (t == "fare_anomalies") SaveMode.Overwrite else SaveMode.Append))
    assert(got.map(w => w._1 -> w._2).sortBy(_._1) == expected.sortBy(_._1))
    assert(got.forall(_._3 > 0))
    Caching.releaseAll()
  }

  test("run: the seven writes are in flight at the same time") {
    // each write waits until a second one has started: one-at-a-time
    // writes would time the first one out
    val started = new java.util.concurrent.CountDownLatch(2)
    val overlapped = new java.util.concurrent.atomic.AtomicInteger()
    val recorder = new Sink {
      override def write(d: DataFrame, t: String, m: SaveMode): Unit = {
        started.countDown()
        if (started.await(60, java.util.concurrent.TimeUnit.SECONDS))
          overlapped.incrementAndGet()
      }
    }
    TaxiPipeline.run(df(Seq.fill(12)(Trip()): _*), recorder,
      overwrite = true)
    assert(overlapped.get == 7)
    Caching.releaseAll()
  }

  test("run: caches only the nine consumed columns, same answers as " +
      "uncached features") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def ts(s: String) = Timestamp.valueOf(s)
    // zones, hours, days, payment types, distance buckets and fares all
    // vary, so every table has several groups and the p99 tail is one
    // row; doubles are compared to 9 decimals, as the two plans may
    // add a group's ratios in a different order
    val raw = df((0 until 60).map { i =>
      val pickup = ts(f"2024-01-${13 + i % 4}%02d ${6 + i % 5}%02d:00:00")
      Trip(
        VendorID = 1 + i % 2,
        tpep_pickup_datetime = pickup,
        tpep_dropoff_datetime = new Timestamp(
          pickup.getTime + (i % 7) * 5 * 60000L),
        PULocationID = 100 + i % 3,
        DOLocationID = 200 + i % 2,
        payment_type = 1L + i % 5,
        fare_amount = if (i == 59) 500.0 else (i % 6) * 2.5,
        tip_amount = (i % 4) * 0.5,
        trip_distance = Seq(0.0, 0.5, 2.0, 4.0, 7.5, 12.0)(i % 6))
    } ++ Seq.fill(12)(Trip()): _*)
    val builders = Seq[(String, DataFrame => DataFrame)](
      "demand_heatmap" -> TaxiPipeline.demandHeatmap,
      "tip_trends" -> TaxiPipeline.tipTrends,
      "fare_anomalies" -> (d => TaxiPipeline.fareAnomalies(d)),
      "trip_performance" -> TaxiPipeline.tripPerformance,
      "popular_routes" -> (d => TaxiPipeline.popularRoutes(d)),
      "payment_analysis" -> TaxiPipeline.paymentAnalysis,
      "distance_distribution" -> TaxiPipeline.distanceDistribution)
    def rows(d: DataFrame) = d.collect().toSeq.map(_.toSeq.map {
      case x: Double => BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      case x => x
    }).sortBy(_.mkString("|"))
    // the reference answers are taken before run caches anything
    val uncached = TaxiPipeline.features(TaxiPipeline.clean(raw))
    val expected = builders.map { case (t, b) => t -> rows(b(uncached)) }

    val writes = mutable.Map[String, DataFrame]()
    val recorder = new Sink {
      override def write(d: DataFrame, t: String, m: SaveMode): Unit =
        writes.synchronized { writes(t) = d }
    }
    val tables = TaxiPipeline.run(TaxiPipeline.clean(raw), recorder,
      overwrite = false)
    val cached = tables.flatMap(_._2.queryExecution.withCachedData
      .collect { case r: InMemoryRelation => r }).distinct
    assert(cached.size == 1)
    assert(cached.head.output.map(_.name) == Seq("VendorID",
      "tpep_pickup_datetime", "tpep_dropoff_datetime", "PULocationID",
      "DOLocationID", "payment_type", "fare_amount", "tip_amount",
      "trip_distance"))
    val written = writes.synchronized(writes.toMap)
    assert(written.keySet == sevenTables.toSet)
    expected.foreach { case (t, want) =>
      val got = rows(written(t))
      assert(got.nonEmpty, t)
      assert(got == want, t)
    }
    Caching.releaseAll()
  }

  test("e2e: nightly re-run through UpsertParquetSink — re-computed " +
      "zone rows replace, new zones insert") {
    // the production shape of the reference's nightly persistence:
    // analytics keyed by zone merge into a snapshot instead of
    // appending duplicates (reference appends; SURVEY §3.1 notes the
    // re-run duplication hazard — the upsert sink is the fix)
    val dir = java.nio.file.Files.createTempDirectory("taxi_upsert")
      .toFile.getAbsolutePath
    // zone is the shared key across all seven analytics tables (the
    // fixture pins every trip to one hour/payment type, so zone is
    // unique per table row)
    val sink = new graft.sources.UpsertParquetSink(dir,
      Seq("PULocationID"))
    def ts(s: String) = Timestamp.valueOf(s)
    def night(zones: Seq[Int]) = df(zones.flatMap(z =>
      Seq.fill(z)(Trip(PULocationID = z,
        tpep_pickup_datetime = ts("2024-01-15 10:00:00"),
        tpep_dropoff_datetime = ts("2024-01-15 10:30:00")))): _*)
    TaxiPipeline.run(night(Seq(1, 2)), sink, overwrite = false)
    TaxiPipeline.run(night(Seq(2, 3)), sink, overwrite = false)
    val heat = graft.sources.UpsertParquetSink
      .read(spark, dir, "demand_heatmap").collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    // zone 1 survives run 1, zones 2 and 3 come from run 2 (zone 2
    // REPLACED, not doubled — the append hazard this sink removes)
    assert(heat == Map(1 -> 1L, 2 -> 2L, 3 -> 3L))
    Caching.releaseAll()
  }

  test("e2e: glob-scan of monthly files → clean → run (reference topology)") {
    // the reference's actual composition (cleaning.py:7): glob-read
    // N monthly parquet files, drop null rows, then the analytics
    // fan-out. Three months with distinct zones + one dirty row; the
    // golden check is the demand heatmap per (zone, hour).
    val dir = java.nio.file.Files.createTempDirectory("taxi_glob")
      .toFile.getAbsolutePath
    def ts(s: String) = Timestamp.valueOf(s)
    def month(zone: Int, day: String, n: Int, dirty: Int = 0) =
      df((Seq.fill(n)(Trip(PULocationID = zone,
        tpep_pickup_datetime = ts(s"$day 10:00:00"),
        tpep_dropoff_datetime = ts(s"$day 10:30:00"))) ++
        Seq.fill(dirty)(Trip(PULocationID = zone,
          tpep_pickup_datetime = ts(s"$day 10:00:00"),
          tpep_dropoff_datetime = ts(s"$day 10:30:00"),
          passenger_count = null))): _*)
    month(1, "2024-01-15", 12).write.parquet(s"$dir/yellow_2024-01.parquet")
    month(2, "2024-02-15", 11, dirty = 1)
      .write.parquet(s"$dir/yellow_2024-02.parquet")
    month(3, "2024-03-15", 10).write.parquet(s"$dir/yellow_2024-03.parquet")

    val raw = Tables.glob(spark, s"$dir/yellow_*.parquet")
    assert(raw.count() == 34, "glob must see all three files")
    val cleaned = TaxiPipeline.clean(raw)
    assert(cleaned.count() == 33, "clean must drop the null-column row")

    val writes = mutable.Map[String, DataFrame]()
    val recorder = new Sink {
      override def write(d: DataFrame, t: String, m: SaveMode): Unit =
        writes.synchronized { writes(t) = d }
    }
    TaxiPipeline.run(cleaned, recorder, overwrite = false)
    val heat = writes.synchronized(writes("demand_heatmap")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(heat == Map((1, 10) -> 12L, (2, 10) -> 11L, (3, 10) -> 10L))
    Caching.releaseAll()
  }
}
