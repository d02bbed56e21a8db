package graft

import graft.ops.Features
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FeaturesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val buckets =
    Seq("Very Short", "Short", "Medium", "Long", "Very Long")

  test("bucketize: boundary values land in the correct bucket") {
    // mirrors the reference's strict `<` arms (yellow_taxi_etl.py:87-94)
    val df = Seq(0.0, 0.99, 1.0, 2.99, 3.0, 4.99, 5.0, 9.99, 10.0, 50.0)
      .toDF("d")
      .withColumn("c", Features.bucketize(col("d"),
        Seq(1.0, 3.0, 5.0, 10.0), buckets))
    val got = df.collect().map(r => r.getDouble(0) -> r.getString(1)).toMap
    assert(got(0.0) == "Very Short" && got(0.99) == "Very Short")
    assert(got(1.0) == "Short" && got(2.99) == "Short")
    assert(got(3.0) == "Medium" && got(4.99) == "Medium")
    assert(got(5.0) == "Long" && got(9.99) == "Long")
    assert(got(10.0) == "Very Long" && got(50.0) == "Very Long")
  }

  test("guardedRatio: NULL when denominator is not positive") {
    // the reference's `when` without `otherwise` (yellow_taxi_etl.py:75-86)
    val df = Seq((10.0, 2.0), (10.0, 0.0), (10.0, -1.0)).toDF("n", "d")
      .withColumn("r", Features.guardedRatio(col("n"), col("d")))
    val rows = df.select("r").collect()
    assert(rows(0).getDouble(0) == 5.0)
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
  }

  test("avg skips NULLs from guarded ratios (reference null semantics)") {
    val df = Seq((10.0, 2.0), (10.0, 0.0), (20.0, 2.0)).toDF("n", "d")
      .withColumn("r", Features.guardedRatio(col("n"), col("d")))
    val a = df.agg(avg("r")).collect()(0).getDouble(0)
    assert(a == 7.5) // (5 + 10) / 2, the 0-denominator row skipped
  }

  test("isWeekend: dow 1 and 7 true, 2-6 false") {
    val df = (1 to 7).toDF("dow")
      .withColumn("w", Features.isWeekend(col("dow")))
    val got = df.collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    assert(got(1) && got(7) && !(2 to 6).exists(got))
  }

  test("decode: mapped values and default arm") {
    val df = Seq(1L, 2L, 99L).toDF("p")
      .withColumn("m", Features.decode(col("p"),
        Seq(1L -> "Credit Card", 2L -> "Cash"), "Unknown"))
    assert(df.collect().map(_.getString(1)).toSeq ==
      Seq("Credit Card", "Cash", "Unknown"))
  }

  test("minutesBetween: 90 seconds = 1.5 minutes") {
    val df = Seq(("2024-01-01 00:00:00", "2024-01-01 00:01:30"))
      .toDF("a", "b")
      .select(Features.minutesBetween(
        col("a").cast("timestamp"), col("b").cast("timestamp")).as("m"))
    assert(df.collect()(0).getDouble(0) == 1.5)
  }

  test("micros: half-up micro-units as a long, ties away from floor") {
    val df = Seq(0.5e-6, -0.5e-6, -1.5e-6).toDF("v")
      .select(Rounding.micros(col("v")).as("m"))
    assert(df.schema("m").dataType == org.apache.spark.sql.types.LongType)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, 0L, -1L))
    assert(Rounding.microsSql("v") ==
      "CAST(floor((v) * 1000000 + 0.5) AS BIGINT)")
  }

  test("epochDay: whole UTC days since 1970-01-01, negative before") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // 1970-01-01T00:00, 1970-01-01T23:59:59.999999, 1969-12-31T12:00
    val df = Seq(0L, 86399999999L, -43200000000L).toDF("us")
      .select(Features.epochDay(timestamp_micros(col("us"))).as("di"))
    assert(df.schema("di").dataType == org.apache.spark.sql.types.LongType)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(0L, 0L, -1L))
    assert(Features.epochDaySql("ts") ==
      "epoch_us(date_trunc('day', ts)) // 86400000000")
  }
}
