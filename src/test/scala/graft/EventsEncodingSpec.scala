package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Regression wall for fixture/lake encoding drift (VERDICT r7: a
  * regenerated `events.ts` physical type silently broke 39 queries
  * batch-side and CORRUPTED q47 stream-side). A real 100 TB lake
  * holds files written by different engines over years, so the
  * loaders must produce identical rows for every physical encoding
  * of the same instants. Table-driven: the same 200 events written
  * as {BIGINT epoch-nanos, timestamp[us] NTZ, timestamp[us] UTC,
  * timestamp[ms] UTC} must read identically through BOTH
  * `Tables.events` (batch) and `StreamOps.eventsStream` (streaming).
  */
class EventsEncodingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // ts truncated to whole seconds so even the millisecond encoding
  // represents the identical instant; 200 rows keeps the suite fast
  private lazy val base: DataFrame = Tables.events(spark, dir)
    .withColumn("ts", date_trunc("second", col("ts")))
    .orderBy("event_id").limit(200).cache()

  private def rowsOf(df: DataFrame): Set[(Long, Long, Long, String, Double)] =
    df.select(col("event_id"), unix_millis(col("ts")), col("user_id"),
        col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4))).toSet

  private lazy val expected = rowsOf(base)

  /** Write `base` at `<tmp>/events.parquet` under an encoding — as a
    * single FILE (the fixture layout; the stream's pathGlobFilter
    * matches leaf file names, so a directory named events.parquet
    * would hide its part files). */
  private def writeEncoded(name: String)(
      transform: DataFrame => DataFrame,
      outputTimestampType: Option[String] = None): String = {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory(s"graft_enc_$name").toString
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      outputTimestampType.foreach(
        spark.conf.set("spark.sql.parquet.outputTimestampType", _))
      transform(base).coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/_stage")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val part = Files.list(Paths.get(s"$tmp/_stage")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(s"$tmp/events.parquet"))
    tmp
  }

  private val encodings: Seq[(String, () => String)] = Seq(
    // the pre-r7 fixture shape: TIMESTAMP(NANOS) reads as LongType
    // under nanosAsLong; a plain BIGINT nanos column is the same
    // read-side dtype, so it exercises the identical loader branch
    "int64-epoch-nanos" -> (() => writeEncoded("nanos")(
      _.withColumn("ts", unix_micros(col("ts")) * lit(1000L)))),
    // the r7 fixture shape (isAdjustedToUTC=false → TIMESTAMP_NTZ)
    "timestamp[us] ntz" -> (() => writeEncoded("ntzus")(
      _.withColumn("ts", col("ts").cast(TimestampNTZType)))),
    // UTC-adjusted micros (what most engines write) → TimestampType
    "timestamp[us] utc" -> (() => writeEncoded("utcus")(
      identity, Some("TIMESTAMP_MICROS"))),
    // millisecond physical unit → TimestampType
    "timestamp[ms] utc" -> (() => writeEncoded("utcms")(
      identity, Some("TIMESTAMP_MILLIS"))))

  for ((name, make) <- encodings) {
    test(s"batch + stream read identical rows from $name") {
      val tmp = make()
      val batchDf = Tables.events(spark, tmp)
      assert(batchDf.schema("ts").dataType == TimestampType,
        s"$name: batch loader must normalize ts to TimestampType")
      assert(rowsOf(batchDf) == expected, s"$name: batch rows differ")

      val streamed = rowsOf(StreamOps.drain(spark, tmp, "append") {
        StreamOps.eventsStream(spark, tmp)
      })
      assert(streamed == expected, s"$name: streamed rows differ")
    }
  }

  test("unsupported ts dtype fails loudly, not silently") {
    val tmp = writeEncoded("bad")(
      _.withColumn("ts", col("ts").cast(StringType)))
    val e = intercept[IllegalArgumentException] {
      Tables.events(spark, tmp)
    }
    assert(e.getMessage.contains("unsupported physical read type"))
  }
}
