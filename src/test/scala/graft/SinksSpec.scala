package graft

import graft.sources.{ConsoleSink, JdbcSink, ParquetSink, Sink, Sinks}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** S3-S6 sink surface: parquet round-trip, console, JDBC against the
  * in-process fake driver (the REAL Spark JDBC write path: existence
  * probe, CREATE TABLE, per-partition batched INSERTs, and
  * DROP+recreate on overwrite), plus the reference's per-sink mode
  * plumbing including the fare_anomalies always-overwrite quirk
  * (/root/reference/yellow_taxi_etl.py:207). */
class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sample = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
    .toDF("id", "name", "score")

  test("ParquetSink: overwrite then append round-trips rows") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val sink = new ParquetSink(dir)
    sink.write(sample, "t", SaveMode.Overwrite)
    sink.write(sample, "t", SaveMode.Append)
    val got = spark.read.parquet(s"$dir/t")
    assert(got.count() == 6)
    assert(got.columns.toSeq.sorted == Seq("id", "name", "score"))
  }

  test("PartitionedParquetSink: hive layout + partition pruning at read") {
    val dir = Files.createTempDirectory("graft_psink").toString
    val byName = new graft.sources.PartitionedParquetSink(dir, Seq("name"))
    byName.write(sample, "t", SaveMode.Overwrite)
    // hive directory layout
    assert(new java.io.File(s"$dir/t/name=a").exists())
    // a partition-column filter prunes to one directory: the scan
    // shows it under PartitionFilters and reads a single row with
    // no data-file filter needed
    val q = spark.read.parquet(s"$dir/t").filter($"name" === "b")
    assert(q.collect().map(_.getAs[Long]("id")).toSeq == Seq(2L))
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PartitionFilters"))
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(formatted).map(_.group(1)).getOrElse("")
    assert(pf.contains("name"), s"partition filter missing: $pf")
  }

  test("UpsertParquetSink: new keys insert, existing keys replaced, " +
      "crash-safe pointer swap") {
    import graft.sources.UpsertParquetSink
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val sink = new UpsertParquetSink(dir, Seq("k"))
    sink.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t",
      SaveMode.Append)
    sink.write(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), "t",
      SaveMode.Append)
    val got = UpsertParquetSink.read(spark, dir, "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // overwrite semantics reset the snapshot
    sink.write(Seq((9L, "z")).toDF("k", "v"), "t", SaveMode.Overwrite)
    assert(UpsertParquetSink.read(spark, dir, "t")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    // prior snapshots remain on disk until vacuumed — pointer swap is
    // the only mutation, so a reader never sees a half-written merge
    val snaps = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.startsWith("snap_"))
    assert(snaps.length >= 3)
  }

  test("ConsoleSink: show() does not throw") {
    new ConsoleSink(5).write(sample, "t", SaveMode.Overwrite)
  }

  private def jdbcSink =
    new JdbcSink(FakeJdbcStore.URL, "user", "pw", classOf[FakeJdbcDriver].getName)

  test("JdbcSink: create-table DDL + batched inserts reach the database") {
    FakeJdbcStore.clear()
    jdbcSink.write(sample, "trips", SaveMode.Overwrite)
    assert(FakeJdbcStore.ddlSnapshot.exists(s =>
      s.toUpperCase.startsWith("CREATE TABLE") && s.contains("trips")))
    val rows = FakeJdbcStore.rows("trips")
    assert(rows.size == 3)
    assert(rows.map(r => (r(0), r(1), r(2))).toSet ==
      Set((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))
  }

  test("JdbcSink: append adds rows, overwrite drops and recreates") {
    FakeJdbcStore.clear()
    jdbcSink.write(sample, "t2", SaveMode.Overwrite)
    jdbcSink.write(sample, "t2", SaveMode.Append)
    assert(FakeJdbcStore.rows("t2").size == 6)
    jdbcSink.write(sample, "t2", SaveMode.Overwrite)
    assert(FakeJdbcStore.rows("t2").size == 3)
    assert(FakeJdbcStore.ddlSnapshot.exists(
      _.toUpperCase.startsWith("DROP TABLE")))
  }

  test("writeAll: fare_anomalies is always overwritten in append runs") {
    FakeJdbcStore.clear()
    val tables = Seq("demand_heatmap" -> sample, "fare_anomalies" -> sample)
    Sinks.writeAll(tables, jdbcSink, overwrite = true)
    Sinks.writeAll(tables, jdbcSink, overwrite = false) // append run
    assert(FakeJdbcStore.rows("demand_heatmap").size == 6) // appended
    assert(FakeJdbcStore.rows("fare_anomalies").size == 3) // re-overwritten
  }

  private val sevenTables = Seq("demand_heatmap", "tip_trends",
    "fare_anomalies", "trip_performance", "popular_routes",
    "payment_analysis", "distance_distribution")

  private def liveWriterThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(Sinks.WriterThreadPrefix))
      .map(_.getName).toSet

  test("writeAll: a failed write waits for the others, rethrows the " +
      "first failure in table order, and leaves no pool thread") {
    val dir = Files.createTempDirectory("graft_fail").toString
    val parquet = new ParquetSink(dir)
    // `slow` fails late and `fast` fails at once, so table order and
    // completion order disagree
    def failing(slow: String, fast: Option[String]) = new Sink {
      override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
        if (table == slow) { Thread.sleep(300); sys.error(s"boom $table") }
        else if (fast.contains(table)) sys.error(s"boom $table")
        else parquet.write(df, table, mode)
    }
    val tables = sevenTables.map(_ -> sample)
    val e = intercept[RuntimeException] {
      Sinks.writeAll(tables, failing("fare_anomalies", None), overwrite = true)
    }
    assert(e.getMessage == "boom fare_anomalies")
    assert(e.getSuppressed.isEmpty)
    sevenTables.filterNot(_ == "fare_anomalies").foreach { t =>
      assert(spark.read.parquet(s"$dir/$t").count() == 3, t)
    }
    assert(liveWriterThreads.isEmpty, liveWriterThreads)

    val two = intercept[RuntimeException] {
      Sinks.writeAll(tables, failing("tip_trends", Some("payment_analysis")),
        overwrite = true)
    }
    assert(two.getMessage == "boom tip_trends")
    assert(two.getSuppressed.map(_.getMessage).toSeq ==
      Seq("boom payment_analysis"))
    assert(liveWriterThreads.isEmpty, liveWriterThreads)
  }

  test("writeAll: every write sees the caller's job group and local " +
      "properties") {
    val sc = spark.sparkContext
    val key = "graft.test.writeAllProbe"
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(String, String, String)]()
    val recorder = new Sink {
      override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
        seen.add((table, sc.getLocalProperty("spark.jobGroup.id"),
          sc.getLocalProperty(key)))
    }
    sc.setJobGroup("graft-writeAll-group", "writeAll local properties")
    sc.setLocalProperty(key, "probe-value")
    try Sinks.writeAll(sevenTables.map(_ -> sample), recorder, overwrite = true)
    finally { sc.clearJobGroup(); sc.setLocalProperty(key, null) }
    assert(seen.asScala.toSet == sevenTables.map(t =>
      (t, "graft-writeAll-group", "probe-value")).toSet)
  }
}
