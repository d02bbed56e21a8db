package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Output sinks (SURVEY.md §2.1 S3-S6): the reference persists its
  * seven analytics tables to MySQL over JDBC
  * (/root/reference/yellow_taxi_etl.py:37-48, call sites :205-211),
  * writes cleaned parquet (cleaning.py:20), and previews to console
  * (cleaning.py:23). The sink is a trait so the same pipeline runs
  * against parquet in the harness (zero egress — no MySQL here) and
  * JDBC in production; JdbcSink is exercised in tests against an
  * in-process fake java.sql.Driver.
  *
  * Scale notes: both file and JDBC writes are executed per partition
  * on the executors (JDBC opens one connection per partition —
  * Spark's JdbcUtils.savePartition), so the sink never funnels
  * through the driver. [[Sinks.writeAll]] calls `write` for all of
  * its tables at once, from concurrent threads, so an implementation
  * must be safe to call concurrently for distinct tables. For very
  * wide clusters cap write parallelism upstream (`df.coalesce(n)`)
  * to stay under the database's connection budget, per table (see
  * [[JdbcSink]]).
  */
trait Sink {
  def write(df: DataFrame, table: String, mode: SaveMode): Unit
}

/** Parquet directory sink — one subdirectory per table (S3). */
final class ParquetSink(baseDir: String) extends Sink {
  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.mode(mode).parquet(s"$baseDir/$table")
}

/** Keyed upsert ("merge") parquet sink: each write merges the batch
  * into the existing snapshot — new keys insert, existing keys are
  * replaced by the incoming row (SCD type-1, the nightly-refresh
  * pattern). Implementation is the lakehouse-without-a-lakehouse
  * shape: read current snapshot, anti-join out the keys the batch
  * replaces, union, write to a fresh directory, atomically swap the
  * pointer file. At scale the anti-join broadcasts the (small) batch
  * key set; a real deployment graduates to a format with row-level
  * deletes (Delta/Iceberg) once batches stop being small — this sink
  * documents the exact seam where that swap happens.
  *
  * The pointer file (`_current`) names the live snapshot directory —
  * readers resolve it via [[UpsertParquetSink.read]]; the swap is a
  * rename-free single-file overwrite, so a crashed write leaves the
  * previous snapshot intact. */
final class UpsertParquetSink(baseDir: String, keyCols: Seq[String])
    extends Sink {
  import org.apache.spark.sql.functions.col

  private def pointer(table: String) =
    java.nio.file.Paths.get(s"$baseDir/$table/_current")

  private def currentDir(table: String): Option[String] = {
    val p = pointer(table)
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  override def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
    val spark = df.sparkSession
    val merged = (mode, currentDir(table)) match {
      case (SaveMode.Overwrite, _) | (_, None) => df
      case (_, Some(dir)) =>
        val cur = spark.read.parquet(s"$baseDir/$table/$dir")
        val keys = df.select(keyCols.map(col): _*).distinct()
        cur.join(org.apache.spark.sql.functions.broadcast(keys),
            keyCols, "left_anti")
          .unionByName(df)
    }
    val next = s"snap_${System.currentTimeMillis()}_${merged.hashCode()}"
    merged.write.mode(SaveMode.Overwrite)
      .parquet(s"$baseDir/$table/$next")
    java.nio.file.Files.createDirectories(pointer(table).getParent)
    java.nio.file.Files.write(pointer(table), next.getBytes("UTF-8"))
  }
}

object UpsertParquetSink {
  /** Resolve the live snapshot of an upsert table. */
  def read(spark: org.apache.spark.sql.SparkSession, baseDir: String,
      table: String): DataFrame = {
    val p = java.nio.file.Paths.get(s"$baseDir/$table/_current")
    val dir = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    spark.read.parquet(s"$baseDir/$table/$dir")
  }
}

/** Hive-layout partitioned parquet sink: rows land in
  * `table/col=value/` directories, so later reads that filter on the
  * partition columns scan ONLY the matching directories (partition
  * pruning — `PartitionFilters` in the scan, zero data files touched
  * for pruned values). The layout every at-scale pipeline writes:
  * partition by ingest date / source, prune at read. Choose
  * partition columns with bounded cardinality — one directory (and
  * at least one file) per value per write. */
final class PartitionedParquetSink(baseDir: String,
    partitionCols: Seq[String]) extends Sink {
  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*)
      .parquet(s"$baseDir/$table")
}

/** JDBC sink (S4) — matches the reference's writer option-for-option
  * (yellow_taxi_etl.py:37-48: url/dbtable/user/password/driver, then
  * mode + save). Each write opens one connection per partition of
  * `df`, and [[Sinks.writeAll]] runs the tables' writes concurrently,
  * so a fan-out of seven tables can open up to seven times the
  * per-table partition count: size any `coalesce(n)` connection
  * budget per table. */
final class JdbcSink(url: String, user: String, password: String,
    driver: String) extends Sink {
  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .option("driver", driver)
      .mode(mode)
      .save()
}

/** Console sink (S5) — cleaning.py:23's `df.show()`. */
final class ConsoleSink(numRows: Int = 20) extends Sink {
  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.show(numRows)
}

object Sinks {

  /** Per-sink write-mode plumbing (S6): the reference runs all
    * tables in append or overwrite per the CLI flag, EXCEPT
    * `fare_anomalies`, which is always overwritten because its p99
    * threshold is recomputed per run and appending would mix
    * thresholds (yellow_taxi_etl.py:56,207; new_etl.py:94).
    *
    * The reference persists its tables one at a time; here every
    * table's `sink.write` starts together, each as its own Spark job
    * on its own thread, so the small aggregate jobs overlap instead
    * of each paying its fixed cost in turn. The pool's threads are
    * created by the caller and so inherit its Spark local properties
    * (job group, scheduler pool). The call returns once every write
    * has finished: if any failed, the first failure in table order is
    * rethrown with the later ones attached as suppressed, and no pool
    * thread outlives the call. */
  def writeAll(tables: Seq[(String, DataFrame)], sink: Sink,
      overwrite: Boolean,
      alwaysOverwrite: Set[String] = Set("fare_anomalies")): Unit = {
    if (tables.isEmpty) return
    val base = if (overwrite) SaveMode.Overwrite else SaveMode.Append
    val pool = Executors.newFixedThreadPool(tables.size, writerThreads)
    try {
      val pending = tables.map { case (name, df) =>
        val mode = if (alwaysOverwrite(name)) SaveMode.Overwrite else base
        pool.submit(new Runnable { def run(): Unit = sink.write(df, name, mode) })
      }
      val failures = pending.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** Name prefix of [[writeAll]]'s pool threads. */
  val WriterThreadPrefix = "graft-sink-write-"

  private val writerThreads = new ThreadFactory {
    private val n = new AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, WriterThreadPrefix + n.incrementAndGet())
      t.setDaemon(true)
      t
    }
  }
}
