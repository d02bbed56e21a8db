package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loaders for the harness testdata layout
  * (`<sfDir>/<table>.parquet`, schemas in FIXTURES.md).
  *
  * All reads are plain parquet scans so Catalyst keeps full pushdown:
  * filters and column pruning authored in downstream queries reach the
  * `FileSourceScanExec` (visible as `PushedFilters`/`ReadSchema` in
  * `.explain("formatted")`). Mirrors the reference's footer-inferred
  * reads (/root/reference/yellow_taxi_etl.py:67, cleaning.py:7).
  */
object Tables {

  /** Shared base-table relations, one per (session, path, mtime)
    * (VERDICT r15 #4): every `spark.read.parquet` call pays schema
    * inference (a footer-reading Spark job) plus a fresh
    * InMemoryFileIndex listing — measured 65-75 ms per call at sf0.1
    * vs ~1 ms reusing the DataFrame, and a 370-query bench composes
    * thousands of such reads. Reusing the analyzed relation is METADATA
    * memoization only — the plan below the memo is byte-identical (same
    * LogicalRelation, same pushdown surface) and no row data is ever
    * cached, so the bench's cache-cold-data discipline is untouched.
    * The path's mtime keys the entry so a rewritten fixture (specs
    * regenerate tables under tmp dirs) re-lists instead of reading a
    * stale file index. The weak session keys do NOT free short-lived
    * sessions: every memoised DataFrame references its own session,
    * so a session that ever read a table stays in the map for the
    * JVM's lifetime (an open leak, ROADMAP direction 4). */
  private val relationMemo =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, Long), DataFrame]]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val mtime =
      try java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(path)).toMillis
      catch { case _: Exception => -1L } // non-local fs: read directly
    if (mtime < 0) spark.read.parquet(path)
    else {
      val perSession = relationMemo.synchronized {
        var m = relationMemo.get(spark)
        if (m == null) {
          m = new java.util.concurrent.ConcurrentHashMap[(String, Long), DataFrame]()
          relationMemo.put(spark, m)
        }
        m
      }
      perSession.computeIfAbsent((path, mtime),
        _ => spark.read.parquet(path))
    }
  }

  /** Batch glob / multi-file scan with footer schema merge (S2 —
    * the reference glob-reads its 12 monthly files with a
    * star-dot-parquet pattern, /root/reference/cleaning.py:7).
    * `mergeSchema`
    * unions the footers, so union-compatible files that differ in
    * columns (a column added mid-year) read as one relation with
    * nulls where a file lacks the column. Schema merge costs one
    * footer read per file at planning — fine at any scale; the scan
    * itself stays a plain distributed FileSourceScan with pushdown. */
  def glob(spark: SparkSession, pattern: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(pattern)

  def lineitem(s: SparkSession, d: String): DataFrame =
    rebuildIfNanos(table(s, d, "lineitem"), "l_shipdate")
  def orders(s: SparkSession, d: String): DataFrame =
    rebuildIfNanos(table(s, d, "orders"), "o_orderdate")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** Normalize a declared timestamp column to session-zoned
    * TimestampType, ADAPTIVELY on the dtype the scan actually
    * produced — a 100 TB lake holds files written by different
    * engines over years, so a loader must not assume one physical
    * encoding (VERDICT r7: a regenerated fixture broke 39 queries
    * that did). Applied to every column the schema contract declares
    * as event time (`events.ts`, `lineitem.l_shipdate`,
    * `orders.o_orderdate`):
    *  - `LongType`: parquet TIMESTAMP(NANOS) read via `nanosAsLong`
    *    (set at `GraftSession` build; Spark 4 otherwise rejects nanos
    *    with [PARQUET_TYPE_ILLEGAL]). Rebuilt with integral division
    *    — exact (no double round-trip; 2024 epoch-nanos ≈ 1.7e18
    *    exceeds double's 53-bit mantissa), identical to DuckDB's
    *    ns→µs truncation.
    *  - `TimestampNTZType`: parquet timestamp[us]/[ms] without UTC
    *    adjustment. Cast to TimestampType — identical wall-clock
    *    under the pinned-UTC session.
    *  - `TimestampType`: already an instant; pass through. */
  def normalizeTsCol(df: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(name).dataType match {
      case LongType =>
        df.withColumn(name, timestamp_micros(expr(s"$name DIV 1000")))
      case TimestampNTZType =>
        df.withColumn(name, col(name).cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"$name: unsupported physical read type $other " +
          "(expected epoch-nanos LongType, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  /** [[normalizeTsCol]] on the events table's `ts`. */
  def normalizeEventTs(df: DataFrame): DataFrame = normalizeTsCol(df, "ts")

  /** The LENIENT drift wall for date columns that are only ever
    * compared/grouped, never used in timestamp arithmetic
    * (`l_shipdate`, `o_orderdate`): a TIMESTAMP(NANOS) regeneration
    * reads as LongType under `nanosAsLong` and would fail every date
    * predicate at analysis — rebuild it to micros like
    * [[normalizeTsCol]]. TIMESTAMP and TIMESTAMP_NTZ both pass
    * through RAW, deliberately: comparisons against timestamp
    * literals coerce the LITERAL side, so the scan predicate stays
    * on the stored column and keeps its parquet pushdown — an
    * up-front cast would wrap the column and strip `PushedFilters`
    * from every shipdate/orderdate scan (gated in PlanAuditSpec).
    * Anything else fails loudly. */
  def rebuildIfNanos(df: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(name).dataType match {
      case LongType =>
        df.withColumn(name, timestamp_micros(expr(s"$name DIV 1000")))
      case TimestampNTZType | TimestampType => df
      case other => throw new IllegalArgumentException(
        s"$name: unsupported physical read type $other " +
          "(expected epoch-nanos LongType, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
