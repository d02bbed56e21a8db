package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quantile-threshold anomaly detection.
  *
  * The reference computes a p99 threshold driver-side with
  * approxQuantile and re-embeds it as a literal
  * (/root/reference/yellow_taxi_etl.py:121-129). That collect-and-
  * re-plan round trip is fine on one node but is an anti-pattern at
  * cluster scale (driver sync point between two jobs), so the primary
  * form here keeps the threshold *inside the plan*: a single-row
  * aggregate broadcast-nest-loop-joined against the fact table. One
  * pass computes the quantile, the broadcast costs one row, and the
  * filter stays distributed.
  */
object Anomaly {

  /** Rows of `df` where `valueCol >= exact percentile p of valueCol`.
    * Exact `percentile` (sort-based interpolated, matches DuckDB
    * quantile_cont) so results are oracle-comparable. */
  def percentileFilter(df: DataFrame, valueCol: String, p: Double): DataFrame = {
    val thr = df.agg(percentile(col(valueCol), lit(p)).as("__thr"))
    df.join(broadcast(thr)).where(col(valueCol) >= col("__thr")).drop("__thr")
  }
}
