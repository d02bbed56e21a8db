package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Derived-column ("feature engineering") builders.
  *
  * Re-expresses the reference's withColumn layer
  * (/root/reference/yellow_taxi_etl.py:68-94, new_etl.py:35-51) as
  * reusable Column builders. All are pure Catalyst expressions —
  * codegen'd, null-propagating, no UDFs — so stacked uses collapse
  * into a single `Project` (CollapseProject) and survive pushdown.
  */
object Features {

  /** Hour 0-23 of a timestamp, session TZ (UTC in this harness).
    * Ref: yellow_taxi_etl.py:68. */
  def hourOf(ts: Column): Column = hour(ts)

  /** Whole days since 1970-01-01 of a timestamp in the session TZ
    * (GraftSession pins UTC): a LongType column, negative before the
    * epoch. */
  def epochDay(ts: Column): Column =
    call_function("div", unix_micros(date_trunc("day", ts)),
      lit(86400000000L))

  /** The identical epoch day as DuckDB SQL text. */
  def epochDaySql(ts: String): String =
    s"epoch_us(date_trunc('day', $ts)) // 86400000000"

  /** Day-of-week 1=Sunday..7=Saturday. Ref: yellow_taxi_etl.py:69. */
  def dowOf(ts: Column): Column = dayofweek(ts)

  /** Duration in minutes between two timestamps (double).
    * Ref: yellow_taxi_etl.py:70-74 (unix_timestamp pair / 60.0). */
  def minutesBetween(start: Column, end: Column): Column =
    (unix_timestamp(end) - unix_timestamp(start)) / lit(60.0)

  /** Guarded ratio: num/den when den > 0, else NULL.
    * The `when` without `otherwise` yields NULL — the reference's
    * null-guard idiom (yellow_taxi_etl.py:75-86: tip_pct,
    * avg_speed_mph, revenue_per_mile). avg() over the result skips
    * NULLs, which both Spark and the DuckDB oracle honor. */
  def guardedRatio(num: Column, den: Column): Column =
    when(den > lit(0), num / den)

  /** Monotone bucketing CASE: value < bounds(i) -> labels(i), else
    * labels.last. Ref: distance_category, yellow_taxi_etl.py:87-94. */
  def bucketize(v: Column, bounds: Seq[Double], labels: Seq[String]): Column = {
    require(labels.length == bounds.length + 1, "labels = bounds + 1")
    bounds.zip(labels).foldRight(lit(labels.last): Column) {
      case ((b, l), elseC) => when(v < lit(b), lit(l)).otherwise(elseC)
    }
  }

  /** Categorical decode CASE with default.
    * Ref: payment_method, yellow_taxi_etl.py:178-185. */
  def decode(v: Column, mapping: Seq[(Any, String)], default: String): Column =
    mapping.foldRight(lit(default): Column) { case ((k, label), elseC) =>
      when(v === lit(k), lit(label)).otherwise(elseC)
    }

  /** Weekend flag from a 1=Sun..7=Sat dow column.
    * Ref: yellow_taxi_etl.py:147 (isin(1,7) with otherwise(false)). */
  def isWeekend(dow: Column): Column =
    when(dow.isin(1, 7), lit(true)).otherwise(lit(false))
}
