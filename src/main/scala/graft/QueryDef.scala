package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: the Spark plan builder plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle
  * SQL the driver hash-compares against.
  *
  * Determinism discipline (SURVEY.md §5/§7.3): every query ends in a
  * total ORDER BY (tie-broken to a unique key prefix) in BOTH the
  * Spark plan and the oracle SQL, every floating aggregate is rounded
  * to 6 decimals on both sides — with `Rounding.r6` in the plan and
  * `Rounding.r6sql` in the oracle, never native `round()` — every
  * exact sum of doubles is a sum of `Rounding.micros` / `microsSql`
  * micro-units, and every computed column carries the same alias on
  * both sides (the driver sorts columns by name before hashing).
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(fn, Some(oracle))
  def rowsOnly(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(fn, None)

  private val viewIds = new java.util.concurrent.atomic.AtomicLong

  /** `s.sql(text(view))` over `df` registered as a temp view whose name
    * (`<prefix>_<n>`) is unique per call and which is dropped once
    * `s.sql` returns: the result is already analyzed and holds the
    * view's plan, so the session keeps no view and a caller's own
    * views (one called `orders`, say) are left alone. The drop goes
    * through the session catalog, which, unlike
    * `Catalog.dropTempView`, does not uncache a caller's cache of the
    * same relation. */
  def sqlOver(s: SparkSession, df: DataFrame, prefix: String)(
      text: String => String): DataFrame = {
    val view = s"${prefix}_${viewIds.incrementAndGet()}"
    df.createTempView(view)
    try s.sql(text(view))
    finally s.sessionState.catalog.dropTempView(view)
  }
}
