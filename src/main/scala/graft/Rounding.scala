package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, lit}

/** Engine-portable fixed point for oracle-checked outputs. Every plan
  * and every oracle rounds through this object: `r6` / `r6sql` round
  * to 6 decimals, `floor(x * 1e6 + 0.5) / 1e6`; `micros` /
  * `microsSql` quantize to an exact long count of micro-units,
  * `floor(x * 1e6 + 0.5)`, so sums of them are exact on both engines.
  * Each Column helper has a hand-written DuckDB twin, so each engine
  * evaluates its own side.
  *
  * Native `round()` diverges across engines exactly at `.5e-6` ties
  * — Spark rounds doubles HALF_UP, DuckDB half-to-even — and sf0.1
  * verification caught two real instances (q09 price_per_unit,
  * q25 duration_min differing by 1e-6). The floor form is the same
  * IEEE multiply/add/floor/divide sequence on both engines, so both
  * sides agree bit-for-bit whatever the tie convention. Both forms
  * are valid while |x| < 2^53/1e6 ≈ 9.0e9 (x*1e6 must stay
  * integer-exact); for larger magnitudes — e.g. revenue sums whose
  * double SUMMATION ORDER noise already exceeds 1e-6 — aggregate in
  * DECIMAL instead (see q10) and only then round.
  *
  * The failure mode past the domain is ASYMMETRIC (q245 lesson), for
  * `r6` and `micros` alike: DuckDB's floor(double) stays a DOUBLE and
  * merely loses grain, but Spark's floor(double) returns LONG and
  * saturates at Long.MaxValue — a squared micro-residual (~1e17)
  * comes back as 9.22e12 on the Spark side only, silently zeroing a
  * variance. Rescale to value units BEFORE rounding or quantizing
  * anything that can square past ~9e9.
  */
object Rounding {
  def r6(c: Column): Column =
    floor(c * lit(1000000L) + lit(0.5)) / lit(1000000L)

  /** The identical formula on a JVM double, for a plan that rounds
    * inside a Scala closure. */
  def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** The identical formula as DuckDB SQL text. */
  def r6sql(expr: String): String =
    s"floor(($expr) * 1000000 + 0.5) / 1000000"

  /** `c` in micro-units, half-up: a LongType column. */
  def micros(c: Column): Column = floor(c * 1000000 + lit(0.5))

  /** The identical quantization as DuckDB SQL text, cast to BIGINT
    * (DuckDB's floor(double) stays a DOUBLE). */
  def microsSql(expr: String): String =
    s"CAST(floor(($expr) * 1000000 + 0.5) AS BIGINT)"
}
