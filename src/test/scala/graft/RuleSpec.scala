package graft

import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TokenContainsPrefilter optimizer rule: the implied substring
  * predicate reaches the scan, semantics are rule-invariant, and
  * the rule leaves non-matching filters alone. */
class RuleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def tokenFilter =
    Tables.documents(spark, dir)
      .filter(array_contains(TextOps.tokens(col("text")), "spark"))
      .select(col("doc_id"))

  test("implied Contains lands in the parquet scan's PushedFilters") {
    val plan = tokenFilter.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pushed.exists(_.contains("StringContains(text,spark)")),
      s"implied prefilter did not reach the scan:\n$plan")
    // the exact token predicate still applies above the scan
    assert(plan.contains("array_contains"), "exact predicate lost")
  }

  test("rule is semantics-preserving: rows match a literal replay") {
    val withRule = tokenFilter.collect().map(_.getLong(0)).sorted.toSeq
    assert(withRule.nonEmpty)
    // driver-side re-derivation of the exact predicate, no Catalyst
    val replay = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .filter(_.getString(1).trim.split(" ").contains("spark"))
      .map(_.getLong(0)).sorted.toSeq
    assert(withRule == replay)
  }

  test("GraftSession adds no programmatic copy of the injected rule") {
    // the session's context carries GraftExtensions, which already
    // injects the rule into the operator-optimization batches
    assert(!spark.experimental.extraOptimizations
      .contains(graft.plans.TokenContainsPrefilter))
    val withRule = spark.sessionState.optimizer.batches
      .filter(_.rules.contains(graft.plans.TokenContainsPrefilter))
      .map(_.name)
    assert(withRule.size == 2 && !withRule.contains("User Provided Optimizers"),
      s"rule runs in: ${withRule.mkString(", ")}")
  }

  test("idempotent: one implied conjunct, not one per optimizer pass") {
    val plan = tokenFilter.queryExecution.optimizedPlan.toString
    val n = "Contains\\(".r.findAllMatchIn(plan).size
    assert(n <= 2, s"rule kept stacking conjuncts ($n):\n$plan")
  }

  test("filters without token membership are untouched") {
    val df = Tables.documents(spark, dir)
      .filter(col("n_chars") > 100).select(col("doc_id"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Contains("), s"spurious rewrite:\n$plan")
  }
}
