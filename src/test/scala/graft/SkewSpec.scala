package graft

import graft.ops.Skew
import org.scalatest.funsuite.AnyFunSuite

/** Skew-safe joins must return exactly the rows of the plain join
  * they replace under a hot key. */
class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("saltedJoin equals the plain join row-for-row; salts spread") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"))
    val dim = Tables.events(spark, dir)
      .groupBy(col("user_id").as("d_user"))
      .agg(count(lit(1)).as("n"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq.sorted
    val salted = Skew.saltedJoin(ev, dim, "user_id", "d_user",
      rowIdCol = "event_id", salts = 16)
    val plain = ev.join(dim, col("user_id") === col("d_user"))
    assert(rows(salted) == rows(plain))
    // the salt actually spreads: big-side rows land on many sub-keys
    val saltsUsed = ev.select(
      pmod(xxhash64(col("event_id")), lit(16)).cast("int").as("s"))
      .distinct().count()
    assert(saltsUsed == 16)
  }

  test("bloomPrunedJoin equals the plain join even with a tiny, " +
      "high-fpp bloom (false positives verified away)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val buyers = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user")).distinct()
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.getLong(0)).toSeq.sorted
    val plain = ids(ev.join(buyers, col("user_id") === col("b_user"))
      .select(col("event_id")))
    // 64-bit bloom → fpp near 1: everything may pass the filter, the
    // exact join must still produce exactly the plain result
    val tiny = ids(graft.ops.BloomJoin.bloomPrunedJoin(ev, buyers,
      "user_id", "b_user", estItems = 8, numBits = 64)
      .select(col("event_id")))
    val sane = ids(graft.ops.BloomJoin.bloomPrunedJoin(ev, buyers,
      "user_id", "b_user").select(col("event_id")))
    assert(tiny == plain)
    assert(sane == plain)
    // and the filter itself admits no false negatives
    val bf = graft.ops.BloomJoin.buildFilter(buyers, "b_user")
    val pruned = ev.filter(call_function(graft.ops.BloomJoin.MIGHT_CONTAIN,
      lit(bf), xxhash64(col("user_id"))))
    assert(pruned.count() >= plain.size)
  }
}
