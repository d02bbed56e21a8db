package graft

import graft.queries.Bucketing
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located join: orders and lineitem pre-shuffled at
  * write time (`Bucketing.ensureBucketed`, the tables q158 and q207
  * read) into the same bucket count on the join key → the equi-join
  * plans with NO Exchange (the shuffle was paid once, at write). */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("equi-join of co-bucketed tables plans without any Exchange") {
    val (ot, lt) = Bucketing.ensureBucketed(spark, dir)
    val joined = spark.table(lt).hint("merge")
      .join(spark.table(ot), $"l_orderkey" === $"o_orderkey")
    val n = joined.count()
    assert(n == Tables.lineitem(spark, dir).count()) // FK join, 1:1
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(500))
    assert(!plan.contains("Exchange"),
      "bucketed join must not shuffle:\n" + plan.take(800))
  }

  test("aggregation on the bucket key also skips the shuffle") {
    val (_, lt) = Bucketing.ensureBucketed(spark, dir)
    val agg = spark.table(lt).groupBy("l_orderkey").count()
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "bucketed group-by must not shuffle:\n" + plan.take(800))
  }

  test("q158 and q207 share one pair of bucketed tables per fixture") {
    // a private copy of the two inputs: a fixture path (and so a
    // table-name hash) that no other suite has bucketed
    val fx = Files.createTempDirectory("graft_bucketing_fx")
    graft.sources.ScratchDirs.register(fx.toString)
    Seq("orders", "lineitem").foreach(t => Files.copy(
      Paths.get(s"$dir/$t.parquet"), fx.resolve(s"$t.parquet")))
    val d = fx.toString
    Seq("q158_bucketed_join", "q207_bucketed_join")
      .foreach(q => SparkEntry.queries(q)(spark, d).collect())
    val tag = Integer.toHexString(d.hashCode)
    val names = spark.catalog.listTables().collect().map(_.name).toSet
    assert(names.filter(_.endsWith(s"_$tag")) ==
      Set(s"graft_b_orders_$tag", s"graft_b_lineitem_$tag"), names)
    assert(!names.exists(_.startsWith("graft_q158_")), names)
  }
}
