package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Bucketed-table co-located join — the pre-shuffle amortization
  * pattern for 100 TB fact-fact joins: pay the orderkey shuffle ONCE
  * at write time (`bucketBy` + `sortBy`), then every subsequent join
  * on that key is a zero-exchange, zero-sort sort-merge join. At
  * cluster scale this is the difference between re-shuffling 100 TB
  * per query and never shuffling it again.
  *
  * The round driver re-runs queries in one long-lived session, so
  * the bucketed tables are written once per (session, fixture) and
  * registered under fixture-hashed names; a MERGE join hint pins the
  * sort-merge strategy so the plan gate in PlanAuditSpec
  * deterministically sees the bucketed SMJ, not a size-dependent
  * broadcast.
  */
object Bucketing {

  private def bucketedNames(s: SparkSession, d: String): (String, String) = {
    val tag = Integer.toHexString(d.hashCode)
    (s"graft_b_orders_$tag", s"graft_b_lineitem_$tag")
  }

  /** Write orders + lineitem bucketed by order key (8 buckets) as
    * external tables under tmpdir, once per session+fixture; q158
    * and q207 both read them. The directory is per-JVM and deleted
    * at JVM exit (the oracle reads the raw parquet, never these). */
  def ensureBucketed(s: SparkSession, d: String): (String, String) = {
    val (ot, lt) = bucketedNames(s, d)
    // gate on BOTH tables: a first attempt that died between the two
    // writes must not leave the session half-initialized (overwrite
    // mode makes the re-write of the surviving table safe)
    if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(lt)) {
      val base = graft.sources.ScratchDirs.perProcess("q207", d)
      Tables.orders(s, d).write.mode("overwrite")
        .option("path", s"$base/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      Tables.lineitem(s, d).write.mode("overwrite")
        .option("path", s"$base/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
    }
    (ot, lt)
  }

  /** q207: revenue per order priority over the bucketed join. The
    * oracle reads the raw parquet (bucketing changes the plan, never
    * the result); revenue aggregates in exact DECIMAL (the q10
    * stance). */
  val bucketedJoin: QueryDef = QueryDef.sql(
    """SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(30,10))), 6) AS DOUBLE) AS revenue
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val (ot, lt) = ensureBucketed(s, d)
    // MERGE hint (not a session-conf flip, which would have to
    // outlive this builder to reach physical planning): forces the
    // sort-merge strategy so the plan gate deterministically sees
    // the zero-exchange bucketed SMJ regardless of size estimates.
    s.table(ot).hint("merge")
      .join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("long").as("n_items"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,10)")), 6).cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q207_bucketed_join" -> bucketedJoin)
}
