package graft.queries

import graft.{QueryDef, Tables}
import graft.Rounding.{micros, microsSql, r6, r6sql}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extension tier: the remaining TPC-H plan shapes (Q2, Q4, Q8, Q9,
  * Q11, Q13, Q16, Q19, Q20, Q21, Q22) adapted to the fixture schema —
  * the fixtures carry no partsupp/l_shipmode/l_commitdate/c_phone, so
  * each query keeps the REFERENCE QUERY'S PLAN SHAPE (the thing that
  * matters for engine coverage: correlated EXISTS batteries, outer-join
  * histograms, disjunctive pushdown, scalar-subquery thresholds) on the
  * columns that exist.
  *
  * Scale stance shared by the family:
  *  - correlated EXISTS / NOT EXISTS / NOT IN become left-semi /
  *    left-anti joins — hash or sort-merge on the correlation key,
  *    never a per-row subquery loop.
  *  - global scalar thresholds (Q11/Q22) are one-row aggregates
  *    crossJoin-broadcast to the filter site: a single job computes
  *    the scalar, no driver collect, no recompute per partition.
  *  - every revenue sum runs in DECIMAL(30,10) (exact,
  *    order-independent) and is rounded at the 1e-6 comparison grain
  *    via the portable floor form (graft.Rounding).
  */
object TpchShapes {

  private def dsum(c: Column): Column =
    round(sum(c.cast("decimal(30,10)")), 6).cast("double")

  /** TPC-H Q4 shape (order priority checking): orders in a half-year
    * window with at least one line shipped after the order date —
    * EXISTS over an inequality-correlated subquery. Plans as a
    * LEFT-SEMI join on the orderkey equi-pair with the shipdate
    * inequality as a residual, so the probe side is the date-pruned
    * orders scan (predicate pushed to parquet) and lineitem is touched
    * once — no per-order subquery execution at any scale. */
  val lateShipPriority: QueryDef = QueryDef.sql(
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1996-07-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND l_shipdate > o_orderdate)
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_shipdate"),
        col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    * join with the selective predicate INSIDE the join condition (a
    * WHERE would turn the outer join inner and drop the zero bucket —
    * the classic Q13 trap), then a two-level aggregate. The zero-order
    * customers survive as count(o_orderkey)=0 via null-skipping count.
    * First agg shuffles on c_custkey; the histogram agg moves
    * |distinct counts| rows. */
  val orderCountDistribution: QueryDef = QueryDef.sql(
    """SELECT c_count, count(*) AS custdist FROM (
         SELECT c_custkey, count(o_orderkey) AS c_count
         FROM customer LEFT JOIN orders
           ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
         GROUP BY c_custkey) cc
       GROUP BY c_count ORDER BY custdist DESC, c_count DESC""") { (s, d) =>
    Tables.customer(s, d).select("c_custkey")
      .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicate): an
    * OR of brand/size/quantity conjunction bands across the join. The
    * disjunction itself can only evaluate post-join, but its IMPLIED
    * prefilters are applied explicitly — p_brand ∈ {the three bands'
    * brands} on the (broadcast) part side and l_quantity ∈ [overall
    * min, overall max] on the fact side — both semantic supersets of
    * the OR, both reaching the parquet scans as PushedFilters. That is
    * the Q19 plan lesson: derive the pushable envelope by hand because
    * Catalyst won't factor a cross-column disjunction. */
  val disjunctivePartRevenue: QueryDef = QueryDef.sql(
    """SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(30,10))), 6) AS DOUBLE) AS revenue,
              count(*) AS n_items
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
              AND l_quantity BETWEEN 1 AND 20)
          OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
              AND l_quantity BETWEEN 10 AND 30)
          OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
              AND l_quantity BETWEEN 20 AND 40)""") { (s, d) =>
    val bands =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15)
        && col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30)
        && col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(20, 50)
        && col("l_quantity").between(20, 40))
    Tables.lineitem(s, d)
      .filter(col("l_quantity").between(1, 40)) // implied envelope → scan
      .join(broadcast(Tables.part(s, d)
          .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
          .select("p_partkey", "p_brand", "p_size")),
        col("p_partkey") === col("l_partkey"))
      .filter(bands)
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q22 shape (dormant premium accounts): customers above the
    * positive-balance average (global scalar subquery) who never
    * placed an urgent order (anti join), grouped by nation. The
    * threshold is computed once as a one-row aggregate and broadcast
    * into the filter — exact decimal sum divided by the count, rounded
    * at the portable 1e-6 grain so both engines filter on the
    * bit-identical double. The NOT EXISTS is a left-anti join on
    * custkey against the priority-pruned orders scan. */
  val dormantPremiumCustomers: QueryDef = QueryDef.sql(
    s"""SELECT n_name, count(*) AS numcust,
         CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,10))), 6)
           AS DOUBLE) AS totacctbal
       FROM customer JOIN nation ON n_nationkey = c_nationkey
       WHERE c_acctbal > (SELECT ${r6sql("""CAST(round(sum(CAST(c_acctbal
                 AS DECIMAL(30,10))), 6) AS DOUBLE) / count(*)""")}
               FROM customer WHERE c_acctbal > 0)
         AND NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderpriority = '1-URGENT')
       GROUP BY n_name ORDER BY n_name""") { (s, d) =>
    val cust = Tables.customer(s, d)
    val thr = cust.filter(col("c_acctbal") > 0)
      .agg(r6(round(sum(col("c_acctbal").cast("decimal(30,10)")), 6)
          .cast("double") / count(lit(1))).as("thr"))
    cust.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("thr"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q16 shape (supplier breadth per part class): distinct
    * suppliers per (brand, size) excluding a supplier blacklist — the
    * NOT IN becomes a left-anti join against the (tiny, broadcast)
    * negative-balance supplier set, the part dim broadcasts with its
    * predicates pushed, and count(DISTINCT l_suppkey) runs as the
    * standard two-phase distinct aggregate (partial distinct map-side,
    * exchange on the group key). */
  val supplierBreadth: QueryDef = QueryDef.sql(
    """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand <> 'Brand#1'
         AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
         AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_acctbal < 0)
       GROUP BY p_brand, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_size""") { (s, d) =>
    Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
      .join(broadcast(Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0).select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#1"
            && col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
          .select("p_partkey", "p_brand", "p_size")),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** TPC-H Q11 shape (important stock): per-part value vs a global
    * threshold scalar — here 1.3× the mean per-part value, which keeps
    * the predicate scale-invariant (TPC-H's own FRACTION·total is SF-
    * dependent by design; a fixed fraction empties at 10× the parts).
    * One aggregate computes per-part decimal sums; a second one-row
    * aggregate over THAT result is broadcast back as the threshold —
    * the base aggregate is computed once per branch by Spark (the
    * recompute is 2 passes over the grouped result, not a window
    * materialization; at cluster scale the grouped relation is
    * |parts| rows, far below the fact). */
  val topValueParts: QueryDef = QueryDef.sql(
    """WITH pv AS (SELECT l_partkey,
                     sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS v
                   FROM lineitem GROUP BY l_partkey),
            t AS (SELECT CAST(round(sum(v), 6) AS DOUBLE)
                    / count(*) * 1.3 AS thr FROM pv)
       SELECT l_partkey, CAST(round(v, 6) AS DOUBLE) AS part_value
       FROM pv CROSS JOIN t WHERE CAST(v AS DOUBLE) > thr
       ORDER BY part_value DESC, l_partkey""") { (s, d) =>
    val pv = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(30,10)")).as("v"))
    val thr = pv.agg((round(sum(col("v")), 6).cast("double")
      / count(lit(1)) * lit(1.3)).as("thr"))
    pv.crossJoin(broadcast(thr))
      .filter(col("v").cast("double") > col("thr"))
      .select(col("l_partkey"), round(col("v"), 6).cast("double")
        .as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** TPC-H Q2 shape (minimum-cost supplier): for each part, the
    * ASIA-region supplier(s) achieving the minimum observed unit price
    * — a correlated-min subquery planned as aggregate + self-join on
    * (partkey, min). Both sides of the equality are the same
    * double-division min computed from identical inputs, so the join
    * is exact. The supplier→nation→region decoration chain folds into
    * one broadcast mini-dim; the (partkey,suppkey) aggregate is the
    * only fact shuffle. */
  val minCostSupplier: QueryDef = QueryDef.sql(
    s"""WITH u AS (SELECT l_partkey, l_suppkey,
                    min(l_extendedprice / l_quantity) AS unit
                  FROM lineitem GROUP BY l_partkey, l_suppkey),
            m AS (SELECT l_partkey, min(unit) AS best FROM u
                  GROUP BY l_partkey)
       SELECT u.l_partkey, u.l_suppkey, s_name,
              ${r6sql("u.unit")} AS unit_price
       FROM u JOIN m ON u.l_partkey = m.l_partkey AND u.unit = m.best
       JOIN supplier ON s_suppkey = u.l_suppkey
       JOIN nation ON n_nationkey = s_nationkey
       JOIN region ON r_regionkey = n_regionkey
       WHERE r_name = 'ASIA'
       ORDER BY u.l_partkey, u.l_suppkey""") { (s, d) =>
    val u = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit"))
    val m = u.groupBy(col("l_partkey")).agg(min(col("unit")).as("best"))
      .withColumnRenamed("l_partkey", "m_partkey")
    val asiaSupp = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name")))
    u.join(m, col("l_partkey") === col("m_partkey")
        && col("unit") === col("best"))
      .join(asiaSupp, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("l_suppkey"), col("s_name"),
        r6(col("unit")).as("unit_price"))
      .orderBy(col("l_partkey"), col("l_suppkey"))
  }

  /** TPC-H Q8 shape (market share): the share of EUROPE-region
    * suppliers in the revenue of ASIA-region customers' orders, per
    * order year — the conditional-sum-ratio over the double-dimension
    * snowflake. Both dimension chains (customer→nation→region,
    * supplier→nation→region) fold to broadcast mini-dims built from
    * dims only; lineitem ⋈ orders is the one fact shuffle. Numerator
    * and denominator aggregate in decimal, round to portable doubles,
    * and only then divide — both engines divide bit-identical
    * float64s. */
  val marketShare: QueryDef = QueryDef.sql(
    s"""WITH base AS (
         SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(round(sum(CASE WHEN sr.r_name = 'EUROPE'
               THEN CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(30,10))
               ELSE CAST(0 AS DECIMAL(30,10)) END), 6)
             AS DOUBLE) AS europe_vol,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(30,10))), 6) AS DOUBLE) AS total_vol
         FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         JOIN nation cn ON cn.n_nationkey = c_nationkey
         JOIN region cr ON cr.r_regionkey = cn.n_regionkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation sn ON sn.n_nationkey = s_nationkey
         JOIN region sr ON sr.r_regionkey = sn.n_regionkey
         WHERE cr.r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1999-01-01'
         GROUP BY 1)
       SELECT o_year, europe_vol, total_vol,
         ${r6sql("europe_vol / total_vol")}
           AS mkt_share
       FROM base ORDER BY o_year""") { (s, d) =>
    val custAsia = broadcast(Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey")))
    val suppRegion = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_regionkey").as("sn_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)
          .select(col("r_regionkey"), col("r_name").as("supp_region"))),
        col("sn_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("supp_region")))
    val vol = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(30,10)")
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(custAsia, col("o_custkey") === col("c_custkey"))
      .join(suppRegion, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(round(sum(when(col("supp_region") === "EUROPE", vol)
            .otherwise(lit(0).cast("decimal(30,10)"))), 6).cast("double")
          .as("europe_vol"),
        round(sum(vol), 6).cast("double").as("total_vol"))
      .select(col("o_year"), col("europe_vol"), col("total_vol"),
        r6(col("europe_vol") / col("total_vol")).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9 shape (product-line margin by nation and year): a
    * part-name LIKE filter drives the fact reduction, margin =
    * revenue − retail cost of the shipped quantity. The LIKE prunes
    * the part dim BEFORE broadcast, so the fact join discards
    * non-matching lineitems in the broadcast probe; the double
    * arithmetic happens per-row (bit-identical across engines) and
    * sums in decimal. */
  val productMargin: QueryDef = QueryDef.sql(
    """SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             - p_retailprice * l_quantity AS DECIMAL(30,10))), 6)
           AS DOUBLE) AS margin,
         count(*) AS n_items
       FROM lineitem
       JOIN part ON p_partkey = l_partkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN nation ON n_nationkey = s_nationkey
       JOIN orders ON o_orderkey = l_orderkey
       WHERE p_name LIKE '%red%'
       GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
          .filter(col("p_name").like("%red%"))
          .select("p_partkey", "p_retailprice")),
        col("p_partkey") === col("l_partkey"))
      .join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_nationkey")),
        col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("n_nationkey") === col("s_nationkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("n_name"),
        year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          - col("p_retailprice") * col("l_quantity")).as("margin"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"), col("o_year"))
  }

  /** TPC-H Q20 shape (dominant suppliers of a product line): suppliers
    * shipping more than 2× the average per-supplier quantity of a
    * part — the nested correlated aggregate planned as two grouped
    * aggregates joined back on partkey. Quantities are integral
    * doubles, so the 2·tq/ns threshold is the same float64 on both
    * engines. (TPC-H's own "> 50% of total" empties here because parts
    * average ~30 suppliers at sf0.1; the per-average form keeps the
    * predicate scale-invariant.) */
  val dominantSuppliers: QueryDef = QueryDef.sql(
    """WITH pq AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq
                   FROM lineitem JOIN part ON p_partkey = l_partkey
                   WHERE p_name LIKE '%blue%'
                   GROUP BY l_partkey, l_suppkey),
            tot AS (SELECT l_partkey AS t_partkey, sum(sq) AS tq,
                      count(*) AS ns
                    FROM pq GROUP BY l_partkey)
       SELECT DISTINCT l_suppkey, s_name
       FROM pq JOIN tot ON l_partkey = t_partkey
       JOIN supplier ON s_suppkey = l_suppkey
       WHERE sq > 2.0 * tq / ns
       ORDER BY l_suppkey""") { (s, d) =>
    val pq = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
          .filter(col("p_name").like("%blue%")).select("p_partkey")),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("sq"))
    val tot = pq.groupBy(col("l_partkey").as("t_partkey"))
      .agg(sum(col("sq")).as("tq"), count(lit(1)).as("ns"))
    pq.join(tot, col("l_partkey") === col("t_partkey"))
      .filter(col("sq") > lit(2.0) * col("tq") / col("ns"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("l_suppkey"), col("s_name"))
      .distinct()
      .orderBy(col("l_suppkey"))
  }

  /** TPC-H Q21 shape (the supplier who kept the order waiting): in
    * completed multi-supplier orders, the line that shipped strictly
    * last — EXISTS (another supplier in the order) AND NOT EXISTS
    * (another supplier shipping later). Both correlated subqueries
    * become self-joins of lineitem on the orderkey — left-semi then
    * left-anti with the shipdate inequality as residual — so the
    * whole battery is two hash/sort-merge joins on the same key, and
    * AQE can reuse the exchange. */
  val waitingSupplier: QueryDef = QueryDef.sql(
    """SELECT s_name, count(*) AS numwait
       FROM lineitem l1
       JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
       JOIN supplier ON s_suppkey = l1.l_suppkey
       WHERE EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey
                           AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_shipdate > l1.l_shipdate)
       GROUP BY s_name ORDER BY numwait DESC, s_name""") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val l1 = li.select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val l2 = li.select(col("l_orderkey").as("lo2"), col("l_suppkey").as("ls2"))
    val l3 = li.select(col("l_orderkey").as("lo3"),
      col("l_suppkey").as("ls3"), col("l_shipdate").as("sd3"))
    l1.join(Tables.orders(s, d)
          .filter(col("o_orderstatus") === "F").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(l2, col("l_orderkey") === col("lo2")
        && col("l_suppkey") =!= col("ls2"), "left_semi")
      .join(l3, col("l_orderkey") === col("lo3")
        && col("l_suppkey") =!= col("ls3")
        && col("sd3") > col("l_shipdate"), "left_anti")
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q6 (forecast revenue change) — the pure scan-filter-agg
    * shape, verbatim on the fixture columns: every predicate
    * (shipdate window, discount band, quantity cap) reaches the
    * parquet scan as a PushedFilter, the projection prunes to three
    * columns, and the aggregate folds map-side to one row per
    * partition. The canonical "is pushdown actually working" probe:
    * at 100 TB this query reads only the row groups whose min/max
    * straddle the predicates. */
  val forecastRevenue: QueryDef = QueryDef.sql(
    """SELECT count(*) AS n_items,
         CAST(round(sum(CAST(l_extendedprice * l_discount
             AS DECIMAL(30,10))), 6) AS DOUBLE) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""") { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
  }

  /** TPC-H Q12 shape (shipping-delay priority audit): lines shipped
    * more than 60 days after their order date, bucketed by ship year
    * with conditional high/low-priority counts (the fixture carries
    * no l_shipmode — o_orderpriority classes keep the
    * CASE-partitioned dual count that defines the Q12 shape). One
    * orderkey shuffle joins the facts; the CASE folds map-side into
    * two integer partials per group. */
  val shippingDelayAudit: QueryDef = QueryDef.sql(
    """SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      .join(Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(year(col("l_shipdate")).cast("int").as("ship_year"))
      .agg(sum(when(high, 1).otherwise(0)).as("high_line_count"),
        sum(when(!high, 1).otherwise(0)).as("low_line_count"))
      .orderBy(col("ship_year"))
  }

  /** TPC-H Q16 shape: distinct supplier count per (brand, size
    * bucket) with both exclusion styles — a predicate exclusion on
    * the part side (one brand out) and a dimension exclusion on the
    * supplier side (negative-balance suppliers out, Q16's
    * "complaints" filter). The supplier link dedupes to DISTINCT
    * (suppkey, brand, bucket) BEFORE the count-distinct, so the fact
    * table's row multiplicity never reaches the aggregate. */
  val supplierPartCounts: QueryDef = QueryDef.sql(
    """WITH ok AS (SELECT s_suppkey FROM supplier
         WHERE s_acctbal >= 0),
       lp AS (SELECT DISTINCT l_suppkey, p_brand,
           least(p_size // 10, 4) AS szb
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand <> 'Brand#1'),
       g AS (SELECT lp.p_brand, CAST(lp.szb AS BIGINT) size_bucket,
           CAST(count(DISTINCT lp.l_suppkey) AS BIGINT) n_supp
         FROM lp JOIN ok ON ok.s_suppkey = lp.l_suppkey
         GROUP BY 1,2)
       SELECT * FROM g ORDER BY 1,2""") { (s, d) =>
    val ok = Tables.supplier(s, d).filter(col("s_acctbal") >= 0)
      .select(col("s_suppkey"))
    val lp = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#1")
        .select(col("p_partkey"), col("p_brand"),
          least(expr("p_size div 10"), lit(4L)).as("szb"))),
        col("p_partkey") === col("l_partkey"))
      .select(col("l_suppkey"), col("p_brand"), col("szb"))
      .distinct()
    lp.join(broadcast(ok), col("s_suppkey") === col("l_suppkey"),
        "left_semi")
      .groupBy(col("p_brand"), col("szb").cast("long")
        .as("size_bucket"))
      .agg(countDistinct(col("l_suppkey")).cast("long").as("n_supp"))
      .orderBy(col("p_brand"), col("size_bucket"))
  }

  /** ABC / Pareto classification of part types by revenue: exact
    * micro-long revenue per type, cumulative share over the
    * |types| residue (ordered rev DESC, type — total order), class
    * breaks at 80%/95% via exact cross-multiplication in
    * DECIMAL(20,0)·int → DECIMAL (no float ever decides a class,
    * and no BIGINT overflow either: tot·100 on micro-unit revenue
    * exceeds Long at ~$9.2e10 total — TPC-H sf~0.5 — where ANSI
    * Spark would throw; decimal keeps the compare exact at any
    * SF). */
  val abcClassification: QueryDef = QueryDef.sql(
    s"""WITH r AS (SELECT p_type,
           CAST(sum(${microsSql("l_extendedprice*(1-l_discount)")})
             AS BIGINT) rev
         FROM lineitem JOIN part ON p_partkey = l_partkey
         GROUP BY 1),
       t AS (SELECT CAST(sum(rev) AS BIGINT) tot FROM r),
       c AS (SELECT p_type, rev,
           CAST(sum(rev) OVER (ORDER BY rev DESC, p_type)
             AS BIGINT) crev FROM r)
       SELECT p_type, rev AS rev_micro,
         ${r6sql("CAST(crev AS DOUBLE)/tot")}
           AS cum_share,
         CASE WHEN CAST(crev AS DECIMAL(20,0))*100
                <= CAST(tot AS DECIMAL(20,0))*80 THEN 'A'
           WHEN CAST(crev AS DECIMAL(20,0))*100
                <= CAST(tot AS DECIMAL(20,0))*95 THEN 'B'
           ELSE 'C' END AS abc
       FROM c, t ORDER BY rev_micro DESC, p_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val r = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_type"))),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_type"))
      .agg(sum(micros(col("l_extendedprice")
        * (lit(1) - col("l_discount")))).cast("long").as("rev"))
    val t = r.agg(sum(col("rev")).cast("long").as("tot"))
    val w = Window.orderBy(col("rev").desc, col("p_type"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.withColumn("crev", sum(col("rev")).over(w).cast("long"))
      .crossJoin(broadcast(t))
      .select(col("p_type"), col("rev").as("rev_micro"),
        r6(col("crev").cast("double") / col("tot")).as("cum_share"),
        when(col("crev").cast("decimal(20,0)") * 100
            <= col("tot").cast("decimal(20,0)") * 80, "A")
          .when(col("crev").cast("decimal(20,0)") * 100
            <= col("tot").cast("decimal(20,0)") * 95, "B")
          .otherwise("C").as("abc"))
      .orderBy(col("rev_micro").desc, col("p_type"))
  }

  /** Discount-elasticity table: per discount percent bucket, the
    * exact mean quantity and revenue share — the pricing read on
    * whether discounts move volume. One fact aggregate, exact
    * micro-longs, two divides per bucket row. */
  val discountElasticity: QueryDef = QueryDef.sql(
    s"""WITH l AS (SELECT
           CAST(floor(l_discount*100+0.5) AS BIGINT) disc_pct,
           ${microsSql("l_quantity")} qm,
           ${microsSql("l_extendedprice*(1-l_discount)")} rm
         FROM lineitem),
       g AS (SELECT disc_pct, CAST(count(*) AS BIGINT) n,
           CAST(sum(qm) AS BIGINT) sq, CAST(sum(rm) AS BIGINT) sr
         FROM l GROUP BY 1),
       t AS (SELECT CAST(sum(sr) AS BIGINT) tot FROM g)
       SELECT disc_pct, n,
         ${r6sql("CAST(sq AS DOUBLE)/n/1000000.0")}
           AS avg_qty,
         ${r6sql("CAST(sr AS DOUBLE)/tot")}
           AS revenue_share
       FROM g, t ORDER BY 1""") { (s, d) =>
    val g = Tables.lineitem(s, d)
      .select(floor(col("l_discount") * 100 + lit(0.5)).cast("long")
          .as("disc_pct"),
        micros(col("l_quantity")).as("qm"),
        micros(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rm"))
      .groupBy(col("disc_pct"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("qm")).cast("long").as("sq"),
        sum(col("rm")).cast("long").as("sr"))
    val t = g.agg(sum(col("sr")).cast("long").as("tot"))
    g.crossJoin(broadcast(t))
      .select(col("disc_pct"), col("n"),
        r6(col("sq").cast("double") / col("n") / 1000000.0)
          .as("avg_qty"),
        r6(col("sr").cast("double") / col("tot"))
          .as("revenue_share"))
      .orderBy(col("disc_pct"))
  }

  /** Market-basket pairs over ORDER baskets at part-TYPE grain
    * (q219 mined event paths; this mines the relational basket):
    * co-ordered type pairs with support and lift. The distinct
    * (order, type) projection bounds the per-order explosion at
    * C(6,2); lift's divide is the only float, on exact counts. */
  val basketTypePairs: QueryDef = QueryDef.sql(
    s"""WITH ol AS (SELECT DISTINCT l_orderkey, p_type
           FROM lineitem JOIN part ON p_partkey=l_partkey),
       pr AS (SELECT a.p_type ta, b.p_type tb,
           CAST(count(*) AS BIGINT) sup
         FROM ol a JOIN ol b ON a.l_orderkey=b.l_orderkey
           AND a.p_type < b.p_type GROUP BY 1,2),
       n AS (SELECT p_type, CAST(count(*) AS BIGINT) c FROM ol
             GROUP BY 1),
       t AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) n_ord
             FROM ol)
       SELECT ta, tb, sup,
         ${r6sql(
           "CAST(sup AS DOUBLE)*n_ord/(na.c*nb.c)")} AS lift
       FROM pr JOIN n na ON na.p_type=ta JOIN n nb ON nb.p_type=tb,
         t
       WHERE sup >= 3 ORDER BY 1,2""") { (s, d) =>
    val ol = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_type"))),
        col("p_partkey") === col("l_partkey"))
      .select(col("l_orderkey"), col("p_type"))
      .distinct()
    val pr = ol.as("a")
      .join(ol.as("b"), col("a.l_orderkey") === col("b.l_orderkey")
        && col("a.p_type") < col("b.p_type"))
      .groupBy(col("a.p_type").as("ta"), col("b.p_type").as("tb"))
      .agg(count(lit(1)).cast("long").as("sup"))
      .filter(col("sup") >= 3)
    val n = ol.groupBy(col("p_type"))
      .agg(count(lit(1)).cast("long").as("c"))
    val t = ol.agg(countDistinct(col("l_orderkey")).cast("long")
      .as("n_ord"))
    pr.join(broadcast(n.select(col("p_type").as("pa"),
        col("c").as("ca"))), col("ta") === col("pa"))
      .join(broadcast(n.select(col("p_type").as("pb"),
        col("c").as("cb"))), col("tb") === col("pb"))
      .crossJoin(broadcast(t))
      .select(col("ta"), col("tb"), col("sup"),
        r6(col("sup").cast("double") * col("n_ord")
          / (col("ca") * col("cb"))).as("lift"))
      .orderBy(col("ta"), col("tb"))
  }

  /** Shipping-lag percentiles per order priority: exact interpolated
    * p50/p90 of (shipdate − orderdate) days — the SLO read per
    * service class. Day lags are exact integers; Spark's
    * `percentile` and DuckDB's `quantile_cont` share the same linear
    * interpolation (the q193 equivalence). */
  val shipLagPercentiles: QueryDef = QueryDef.sql(
    s"""WITH l AS (SELECT o_orderpriority pri,
           datediff('day', CAST(o_orderdate AS DATE),
             CAST(l_shipdate AS DATE)) lag_d
         FROM lineitem JOIN orders ON o_orderkey=l_orderkey),
       g AS (SELECT pri,
           ${r6sql("quantile_cont(lag_d, 0.5)")} p50,
           ${r6sql("quantile_cont(lag_d, 0.9)")} p90,
           CAST(count(*) AS BIGINT) n FROM l GROUP BY 1)
       SELECT pri AS priority, n, p50, p90 FROM g
       ORDER BY 1""") { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority").as("pri"),
        datediff(to_date(col("l_shipdate")),
          to_date(col("o_orderdate"))).as("lag_d"))
      .groupBy(col("pri").as("priority"))
      .agg(count(lit(1)).cast("long").as("n"),
        r6(percentile(col("lag_d"), lit(0.5))).as("p50"),
        r6(percentile(col("lag_d"), lit(0.9))).as("p90"))
      .select(col("priority"), col("n"), col("p50"), col("p90"))
      .orderBy(col("priority"))
  }

  /** Price-dispersion screen: top-10 parts by coefficient of
    * variation of the observed unit price (extendedprice/quantity)
    * — the pricing-consistency audit (a high-CV part is priced
    * erratically across orders). Unit prices quantize to micro-longs
    * (one identical IEEE divide per row on both engines), CV from
    * exact Σ/Σ² per part, the top-10 a rank over the |parts|
    * residue. */
  val priceDispersion: QueryDef = QueryDef.sql(
    s"""WITH u AS (SELECT l_partkey,
           ${microsSql("l_extendedprice/l_quantity")} up
         FROM lineitem),
       st AS (SELECT l_partkey, CAST(count(*) AS BIGINT) n,
           CAST(sum(up) AS BIGINT) s,
           CAST(sum(CAST(up AS DECIMAL(19,0))*CAST(up AS
             DECIMAL(19,0))) AS DOUBLE) suu
         FROM u GROUP BY 1 HAVING count(*) >= 5),
       cv AS (SELECT l_partkey, n,
           sqrt((suu - CAST(s AS DOUBLE)*s/n)/(n-1))
             / (CAST(s AS DOUBLE)/n) AS cv FROM st),
       r AS (SELECT *, row_number() OVER (ORDER BY cv DESC,
             l_partkey) rk FROM cv)
       SELECT l_partkey, n, ${r6sql("cv")}
         AS price_cv
       FROM r WHERE rk <= 10
       ORDER BY price_cv DESC, l_partkey""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val st = Tables.lineitem(s, d)
      .select(col("l_partkey"),
        micros(col("l_extendedprice") / col("l_quantity")).as("up"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("up")).cast("long").as("s"),
        sum(col("up").cast("decimal(19,0)")
          * col("up").cast("decimal(19,0)")).cast("double")
          .as("suu"))
      .filter(col("n") >= 5)
    val cv = sqrt((col("suu")
      - col("s").cast("double") * col("s") / col("n"))
      / (col("n") - 1)) / (col("s").cast("double") / col("n"))
    st.withColumn("cv", cv)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cv").desc, col("l_partkey"))))
      .filter(col("rk") <= 10)
      .select(col("l_partkey"), col("n"),
        r6(col("cv")).as("price_cv"))
      .orderBy(col("price_cv").desc, col("l_partkey"))
  }

  /** Part reorder rate per market segment (the Instacart-style
    * repeat-purchase read): a (customer, part) line is a REORDER if
    * it appears in any order after that pair's first order. One
    * distinct projection, one (cust, part) min-aggregate, one keyed
    * join back — never a timeline self-join. "First" is defined by
    * the minimal orderkey (unique, total), so the flag is exact
    * integer arithmetic end to end. */
  val reorderRate: QueryDef = QueryDef.sql(
    s"""WITH op AS (SELECT DISTINCT c_mktsegment, o_custkey, l_partkey,
           o_orderkey
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey
              JOIN customer ON c_custkey = o_custkey),
       f AS (SELECT o_custkey, l_partkey,
               CAST(min(o_orderkey) AS BIGINT) fk
             FROM op GROUP BY 1, 2),
       j AS (SELECT c_mktsegment,
               CASE WHEN o_orderkey > fk THEN 1 ELSE 0 END re
             FROM op JOIN f ON f.o_custkey = op.o_custkey
                  AND f.l_partkey = op.l_partkey)
       SELECT c_mktsegment, CAST(count(*) AS BIGINT) n_pairs,
         CAST(sum(re) AS BIGINT) n_reorders,
         ${r6sql("CAST(sum(re) AS DOUBLE)/count(*)")}
           AS reorder_rate
       FROM j GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val op = Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment"), col("o_custkey"), col("l_partkey"),
        col("o_orderkey"))
      .distinct()
    // first-order-per-(customer,part) as a window MIN over the same
    // partition instead of a groupBy + join-back (r15): one shuffle
    // of op replaces two shuffles + a join, and op is consumed once
    // (the old shape planned the 3-table distinct twice). Counts are
    // integer — no float-order hazard.
    val wcp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"), col("l_partkey"))
    op.select(col("c_mktsegment"),
        when(col("o_orderkey") >
            min(col("o_orderkey")).over(wcp).cast("long"), 1L)
          .otherwise(0L).as("re"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(col("re")).cast("long").as("n_reorders"),
        r6(sum(col("re")).cast("double") / count(lit(1)))
          .as("reorder_rate"))
      .orderBy(col("c_mktsegment"))
  }

  /** Supplier switch rate: among repeat purchases of the same part
    * by the same customer (ordered by orderkey), how often does the
    * supplier change — the procurement-loyalty read. The lag runs in
    * (customer, part)-keyed partitions (bounded per-order fanout —
    * never a timeline self-join); tie order within an orderkey is
    * completed by suppkey so the flag is deterministic when one
    * order sources the same part from two suppliers. */
  val supplierSwitches: QueryDef = QueryDef.sql(
    s"""WITH op AS (SELECT DISTINCT o_custkey, l_partkey, o_orderkey,
           l_suppkey
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       lg AS (SELECT l_suppkey, lag(l_suppkey) OVER
               (PARTITION BY o_custkey, l_partkey
                ORDER BY o_orderkey, l_suppkey) ps
             FROM op)
       SELECT CAST(count(*) AS BIGINT) n_repeats,
         CAST(sum(CASE WHEN l_suppkey <> ps THEN 1 ELSE 0 END)
           AS BIGINT) n_switches,
         ${r6sql("""CAST(sum(CASE WHEN l_suppkey <> ps THEN 1 ELSE 0 END)
           AS DOUBLE)/count(*)""")} AS switch_rate
       FROM lg WHERE ps IS NOT NULL""") { (s, d) =>
    val op = Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey"), col("o_orderkey"),
        col("l_suppkey"))
      .distinct()
    val w = Window.partitionBy(col("o_custkey"), col("l_partkey"))
      .orderBy(col("o_orderkey"), col("l_suppkey"))
    op.select(col("l_suppkey"),
        lag(col("l_suppkey"), 1).over(w).as("ps"))
      .filter(col("ps").isNotNull)
      .agg(count(lit(1)).cast("long").as("n_repeats"),
        sum(when(col("l_suppkey") =!= col("ps"), 1L).otherwise(0L))
          .cast("long").as("n_switches"),
        r6(sum(when(col("l_suppkey") =!= col("ps"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("switch_rate"))
  }

  /** Week-over-week revenue growth per market segment: weekly
    * micro-exact revenue, one segment-keyed lag window (|segments|
    * bounded partitions of ~400 weeks each — never a global sort),
    * percent change as a single IEEE divide per emitted row. */
  val wowRevenueChange: QueryDef = QueryDef.sql(
    s"""WITH w AS (SELECT c_mktsegment,
           datediff('day', DATE '1970-01-01',
             CAST(o_orderdate AS DATE)) // 7 AS wk,
           CAST(sum(${microsSql("o_totalprice")})
             AS BIGINT) rev
         FROM orders JOIN customer ON c_custkey = o_custkey
         GROUP BY 1, 2),
       l AS (SELECT c_mktsegment, wk, rev,
               lag(rev) OVER (PARTITION BY c_mktsegment ORDER BY wk)
                 pr FROM w)
       SELECT c_mktsegment, CAST(wk AS BIGINT) wk, rev,
         ${r6sql("(CAST(rev AS DOUBLE)-pr)/pr")}
           AS wow_pct
       FROM l WHERE pr IS NOT NULL ORDER BY 1, 2""") { (s, d) =>
    val wk = (datediff(col("o_orderdate").cast("date"),
      to_date(lit("1970-01-01"))).cast("long") / 7).cast("long")
    val w = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"), wk.as("wk"))
      .agg(sum(micros(col("o_totalprice"))).cast("long").as("rev"))
    val win = Window.partitionBy(col("c_mktsegment")).orderBy(col("wk"))
    w.withColumn("pr", lag(col("rev"), 1).over(win))
      .filter(col("pr").isNotNull)
      .select(col("c_mktsegment"), col("wk"), col("rev"),
        r6((col("rev").cast("double") - col("pr")) / col("pr"))
          .as("wow_pct"))
      .orderBy(col("c_mktsegment"), col("wk"))
  }

  /** Maximum drawdown of weekly revenue per market segment — the
    * risk read on a revenue series (largest drop from a running
    * peak), plus the first week attaining it. Running peak is a
    * segment-keyed prefix-max window (|segments| bounded
    * partitions); everything is exact micro-longs — no float ever
    * ranks a drawdown. */
  val maxDrawdown: QueryDef = QueryDef.sql(
    s"""WITH w AS (SELECT c_mktsegment,
           datediff('day', DATE '1970-01-01',
             CAST(o_orderdate AS DATE)) // 7 AS wk,
           CAST(sum(${microsSql("o_totalprice")})
             AS BIGINT) rev
         FROM orders JOIN customer ON c_custkey = o_custkey
         GROUP BY 1, 2),
       dd AS (SELECT c_mktsegment, wk,
               CAST(max(rev) OVER (PARTITION BY c_mktsegment
                 ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW) - rev AS BIGINT) draw
             FROM w),
       mx AS (SELECT c_mktsegment, CAST(max(draw) AS BIGINT) md
              FROM dd GROUP BY 1)
       SELECT dd.c_mktsegment, md AS max_drawdown_micro,
         CAST(min(wk) AS BIGINT) AS trough_wk
       FROM dd JOIN mx ON mx.c_mktsegment = dd.c_mktsegment
         AND dd.draw = mx.md
       GROUP BY 1, 2 ORDER BY 1""") { (s, d) =>
    val wkCol = (datediff(col("o_orderdate").cast("date"),
      to_date(lit("1970-01-01"))).cast("long") / 7).cast("long")
    val w = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"), wkCol.as("wk"))
      .agg(sum(micros(col("o_totalprice"))).cast("long").as("rev"))
    val win = Window.partitionBy(col("c_mktsegment")).orderBy(col("wk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = w.select(col("c_mktsegment"), col("wk"),
      (max(col("rev")).over(win) - col("rev")).cast("long").as("draw"))
    val mx = dd.groupBy(col("c_mktsegment").as("ms"))
      .agg(max(col("draw")).cast("long").as("md"))
    dd.join(mx, col("ms") === col("c_mktsegment")
        && col("draw") === col("md"))
      .groupBy(col("c_mktsegment"), col("md").as("max_drawdown_micro"))
      .agg(min(col("wk")).cast("long").as("trough_wk"))
      .orderBy(col("c_mktsegment"))
  }

  /** Discrete hazard table over inter-order gaps — the survival-
    * analysis read on repurchase behavior (what fraction of
    * still-at-risk customers reorder in month m of silence). Gaps
    * come from a customer-keyed lag; the fact reduces to ≤13 month
    * buckets in one aggregate, and the reverse-cumulative at-risk
    * count runs over that bounded residue (a window over 13 rows,
    * not the fact). Hazard = events/at_risk is the only divide; the
    * cumulative-product survival curve is deliberately NOT emitted —
    * an ordered float product is fold-order-fragile cross-engine,
    * while the hazard table carries the same information exactly. */
  val hazardTable: QueryDef = QueryDef.sql(
    s"""WITH o AS (SELECT DISTINCT o_custkey,
           datediff('day', DATE '1970-01-01',
             CAST(o_orderdate AS DATE)) d FROM orders),
       g AS (SELECT d - lag(d) OVER (PARTITION BY o_custkey
               ORDER BY d) gap FROM o),
       gg AS (SELECT least(gap // 30, 12) AS gap_m FROM g
              WHERE gap IS NOT NULL),
       c AS (SELECT gap_m, CAST(count(*) AS BIGINT) ev FROM gg
             GROUP BY 1),
       r0 AS (SELECT gap_m, ev,
                CAST(sum(ev) OVER (ORDER BY gap_m DESC) AS BIGINT)
                  at_risk FROM c)
       SELECT CAST(gap_m AS BIGINT) gap_month, ev AS n_events,
         at_risk,
         ${r6sql("CAST(ev AS DOUBLE)/at_risk")}
           AS hazard
       FROM r0 ORDER BY 1""") { (s, d) =>
    val o = Tables.orders(s, d)
      .select(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"),
          to_date(lit("1970-01-01"))).cast("long").as("d"))
      .distinct()
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
    val c = o.select((col("d") - lag(col("d"), 1).over(w)).as("gap"))
      .filter(col("gap").isNotNull)
      .select(least(expr("gap div 30"), lit(12L)).cast("long")
        .as("gap_m"))
      .groupBy(col("gap_m")).agg(count(lit(1)).cast("long").as("ev"))
    val wr = Window.orderBy(col("gap_m").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c.select(col("gap_m").as("gap_month"), col("ev").as("n_events"),
        sum(col("ev")).over(wr).cast("long").as("at_risk"))
      .select(col("gap_month"), col("n_events"), col("at_risk"),
        r6(col("n_events").cast("double") / col("at_risk"))
          .as("hazard"))
      .orderBy(col("gap_month"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q330_reorder_rate" -> reorderRate,
    "q335_supplier_switches" -> supplierSwitches,
    "q337_wow_revenue_change" -> wowRevenueChange,
    "q338_max_drawdown" -> maxDrawdown,
    "q342_hazard_table" -> hazardTable,
    "q324_price_dispersion" -> priceDispersion,
    "q277_supplier_part_counts" -> supplierPartCounts,
    "q278_abc_classification" -> abcClassification,
    "q279_discount_elasticity" -> discountElasticity,
    "q280_basket_type_pairs" -> basketTypePairs,
    "q281_ship_lag_percentiles" -> shipLagPercentiles,
    "q160_late_ship_priority" -> lateShipPriority,
    "q161_order_count_distribution" -> orderCountDistribution,
    "q162_disjunctive_part_revenue" -> disjunctivePartRevenue,
    "q163_dormant_premium_customers" -> dormantPremiumCustomers,
    "q164_supplier_breadth" -> supplierBreadth,
    "q165_top_value_parts" -> topValueParts,
    "q166_min_cost_supplier" -> minCostSupplier,
    "q167_market_share" -> marketShare,
    "q168_product_margin" -> productMargin,
    "q169_dominant_suppliers" -> dominantSuppliers,
    "q170_waiting_supplier" -> waitingSupplier,
    "q175_forecast_revenue" -> forecastRevenue,
    "q176_shipping_delay_audit" -> shippingDelayAudit)
}
