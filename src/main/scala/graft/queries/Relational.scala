package graft.queries

import graft.{QueryDef, Tables}
import graft.Rounding.{r6, r6sql}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extension tier 1: the relational operator families the reference
  * lacks entirely (SURVEY.md §2.7 — joins, windows, set ops,
  * distinct, top-k, grouping sets, pivot, JSON extraction, range
  * join) but a complete engine needs. All built-in Catalyst
  * operators — no custom rules required.
  *
  * Scale stance per operator:
  *  - star join: dims are `broadcast()` (no shuffle of the fact
  *    side); the single big-big join (lineitem ⋈ orders) shuffles
  *    both sides on the join key once, and AQE handles skew.
  *  - top-k: `orderBy(...).limit(k)` plans TakeOrderedAndProject —
  *    per-partition heaps + single driver merge, never a global sort.
  *  - window top-k per group: one shuffle on the partition key.
  *  - range join: equi-key (user_id) sort-merge join with the range
  *    as a residual predicate, so no cross product.
  */
object Relational {

  /** Star-schema join: revenue by (region, nation) over
    * lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region. The revenue
    * sum runs in DECIMAL: per-group magnitudes reach ~1.2e9 at
    * sf0.1, where double ulp (~2.4e-7) times summation-order noise
    * already exceeds the 1e-6 rounding grain — decimal addition is
    * exact and order-independent, so both engines agree; rounding a
    * positive decimal is HALF_UP on both. */
  val starJoinRevenue: QueryDef = QueryDef.sql(
    """SELECT r_name, n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,10))), 6) AS DOUBLE) AS revenue,
       count(*) AS n_items
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,10)")), 6).cast("double")
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Ranking window: top-3 orders per customer by price (ties broken
    * by key so row_number is deterministic). */
  val windowTopk: QueryDef = QueryDef.sql(
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders)
       WHERE rn <= 3 ORDER BY o_custkey, rn""") { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Analytic window: per-customer running total + lag delta over
    * order history. Sequential ROWS frame → deterministic doubles. */
  val windowRunning: QueryDef = QueryDef.sql(
    s"""SELECT o_custkey, o_orderkey, o_orderdate,
       ${r6sql("""sum(o_totalprice) OVER (PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")}
         AS running_total,
       ${r6sql("""o_totalprice - lag(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")}
         AS delta_prev
       FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""") { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        r6(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .as("running_total"),
        r6(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w))
          .as("delta_prev"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** Set op: INTERSECT (customers with both F- and O-status orders). */
  val setIntersect: QueryDef = QueryDef.sql(
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
       ORDER BY o_custkey""") { (s, d) =>
    val o = Tables.orders(s, d)
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
      .orderBy(col("o_custkey"))
  }

  /** Set ops: EXCEPT + UNION ALL (symmetric difference, tagged). */
  val setExceptUnion: QueryDef = QueryDef.sql(
    """SELECT o_custkey, 'only_F' AS side FROM
         (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          EXCEPT
          SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
       UNION ALL
       SELECT o_custkey, 'only_O' AS side FROM
         (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
          EXCEPT
          SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
       ORDER BY side, o_custkey""") { (s, d) =>
    val o = Tables.orders(s, d)
    val f = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    val oo = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    f.except(oo).withColumn("side", lit("only_F"))
      .unionByName(oo.except(f).withColumn("side", lit("only_O")))
      .orderBy(col("side"), col("o_custkey"))
  }

  /** DISTINCT projection. */
  val distinctPairs: QueryDef = QueryDef.sql(
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
       ORDER BY 1, 2""") { (s, d) =>
    Tables.customer(s, d).select("c_mktsegment", "c_nationkey")
      .distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  /** Global top-k: plans as TakeOrderedAndProject (per-partition
    * heaps, no global sort) — the shape that survives 100 TB. */
  val globalTopk: QueryDef = QueryDef.sql(
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""") { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** ROLLUP grouping sets (subtotal rows COALESCEd to 'ALL' so both
    * engines agree without NULL-ordering concerns). */
  val rollupAgg: QueryDef = QueryDef.sql(
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
       COALESCE(l_linestatus, 'ALL') AS ls,
       ${r6sql("sum(l_quantity)")} AS sum_qty, count(*) AS n_rows
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       ORDER BY 1, 2""") { (s, d) =>
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(r6(sum(col("l_quantity"))).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("rf"), col("ls"))
  }

  /** CUBE grouping sets. */
  val cubeAgg: QueryDef = QueryDef.sql(
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
       COALESCE(l_linestatus, 'ALL') AS ls,
       ${r6sql("avg(l_extendedprice)")} AS avg_price, count(*) AS n_rows
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
       ORDER BY 1, 2""") { (s, d) =>
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(r6(avg(col("l_extendedprice"))).as("avg_price"),
        count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("avg_price"), col("n_rows"))
      .orderBy(col("rf"), col("ls"))
  }

  /** Explicit GROUPING SETS (the general form rollup/cube
    * specialize): exactly the three requested aggregation levels in
    * one pass — Spark expands the sets into a single Expand+Aggregate
    * (one scan, one shuffle, not one job per set) — with the
    * grouping-flag vector disambiguating real NULLs from subtotal
    * rows (built per-column; DuckDB spells it GROUPING(col)). */
  val groupingSets: QueryDef = QueryDef.sql(
    s"""SELECT COALESCE(o_orderpriority, 'ALL') AS pri,
       COALESCE(o_orderstatus, 'ALL') AS status,
       CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
         AS BIGINT) AS gid,
       ${r6sql("sum(o_totalprice)")} AS sum_price,
       count(*) AS n_rows
       FROM orders
       GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                               (o_orderpriority), (o_orderstatus))
       ORDER BY 1, 2, 3""") { (s, d) =>
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(r6(sum(col("o_totalprice"))).as("sum_price"),
        count(lit(1)).as("n_rows"),
        // grouping() only resolves inside the grouping-sets Aggregate
        (grouping(col("o_orderpriority")).cast("long") * 2 +
          grouping(col("o_orderstatus")).cast("long")).as("gid"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("gid"), col("sum_price"), col("n_rows"))
      .orderBy(col("pri"), col("status"), col("gid"))
  }

  /** PIVOT: event counts per user, one column per event type.
    * Spark pivot with an explicit value list (no extra distinct job,
    * deterministic column order); nulls → 0 to match FILTER counts. */
  val pivotEvents: QueryDef = QueryDef.sql(
    """SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'error') AS n_error,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       count(*) FILTER (WHERE event_type = 'view') AS n_view
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(p) { (df, t) =>
      df.withColumn(s"n_$t", coalesce(col(s"`$t`"), lit(0L))).drop(t)
    }.orderBy(col("user_id"))
  }

  /** JSON extraction from the events.props string column. */
  val jsonExtract: QueryDef = QueryDef.sql(
    s"""SELECT CAST(props->>'$$.k' AS INTEGER) AS k_value,
       count(*) AS n, ${r6sql("avg(value)")} AS avg_value
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.events(s, d)
      .withColumn("k_value",
        get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("k_value"))
      .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("avg_value"))
      .orderBy(col("k_value"))
  }

  /** Left-semi join (EXISTS): customers that have orders, by segment. */
  val semiJoin: QueryDef = QueryDef.sql(
    """SELECT c_mktsegment, count(*) AS n_customers FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Left-anti join (NOT EXISTS): customers with no F-status order
    * (plain "no orders at all" is empty at every SF — every customer
    * has orders — which would make the check vacuous). */
  val antiJoin: QueryDef = QueryDef.sql(
    """SELECT c_mktsegment, count(*) AS n_customers FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderstatus = 'F')
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Range join: pairs of events by the same user within 60s,
    * ordered (a before-or-at b, key tie-break). Equi-key on user_id
    * keeps it a sort-merge join with a residual range predicate —
    * no cross product at scale. Timestamp math in integral epoch
    * micros on both engines (no interval-dialect drift). */
  val rangeJoinSessions: QueryDef = QueryDef.sql(
    """SELECT a.user_id, count(*) AS n_pairs
       FROM events a JOIN events b
         ON a.user_id = b.user_id
        AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 0 AND 60000000
        AND a.event_id < b.event_id
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val e = Tables.events(s, d)
    val a = e.select(col("user_id"), col("event_id").as("a_id"),
      unix_micros(col("ts")).as("a_us"))
    val b = e.select(col("user_id").as("b_user"), col("event_id").as("b_id"),
      unix_micros(col("ts")).as("b_us"))
    a.join(b, col("user_id") === col("b_user")
        && (col("b_us") - col("a_us")).between(0L, 60000000L)
        && col("a_id") < col("b_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  /** Correlated scalar subquery, authored through the engine's SQL
    * surface: orders costing more than 2× their customer's average.
    * Catalyst decorrelates the per-row subquery into an aggregate +
    * join (RewriteCorrelatedScalarSubquery) — the plan has ONE
    * aggregation over orders and one join, not a subquery per row;
    * DuckDB runs the same text over its `orders` view. */
  val correlatedSubquery: QueryDef = {
    def sql(orders: String) =
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         FROM $orders o
         WHERE o_totalprice > (SELECT 2 * avg(o2.o_totalprice)
                               FROM $orders o2
                               WHERE o2.o_custkey = o.o_custkey)
         ORDER BY o_orderkey"""
    QueryDef.sql(sql("orders")) { (s, d) =>
      QueryDef.sqlOver(s, Tables.orders(s, d), "graft_q42_orders")(sql)
    }
  }

  /** HLL sketch: approximate distinct users per event type
    * (approx_count_distinct — Spark's HyperLogLog++). The raw
    * estimate is engine-specific, so the DRIVER-CHECKED output is the
    * containment form (VERDICT r3 residual #3): the exact distinct
    * count rides the same aggregate as a side channel and `ok`
    * asserts |HLL − exact| ≤ 5%·exact IN-PLAN — the oracle emits the
    * expected TRUE, so a drifting sketch hash-mismatches. rsd=0.01
    * makes the 5% gate a ≥5σ margin (deterministic per dataset — HLL
    * has no runtime randomness, only data-dependent bias). SketchSpec
    * keeps the numeric gates.
    *
    * The exact side rides a TWO-LEVEL aggregate, not
    * `count_distinct` beside the sketch: mixing a distinct aggregate
    * with non-distinct ones plans an Expand that doubles every input
    * row before the shuffle (measured 2.5 s at sf0.1); pre-grouping
    * by (type, user) partial-combines map-side, the second agg counts
    * groups (= exact distinct), sums them back to n_events, and the
    * HLL sees each distinct key once — an identical-estimate input
    * stream. */
  val approxDistinct: QueryDef = QueryDef.sql(
    """SELECT event_type, count(*) AS n_events, TRUE AS ok
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("__exact"),
        approx_count_distinct(col("user_id"), 0.01).as("__approx"),
        sum(col("__n")).as("n_events"))
      .select(col("event_type"), col("n_events"),
        (abs(col("__approx") - col("__exact"))
          <= lit(0.05) * col("__exact")).as("ok"))
      .orderBy(col("event_type"))
  }

  /** Quantile sketch: approx p50/p90/p99 of event value per type
    * via approx_percentile (Greenwald-Khanna ε-summary — mergeable
    * partial sketches, the one-pass distributed shape; an exact
    * percentile needs a full sort or q03's two-pass trick).
    *
    * DRIVER-CHECKED via containment (VERDICT r3 #7): the raw
    * estimate is accuracy-parameter-specific, but the GK GUARANTEE
    * is portable — the returned value's rank must land within
    * ±εn of ⌈p·n⌉ (ε = 1/accuracy). A second pass counts each
    * estimate's exact rank interval [lt+1, le] in-plan, and `ok`
    * asserts it intersects the guarantee window (slack 2εn+1: εn for
    * the bound itself, once more for merge-compression headroom —
    * still a ±0.02% rank window, vastly tighter than SketchSpec's
    * 5% value gate, which remains). The oracle emits the expected
    * TRUE per (event_type, p) row, so a sketch that ever leaves its
    * window hash-mismatches in the driver compare. */
  val approxQuantiles: QueryDef = QueryDef.sql(
    """SELECT event_type, p, TRUE AS ok
       FROM (SELECT DISTINCT event_type FROM events)
       CROSS JOIN (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE,
                                  0.99::DOUBLE]) AS p)
       ORDER BY 1, 2""") { (s, d) =>
    val ps = array(lit(0.5), lit(0.9), lit(0.99))
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val est = ev.groupBy(col("event_type"))
      .agg(approx_percentile(col("value"), ps, lit(10000)).as("q"))
      .select(col("event_type"), posexplode(col("q")).as(Seq("i", "est")))
      .select(col("event_type"), element_at(ps, col("i") + 1).as("p"),
        col("est"))
    ev.join(broadcast(est), "event_type")
      .groupBy(col("event_type"), col("p"), col("est"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("est"), 1L).otherwise(0L)).as("lt"),
        sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("le"))
      .select(col("event_type"), col("p"),
        ((col("lt") + 1 <= ceil(col("p") * col("n"))
            + col("n") / 10000.0 * 2 + 1) &&
         (col("le") >= ceil(col("p") * col("n"))
            - col("n") / 10000.0 * 2 - 1)).as("ok"))
      .orderBy(col("event_type"), col("p"))
  }

  /** Backward as-of join over events: for each even-id event, the
    * latest odd-id event at or before it for the same user (rights
    * deduped to one per (user, ts) by max event_id so tie semantics
    * are engine-independent). Oracle is DuckDB's native ASOF JOIN —
    * our union-merge must reproduce it row-for-row. */
  val asofJoin: QueryDef = QueryDef.sql(
    s"""WITH l AS (SELECT user_id, event_id AS l_id, epoch_us(ts) AS l_us
                  FROM events WHERE event_id % 2 = 0),
       r AS (SELECT user_id, epoch_us(ts) AS r_us,
               arg_max(event_id, event_id) AS r_id,
               ${r6sql("arg_max(value, event_id)")} AS r_value
             FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2)
       SELECT l.user_id, l.l_id, r.r_id, r.r_value
       FROM l ASOF LEFT JOIN r
         ON l.user_id = r.user_id AND r.r_us <= l.l_us
       ORDER BY 1, 2""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("value"))
    val lefts = ev.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("event_id").as("l_id"),
        col("us").as("l_us"))
    val rights = ev.filter(col("event_id") % 2 === 1)
      .groupBy(col("user_id"), col("us").as("r_us"))
      .agg(max_by(col("event_id"), col("event_id")).as("r_id"),
        r6(max_by(col("value"), col("event_id"))).as("r_value"))
    graft.ops.AsOf.asofJoin(lefts, rights, "user_id", "l_us", "r_us",
      Seq("r_id", "r_value"))
      .select(col("user_id"), col("l_id"), col("r_id"), col("r_value"))
      .orderBy(col("user_id"), col("l_id"))
  }

  /** Bloom-pruned semi-join (graft.ops.BloomJoin — the explicit form
    * of Spark's injected runtime filter): events of users who ever
    * purchased, with the fact side pre-filtered map-side through the
    * purchase-users bloom BEFORE its shuffle. The bloom admits false
    * positives only, the exact join removes them → result == plain
    * join, hash-checked against DuckDB's plain join. */
  val bloomJoin: QueryDef = QueryDef.sql(
    """WITH u AS (SELECT DISTINCT user_id FROM events
                  WHERE event_type = 'purchase')
       SELECT e.event_id, e.user_id, e.event_type
       FROM events e JOIN u ON e.user_id = u.user_id
       ORDER BY e.event_id""") { (s, d) =>
    val ev = Tables.events(s, d)
    val buyers = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buyer_id")).distinct()
    graft.ops.BloomJoin.bloomPrunedJoin(
        ev.select(col("event_id"), col("user_id"), col("event_type")),
        buyers, "user_id", "buyer_id",
        estItems = 100000L, numBits = 1L << 20)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  /** Salted skew-safe join (graft.ops.Skew.saltedJoin): per-event
    * lookup of the user's purchase count through a (key, salt)
    * shuffle — a hot user spreads over 16 reducers instead of
    * stalling one. Exact: each fact row meets exactly one replica →
    * hash-equal to the plain join the oracle runs. */
  val saltedJoinQ: QueryDef = QueryDef.sql(
    """WITH pc AS (SELECT user_id, count(*) AS n_purchases
                   FROM events WHERE event_type = 'purchase'
                   GROUP BY user_id)
       SELECT e.event_id, e.user_id, pc.n_purchases
       FROM events e JOIN pc ON e.user_id = pc.user_id
       ORDER BY e.event_id""") { (s, d) =>
    val ev = Tables.events(s, d)
    val counts = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("pc_user"))
      .agg(count(lit(1)).as("n_purchases"))
    graft.ops.Skew.saltedJoin(
        ev.select(col("event_id"), col("user_id")), counts,
        "user_id", "pc_user", rowIdCol = "event_id", salts = 16)
      .select(col("event_id"), col("user_id"), col("n_purchases"))
      .orderBy(col("event_id"))
  }

  /** Window-function breadth over one deterministic per-user
    * ordering (us, event_id — unique, so every rank-family function
    * is tie-free and engine-portable): lag/lead navigation, ntile
    * quartiles, percent_rank and cume_dist (both exact rational
    * arithmetic on identical inputs). One shuffle on user_id, all
    * five functions share the single sort. */
  val windowBreadth: QueryDef = QueryDef.sql(
    s"""SELECT user_id, event_id,
       lag(event_id) OVER w AS prev_id,
       lead(event_id) OVER w AS next_id,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       ${r6sql("percent_rank() OVER w")} AS pct_rank,
       ${r6sql("cume_dist() OVER w")} AS cdist
       FROM (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
       WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       ORDER BY user_id, event_id""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .select(col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_id"),
        lead(col("event_id"), 1).over(w).as("next_id"),
        ntile(4).over(w).as("quartile"),
        r6(percent_rank().over(w)).as("pct_rank"),
        r6(cume_dist().over(w)).as("cdist"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** TPC-H Q3 shape (shipping priority): unshipped-revenue top-10 —
    * the canonical selective fact/fact/dim join. Plan properties the
    * engine promises at 100 TB: both date filters and the segment
    * filter push to the parquet scans (only matching row groups
    * read), customer broadcasts, lineitem⋈orders shuffles on the
    * join key once, and the top-10 rides TakeOrderedAndProject
    * (per-partition heaps — revenue is an EXACT decimal sum, so the
    * ordering is deterministic and the limit engine-portable). */
  val shippingPriority: QueryDef = QueryDef.sql(
    """SELECT l_orderkey,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,10))), 6) AS DOUBLE) AS revenue,
         o_orderdate, o_orderpriority
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-01-01'
         AND l_shipdate > TIMESTAMP '1998-01-01'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, l_orderkey LIMIT 10""") { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,10)")), 6).cast("double").as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q1 shape (pricing summary report): the canonical
    * full-scan aggregate — one pass over the fact table, a 4-group
    * rollup of exact sums and means. The plan IS the 100 TB design:
    * the shipdate predicate pushes to the parquet scan, ReadSchema
    * carries only the 7 touched columns, partial aggregation
    * combines map-side so the shuffle moves |groups|×|partitions|
    * rows (≈ 4×32), and everything below the final sort is one
    * WholeStageCodegen span. Sums run in DECIMAL (exact,
    * order-independent — double sums of 1e7-magnitude prices differ
    * between engines by summation order); means divide the rounded
    * double sums by the group count, identical float64 inputs on
    * both engines, then round at the 1e-6 comparison grain. */
  val pricingSummary: QueryDef = QueryDef.sql(
    s"""WITH a AS (SELECT l_returnflag, l_linestatus,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 6)
           AS DOUBLE) AS sum_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 6)
           AS DOUBLE) AS sum_base_price,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
           AS DECIMAL(30,10))), 6) AS DOUBLE) AS sum_disc_price,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             * (1 + l_tax) AS DECIMAL(30,10))), 6)
           AS DOUBLE) AS sum_charge,
         CAST(round(sum(CAST(l_discount AS DECIMAL(30,10))), 6)
           AS DOUBLE) AS sum_disc,
         count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus)
       SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
         sum_disc_price, sum_charge,
         ${r6sql("sum_qty / count_order")}
           AS avg_qty,
         ${r6sql("sum_base_price / count_order")}
           AS avg_price,
         ${r6sql("sum_disc / count_order")}
           AS avg_disc,
         count_order
       FROM a ORDER BY l_returnflag, l_linestatus""") { (s, d) =>
    def dsum(c: Column): Column =
      round(sum(c.cast("decimal(30,10)")), 6).cast("double")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("sum_charge"),
        dsum(col("l_discount")).as("sum_disc"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
        r6(col("sum_qty") / col("count_order")).as("avg_qty"),
        r6(col("sum_base_price") / col("count_order")).as("avg_price"),
        r6(col("sum_disc") / col("count_order")).as("avg_disc"),
        col("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q5 shape (local supplier volume): revenue by nation where
    * the supplier and the customer share the nation — the 6-way
    * snowflake with an extra equi-constraint. Dims broadcast
    * (supplier/customer/nation/region are orders-of-magnitude
    * smaller than the facts at any scale), the one fact-fact join
    * shuffles on orderkey, the s_nationkey = c_nationkey constraint
    * evaluates inside the broadcast join — no extra shuffle. Exact
    * decimal revenue for portable ordering. */
  val localSupplierVolume: QueryDef = QueryDef.sql(
    """SELECT n_name,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,10))), 6) AS DOUBLE) AS revenue
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey
                    AND c_nationkey = s_nationkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1999-01-01'
       GROUP BY n_name ORDER BY revenue DESC, n_name""") { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1999-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,10)")), 6).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q18 shape (large-volume orders): orders whose total line
    * quantity exceeds a threshold, joined back to customer detail,
    * top-100 by price. The HAVING aggregate runs FIRST — lineitem
    * folds map-side to one row per orderkey before any join touches
    * it — the survivors join orders on the orderkey shuffle (the
    * honest fact-fact join of this shape; AQE broadcasts the
    * post-HAVING side at fixture scale), the customer dim broadcasts
    * explicitly, and the limit rides TakeOrderedAndProject ordered
    * by (o_totalprice, o_orderkey) — unique, so the cut is
    * deterministic. Quantities are integral doubles: the HAVING
    * boundary compares exact integers in both engines regardless of
    * summation order. */
  val largeOrders: QueryDef = QueryDef.sql(
    s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         ${r6sql("qty")} AS qty
       FROM (SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem
             GROUP BY 1 HAVING sum(l_quantity) > 150) big
       JOIN orders ON o_orderkey = big.l_orderkey
       JOIN customer ON c_custkey = o_custkey
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""") { (s, d) =>
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 150)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), r6(col("qty")).as("qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q7 shape (volume shipping between nations): the
    * double-dimension star — lineitem reaches nation twice, once
    * through supplier (who shipped) and once through orders→customer
    * (who bought). Both dimension chains broadcast (supplier 1k /
    * customer 15k / nation 25 rows — orders of magnitude under the
    * fact at any scale), the nation-name predicates push INTO the
    * broadcast sides so non-qualifying dimension rows never enter
    * the hash tables, and the one honest fact-fact join
    * (lineitem ⋈ orders) shuffles on orderkey once. Output is
    * bounded by |nation pairs| × |years| regardless of data size. */
  val nationTradeFlow: QueryDef = QueryDef.sql(
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,10))), 6) AS DOUBLE) AS volume
       FROM lineitem
       JOIN orders ON o_orderkey = l_orderkey
       JOIN customer ON c_custkey = o_custkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN nation sn ON sn.n_nationkey = s_nationkey
       JOIN nation cn ON cn.n_nationkey = c_nationkey
       WHERE sn.n_name IN ('NATION_0', 'NATION_1', 'NATION_2',
                           'NATION_3', 'NATION_4')
         AND cn.n_name IN ('NATION_0', 'NATION_1', 'NATION_2',
                           'NATION_3', 'NATION_4')
         AND sn.n_name <> cn.n_name
         AND l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1999-01-01'
       GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""") { (s, d) =>
    val pair = Seq("NATION_0", "NATION_1", "NATION_2",
      "NATION_3", "NATION_4")
    val suppN = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation")))
    val custN = broadcast(Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("cust_nation")))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(suppN, col("l_suppkey") === col("s_suppkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,10)")), 6).cast("double").as("volume"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q14 shape (promotion effect): a conditional aggregate
    * ratio over one join — what fraction of a quarter's revenue came
    * from PROMO parts. The part side prunes to (p_partkey, p_type)
    * and broadcasts; the shipdate predicate pushes to the fact scan;
    * the CASE folds map-side into two decimal partial sums, so the
    * shuffle carries 2 numbers per partition. Both engines divide
    * the same rounded doubles — identical float64 inputs, then the
    * 1e-6 comparison grain. */
  val promoRevenue: QueryDef = QueryDef.sql(
    s"""WITH a AS (SELECT
         CAST(round(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(30,10))
             ELSE CAST(0 AS DECIMAL(30,10)) END), 6) AS DOUBLE)
           AS promo_rev,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,10))), 6) AS DOUBLE)
           AS total_rev
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         AND l_shipdate < TIMESTAMP '1997-04-01')
       SELECT promo_rev, total_rev,
         ${r6sql("100.0 * promo_rev / total_rev")}
           AS promo_pct
       FROM a""") { (s, d) =>
    val disc = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(30,10)")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        round(sum(when(col("p_type") === "PROMO", disc)
          .otherwise(lit(0).cast("decimal(30,10)"))), 6)
          .cast("double").as("promo_rev"),
        round(sum(disc), 6).cast("double").as("total_rev"))
      .select(col("promo_rev"), col("total_rev"),
        r6(lit(100.0) * col("promo_rev") / col("total_rev"))
          .as("promo_pct"))
  }

  /** TPC-H Q10 shape (returned-item reporting): which customers
    * returned the most revenue in a quarter. The returnflag
    * predicate pushes to the lineitem scan, the orderdate predicate
    * to the orders scan; their join shuffles on orderkey (both fact
    * sides pre-filtered), then customer (15k) and nation (25)
    * broadcast onto the aggregate's output. Top-20 rides
    * TakeOrderedAndProject on (revenue desc, c_custkey) — exact
    * decimal revenue makes the cut deterministic across engines. */
  val returnedRevenue: QueryDef = QueryDef.sql(
    """SELECT c_custkey, c_name,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,10))), 6) AS DOUBLE) AS revenue,
         c_acctbal, n_name
       FROM customer
       JOIN orders ON o_custkey = c_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN nation ON n_nationkey = c_nationkey
       WHERE l_returnflag = 'R'
         AND o_orderdate >= TIMESTAMP '1997-01-01'
         AND o_orderdate < TIMESTAMP '1997-04-01'
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey LIMIT 20""") { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,10)")), 6).cast("double").as("revenue"))
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): lineitems whose
    * quantity sits below half their part's average — the correlated
    * per-key-threshold pattern. The brand filter broadcasts into a
    * semi-reduction of the fact FIRST, the per-part averages compute
    * over that already-reduced relation (one map-side-combined
    * groupBy on partkey), and the thresholds broadcast back onto the
    * same reduced relation — the fact table is never shuffled on
    * partkey. The avg boundary is exact cross-engine: quantities are
    * integral doubles, so sum and count are exact and avg = an exact
    * integer division in float64, identical in any summation order. */
  val smallQtyRevenue: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT l_partkey, avg(l_quantity) AS thr
                  FROM lineitem GROUP BY 1)
       SELECT ${r6sql("""CAST(round(sum(CAST(l_extendedprice
                AS DECIMAL(30,10))), 6) AS DOUBLE) / 7.0""")} AS avg_yearly,
              count(*) AS n_small
       FROM lineitem
       JOIN part ON p_partkey = l_partkey
       JOIN t ON t.l_partkey = lineitem.l_partkey
       WHERE p_brand = 'Brand#1' AND l_quantity < 0.5 * thr""") { (s, d) =>
    val branded = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
          .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
    val thresholds = branded
      .groupBy(col("l_partkey"))
      .agg(avg(col("l_quantity")).as("thr"))
    branded
      .join(broadcast(thresholds), "l_partkey")
      .filter(col("l_quantity") < lit(0.5) * col("thr"))
      .agg(
        r6(round(sum(col("l_extendedprice").cast("decimal(30,10)")), 6)
          .cast("double") / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  /** TPC-H Q15 shape (top supplier): the quarter's revenue per
    * supplier, keeping exactly the max-revenue suppliers (ties
    * included) — the scalar-subquery-equality pattern. The revenue
    * relation folds lineitem to |suppliers| rows map-side, persists
    * (two consumers: the max scalar and the equality probe), the max
    * broadcasts as a 1-row relation, and the equality compares EXACT
    * decimals so the tie set is engine-portable. Supplier detail
    * broadcasts onto the winners. */
  val topSupplier: QueryDef = QueryDef.sql(
    """WITH r AS (SELECT l_suppkey,
           sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(30,10))) AS rev
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1997-04-01'
         GROUP BY 1)
       SELECT s_suppkey, s_name,
              CAST(round(rev, 6) AS DOUBLE) AS total_revenue
       FROM supplier JOIN r ON s_suppkey = l_suppkey
       WHERE rev = (SELECT max(rev) FROM r)
       ORDER BY s_suppkey""") { (s, d) =>
    val rev = graft.Caching.retain(Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(30,10)")).as("rev"))
      .persist())
    rev.join(broadcast(rev.agg(max(col("rev")).as("mx"))),
        col("rev") === col("mx"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev"), 6).cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Bucketed co-located join under the oracle — the storage-level
    * answer to "this join shuffles 100 TB every night": both fact
    * tables are bucketed and per-bucket sorted on the join key, and
    * the revenue rollup then plans its SortMergeJoin with NO Exchange
    * on either side (the shuffle was paid at write; PlanAuditSpec
    * asserts it). The only remaining exchange is the 5-group
    * rollup's. The bucketed tables are the ones q207 reads, written
    * once per session and fixture by [[Bucketing.ensureBucketed]];
    * the oracle computes the identical aggregate from the raw
    * tables, so a bucketing bug that drops or duplicates rows
    * breaks the hash compare. */
  val bucketedJoin: QueryDef = QueryDef.sql(
    """SELECT o_orderpriority,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,10))), 6) AS DOUBLE) AS revenue,
         count(*) AS n_items
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val (ot, lt) = Bucketing.ensureBucketed(s, d)
    s.table(lt).hint("merge")
      .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,10)")), 6).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
  }

  /** UNPIVOT (melt) — the inverse of q19's pivot: per-type event
    * aggregates melted into (metric, val) rows. The unpivot itself is
    * a row-local Expand (each input row emits |metrics| rows, no
    * shuffle); the only exchanges are the aggregate's and the
    * presentation sort's. Values share one type (double) — the
    * UNPIVOT contract on both engines. */
  val unpivotMetrics: QueryDef = QueryDef.sql(
    s"""WITH agg AS (SELECT event_type,
           ${r6sql("min(value)")} AS min_v,
           ${r6sql("max(value)")} AS max_v,
           CAST(count(*) AS DOUBLE) AS cnt
         FROM events GROUP BY event_type)
       SELECT event_type, metric, val FROM agg
       UNPIVOT (val FOR metric IN (min_v, max_v, cnt))
       ORDER BY event_type, metric""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(r6(min(col("value"))).as("min_v"),
        r6(max(col("value"))).as("max_v"),
        count(lit(1)).cast("double").as("cnt"))
      .unpivot(Array(col("event_type")),
        Array(col("min_v"), col("max_v"), col("cnt")),
        "metric", "val")
      .orderBy(col("event_type"), col("metric"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q10_star_join_revenue" -> starJoinRevenue,
    "q11_window_topk" -> windowTopk,
    "q12_window_running" -> windowRunning,
    "q13_set_intersect" -> setIntersect,
    "q14_set_except_union" -> setExceptUnion,
    "q15_distinct_pairs" -> distinctPairs,
    "q16_global_topk" -> globalTopk,
    "q17_rollup_agg" -> rollupAgg,
    "q18_cube_agg" -> cubeAgg,
    "q19_pivot_events" -> pivotEvents,
    "q178_unpivot_metrics" -> unpivotMetrics,
    "q20_json_extract" -> jsonExtract,
    "q21_semi_join" -> semiJoin,
    "q22_anti_join" -> antiJoin,
    "q23_range_join_sessions" -> rangeJoinSessions,
    "q42_correlated_subquery" -> correlatedSubquery,
    "q43_approx_distinct" -> approxDistinct,
    "q44_asof_join" -> asofJoin,
    "q62_bloom_join" -> bloomJoin,
    "q63_salted_join" -> saltedJoinQ,
    "q64_approx_quantiles" -> approxQuantiles,
    "q65_window_breadth" -> windowBreadth,
    "q81_grouping_sets" -> groupingSets,
    "q123_shipping_priority" -> shippingPriority,
    "q124_local_supplier_volume" -> localSupplierVolume,
    "q129_large_orders" -> largeOrders,
    "q143_pricing_summary" -> pricingSummary,
    "q145_nation_trade_flow" -> nationTradeFlow,
    "q146_promo_revenue" -> promoRevenue,
    "q147_returned_revenue" -> returnedRevenue,
    "q149_small_qty_revenue" -> smallQtyRevenue,
    "q150_top_supplier" -> topSupplier,
    "q158_bucketed_join" -> bucketedJoin,
  )
}
