package graft.queries

import graft.{QueryDef, Tables}
import graft.Rounding.{micros, microsSql, r6, r6sql}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-idiom tier: the reshaping / multi-level-aggregation /
  * dimension-versioning SQL surface (PIVOT, ROLLUP, the rank-family
  * window functions, SCD type 2) that rounds out the relational
  * catalog. Everything here is exact — integer counts, DECIMAL
  * money sums, rational ranks — so no rounding subtleties beyond the
  * standing r6 convention.
  */
object Warehouse {

  /** PIVOT: per user-cohort event counts reshaped wide, one column
    * per event_type. The value list is EXPLICIT (the 5 fixture
    * types) — never inferred, which at 100 TB would force an extra
    * distinct scan and an unbounded column count. Plan: one hash
    * aggregate on (cohort, type) then the pivot projection; the wide
    * result is |cohorts| rows. */
  val pivotCounts: QueryDef = QueryDef.sql(
    """SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           AS BIGINT) AS click,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           AS BIGINT) AS error,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           AS BIGINT) AS signup,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           AS BIGINT) AS view
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.events(s, d)
      .groupBy((col("user_id") % 10).cast("long").as("cohort"))
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)).cast("long"))
      .na.fill(0L)
      .orderBy(col("cohort"))
  }

  /** ROLLUP: customer account balance at nation, region, and grand-
    * total grain in ONE pass — Spark expands the grouping sets inside
    * a single aggregate (each input row feeds all three grains
    * map-side) instead of three scans + union. Subtotal rows label as
    * 'ALL' via coalesce (names are non-null, so the label is
    * unambiguous); money sums in exact DECIMAL. */
  val rollupAcctbal: QueryDef = QueryDef.sql(
    """SELECT coalesce(r_name, 'ALL') AS region,
         coalesce(n_name, 'ALL') AS nation,
         CAST(count(*) AS BIGINT) AS n_cust,
         CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,10))), 6)
           AS DOUBLE) AS acctbal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
       GROUP BY ROLLUP(r_name, n_name) ORDER BY region, nation""") {
    (s, d) =>
    Tables.customer(s, d)
      .join(Tables.nation(s, d),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).cast("long").as("n_cust"),
        round(sum(col("c_acctbal").cast("decimal(30,10)")), 6)
          .cast("double").as("acctbal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_cust"), col("acctbal"))
      .orderBy(col("region"), col("nation"))
  }

  /** Rank-family window breadth: ntile quartiles, percent_rank, and
    * cume_dist over orders per priority, summarized per quartile.
    * The window ORDER BY carries the orderkey tie-break so every
    * rank is a total-order integer and the rational rank functions
    * ((rank-1)/(n-1), rank/n) are exact cross-engine; the quartile
    * summary bounds the output at |priorities|×4. */
  val windowRankBreadth: QueryDef = QueryDef.sql(
    s"""WITH w AS (SELECT o_orderpriority AS pri,
             ntile(4) OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS quartile,
             percent_rank() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS pr,
             cume_dist() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS cd
           FROM orders)
       SELECT pri, quartile, CAST(count(*) AS BIGINT) AS n,
         ${r6sql("max(pr)")} AS max_pr,
         ${r6sql("max(cd)")} AS max_cd
       FROM w GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderpriority").as("pri"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .groupBy(col("pri"), col("quartile"))
      .agg(count(lit(1)).cast("long").as("n"),
        r6(max(col("pr"))).as("max_pr"),
        r6(max(col("cd"))).as("max_cd"))
      .orderBy(col("pri"), col("quartile"))
  }

  /** SCD type 2 dimension build from an event stream: per-user
    * status (event_type) change intervals with valid_from/valid_to
    * and a current flag — the gaps-and-islands construction every
    * warehouse runs to version dimensions. Both windows (change
    * detection lag, interval-close lead) share ONE user_id
    * partitioning with the (ts, event_id) total order, so the whole
    * build is a single key shuffle; timestamps compare as exact
    * microseconds. */
  val scd2Build: QueryDef = QueryDef.sql(
    """WITH s AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev
           FROM events),
       c AS (SELECT user_id, event_type AS status, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS valid_to
           FROM s WHERE prev IS NULL OR prev <> event_type)
       SELECT user_id, status, valid_from, valid_to,
         CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INTEGER)
           AS is_current
       FROM c ORDER BY user_id, valid_from""") { (s, d) =>
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val changes = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"),
        lag(col("event_type"), 1).over(order).as("prev"))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    changes
      .select(col("user_id"), col("event_type").as("status"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(order).as("valid_to"))
      .select(col("user_id"), col("status"), col("valid_from"),
        col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).cast("int")
          .as("is_current"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  /** Migration reconciliation report — the full-outer diff every
    * platform migration runs to certify a copy: matched /
    * value-mismatch / missing-in-target / extra-in-target counts per
    * type, keyed on the primary key. The "target" is the source with
    * DETERMINISTIC injected faults (drops at id%31=7, value drift at
    * id%37=5, extras at id%41=3), so the report's exact counts are
    * oracle-checkable. ONE full-outer join on the key (both sides
    * shuffle once, AQE handles size asymmetry); value comparison on
    * 1e-6 integer quantizations, never raw doubles. */
  val reconciliation: QueryDef = QueryDef.sql(
    s"""WITH src AS (SELECT event_id, event_type, value FROM events),
       tgt AS (
         SELECT event_id, event_type,
             CASE WHEN event_id % 37 = 5 THEN value + 1 ELSE value END
               AS value
           FROM events WHERE event_id % 31 <> 7
         UNION ALL
         SELECT event_id + 5000000000, event_type, value
           FROM events WHERE event_id % 41 = 3),
       j AS (SELECT coalesce(src.event_type, tgt.event_type)
               AS event_type,
             CASE WHEN src.event_id IS NULL THEN 'extra_target'
                  WHEN tgt.event_id IS NULL THEN 'missing_target'
                  WHEN ${microsSql("src.value")}
                    <> ${microsSql("tgt.value")}
                    THEN 'value_mismatch'
                  ELSE 'matched' END AS status
           FROM src FULL OUTER JOIN tgt
             ON src.event_id = tgt.event_id)
       SELECT event_type, status, CAST(count(*) AS BIGINT) AS n
       FROM j GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    val src = ev
    val tgt = ev.filter(col("event_id") % 31 =!= 7)
      .withColumn("value", when(col("event_id") % 37 === 5,
        col("value") + 1).otherwise(col("value")))
      .unionAll(ev.filter(col("event_id") % 41 === 3)
        .withColumn("event_id", col("event_id") + 5000000000L))
    src.as("src").join(tgt.as("tgt"),
        col("src.event_id") === col("tgt.event_id"), "full_outer")
      .select(coalesce(col("src.event_type"), col("tgt.event_type"))
          .as("event_type"),
        when(col("src.event_id").isNull, "extra_target")
          .when(col("tgt.event_id").isNull, "missing_target")
          .when(micros(col("src.value")) =!= micros(col("tgt.value")),
            "value_mismatch")
          .otherwise("matched").as("status"))
      .groupBy(col("event_type"), col("status"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("event_type"), col("status"))
  }

  /** Floor-clamped running balance (inventory that cannot go
    * negative) — the canonical NON-associative scan: b_t = max(0,
    * b_{t-1} + x_t) has no direct window form, but the closed form
    * b_t = cum_t − min(0, min_{s≤t} cum_s) turns it into TWO stacked
    * windows on the SAME (user, time) key — one shuffle, linear
    * per-partition scans, no mapGroups state needed. Deltas are
    * exact integer micro-units (purchases add, errors subtract
    * double), so every balance is an exact long. */
  val cappedBalance: QueryDef = QueryDef.sql(
    """WITH x AS (SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'purchase'
               THEN CAST(floor(value * 1000000) AS BIGINT)
             WHEN event_type = 'error'
               THEN -2 * CAST(floor(value * 1000000) AS BIGINT)
             ELSE 0 END AS delta
         FROM events WHERE event_type IN ('purchase', 'error')),
       c AS (SELECT user_id, ts, event_id,
           sum(delta) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS cum
         FROM x),
       c2 AS (SELECT user_id, cum,
           least(min(cum) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 0)
             AS floor_adj
         FROM c),
       f AS (SELECT user_id, cum - floor_adj AS balance FROM c2)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_moves,
         CAST(max(balance) AS BIGINT) AS peak_balance,
         CAST(sum(CASE WHEN balance = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero
       FROM f GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qv = floor(col("value") * 1000000).cast("long")
    val x = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", qv)
          .when(col("event_type") === "error", lit(-2) * qv)
          .otherwise(0L).as("delta"))
    val c = x.select(col("user_id"), col("ts"), col("event_id"),
      sum(col("delta")).over(w).as("cum"))
    val f = c.select(col("user_id"),
        (col("cum") - least(min(col("cum")).over(w), lit(0L)))
          .as("balance"))
    f.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_moves"),
        max(col("balance")).cast("long").as("peak_balance"),
        sum(when(col("balance") === 0, 1).otherwise(0)).cast("long")
          .as("n_zero"))
      .orderBy(col("user_id"))
  }

  /** Exact weighted median per group (extendedprice weighted by
    * quantity, per returnflag) — the robust cost summary plain
    * median can't give. Closed form: cumulative weight over the
    * value order, first value whose cumulative weight reaches half
    * the total — two windows on ONE group key, no sort of anything
    * but the window's own. Prices quantize to exact cents with
    * floor(x·100+0.5) (a bare CAST would round on DuckDB and
    * truncate on Spark); ties on (v, wgt) cannot change the answer
    * because every tied row carries the same v. */
  val weightedMedian: QueryDef = QueryDef.sql(
    """WITH x AS (SELECT l_returnflag AS grp,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
           CAST(l_quantity AS BIGINT) AS wgt FROM lineitem),
       c AS (SELECT grp, v, wgt,
           sum(wgt) OVER (PARTITION BY grp ORDER BY v, wgt
             ROWS UNBOUNDED PRECEDING) AS cw,
           sum(wgt) OVER (PARTITION BY grp) AS tw
         FROM x)
       SELECT grp, CAST(min(v) AS BIGINT) AS wmedian_cents,
         CAST(max(tw) AS BIGINT) AS total_weight
       FROM c WHERE 2 * cw >= tw GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val wOrd = Window.partitionBy(col("grp"))
      .orderBy(col("v"), col("wgt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("grp"))
    val x = Tables.lineitem(s, d).select(
      col("l_returnflag").as("grp"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
        .as("v"),
      col("l_quantity").cast("long").as("wgt"))
    x.select(col("grp"), col("v"),
        sum(col("wgt")).over(wOrd).as("cw"),
        sum(col("wgt")).over(wAll).as("tw"))
      .filter(lit(2) * col("cw") >= col("tw"))
      .groupBy(col("grp"))
      .agg(min(col("v")).cast("long").as("wmedian_cents"),
        max(col("tw")).cast("long").as("total_weight"))
      .orderBy(col("grp"))
  }

  /** Hourly OHLC bars per event_type — the time-series downsampling
    * idiom (open/high/low/close/volume per bar) every metrics
    * warehouse materializes. The Spark plan is ONE hash aggregate:
    * open/close are `min_by`/`max_by` keyed on struct(ts, event_id)
    * — a total order, so ties are impossible and the bar is
    * deterministic — which combine map-side like any other partial
    * aggregate; no window sort is ever paid, which at 100 TB is the
    * difference between a shuffle-to-32-ish-bars aggregate and a
    * full per-key sort (the oracle's row_number formulation is the
    * same answer, stated for clarity, not the plan to copy). Values
    * are 1e-6-quantized longs so high/low/volume are exact; the bar
    * key is emitted as epoch microseconds (BIGINT on both engines —
    * the q85 no-native-temporal-output convention). */
  val ohlcBars: QueryDef = QueryDef.sql(
    s"""WITH q AS (SELECT event_type, date_trunc('hour', ts) AS h,
           ${microsSql("value")} v, ts, event_id
         FROM events),
       o AS (SELECT *,
           row_number() OVER (PARTITION BY event_type, h
             ORDER BY ts, event_id) rn_a,
           row_number() OVER (PARTITION BY event_type, h
             ORDER BY ts DESC, event_id DESC) rn_d FROM q)
       SELECT event_type, epoch_us(h) AS bar_us,
         CAST(max(CASE WHEN rn_a=1 THEN v END) AS BIGINT) AS open_v,
         CAST(max(v) AS BIGINT) AS high_v,
         CAST(min(v) AS BIGINT) AS low_v,
         CAST(max(CASE WHEN rn_d=1 THEN v END) AS BIGINT) AS close_v,
         CAST(sum(v) AS BIGINT) AS vol_v,
         CAST(count(*) AS BIGINT) AS n
       FROM o GROUP BY 1,2 ORDER BY 1,2""") { (s, d) =>
    val vk = micros(col("value"))
    Tables.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
        vk.as("v"), col("ts"), col("event_id"))
      .groupBy(col("event_type"), col("h"))
      .agg(
        min_by(col("v"), struct(col("ts"), col("event_id")))
          .cast("long").as("open_v"),
        max(col("v")).cast("long").as("high_v"),
        min(col("v")).cast("long").as("low_v"),
        max_by(col("v"), struct(col("ts"), col("event_id")))
          .cast("long").as("close_v"),
        sum(col("v")).cast("long").as("vol_v"),
        count(lit(1)).cast("long").as("n"))
      .select(col("event_type"), unix_micros(col("h")).as("bar_us"),
        col("open_v"), col("high_v"), col("low_v"), col("close_v"),
        col("vol_v"), col("n"))
      .orderBy(col("event_type"), col("bar_us"))
  }

  /** RFM (recency / frequency / monetary) segmentation over purchase
    * events — the marketing-warehouse staple: quintile-score each
    * user on the three dimensions, label the 5×5×5 segment, report
    * segment sizes and average spend. The fact-sized stage is ONE
    * filtered per-user aggregate; the three ntile windows then run
    * on the USER-cardinality residue (the q209 dimension-sized
    * window bound — at 100 TB user count, swap exact ntile for q64's
    * quantile sketch cut points). Every ntile orders with a user_id
    * tie-break (total order → deterministic bucket for ties, the
    * q213 lesson), recency anchors to the max purchase day IN the
    * data (in-plan one-row broadcast, not wall-clock), and spend
    * stays an exact quantized long until the final r6 divide. */
  val rfmSegments: QueryDef = QueryDef.sql(
    s"""WITH p AS (SELECT user_id, max(CAST(ts AS DATE)) last_day,
           CAST(count(*) AS BIGINT) freq,
           CAST(sum(${microsSql("value")})
             AS BIGINT) money
         FROM events WHERE event_type='purchase' GROUP BY 1),
       mx AS (SELECT max(last_day) d1 FROM p),
       s AS (SELECT user_id,
               CAST(datediff('day', last_day, d1) AS BIGINT) recency,
               freq, money FROM p, mx),
       sc AS (SELECT
           CAST(ntile(5) OVER (ORDER BY recency, user_id)
             AS BIGINT) r,
           CAST(ntile(5) OVER (ORDER BY freq DESC, user_id)
             AS BIGINT) f,
           CAST(ntile(5) OVER (ORDER BY money DESC, user_id)
             AS BIGINT) m,
           money FROM s)
       SELECT CAST(r AS VARCHAR) || '-' || CAST(f AS VARCHAR)
           || '-' || CAST(m AS VARCHAR) AS segment,
         CAST(count(*) AS BIGINT) n_users,
         ${r6sql(
           "CAST(sum(money) AS DOUBLE)/count(*)/1000000.0")}
           AS avg_money
       FROM sc GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val vk = micros(col("value"))
    val p = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).cast("long").as("freq"),
        sum(vk).cast("long").as("money"))
    val mx = p.agg(max(col("last_day")).as("d1"))
    val sc = p.crossJoin(broadcast(mx))
      .select(col("user_id"),
        datediff(col("d1"), col("last_day")).cast("long")
          .as("recency"),
        col("freq"), col("money"))
    val wr = Window.orderBy(col("recency"), col("user_id"))
    val wf = Window.orderBy(col("freq").desc, col("user_id"))
    val wm = Window.orderBy(col("money").desc, col("user_id"))
    sc.select(ntile(5).over(wr).cast("long").as("r"),
        ntile(5).over(wf).cast("long").as("f"),
        ntile(5).over(wm).cast("long").as("m"), col("money"))
      .select(concat(col("r").cast("string"), lit("-"),
          col("f").cast("string"), lit("-"),
          col("m").cast("string")).as("segment"), col("money"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        r6(sum(col("money")).cast("double") / count(lit(1))
          / 1000000.0).as("avg_money"))
      .orderBy(col("segment"))
  }

  /** LTV triangle: cumulative purchase revenue per weekly signup
    * cohort by weeks-since-signup — the lifetime-value artifact next
    * to q97's retention matrix (retention counts PRESENCE, LTV
    * accumulates MONEY). Signup dates and revenue share ONE
    * user_id-keyed join; the (cohort, age) aggregate is
    * dimension-sized, and the cumulative window runs per cohort on
    * that residue. Week age is all-integer datediff div 7 (the q185
    * div≡// recipe); money stays exact micro-longs; per-user LTV is
    * the only divide, r6-rounded; cohort emits as VARCHAR per the
    * date-output convention. */
  val ltvTriangle: QueryDef = QueryDef.sql(
    s"""WITH su AS (SELECT user_id, min(CAST(ts AS DATE)) sd
             FROM events WHERE event_type='signup' GROUP BY 1),
       co AS (SELECT user_id, CAST(date_trunc('week', sd) AS DATE)
               cohort, sd FROM su),
       cs AS (SELECT cohort, CAST(count(*) AS BIGINT) n_users
              FROM co GROUP BY 1),
       w AS (SELECT co.cohort,
               (datediff('day', co.sd, CAST(e.ts AS DATE))) // 7
                 AS age_w,
               ${microsSql("e.value")} v
             FROM co JOIN events e ON e.user_id=co.user_id
             WHERE e.event_type='purchase'
               AND datediff('day', co.sd, CAST(e.ts AS DATE)) >= 0),
       a AS (SELECT cohort, CAST(age_w AS BIGINT) age_w,
               CAST(sum(v) AS BIGINT) rev FROM w GROUP BY 1,2)
       SELECT CAST(a.cohort AS VARCHAR) cohort, age_w, cs.n_users,
         CAST(sum(rev) OVER (PARTITION BY a.cohort ORDER BY age_w)
           AS BIGINT) cum_rev_micro,
         ${r6sql(
           """CAST(sum(rev) OVER (PARTITION BY a.cohort
              ORDER BY age_w) AS DOUBLE)/cs.n_users/1000000.0""")}
           AS ltv_per_user
       FROM a JOIN cs ON a.cohort=cs.cohort ORDER BY 1,2""") { (s, d) =>
    val su = Tables.events(s, d)
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("sd"))
      .select(col("user_id"),
        to_date(date_trunc("week", col("sd"))).as("cohort"),
        col("sd"))
    val cs = su.groupBy(col("cohort"))
      .agg(count(lit(1)).cast("long").as("n_users"))
    val vk = micros(col("value"))
    val a = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(datediff(to_date(col("ts")), col("sd")) >= 0)
      .select(col("cohort"),
        expr("datediff(to_date(ts), sd) div 7").cast("long")
          .as("age_w"),
        vk.as("v"))
      .groupBy(col("cohort"), col("age_w"))
      .agg(sum(col("v")).cast("long").as("rev"))
    val wc = Window.partitionBy(col("cohort")).orderBy(col("age_w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    a.join(cs, "cohort")
      .select(col("cohort").cast("string").as("cohort_s"),
        col("cohort"), col("age_w"), col("n_users"),
        sum(col("rev")).over(wc).cast("long").as("cum_rev_micro"),
        r6(sum(col("rev")).over(wc).cast("double")
          / col("n_users") / 1000000.0).as("ltv_per_user"))
      .select(col("cohort_s").as("cohort"), col("age_w"),
        col("n_users"), col("cum_rev_micro"), col("ltv_per_user"))
      .orderBy(col("cohort"), col("age_w"))
  }

  /** Lorenz decile table — revenue concentration as the table behind
    * q209's Gini scalar: customers ranked into deciles by total
    * quantized spend (ties broken by custkey so ntile is total-order
    * deterministic), each decile's exact revenue and cumulative
    * share. The global sort runs on the |customers| residue, never
    * the fact; the cumulative window on 10 rows. */
  val lorenzDeciles: QueryDef = QueryDef.sql(
    s"""WITH r AS (SELECT o_custkey,
           CAST(sum(${microsSql("o_totalprice")})
             AS BIGINT) rev
         FROM orders GROUP BY 1),
       d AS (SELECT o_custkey, rev,
           ntile(10) OVER (ORDER BY rev, o_custkey) AS decile
         FROM r),
       g AS (SELECT CAST(decile AS BIGINT) decile,
           CAST(count(*) AS BIGINT) n_cust,
           CAST(sum(rev) AS BIGINT) rev_micro FROM d GROUP BY 1),
       t AS (SELECT CAST(sum(rev_micro) AS BIGINT) tot FROM g)
       SELECT decile, n_cust, rev_micro,
         ${r6sql(
           """CAST(sum(rev_micro) OVER (ORDER BY decile) AS DOUBLE)
              / tot""")} AS cum_share
       FROM g, t ORDER BY decile""") { (s, d) =>
    val r = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(micros(col("o_totalprice"))).cast("long").as("rev"))
    val dec = r.withColumn("decile",
      ntile(10).over(Window.orderBy(col("rev"), col("o_custkey"))))
    val g = dec.groupBy(col("decile").cast("long").as("decile"))
      .agg(count(lit(1)).cast("long").as("n_cust"),
        sum(col("rev")).cast("long").as("rev_micro"))
    val t = g.agg(sum(col("rev_micro")).cast("long").as("tot"))
    val wc = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(t))
      .select(col("decile"), col("n_cust"), col("rev_micro"),
        r6(sum(col("rev_micro")).over(wc).cast("double")
          / col("tot")).as("cum_share"))
      .orderBy(col("decile"))
  }

  /** Functional-dependency violation audit — the profiling pass a
    * warehouse runs before declaring constraints: for each candidate
    * X→Y, how many X values map to MORE than one Y (0 violations =
    * the FD holds and can back a constraint or a join-elimination
    * rule). Three candidates spanning hold (c_nationkey→n_regionkey
    * through the nation dim) and fail (l_partkey→l_suppkey,
    * o_custkey→o_orderpriority). Each audit is one exact
    * distinct-count aggregate on its own key — no row explosion,
    * dimension-sized outputs unioned. */
  val fdViolations: QueryDef = QueryDef.sql(
    """WITH fd1 AS (SELECT 'l_partkey->l_suppkey' AS fd,
           CAST(count(*) AS BIGINT) n_lhs,
           CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
             n_violating
         FROM (SELECT l_partkey, count(DISTINCT l_suppkey) nv
               FROM lineitem GROUP BY 1)),
       fd2 AS (SELECT 'o_custkey->o_orderpriority',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
         FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) nv
               FROM orders GROUP BY 1)),
       fd3 AS (SELECT 'c_nationkey->n_regionkey',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
         FROM (SELECT c_nationkey, count(DISTINCT n_regionkey) nv
               FROM customer JOIN nation ON n_nationkey = c_nationkey
               GROUP BY 1))
       SELECT * FROM fd1 UNION ALL SELECT * FROM fd2 UNION ALL
       SELECT * FROM fd3 ORDER BY 1""") { (s, d) =>
    def audit(grouped: org.apache.spark.sql.RelationalGroupedDataset,
        name: String): org.apache.spark.sql.DataFrame =
      grouped.agg(count(lit(1)).cast("long").as("n_lhs"),
          sum(when(col("nv") > 1, 1L).otherwise(0L)).cast("long")
            .as("n_violating"))
        .select(lit(name).as("fd"), col("n_lhs"),
          col("n_violating"))
    val fd1 = audit(Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_suppkey")).as("nv"))
      .groupBy(), "l_partkey->l_suppkey")
    val fd2 = audit(Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("nv"))
      .groupBy(), "o_custkey->o_orderpriority")
    val fd3 = audit(Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("n_nationkey") === col("c_nationkey"))
      .groupBy(col("c_nationkey"))
      .agg(countDistinct(col("n_regionkey")).as("nv"))
      .groupBy(), "c_nationkey->n_regionkey")
    fd1.unionByName(fd2).unionByName(fd3).orderBy(col("fd"))
  }

  /** Share-of-parent hierarchy: nation revenue as a share of its
    * region, region as a share of the total — the two-level
    * percent-of-parent layout every BI rollup renders. One
    * star-join aggregate to the (nation, region) residue; both
    * shares come from window partition sums over that residue
    * (25 rows), each an exact-long divide. */
  val shareOfParent: QueryDef = QueryDef.sql(
    s"""WITH rev AS (SELECT n_name, r_name,
           CAST(sum(${microsSql("o_totalprice")})
             AS BIGINT) rv
         FROM orders JOIN customer ON c_custkey = o_custkey
         JOIN nation ON n_nationkey = c_nationkey
         JOIN region ON r_regionkey = n_regionkey GROUP BY 1,2),
       w AS (SELECT n_name, r_name, rv,
           CAST(sum(rv) OVER (PARTITION BY r_name) AS BIGINT) rr,
           CAST(sum(rv) OVER () AS BIGINT) tot FROM rev)
       SELECT r_name, n_name, rv AS rev_micro,
         ${r6sql("CAST(rv AS DOUBLE)/rr")}
           AS share_of_region,
         ${r6sql("CAST(rr AS DOUBLE)/tot")}
           AS region_share_of_total
       FROM w ORDER BY 1,2""") { (s, d) =>
    val rev = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("n_nationkey") === col("c_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("r_regionkey") === col("n_regionkey"))
      .groupBy(col("n_name"), col("r_name"))
      .agg(sum(micros(col("o_totalprice"))).cast("long").as("rv"))
    val wr = Window.partitionBy(col("r_name"))
    val wt = Window.partitionBy()
    rev.select(col("r_name"), col("n_name"),
        col("rv").as("rev_micro"),
        r6(col("rv").cast("double")
          / sum(col("rv")).over(wr).cast("long"))
          .as("share_of_region"),
        r6(sum(col("rv")).over(wr).cast("long")
          .cast("double") / sum(col("rv")).over(wt).cast("long"))
          .as("region_share_of_total"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Account-balance profile per market segment: exact mean (long
    * sums) and exact interpolated median/p90 of quantized balances
    * — the distribution card a warehouse keeps per segment
    * (mean-vs-median divergence flags skew q307 quantifies). */
  val segmentBalanceProfile: QueryDef = QueryDef.sql(
    s"""WITH c AS (SELECT c_mktsegment seg,
           ${microsSql("c_acctbal")} b
         FROM customer)
       SELECT seg, CAST(count(*) AS BIGINT) n,
         ${r6sql(
           "CAST(sum(b) AS DOUBLE)/count(*)/1000000.0")} AS mean_bal,
         ${r6sql("quantile_cont(b, 0.5)/1000000.0")}
           AS median_bal,
         ${r6sql("quantile_cont(b, 0.9)/1000000.0")}
           AS p90_bal
       FROM c GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.customer(s, d)
      .select(col("c_mktsegment").as("seg"),
        micros(col("c_acctbal")).as("b"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).cast("long").as("n"),
        r6(sum(col("b")).cast("double")
          / count(lit(1)) / 1000000.0).as("mean_bal"),
        r6(percentile(col("b"), lit(0.5))
          / 1000000.0).as("median_bal"),
        r6(percentile(col("b"), lit(0.9))
          / 1000000.0).as("p90_bal"))
      .orderBy(col("seg"))
  }

  /** Supplier balance z-score outliers (|z| > 1.5): the
    * dimension-table anomaly screen — all sufficient statistics
    * exact (Σb long, Σb² decimal), the z cut comparing
    * identically-derived doubles; the one-row stats broadcast back
    * onto the supplier residue. */
  val supplierBalanceOutliers: QueryDef = QueryDef.sql(
    s"""WITH s AS (SELECT s_suppkey, s_name,
           ${microsSql("s_acctbal")} b
         FROM supplier),
       t AS (SELECT CAST(sum(b) AS BIGINT) sb,
           CAST(count(*) AS BIGINT) n,
           CAST(sum(CAST(b AS DECIMAL(19,0))*CAST(b AS
             DECIMAL(19,0))) AS DOUBLE) sbb FROM s)
       SELECT s_suppkey, s_name,
         ${r6sql(
           """(CAST(b AS DOUBLE) - CAST(sb AS DOUBLE)/n)
              / sqrt((sbb - CAST(sb AS DOUBLE)*sb/n)/(n-1))""")}
           AS z
       FROM s, t WHERE abs((CAST(b AS DOUBLE) - CAST(sb AS DOUBLE)/n)
         / sqrt((sbb - CAST(sb AS DOUBLE)*sb/n)/(n-1))) > 1.5
       ORDER BY 1""") { (s, d) =>
    val sp = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"),
        micros(col("s_acctbal")).as("b"))
    val t = sp.agg(sum(col("b")).cast("long").as("sb"),
      count(lit(1)).cast("long").as("n"),
      sum(col("b").cast("decimal(19,0)")
        * col("b").cast("decimal(19,0)")).cast("double").as("sbb"))
    val z = (col("b").cast("double")
      - col("sb").cast("double") / col("n")) /
      sqrt((col("sbb")
        - col("sb").cast("double") * col("sb") / col("n"))
        / (col("n") - 1))
    sp.crossJoin(broadcast(t))
      .filter(abs(z) > 1.5)
      .select(col("s_suppkey"), col("s_name"),
        r6(z).as("z"))
      .orderBy(col("s_suppkey"))
  }

  /** Monthly seasonality index on ORDERS (volume and revenue vs the
    * uniform-month baseline): index = share·k, so 1.0 is flat — the
    * calendar read on the second time-dimensioned table (events
    * carry most time series; orders carry the commerce calendar).
    * Exact counts/micro-longs; one divide pair per month row. */
  val ordersMonthIndex: QueryDef = QueryDef.sql(
    s"""WITH m AS (SELECT
           CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) mo,
           CAST(count(*) AS BIGINT) n,
           CAST(sum(${microsSql("o_totalprice")}) AS BIGINT) rev
         FROM orders GROUP BY 1),
       t AS (SELECT CAST(sum(n) AS BIGINT) tn,
           CAST(sum(rev) AS BIGINT) tr,
           CAST(count(*) AS BIGINT) k FROM m)
       SELECT mo AS month, n,
         ${r6sql("CAST(n AS DOUBLE)*k/tn")}
           AS volume_index,
         ${r6sql("CAST(rev AS DOUBLE)*k/tr")}
           AS revenue_index
       FROM m, t ORDER BY 1""") { (s, d) =>
    val m = Tables.orders(s, d)
      .groupBy(month(to_date(col("o_orderdate"))).cast("long")
        .as("month"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(micros(col("o_totalprice"))).cast("long").as("rev"))
    val t = m.agg(sum(col("n")).cast("long").as("tn"),
      sum(col("rev")).cast("long").as("tr"),
      count(lit(1)).cast("long").as("k"))
    m.crossJoin(broadcast(t))
      .select(col("month"), col("n"),
        r6(col("n").cast("double") * col("k")
          / col("tn")).as("volume_index"),
        r6(col("rev").cast("double") * col("k")
          / col("tr")).as("revenue_index"))
      .orderBy(col("month"))
  }

  /** Order-value percentiles per customer segment — purchasing
    * power per segment via exact interpolated p50/p90 on the
    * orders×customer join (customer dim broadcast). */
  val segmentOrderPercentiles: QueryDef = QueryDef.sql(
    s"""WITH j AS (SELECT c_mktsegment seg,
           ${microsSql("o_totalprice")} v
         FROM orders JOIN customer ON c_custkey = o_custkey)
       SELECT seg, CAST(count(*) AS BIGINT) n_orders,
         ${r6sql("quantile_cont(v, 0.5)/1000000.0")}
           AS p50_order,
         ${r6sql("quantile_cont(v, 0.9)/1000000.0")}
           AS p90_order
       FROM j GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment").as("seg"),
        micros(col("o_totalprice")).as("v"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        r6(percentile(col("v"), lit(0.5))
          / 1000000.0).as("p50_order"),
        r6(percentile(col("v"), lit(0.9))
          / 1000000.0).as("p90_order"))
      .orderBy(col("seg"))
  }

  /** Brand share trend: OLS slope of each brand's monthly revenue
    * SHARE (in ppm) — rising vs fading brands. Shares are exact
    * integer ppm after a milli-unit rescale ((rev/1000)·10⁶ would
    * overflow INT64 unrescaled — both engines floor-divide the same
    * milli operands, so the ppm is identical); the slope is the
    * q244 exact-sufficient-statistics divide. */
  val brandShareSlope: QueryDef = QueryDef.sql(
    s"""WITH r AS (SELECT p_brand,
           CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) mo,
           CAST(sum(${microsSql("l_extendedprice*(1-l_discount)")})
             AS BIGINT) rev
         FROM lineitem JOIN part ON p_partkey=l_partkey
         JOIN orders ON o_orderkey=l_orderkey GROUP BY 1,2),
       t AS (SELECT mo mo2, CAST(sum(rev) AS BIGINT) tot FROM r
             GROUP BY 1),
       sh AS (SELECT p_brand, mo,
           CAST(((rev // 1000) * 1000000) // (tot // 1000)
             AS BIGINT) ppm
         FROM r JOIN t ON mo = mo2),
       st AS (SELECT p_brand, CAST(count(*) AS BIGINT) n,
           CAST(sum(mo) AS BIGINT) sx, CAST(sum(ppm) AS BIGINT) sy,
           CAST(sum(mo*mo) AS BIGINT) sxx,
           CAST(sum(mo*ppm) AS BIGINT) sxy
         FROM sh GROUP BY 1 HAVING count(*) >= 6)
       SELECT p_brand, n,
         ${r6sql(
           """CAST(n*sxy - sx*sy AS DOUBLE)
              / CAST(n*sxx - sx*sx AS DOUBLE) / 1000000.0""")}
           AS share_slope
       FROM st ORDER BY 1""") { (s, d) =>
    val r = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("l_partkey"))
      .join(Tables.orders(s, d)
        .select(col("o_orderkey"),
          month(to_date(col("o_orderdate"))).cast("long").as("mo")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("p_brand"), col("mo"))
      .agg(sum(micros(col("l_extendedprice")
        * (lit(1) - col("l_discount")))).cast("long").as("rev"))
    val t = r.groupBy(col("mo").as("mo2"))
      .agg(sum(col("rev")).cast("long").as("tot"))
    val sh = r.join(broadcast(t), col("mo") === col("mo2"))
      .select(col("p_brand"), col("mo"),
        expr("((rev div 1000) * 1000000) div (tot div 1000)")
          .cast("long").as("ppm"))
    sh.groupBy(col("p_brand"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("mo")).cast("long").as("sx"),
        sum(col("ppm")).cast("long").as("sy"),
        sum(col("mo") * col("mo")).cast("long").as("sxx"),
        sum(col("mo") * col("ppm")).cast("long").as("sxy"))
      .filter(col("n") >= 6)
      .select(col("p_brand"), col("n"),
        r6(
          (col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double") / 1000000.0).as("share_slope"))
      .orderBy(col("p_brand"))
  }

  /** LISTAGG (Spark 4.0's ANSI ordered string aggregation — the
    * SQL:2016 surface next to q326's VARIANT): per market segment,
    * the top-3 spender custkeys as an ORDERED csv. The WITHIN GROUP
    * ordering is what distinguishes this from
    * array_join(sort_array(collect_list(…))) — the order column
    * (rank) is not part of the emitted value. Spend ranks via a
    * segment-keyed window (bounded partitions — 5 segments ×
    * customers, never a global sort), and only the ≤3 ranked rows
    * per segment reach the aggregation. */
  val listaggTopSpenders: QueryDef = QueryDef.sql(
    s"""WITH s AS (SELECT c_mktsegment, o_custkey,
           CAST(sum(${microsSql("o_totalprice")})
             AS BIGINT) sp
         FROM orders JOIN customer ON c_custkey = o_custkey
         GROUP BY 1, 2),
       r AS (SELECT c_mktsegment, o_custkey, sp,
               row_number() OVER (PARTITION BY c_mktsegment
                 ORDER BY sp DESC, o_custkey) rk
             FROM s)
       SELECT c_mktsegment,
         string_agg(CAST(o_custkey AS VARCHAR), ',' ORDER BY rk)
           AS top3_custkeys,
         CAST(sum(sp) AS BIGINT) AS top3_spend_micro
       FROM r WHERE rk <= 3 GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val sp = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"), col("o_custkey"))
      .agg(sum(micros(col("o_totalprice"))).cast("long").as("sp"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("sp").desc, col("o_custkey"))
    sp.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .groupBy(col("c_mktsegment"))
      .agg(expr("listagg(CAST(o_custkey AS STRING), ',')" +
          " WITHIN GROUP (ORDER BY rk)").as("top3_custkeys"),
        sum(col("sp")).cast("long").as("top3_spend_micro"))
      .orderBy(col("c_mktsegment"))
  }

  /** Case-insensitive grouping through Spark 4 COLLATIONS (the
    * engine-native path — no lower() rewrite on the grouping key):
    * part types are re-cased by key parity so every type exists in
    * two spellings, then grouped under UTF8_LCASE collation, which
    * must merge them back to one group per type. The emitted key is
    * lower()-normalized (the group's representative spelling is
    * engine-internal); the oracle groups by lower() directly —
    * identical groups, counts, and micro-sums or the collation path
    * is broken. */
  val collatedGroup: QueryDef = QueryDef.sql(
    s"""WITH m AS (SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
             ELSE p_type END AS t,
           ${microsSql("p_retailprice")} pm
         FROM part)
       SELECT lower(t) AS p_type_lc, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pm) AS BIGINT) AS price_micro
       FROM m GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.part(s, d)
      .select(when(col("p_partkey") % 2 === 0, upper(col("p_type")))
          .otherwise(col("p_type")).as("t"),
        micros(col("p_retailprice")).as("pm"))
      .groupBy(expr("collate(t, 'UTF8_LCASE')").as("tc"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("pm")).cast("long").as("price_micro"))
      .select(lower(col("tc")).cast("string").as("p_type_lc"),
        col("n"), col("price_micro"))
      .orderBy(col("p_type_lc"))
  }

  /** Declared SQL UDF (Spark 4's `CREATE FUNCTION … RETURN expr` —
    * SQL:2016 PSM-lite): a taxed-revenue scalar defined ONCE in the
    * catalog and reused by name. Unlike a JVM-closure UDF (a
    * codegen-opaque black box this engine bans from hot paths), a
    * SQL UDF is INLINED into the plan by the analyzer — the
    * expression participates in whole-stage codegen, constant
    * folding and pushdown exactly as if written inline, which the
    * oracle pins by computing the same expression literally. */
  val sqlUdfTaxed: QueryDef = QueryDef.sql(
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*1.08*100
           +0.5) AS BIGINT)) AS BIGINT) AS taxed_cents
       FROM lineitem GROUP BY 1 ORDER BY 1""") { (s, d) =>
    s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_taxed(" +
      "p DOUBLE, disc DOUBLE) RETURNS DOUBLE RETURN p * (1 - disc) * 1.08")
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        expr("graft_taxed(l_extendedprice, l_discount)").as("t"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(floor(col("t") * 100 + lit(0.5)).cast("long")).cast("long")
          .as("taxed_cents"))
      .orderBy(col("l_returnflag"))
  }

  /** Semi-structured ingest-function roundtrip — the three in-row
    * parsers (from_json, from_csv, from_xml) every landing-zone
    * pipeline runs on message payloads, exercised as build→parse→
    * compare audits over real column values (the q35/q37 codec-
    * roundtrip pattern applied to text formats; VARIANT already
    * covers schemaless JSON at q326 — this row is the SCHEMA-FULL
    * parser surface). Everything is row-local (parsers are codegen'd
    * expressions, no shuffle but the output order), and the ok
    * booleans are in-plan claims the driver hash-checks: a parser
    * that drops a field, mis-types a long, or mangles a quoted
    * string fails the compare. */
  val multiformatRoundtrip: QueryDef = QueryDef.sql(
    """SELECT o_orderkey, o_orderstatus, o_orderpriority,
              TRUE AS json_ok, TRUE AS csv_ok, TRUE AS xml_ok
       FROM orders ORDER BY 1""") { (s, d) =>
    val o = Tables.orders(s, d)
    val jparsed = from_json(
      to_json(struct(col("o_orderkey"), col("o_orderstatus"))),
      org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_orderstatus STRING"))
    val cparsed = from_csv(
      to_csv(struct(col("o_custkey"), col("o_orderpriority"))),
      org.apache.spark.sql.types.StructType.fromDDL(
        "o_custkey BIGINT, o_orderpriority STRING"),
      Map.empty[String, String])
    val xparsed = from_xml(
      concat(lit("<o><k>"), col("o_orderkey"), lit("</k><p>"),
        col("o_orderpriority"), lit("</p></o>")),
      org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, p STRING"))
    // the three parsers are row-local but CPU-heavy (from_xml runs a
    // real XML parser per row) and the orders scan is one split at
    // fixture file sizes: spread the parse across the session's
    // parallelism, and persist so the final sort's range-boundary
    // sample pass doesn't run every parser a second time
    val parsed = graft.ops.Spread(o.select(col("o_orderkey"),
        col("o_orderstatus"), col("o_orderpriority"), col("o_custkey")))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"),
        (jparsed.getField("o_orderkey") === col("o_orderkey")
          && jparsed.getField("o_orderstatus") === col("o_orderstatus"))
          .as("json_ok"),
        (cparsed.getField("o_custkey") === col("o_custkey")
          && cparsed.getField("o_orderpriority")
             === col("o_orderpriority")).as("csv_ok"),
        (xparsed.getField("k") === col("o_orderkey")
          && xparsed.getField("p") === col("o_orderpriority"))
          .as("xml_ok"))
    graft.ops.Spread.persistSorted(parsed, col("o_orderkey"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q353_multiformat_roundtrip" -> multiformatRoundtrip,
    "q331_listagg_top_spenders" -> listaggTopSpenders,
    "q332_collated_group" -> collatedGroup,
    "q340_sql_udf_taxed" -> sqlUdfTaxed,
    "q320_orders_month_index" -> ordersMonthIndex,
    "q322_segment_order_percentiles" -> segmentOrderPercentiles,
    "q323_brand_share_slope" -> brandShareSlope,
    "q211_pivot_counts" -> pivotCounts,
    "q258_lorenz_deciles" -> lorenzDeciles,
    "q260_fd_violations" -> fdViolations,
    "q290_share_of_parent" -> shareOfParent,
    "q312_segment_balance_profile" -> segmentBalanceProfile,
    "q313_supplier_balance_outliers" -> supplierBalanceOutliers,
    "q226_ohlc_bars" -> ohlcBars,
    "q234_rfm_segments" -> rfmSegments,
    "q246_ltv_triangle" -> ltvTriangle,
    "q218_reconciliation" -> reconciliation,
    "q220_capped_balance" -> cappedBalance,
    "q221_weighted_median" -> weightedMedian,
    "q212_rollup_acctbal" -> rollupAcctbal,
    "q213_window_rank_breadth" -> windowRankBreadth,
    "q214_scd2_build" -> scd2Build)
}
