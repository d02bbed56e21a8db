package graft.queries

import graft.{QueryDef, Tables}
import graft.Rounding.{micros, microsSql, r6, r6sql}
import graft.ops.Features.{epochDay, epochDaySql}
import graft.text.TextOps
import graft.text.TextOps.tokensSql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical-profiling tier: the data-quality / EDA operators a
  * training-data pipeline runs over a new corpus before committing
  * compute to it (distribution drift, field dependence, digit
  * anomalies, feature redundancy, temporal structure).
  *
  * Cross-engine determinism stance (SURVEY §13, Rounding.scala):
  * fact-sized reductions are exact (integer counts or DECIMAL sums);
  * floating math happens only on the tiny aggregated residue, as the
  * identical IEEE op sequence on both engines, rounded via
  * `Rounding.r6` (the floor form). Where a sum over a small
  * uncertain-order set of doubles decides output (q202's cell
  * fold), both engines fold in explicit key order.
  */
object Stats {

  /** Whole 7-day blocks since the epoch of the events' `ts`; the
    * oracles write `epochDaySql("ts") // 7`. */
  private def epochWeek: Column =
    call_function("div", epochDay(col("ts")), lit(7))

  /** Pearson correlation from exact sufficient statistics, computed
    * in double only at the final (single-row) step. try_divide, not
    * `/` (the VectorOps.cosine stance): a zero-variance group makes
    * the denominator exactly 0.0, which throws under Spark 4's ANSI
    * default while the DuckDB oracle naturally yields NULL. */
  private def pearson(n: Column, sx: Column, sy: Column, sxx: Column,
      syy: Column, sxy: Column): Column = {
    val nd = n.cast("double")
    val (dx, dy, dxy) =
      (sxx.cast("double"), syy.cast("double"), sxy.cast("double"))
    val (mx, my) = (sx.cast("double"), sy.cast("double"))
    r6(try_divide(nd * dxy - mx * my,
      sqrt((nd * dx - mx * mx) * (nd * dy - my * my))))
  }

  /** Population-stability-index drift between the first and second
    * half of the month, per event_type — the standard ML-monitoring
    * "did the feature distribution move?" check (q99's chi-square
    * tests association; PSI quantifies shift against a reference
    * window; q189's CUSUM is the sequential twin). Buckets are FIXED
    * width (floor(value/10) clamped to [0,9]) — never quantile-based,
    * so bucketing is an exact integer op and the only fact-sized
    * stage is ONE hash aggregate to ≤ |types|×2×10 cells. Per-bucket
    * shares are single IEEE divides of exact longs; each bucket's PSI
    * contribution is rounded at 1e-6 and folded in explicit bucket
    * order (the q186 fixed-order-fold recipe), so the ≤10-term double
    * sum is order-identical cross-engine. */
  val psiDrift: QueryDef = QueryDef.sql(
    s"""WITH b AS (SELECT event_type,
             CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS half,
             least(greatest(CAST(floor(value / 10) AS INTEGER), 0), 9)
               AS bucket,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2, 3),
       tot AS (SELECT event_type AS et, half AS h,
                 CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY 1, 2),
       p AS (SELECT b.event_type, b.bucket,
               sum(CASE WHEN b.half = 0
                 THEN CAST(c AS DOUBLE) / n ELSE 0 END) AS p0,
               sum(CASE WHEN b.half = 1
                 THEN CAST(c AS DOUBLE) / n ELSE 0 END) AS p1
             FROM b JOIN tot ON b.event_type = tot.et AND b.half = tot.h
             GROUP BY 1, 2),
       cell AS (SELECT event_type, bucket,
           ${r6sql(
             """(p1 - p0) * ln(greatest(p1, 0.0001)
                / greatest(p0, 0.0001))""")} AS contrib
         FROM p)
       SELECT event_type,
         ${r6sql(
           "list_sum(list(contrib ORDER BY bucket))")} AS psi,
         CAST(count(*) AS BIGINT) AS n_buckets
       FROM cell GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val b = Tables.events(s, d)
      .groupBy(col("event_type"),
        when(dayofmonth(col("ts")) <= 15, 0).otherwise(1).as("half"),
        least(greatest(floor(col("value") / 10).cast("int"), lit(0)),
          lit(9)).as("bucket"))
      .agg(count(lit(1)).cast("long").as("c"))
    val tot = b.groupBy(col("event_type").as("et"),
        col("half").as("h"))
      .agg(sum(col("c")).cast("long").as("n"))
    val share = col("c").cast("double") / col("n")
    val p = b.join(tot,
        col("event_type") === col("et") && col("half") === col("h"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("half") === 0, share).otherwise(0.0)).as("p0"),
        sum(when(col("half") === 1, share).otherwise(0.0)).as("p1"))
    p.select(col("event_type"), col("bucket"),
        r6((col("p1") - col("p0")) *
          log(greatest(col("p1"), lit(0.0001)) /
            greatest(col("p0"), lit(0.0001)))).as("contrib"))
      .groupBy(col("event_type"))
      .agg(
        r6(aggregate(
          transform(array_sort(collect_list(struct(col("bucket"),
            col("contrib")))), _.getField("contrib")),
          lit(0.0), _ + _)).as("psi"),
        count(lit(1)).cast("long").as("n_buckets"))
      .orderBy(col("event_type"))
  }

  /** First-order Markov transition matrix over per-user event
    * sequences (the session-behavior model next to q110's
    * attribution and q151's sessionization). ONE key shuffle
    * (user_id) orders each user's bounded sequence for the lag;
    * transition counts then aggregate on the 25-cell (from, to) key
    * with map-side partials. Probabilities are a single IEEE divide
    * of exact longs, rounded. Window determinism: (ts, event_id)
    * total order per user, the q44 convention. */
  val markovTransitions: QueryDef = QueryDef.sql(
    s"""WITH s AS (SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev
           FROM events),
       t AS (SELECT prev AS from_type, event_type AS to_type,
               CAST(count(*) AS BIGINT) AS cnt
             FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
       tot AS (SELECT from_type AS ftype, CAST(sum(cnt) AS BIGINT)
                 AS ft FROM t GROUP BY 1)
       SELECT from_type, to_type, cnt,
         ${r6sql(
           "CAST(cnt AS DOUBLE) / CAST(ft AS DOUBLE)")} AS prob
       FROM t JOIN tot ON t.from_type = tot.ftype
       ORDER BY from_type, to_type""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val t = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev"))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val tot = t.groupBy(col("from_type").as("ftype"))
      .agg(sum(col("cnt")).cast("long").as("ft"))
    t.join(tot, col("from_type") === col("ftype"))
      .select(col("from_type"), col("to_type"), col("cnt"),
        r6(col("cnt").cast("double") / col("ft").cast("double"))
          .as("prob"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Benford first-significant-digit profile of the value column —
    * the classic synthetic-data / fraud smell test. Digit extraction
    * is engine-portable by construction: floor(value*1e6) is the
    * identical IEEE multiply+floor on both engines, the exact long
    * renders identically as a string, and the first non-zero char is
    * the first significant digit of any value ≥ 1e-6 — no log10
    * (libm) anywhere. The domain guard is value ≥ 1e-6 (not > 0):
    * below the quantization grain the long is 0, whose stripped
    * string is empty — a NULL digit on Spark but a hard DuckDB cast
    * error. One hash aggregate to ≤ 9 cells. */
  val benfordDigits: QueryDef = QueryDef.sql(
    s"""WITH d AS (SELECT CAST(substr(ltrim(
             CAST(CAST(floor(value * 1000000) AS BIGINT) AS VARCHAR),
             '0'), 1, 1) AS INTEGER) AS digit
           FROM events WHERE value >= 0.000001),
       c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt
             FROM d GROUP BY 1),
       t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
       SELECT digit, cnt,
         ${r6sql(
           "CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)")} AS share
       FROM c, t ORDER BY digit""") { (s, d) =>
    val c = Tables.events(s, d)
      .filter(col("value") >= 0.000001)
      .select(substring(ltrim(
          floor(col("value") * 1000000).cast("long").cast("string"),
          "0"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val t = c.agg(sum(col("cnt")).cast("long").as("n"))
    c.crossJoin(t)
      .select(col("digit"), col("cnt"),
        r6(col("cnt").cast("double") / col("n").cast("double"))
          .as("share"))
      .orderBy(col("digit"))
  }

  /** Pairwise Pearson correlation of the lineitem numeric features —
    * the feature-redundancy screen before training. All sufficient
    * statistics (sums, squares, cross-products) accumulate as EXACT
    * decimals in ONE full-scan aggregate (single reduce to one row —
    * no shuffle of the fact, no per-pair rescans; the DuckDB oracle's
    * 4-scan UNION form is numerically identical because the sums are
    * exact). The 2-decimal fixture values cast losslessly to
    * DECIMAL(15,2); products are DECIMAL(30,4) so every sum is
    * order-free. Pairs unpivot from the one stats row. */
  val featureCorr: QueryDef = QueryDef.sql(
    s"""WITH q AS (SELECT CAST(l_quantity AS DECIMAL(15,2)) AS a,
             CAST(l_extendedprice AS DECIMAL(15,2)) AS b,
             CAST(l_discount AS DECIMAL(15,2)) AS c,
             CAST(l_tax AS DECIMAL(15,2)) AS d FROM lineitem),
       u AS (
         SELECT 'quantity_extendedprice' AS pair,
             CAST(count(*) AS BIGINT) AS n, sum(a) AS sx, sum(b) AS sy,
             sum(CAST(a*a AS DECIMAL(30,4))) AS sxx,
             sum(CAST(b*b AS DECIMAL(30,4))) AS syy,
             sum(CAST(a*b AS DECIMAL(30,4))) AS sxy FROM q
         UNION ALL SELECT 'quantity_discount',
             CAST(count(*) AS BIGINT), sum(a), sum(c),
             sum(CAST(a*a AS DECIMAL(30,4))),
             sum(CAST(c*c AS DECIMAL(30,4))),
             sum(CAST(a*c AS DECIMAL(30,4))) FROM q
         UNION ALL SELECT 'extendedprice_discount',
             CAST(count(*) AS BIGINT), sum(b), sum(c),
             sum(CAST(b*b AS DECIMAL(30,4))),
             sum(CAST(c*c AS DECIMAL(30,4))),
             sum(CAST(b*c AS DECIMAL(30,4))) FROM q
         UNION ALL SELECT 'discount_tax',
             CAST(count(*) AS BIGINT), sum(c), sum(d),
             sum(CAST(c*c AS DECIMAL(30,4))),
             sum(CAST(d*d AS DECIMAL(30,4))),
             sum(CAST(c*d AS DECIMAL(30,4))) FROM q)
       SELECT pair, n, ${r6sql(
         """(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))""")} AS corr
       FROM u ORDER BY pair""") { (s, d) =>
    val cols = Seq("a" -> "l_quantity", "b" -> "l_extendedprice",
      "c" -> "l_discount", "d" -> "l_tax")
    val q = Tables.lineitem(s, d).select(cols.map { case (n, src) =>
      col(src).cast("decimal(15,2)").as(n)
    }: _*)
    val pairs = Seq(
      ("quantity_extendedprice", "a", "b"),
      ("quantity_discount", "a", "c"),
      ("extendedprice_discount", "b", "c"),
      ("discount_tax", "c", "d"))
    val sums = cols.map(_._1).map(n => sum(col(n)).as(s"s_$n")) ++
      (for ((x, y) <- Seq(("a", "a"), ("b", "b"), ("c", "c"),
          ("d", "d"), ("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")))
        yield sum((col(x) * col(y)).cast("decimal(30,4)"))
          .as(s"s_$x$y"))
    val aggs = count(lit(1)).cast("long").as("n") +: sums
    val g = q.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (name, x, y) =>
      struct(lit(name).as("pair"), col("n"),
        pearson(col("n"), col(s"s_$x"), col(s"s_$y"),
          col(s"s_$x$x"), col(s"s_$y$y"), col(s"s_$x$y")).as("corr"))
    }
    g.select(explode(array(rows: _*)).as("r"))
      .select(col("r.pair").as("pair"), col("r.n").as("n"),
        col("r.corr").as("corr"))
      .orderBy(col("pair"))
  }

  /** Lag-1 autocorrelation of per-type daily event counts — the
    * temporal-structure probe behind q175's Holt forecast (is there
    * day-to-day memory worth modeling?). Fact touches ONE aggregate
    * to ~150 (type, day) cells; the lag window and sufficient
    * statistics run on that residue with exact long arithmetic
    * (counts and their products stay < 2^53), one IEEE
    * formula+sqrt at the end. */
  val dailyAutocorr: QueryDef = QueryDef.sql(
    s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
       p AS (SELECT event_type, c AS y,
               lag(c) OVER (PARTITION BY event_type ORDER BY day) AS x
             FROM d),
       s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
               sum(y*y) AS syy, sum(x*y) AS sxy
             FROM p WHERE x IS NOT NULL GROUP BY 1)
       SELECT event_type, n, ${r6sql(
         """(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))""")}
         AS autocorr
       FROM s ORDER BY event_type""") { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val p = daily.select(col("event_type"), col("c").as("y"),
        lag(col("c"), 1).over(w).as("x"))
      .filter(col("x").isNotNull)
    p.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("n"),
        pearson(col("n"), col("sx"), col("sy"), col("sxx"),
          col("syy"), col("sxy")).as("autocorr"))
      .orderBy(col("event_type"))
  }

  /** Per-type OLS regression of value against hour-of-day — the
    * closed-form trend fit (is there an intraday effect worth a
    * feature?). The value is quantized at 1e-6 (exact integer
    * micro-units, the q186 recipe) so every sufficient statistic is
    * an EXACT integer sum accumulated in DECIMAL (longs would
    * overflow near 100 TB row counts: 1e12 rows × 1e9 micro-units);
    * slope/intercept are one IEEE formula on the 5-row residue. ONE
    * fact-sized hash aggregate. */
  val hourlyOls: QueryDef = QueryDef.sql(
    s"""WITH q AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
             CAST(floor(value * 1000000) AS BIGINT) AS v
           FROM events),
       s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               sum(CAST(x AS DECIMAL(38,0))) AS sx,
               sum(CAST(v AS DECIMAL(38,0))) AS sv,
               sum(CAST(x*x AS DECIMAL(38,0))) AS sxx,
               sum(CAST(x*v AS DECIMAL(38,0))) AS sxv
             FROM q GROUP BY 1)
       SELECT event_type, n,
         ${r6sql(
           """(CAST(n AS DOUBLE)*CAST(sxv AS DOUBLE)
                - CAST(sx AS DOUBLE)*CAST(sv AS DOUBLE))
              / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) / 1000000.0"""
         )} AS slope,
         ${r6sql(
           """(CAST(sv AS DOUBLE)
                - ((CAST(n AS DOUBLE)*CAST(sxv AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sv AS DOUBLE))
                  / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
                  * CAST(sx AS DOUBLE))
              / CAST(n AS DOUBLE) / 1000000.0""")} AS intercept
       FROM s ORDER BY event_type""") { (s, d) =>
    val q = Tables.events(s, d).select(col("event_type"),
      hour(col("ts")).cast("long").as("x"),
      floor(col("value") * 1000000).cast("long").as("v"))
    val g = q.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("v").cast("decimal(38,0)")).as("sv"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("v")).cast("decimal(38,0)")).as("sxv"))
    val nd = col("n").cast("double")
    val (sx, sv, sxx, sxv) = (col("sx").cast("double"),
      col("sv").cast("double"), col("sxx").cast("double"),
      col("sxv").cast("double"))
    // try_divide: a type whose events all share one hour-of-day has
    // zero x-variance — DuckDB's double /0 is NULL, ANSI `/` throws
    val slope = try_divide(nd * sxv - sx * sv, nd * sxx - sx * sx)
    g.select(col("event_type"), col("n"),
        r6(slope / 1000000.0).as("slope"),
        r6((sv - slope * sx) / nd / 1000000.0).as("intercept"))
      .orderBy(col("event_type"))
  }

  /** Gini coefficient of per-user activity — the contribution-
    * inequality summary (is the corpus dominated by a few heavy
    * sources?). The fact reduces to per-user counts on ONE key
    * shuffle; the rank-weighted form then runs over the USER-
    * cardinality residue (dimension-sized, like the customer table —
    * documented bound, not fact-sized), where the single-partition
    * rank window is bounded by |users|. All sums are exact integers;
    * one IEEE formula at the end. */
  val giniActivity: QueryDef = QueryDef.sql(
    s"""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
             FROM events GROUP BY 1),
       r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS i
             FROM u),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS sc,
               CAST(sum(i*c) AS BIGINT) AS sic FROM r)
       SELECT n, sc AS total_events,
         ${r6sql(
           """2.0 * CAST(sic AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(sc AS DOUBLE))
              - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE)""")}
         AS gini
       FROM s""") { (s, d) =>
    val u = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("c"))
    val w = Window.orderBy(col("c"), col("user_id"))
    val r = u.select(col("c"), row_number().over(w).cast("long").as("i"))
    val g = r.agg(count(lit(1)).cast("long").as("n"),
      sum(col("c")).cast("long").as("sc"),
      sum(col("i") * col("c")).cast("long").as("sic"))
    val (n, sc, sic) = (col("n").cast("double"),
      col("sc").cast("double"), col("sic").cast("double"))
    g.select(col("n"), col("sc").as("total_events"),
      r6(lit(2.0) * sic / (n * sc) - (n + 1) / n).as("gini"))
  }

  /** Ordered conversion funnel view → click → purchase with
    * per-stage time windows (click within 4 h of first view,
    * purchase within 24 h of that click) — the product-analytics
    * staple. Each stage is a conditional min-timestamp aggregate
    * keyed on user_id; all three stages and both joins share the ONE
    * user_id partitioning (a co-partitioned chain — no re-shuffle
    * between stages), and stage outputs are user-cardinality sized.
    * Timestamps compare exactly (microsecond integers); no floats
    * anywhere. */
  val funnel: QueryDef = QueryDef.sql(
    """WITH t1 AS (SELECT user_id, min(ts) AS ts1 FROM events
             WHERE event_type = 'view' GROUP BY 1),
       t2 AS (SELECT e.user_id, min(ts) AS ts2 FROM events e
             JOIN t1 ON e.user_id = t1.user_id
             WHERE event_type = 'click' AND ts > ts1
               AND ts <= ts1 + INTERVAL 4 HOUR GROUP BY 1),
       t3 AS (SELECT e.user_id, min(ts) AS ts3 FROM events e
             JOIN t2 ON e.user_id = t2.user_id
             WHERE event_type = 'purchase' AND ts > ts2
               AND ts <= ts2 + INTERVAL 24 HOUR GROUP BY 1)
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM t1) AS n_view,
              (SELECT CAST(count(*) AS BIGINT) FROM t2) AS n_click,
              (SELECT CAST(count(*) AS BIGINT) FROM t3) AS n_purchase
       """) { (s, d) =>
    val ev = Tables.events(s, d)
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("ts") > col("ts1") &&
        col("ts") <= col("ts1") + expr("INTERVAL 4 HOUR"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("ts") > col("ts2") &&
        col("ts") <= col("ts2") + expr("INTERVAL 24 HOUR"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts3"))
    t1.agg(count(lit(1)).cast("long").as("n_view"))
      .crossJoin(t2.agg(count(lit(1)).cast("long").as("n_click")))
      .crossJoin(t3.agg(count(lit(1)).cast("long").as("n_purchase")))
  }

  /** Gopher-style repetition quality signals per document: distinct-
    * token ratio and top-bigram share (the two repetition screens a
    * pretraining curation pass runs before quality scoring; the
    * fixture corpus has no newlines, so the line-level variants
    * collapse to these token-level ones). Bigram counting shuffles on
    * (doc, bigram) with map-side partials; everything else is
    * per-row. The flag compares the ROUNDED share so both engines
    * test the same 6-decimal constant (q143 stance). */
  val repetitionSignals: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")}
             AS toks FROM documents),
       b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i+1])) AS bg
             FROM t WHERE len(toks) >= 2),
       bc AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
              FROM b GROUP BY 1, 2),
       agg AS (SELECT doc_id AS a_id, CAST(max(c) AS BIGINT) AS top_c,
                 CAST(sum(c) AS BIGINT) AS n_bg FROM bc GROUP BY 1),
       tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
                 CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
               FROM t)
       SELECT doc_id, n_tok,
         ${r6sql(
           "CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE)")}
           AS distinct_ratio,
         top_c AS top_bigram_count,
         ${r6sql(
           "CAST(top_c AS DOUBLE) / CAST(n_bg AS DOUBLE)")}
           AS top_bigram_share,
         CAST(CASE WHEN ${r6sql(
           "CAST(top_c AS DOUBLE) / CAST(n_bg AS DOUBLE)")} > 0.05
           THEN 1 ELSE 0 END AS INTEGER) AS flagged
       FROM tok JOIN agg ON doc_id = a_id
       ORDER BY doc_id""") { (s, d) =>
    val t = Tables.documents(s, d).select(col("doc_id"),
      TextOps.tokens(col("text")).as("toks"))
    val bc = t.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("toks")) - 2),
        i => concat(element_at(col("toks"), i + 1), lit(" "),
          element_at(col("toks"), i + 2)))).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).cast("long").as("c"))
    val agg = bc.groupBy(col("doc_id").as("a_id"))
      .agg(max(col("c")).cast("long").as("top_c"),
        sum(col("c")).cast("long").as("n_bg"))
    val tok = t.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tok"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    val share = r6(col("top_c").cast("double") /
      col("n_bg").cast("double"))
    tok.join(agg, col("doc_id") === col("a_id"))
      .select(col("doc_id"), col("n_tok"),
        r6(col("n_distinct").cast("double") /
          col("n_tok").cast("double")).as("distinct_ratio"),
        col("top_c").as("top_bigram_count"),
        share.as("top_bigram_share"),
        when(share > 0.05, 1).otherwise(0).cast("int").as("flagged"))
      .orderBy(col("doc_id"))
  }

  /** Classifier evaluation harness: confusion matrix +
    * precision/recall/F1 for a deterministic linear probe
    * (alternating ±1 weights over the embedding, the fixed-dim-order
    * fold — identical double sequence on both engines, so the sign
    * is bit-stable) scored against `label % 2`. The operator under
    * test is the EVAL reduction itself — four conditional counts in
    * ONE pass, metrics as single divides of exact longs — the shape
    * every model-quality gate at 100 TB reduces to. */
  val classifierEval: QueryDef = QueryDef.sql(
    s"""WITH p AS (SELECT vec_id,
             CASE WHEN list_sum(list_transform(
                 range(1, len(embedding) + 1),
                 i -> CAST(embedding[i] AS DOUBLE)
                   * (CASE WHEN i % 2 = 1 THEN 1.0 ELSE -1.0 END))) > 0
               THEN 1 ELSE 0 END AS pred,
             CAST(label % 2 AS INTEGER) AS truth
           FROM embeddings),
       c AS (SELECT
           CAST(sum(CASE WHEN pred = 1 AND truth = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS tp,
           CAST(sum(CASE WHEN pred = 1 AND truth = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS fp,
           CAST(sum(CASE WHEN pred = 0 AND truth = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS fn,
           CAST(sum(CASE WHEN pred = 0 AND truth = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS tn
         FROM p)
       SELECT tp, fp, fn, tn,
         ${r6sql(
           "CAST(tp AS DOUBLE) / (tp + fp)")} AS precision,
         ${r6sql(
           "CAST(tp AS DOUBLE) / (tp + fn)")} AS recall,
         ${r6sql(
           "2.0 * tp / (2.0 * tp + fp + fn)")} AS f1
       FROM c""") { (s, d) =>
    val v = graft.vector.VectorOps.toDouble(col("embedding"))
    val score = aggregate(
      zip_with(v, sequence(lit(0), size(v) - 1),
        (x, i) => x * when(i % 2 === 0, lit(1.0)).otherwise(lit(-1.0))),
      lit(0.0), _ + _)
    val p = Tables.embeddings(s, d).select(
      when(score > 0, 1).otherwise(0).as("pred"),
      (col("label") % 2).cast("int").as("truth"))
    val c = p.agg(
      sum(when(col("pred") === 1 && col("truth") === 1, 1)
        .otherwise(0)).cast("long").as("tp"),
      sum(when(col("pred") === 1 && col("truth") === 0, 1)
        .otherwise(0)).cast("long").as("fp"),
      sum(when(col("pred") === 0 && col("truth") === 1, 1)
        .otherwise(0)).cast("long").as("fn"),
      sum(when(col("pred") === 0 && col("truth") === 0, 1)
        .otherwise(0)).cast("long").as("tn"))
    val (tp, fp, fn, tn) = (col("tp").cast("double"),
      col("fp").cast("double"), col("fn").cast("double"),
      col("tn").cast("double"))
    // try_divide: a single-class prediction (tp+fp = 0) or an
    // all-negative truth (tp+fn = 0) must yield NULL like the
    // oracle's double /0, not an ANSI DIVIDE_BY_ZERO
    c.select(col("tp"), col("fp"), col("fn"), col("tn"),
      r6(try_divide(tp, tp + fp)).as("precision"),
      r6(try_divide(tp, tp + fn)).as("recall"),
      r6(try_divide(lit(2.0) * tp, lit(2.0) * tp + fp + fn)).as("f1"))
  }

  /** Classical seasonal decomposition (trend / weekly seasonal /
    * remainder) of per-type daily counts — the STL-style shape next
    * to q175's Holt and q189's CUSUM. The fact reduces to the ~150-
    * cell daily grid in ONE aggregate; trend is a centered 7-day
    * moving average (exact long sum / 7, null at edges), the
    * day-of-week seasonal means fold their ≤4 residuals in explicit
    * day order (the fixed-order-fold recipe — a plain avg over
    * doubles would be partition-order dependent), and the remainder
    * subtracts the ROUNDED seasonal so both engines difference the
    * same 6-decimal value. */
  val seasonalDecompose: QueryDef = QueryDef.sql(
    s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
       t AS (SELECT event_type, day, c,
               CASE WHEN count(*) OVER w = 7
                 THEN CAST(sum(c) OVER w AS DOUBLE) / 7 END AS trend
             FROM d
             WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       s AS (SELECT event_type AS s_et,
               CAST(dayofweek(day) AS INTEGER) AS dow,
               ${r6sql(
                 "list_sum(list(c - trend ORDER BY day)) / count(*)")}
                 AS seasonal
             FROM t WHERE trend IS NOT NULL GROUP BY 1, 2)
       SELECT event_type, CAST(day AS VARCHAR) AS day, c,
         ${r6sql("trend")} AS trend, seasonal,
         ${r6sql("c - trend - seasonal")} AS remainder
       FROM t JOIN s ON event_type = s_et
         AND CAST(dayofweek(day) AS INTEGER) = dow
       WHERE trend IS NOT NULL
       ORDER BY event_type, day""") { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val t = daily.select(col("event_type"), col("day"), col("c"),
        when(count(lit(1)).over(w) === 7,
          sum(col("c")).over(w).cast("double") / 7).as("trend"))
      .filter(col("trend").isNotNull)
    val seas = t.groupBy(col("event_type").as("s_et"),
        dayofweek(col("day")).cast("int").as("dow"))
      .agg(r6(aggregate(
        transform(array_sort(collect_list(struct(col("day"),
          (col("c") - col("trend")).as("resid")))),
          _.getField("resid")),
        lit(0.0), _ + _) / count(lit(1))).as("seasonal"))
    t.join(seas, col("event_type") === col("s_et") &&
        dayofweek(col("day")).cast("int") === col("dow"))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("c"), r6(col("trend")).as("trend"), col("seasonal"),
        r6(col("c") - col("trend") - col("seasonal")).as("remainder"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Market-basket association rules over (user, day) baskets:
    * support / confidence / lift per event-type pair — the retail
    * twin of q98's PMI collocations (PMI is log-lift on token
    * pairs; this is the rule-mining formulation with its three
    * standard metrics). Baskets dedupe on ONE (user, day, type)
    * distinct; the pair join is WITHIN-basket only (equi-join on the
    * basket key, ≤ |types| rows per basket — never a cross join of
    * types against types globally); metrics are single IEEE
    * divides of exact longs in an identical op sequence on both
    * engines, rounded. */
  val associationRules: QueryDef = QueryDef.sql(
    s"""WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
             event_type FROM events),
       nb AS (SELECT CAST(count(DISTINCT (user_id, day)) AS BIGINT)
                AS n FROM b),
       s1 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
              FROM b GROUP BY 1),
       p AS (SELECT a.event_type AS ante, c.event_type AS cons,
               CAST(count(*) AS BIGINT) AS cab
             FROM b a JOIN b c ON a.user_id = c.user_id
               AND a.day = c.day AND a.event_type < c.event_type
             GROUP BY 1, 2)
       SELECT ante, cons, cab,
         ${r6sql(
           "CAST(cab AS DOUBLE) / CAST(n AS DOUBLE)")} AS support,
         ${r6sql(
           "CAST(cab AS DOUBLE) / CAST(sa.c AS DOUBLE)")}
           AS confidence,
         ${r6sql(
           """(CAST(cab AS DOUBLE) * CAST(n AS DOUBLE))
              / (CAST(sa.c AS DOUBLE) * CAST(sc.c AS DOUBLE))""")}
           AS lift
       FROM p, nb JOIN s1 sa ON ante = sa.event_type
         JOIN s1 sc ON cons = sc.event_type
       ORDER BY ante, cons""") { (s, d) =>
    val b = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type")).distinct()
    val nb = b.agg(countDistinct(col("user_id"), col("day"))
      .cast("long").as("n"))
    val s1 = b.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("c"))
    val p = b.as("a").join(b.as("cc"),
        col("a.user_id") === col("cc.user_id") &&
        col("a.day") === col("cc.day") &&
        col("a.event_type") < col("cc.event_type"))
      .groupBy(col("a.event_type").as("ante"),
        col("cc.event_type").as("cons"))
      .agg(count(lit(1)).cast("long").as("cab"))
    val withCounts = p.crossJoin(nb)
      .join(s1.select(col("event_type").as("sa_t"),
        col("c").as("sa_c")), col("ante") === col("sa_t"))
      .join(s1.select(col("event_type").as("sc_t"),
        col("c").as("sc_c")), col("cons") === col("sc_t"))
    val (cab, n, sa, sc) = (col("cab").cast("double"),
      col("n").cast("double"), col("sa_c").cast("double"),
      col("sc_c").cast("double"))
    withCounts.select(col("ante"), col("cons"), col("cab"),
        r6(cab / n).as("support"),
        r6(cab / sa).as("confidence"),
        r6((cab * n) / (sa * sc)).as("lift"))
      .orderBy(col("ante"), col("cons"))
  }

  /** Time-weighted average (TWAP) of value per user — each reading
    * holds until the next event, so its weight is the microseconds
    * held (the metrics/finance averaging that plain avg gets wrong
    * under irregular sampling). ONE user_id shuffle serves both the
    * lead window and the aggregate; weights are exact integer
    * microseconds, values exact 1e-6 quantizations, and the
    * weighted sum accumulates in DECIMAL(38) because value·duration
    * products reach ~1e20 — past long range even at fixture scale.
    * The open last interval is excluded on both engines. */
  val twap: QueryDef = QueryDef.sql(
    s"""WITH s AS (SELECT user_id, value, ts,
             lead(ts) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
           FROM events),
       w AS (SELECT user_id,
               CAST(floor(value * 1000000) AS BIGINT) AS v,
               epoch_us(nxt) - epoch_us(ts) AS dur
             FROM s WHERE nxt IS NOT NULL),
       a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
               CAST(sum(dur) AS BIGINT) AS total_us,
               sum(CAST(v AS DECIMAL(38,0)) * dur) AS sv
             FROM w GROUP BY 1)
       SELECT user_id, n_intervals, total_us,
         ${r6sql(
           "CAST(sv AS DOUBLE) / total_us / 1000000.0")} AS twap
       FROM a ORDER BY user_id""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val iv = Tables.events(s, d)
      .select(col("user_id"), col("value"), col("ts"),
        lead(col("ts"), 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
      .select(col("user_id"),
        floor(col("value") * 1000000).cast("long").as("v"),
        (unix_micros(col("nxt")) - unix_micros(col("ts"))).as("dur"))
    iv.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_intervals"),
        sum(col("dur")).cast("long").as("total_us"),
        sum(col("v").cast("decimal(38,0)") * col("dur")).as("sv"))
      .select(col("user_id"), col("n_intervals"), col("total_us"),
        r6(col("sv").cast("double") / col("total_us") / 1000000.0)
          .as("twap"))
      .orderBy(col("user_id"))
  }

  /** Spearman rank correlation (value vs. time) per event_type — the
    * robust monotone-trend screen (q205's Pearson is the linear
    * twin; rank space is outlier-immune). Ties get AVERAGE ranks,
    * carried as the integer doubled-rank d = 2*rank_min + tie_count
    * - 1, so every sufficient statistic is an exact integer:
    * products fit BIGINT at fixture group sizes (d ≤ 2n, d*d ≤ 4n²
    * — long-safe below n ≈ 1.5e9; beyond that, cast d to DECIMAL
    * before the multiply), sums accumulate in DECIMAL(38,0), and the
    * only floating math is the single-row Pearson-on-ranks close
    * (the shared `pearson` helper, r6 + try_divide). Both rank
    * windows PARTITION BY the same key, so Spark plans ONE hash
    * exchange on event_type with two sorts over it — rank-based
    * stats at 100 TB cost exactly that sort, which is the honest
    * price of exact ranks (the approximate path is q64's
    * quantile sketch). */
  val spearmanCorr: QueryDef = QueryDef.sql(
    s"""WITH r AS (
         SELECT event_type,
           2*rank() OVER (PARTITION BY event_type
               ORDER BY ${microsSql("value")})
             + count(*) OVER (PARTITION BY event_type,
                 ${microsSql("value")}) - 1 AS dx,
           2*rank() OVER (PARTITION BY event_type
               ORDER BY epoch_us(ts))
             + count(*) OVER (PARTITION BY event_type, epoch_us(ts))
             - 1 AS dy
         FROM events),
       a AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
           CAST(sum(dx) AS DECIMAL(38,0)) sx,
           CAST(sum(dy) AS DECIMAL(38,0)) sy,
           sum(CAST(dx*dx AS DECIMAL(38,0))) sxx,
           sum(CAST(dy*dy AS DECIMAL(38,0))) syy,
           sum(CAST(dx*dy AS DECIMAL(38,0))) sxy
         FROM r GROUP BY 1)
       SELECT event_type, n,
         ${r6sql(
           """(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))""")} AS rho
       FROM a ORDER BY 1""") { (s, d) =>
    val vk = micros(col("value"))
    val base = Tables.events(s, d).select(col("event_type"),
      vk.as("vk"), unix_micros(col("ts")).as("tk"))
    val wx = Window.partitionBy(col("event_type")).orderBy(col("vk"))
    val wxc = Window.partitionBy(col("event_type"), col("vk"))
    val wy = Window.partitionBy(col("event_type")).orderBy(col("tk"))
    val wyc = Window.partitionBy(col("event_type"), col("tk"))
    val r = base.select(col("event_type"),
      (lit(2L) * rank().over(wx).cast("long")
        + count(lit(1)).over(wxc) - 1).as("dx"),
      (lit(2L) * rank().over(wy).cast("long")
        + count(lit(1)).over(wyc) - 1).as("dy"))
    r.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("dx")).cast("decimal(38,0)").as("sx"),
        sum(col("dy")).cast("decimal(38,0)").as("sy"),
        sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxx"),
        sum((col("dy") * col("dy")).cast("decimal(38,0)")).as("syy"),
        sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxy"))
      .select(col("event_type"), col("n"),
        pearson(col("n"), col("sx"), col("sy"), col("sxx"),
          col("syy"), col("sxy")).as("rho"))
      .orderBy(col("event_type"))
  }

  /** Welch's two-sample t (click vs. purchase values) — the unequal-
    * variance A/B significance test run before trusting a metric
    * delta. Fact-sized work is ONE filtered aggregate to two rows of
    * exact sufficient statistics (quantized sums in DECIMAL(38,0) —
    * v² ≤ 4e16 is long-safe per row); the t statistic and
    * Welch–Satterthwaite df are a fixed single-row IEEE sequence on
    * both engines (sqrt is correctly rounded per IEEE-754, so it is
    * bit-stable cross-engine — the transcendental caveat in SURVEY
    * §13 does not apply to sqrt). try_divide guards the degenerate
    * zero-variance / n=1 cases that ANSI mode would throw on. */
  val welchTtest: QueryDef = QueryDef.sql(
    s"""WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
           CAST(sum(${microsSql("value")})
             AS DECIMAL(38,0)) s,
           sum(CAST(${microsSql("value")}
               * ${microsSql("value")}
             AS DECIMAL(38,0))) ss
         FROM events WHERE event_type IN ('click','purchase')
         GROUP BY 1),
       p AS (SELECT
           max(CASE WHEN event_type='click' THEN n END) n1,
           max(CASE WHEN event_type='click'
             THEN CAST(s AS DOUBLE) END) s1,
           max(CASE WHEN event_type='click'
             THEN CAST(ss AS DOUBLE) END) ss1,
           max(CASE WHEN event_type='purchase' THEN n END) n2,
           max(CASE WHEN event_type='purchase'
             THEN CAST(s AS DOUBLE) END) s2,
           max(CASE WHEN event_type='purchase'
             THEN CAST(ss AS DOUBLE) END) ss2
         FROM g),
       m AS (SELECT n1, n2,
           s1/n1/1000000.0 AS m1, s2/n2/1000000.0 AS m2,
           (ss1 - s1*s1/n1)/(n1-1)/1000000.0/1000000.0/n1 AS se1,
           (ss2 - s2*s2/n2)/(n2-1)/1000000.0/1000000.0/n2 AS se2
         FROM p)
       SELECT n1, n2,
         ${r6sql("(m1-m2)/sqrt(se1+se2)")} AS t_stat,
         ${r6sql(
           """(se1+se2)*(se1+se2)
              / (se1*se1/(n1-1)+se2*se2/(n2-1))""")} AS df
       FROM m""") { (s, d) =>
    val vk = micros(col("value"))
    val g = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), vk.as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("v")).cast("decimal(38,0)").as("s"),
        sum((col("v") * col("v")).cast("decimal(38,0)")).as("ss"))
    val p = g.agg(
      max(when(col("event_type") === "click", col("n"))).as("n1"),
      max(when(col("event_type") === "click",
        col("s").cast("double"))).as("s1"),
      max(when(col("event_type") === "click",
        col("ss").cast("double"))).as("ss1"),
      max(when(col("event_type") === "purchase", col("n"))).as("n2"),
      max(when(col("event_type") === "purchase",
        col("s").cast("double"))).as("s2"),
      max(when(col("event_type") === "purchase",
        col("ss").cast("double"))).as("ss2"))
    val m = p.select(col("n1"), col("n2"),
      (col("s1") / col("n1") / 1000000.0).as("m1"),
      (col("s2") / col("n2") / 1000000.0).as("m2"),
      (try_divide(col("ss1") - col("s1") * col("s1") / col("n1"),
        col("n1") - 1) / 1000000.0 / 1000000.0 / col("n1")).as("se1"),
      (try_divide(col("ss2") - col("s2") * col("s2") / col("n2"),
        col("n2") - 1) / 1000000.0 / 1000000.0 / col("n2")).as("se2"))
    m.select(col("n1"), col("n2"),
      r6(try_divide(col("m1") - col("m2"),
        sqrt(col("se1") + col("se2")))).as("t_stat"),
      r6(try_divide(
        (col("se1") + col("se2")) * (col("se1") + col("se2")),
        col("se1") * col("se1") / (col("n1") - 1)
          + col("se2") * col("se2") / (col("n2") - 1))).as("df"))
  }

  /** Theil–Sen robust trend slope per event_type: the exact median
    * of all pairwise slopes over the DAILY grid (q173's EWMA and
    * q190's Holt are the parametric twins; the median-of-slopes
    * estimator shrugs off the outlier days that bend OLS). The
    * fact-sized stage is one (type, day) aggregate to a ~150-row
    * grid of exact quantized longs; the pair self-join is
    * grid×grid — ~435 pairs per type, CONSTANT in data volume, so
    * the broadcast self-join costs the same at 100 TB as at sf0.001.
    * Each slope is one IEEE divide of exact longs; the median picks
    * the middle element(s) by total order (ties among equal doubles
    * make row_number's tie order irrelevant) and averages ≤ 2
    * values — a single commutative IEEE add cross-engine. */
  val theilSen: QueryDef = QueryDef.sql(
    s"""WITH d AS (SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(sum(${microsSql("value")})
             AS BIGINT) AS dv
         FROM events GROUP BY 1,2),
       pr AS (SELECT a.event_type,
           CAST(a.dv - b.dv AS DOUBLE)
             / (datediff('day', b.day, a.day)) AS slope
         FROM d a JOIN d b ON a.event_type=b.event_type
           AND a.day > b.day),
       rk AS (SELECT event_type, slope,
           row_number() OVER (PARTITION BY event_type
             ORDER BY slope) rn,
           count(*) OVER (PARTITION BY event_type) cnt FROM pr)
       SELECT event_type, CAST(max(cnt) AS BIGINT) AS n_pairs,
         ${r6sql("avg(slope)/1000000.0")} AS ts_slope
       FROM rk WHERE rn*2 IN (cnt, cnt+1, cnt+2)
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val vk = micros(col("value"))
    val grid = Tables.events(s, d)
      .groupBy(col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(vk).cast("long").as("dv"))
    val a = grid.select(col("event_type"), col("day").as("a_day"),
      col("dv").as("a_dv"))
    val b = grid.select(col("event_type").as("b_type"),
      col("day").as("b_day"), col("dv").as("b_dv"))
    val pr = a.join(broadcast(b),
        col("event_type") === col("b_type")
          && col("a_day") > col("b_day"))
      .select(col("event_type"),
        ((col("a_dv") - col("b_dv")).cast("double")
          / datediff(col("a_day"), col("b_day"))).as("slope"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slope"))
    val wc = Window.partitionBy(col("event_type"))
    pr.select(col("event_type"), col("slope"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(wc).as("cnt"))
      .filter((col("rn") * 2 === col("cnt"))
        || (col("rn") * 2 === col("cnt") + 1)
        || (col("rn") * 2 === col("cnt") + 2))
      .groupBy(col("event_type"))
      .agg(max(col("cnt")).cast("long").as("n_pairs"),
        r6(avg(col("slope")) / 1000000.0).as("ts_slope"))
      .orderBy(col("event_type"))
  }

  /** Linear interpolation over the hourly spine, per event_type —
    * the gap-fill a time-series feature store applies where q107's
    * zero-fill would bias downstream models. The spine is types ×
    * sequence(global min..max hour) — a dimension-sized cross join
    * off a ONE-ROW bounds aggregate, never a data-sized generator —
    * left-joined to the (type, hour) aggregate; prev/next anchors
    * come from two IGNORE-NULLS windows over the SAME (type, hour)
    * partitioning (one exchange). Interpolated values are the fixed
    * IEEE sequence pa + (na−pa)·(h−ph)/(nh−ph) on exact inputs
    * (hour deltas are integers, anchors are divides of exact
    * quantized longs), so both engines agree bit-for-bit before the
    * final r6. Rows outside the first/last observation are emitted
    * as 'edge' with NULL value, not extrapolated. */
  val linearInterpolate: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           ${microsSql("value")} vk FROM events),
       hr AS (SELECT event_type, h, CAST(sum(vk) AS BIGINT) sv,
               CAST(count(*) AS BIGINT) c FROM e GROUP BY 1,2),
       bounds AS (SELECT min(h) h0, max(h) h1 FROM e),
       types AS (SELECT DISTINCT event_type FROM e),
       spine AS (SELECT event_type, unnest(range(h0, h1+1)) AS h
                 FROM types, bounds),
       joined AS (SELECT s.event_type, s.h,
           CAST(hr.sv AS DOUBLE)/hr.c AS obs
         FROM spine s LEFT JOIN hr
           ON s.event_type=hr.event_type AND s.h=hr.h),
       w AS (SELECT event_type, h, obs,
           last_value(obs IGNORE NULLS) OVER (PARTITION BY event_type
             ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING) AS pa,
           last_value(CASE WHEN obs IS NOT NULL THEN h END
             IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ph,
           first_value(obs IGNORE NULLS) OVER (PARTITION BY
             event_type ORDER BY h ROWS BETWEEN 1 FOLLOWING
             AND UNBOUNDED FOLLOWING) AS na,
           first_value(CASE WHEN obs IS NOT NULL THEN h END
             IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nh
         FROM joined)
       SELECT event_type, h,
         CASE WHEN obs IS NOT NULL THEN 'obs'
              WHEN pa IS NOT NULL AND na IS NOT NULL THEN 'interp'
              ELSE 'edge' END AS src,
         ${r6sql(
           """CASE WHEN obs IS NOT NULL THEN obs/1000000.0
              WHEN pa IS NOT NULL AND na IS NOT NULL
                THEN (pa + (na - pa) * (h - ph) / (nh - ph))/1000000.0
              ELSE NULL END""")} AS val
       FROM w ORDER BY 1,2""") { (s, d) =>
    val vk = micros(col("value"))
    val e = Tables.events(s, d).select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("h"), vk.as("vk"))
    val hr = e.groupBy(col("event_type"), col("h"))
      .agg(sum(col("vk")).cast("long").as("sv"),
        count(lit(1)).cast("long").as("c"))
    val bounds = e.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = e.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("h"))
    val joined = spine.join(hr, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        (col("sv").cast("double") / col("c")).as("obs"))
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(1, Window.unboundedFollowing)
    val hObs = when(col("obs").isNotNull, col("h"))
    val anchored = joined.select(col("event_type"), col("h"),
      col("obs"),
      last(col("obs"), ignoreNulls = true).over(wPrev).as("pa"),
      last(hObs, ignoreNulls = true).over(wPrev).as("ph"),
      first(col("obs"), ignoreNulls = true).over(wNext).as("na"),
      first(hObs, ignoreNulls = true).over(wNext).as("nh"))
    anchored.select(col("event_type"), col("h"),
      when(col("obs").isNotNull, lit("obs"))
        .when(col("pa").isNotNull && col("na").isNotNull,
          lit("interp"))
        .otherwise(lit("edge")).as("src"),
      r6(when(col("obs").isNotNull, col("obs") / 1000000.0)
        .when(col("pa").isNotNull && col("na").isNotNull,
          (col("pa") + (col("na") - col("pa")) * (col("h") - col("ph"))
            / (col("nh") - col("ph"))) / 1000000.0)
        .otherwise(lit(null))).as("val"))
      .orderBy(col("event_type"), col("h"))
  }

  /** Quantile normalization of per-type value distributions onto the
    * GLOBAL distribution — the cross-feature calibration step (map
    * each group's k-th of n values to the global value at the same
    * quantile position). Both rank passes are exact: the per-type
    * rank is an ordinary keyed window, and the GLOBAL rank reuses
    * `Packing.withGlobalOffsets` (range shuffle + driver prefix
    * scan — no single-partition window at any scale). The position
    * map gidx = (2·rn−1)·N div (2·cnt) + 1 is all-integer `div`
    * (≡ DuckDB `//` — the q185 recipe; (2n−1)·N stays long-safe
    * below ~2e9 rows, documented), the reference lookup is ONE
    * rank-keyed equi-join, and the output is a 5-row summary of
    * exact long shift sums. */
  val quantileNormalize: QueryDef = QueryDef.sql(
    s"""WITH v AS (SELECT event_type, event_id,
           ${microsSql("value")} vk FROM events),
       g AS (SELECT vk, row_number() OVER (ORDER BY vk, event_id)
               rn_g FROM v),
       t AS (SELECT event_type, vk,
           row_number() OVER (PARTITION BY event_type
             ORDER BY vk, event_id) rn,
           count(*) OVER (PARTITION BY event_type) cnt,
           count(*) OVER () n_all FROM v),
       m AS (SELECT event_type, vk,
           ((2*rn-1)*n_all) // (2*cnt) + 1 AS gidx FROM t),
       j AS (SELECT m.event_type, m.vk, g.vk AS nvk
             FROM m JOIN g ON g.rn_g = m.gidx)
       SELECT event_type, CAST(count(*) AS BIGINT) n,
         ${r6sql(
           "CAST(sum(nvk - vk) AS DOUBLE)/count(*)/1000000.0")}
           AS mean_shift,
         ${r6sql(
           "CAST(sum(abs(nvk - vk)) AS DOUBLE)/count(*)/1000000.0")}
           AS mean_abs_shift
       FROM j GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val vk = micros(col("value"))
    val v = Tables.events(s, d).select(col("event_type"),
      col("event_id"), vk.as("vk"))
    val g = graft.ops.Packing
      .withGlobalOffsets(v.withColumn("one", lit(1L)), "vk", "one",
        tieCols = Seq("event_id"))
      .select(col("vk").as("nvk"), (col("offset") + 1).as("rn_g"))
    val wt = Window.partitionBy(col("event_type"))
      .orderBy(col("vk"), col("event_id"))
    val wc = Window.partitionBy(col("event_type"))
    val nAll = v.agg(count(lit(1)).cast("long").as("n_all"))
    val m = v.select(col("event_type"), col("vk"),
        row_number().over(wt).cast("long").as("rn"),
        count(lit(1)).over(wc).as("cnt"))
      .crossJoin(broadcast(nAll))
      .select(col("event_type"), col("vk"),
        expr("((2*rn-1)*n_all) div (2*cnt) + 1").as("gidx"))
    m.join(g, col("gidx") === col("rn_g"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        r6(sum(col("nvk") - col("vk")).cast("double")
          / count(lit(1)) / 1000000.0).as("mean_shift"),
        r6(sum(abs(col("nvk") - col("vk"))).cast("double")
          / count(lit(1)) / 1000000.0).as("mean_abs_shift"))
      .orderBy(col("event_type"))
  }

  /** Top event-path trigrams — sequence mining over per-user event
    * streams (q203's Markov matrix is the 1-step summary; paths keep
    * the order structure a funnel analysis needs). Two leads share
    * the ONE (user, time) window shuffle; paths with a complete
    * 3-window become strings counted in a map-side-combining
    * aggregate, and the top-10 orders by (count DESC, path) — a
    * total order, so the LIMIT boundary is deterministic even with
    * tied counts (the fixture has several). lead(2) non-null implies
    * lead(1) non-null within the same window, so no null guard on e2
    * is needed on either engine. */
  val pathTrigrams: QueryDef = QueryDef.sql(
    """WITH o AS (SELECT user_id, event_type,
           lead(event_type,1) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) e2,
           lead(event_type,2) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) e3
         FROM events),
       p AS (SELECT event_type || '>' || e2 || '>' || e3 AS path
             FROM o WHERE e3 IS NOT NULL)
       SELECT path, CAST(count(*) AS BIGINT) n FROM p
       GROUP BY 1 ORDER BY n DESC, path LIMIT 10""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_type"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .select(concat(col("event_type"), lit(">"), col("e2"),
        lit(">"), col("e3")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  /** Trailing-24h distinct active users per hour — the rolling-DAU
    * engagement curve. Window-function COUNT(DISTINCT) over a frame
    * doesn't exist in either engine; the scalable identity is
    * expand-dedupe-count: dedupe to (user, hour), replicate each
    * row into the 24 trailing hours it should count toward (a
    * bounded row-local explode), dedupe (user, hh), count per hour.
    * Two hash exchanges total, both on bounded keys; at 100 TB the
    * sketch alternative is a per-hour HLL union (q104), this is the
    * exact path. Spine bounds clip partially-covered lead-in hours
    * via a one-row broadcast, so every output hour means the same
    * thing. */
  val trailingDau: QueryDef = QueryDef.sql(
    """WITH uh AS (SELECT DISTINCT user_id,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h
         FROM events),
       ex AS (SELECT DISTINCT user_id, h + o AS hh
              FROM uh, (SELECT unnest(range(0, 24)) AS o)),
       b AS (SELECT min(h) h0, max(h) h1 FROM uh)
       SELECT hh AS hour, CAST(count(*) AS BIGINT) AS dau24
       FROM ex, b WHERE hh BETWEEN h0 AND h1
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val uh = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .distinct()
    val ex = uh
      .select(col("user_id"), col("h"),
        explode(sequence(lit(0L), lit(23L))).as("o"))
      .select(col("user_id"), (col("h") + col("o")).as("hh"))
      .distinct()
    val b = uh.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    ex.crossJoin(broadcast(b))
      .filter(col("hh") >= col("h0") && col("hh") <= col("h1"))
      .groupBy(col("hh"))
      .agg(count(lit(1)).cast("long").as("dau24"))
      .select(col("hh").as("hour"), col("dau24"))
      .orderBy(col("hour"))
  }

  /** Kaplan–Meier log-survival of signup→first-purchase delay, with
    * right-censoring at each non-converting user's last event — the
    * time-to-event estimator behind conversion-lag and churn curves.
    * Subjects assemble on ONE user_id-keyed join chain; the risk
    * table is a day-keyed residue (≤ observation-window days), so
    * the two global windows (risk-set countdown, cumulative hazard)
    * run on dimension-sized input (the q209 bound). Output is
    * LOG-survival: each step's ln(1−d/n) is r6-rounded and then
    * cumulatively summed in day order (the q202 rounded-contrib
    * fixed-fold recipe) — no exp, so no transcendental decides
    * anything beyond the same per-term 1e-6-rounded ln both engines
    * agree on. Terminal cells (n_i = d_i, S→0) are excluded on both
    * sides rather than emitting −inf. */
  val survivalKm: QueryDef = QueryDef.sql(
    s"""WITH su AS (SELECT user_id, min(ts) st FROM events
             WHERE event_type='signup' GROUP BY 1),
       pu AS (SELECT e.user_id, min(e.ts) pt FROM events e
              JOIN su ON e.user_id=su.user_id
              WHERE e.event_type='purchase' AND e.ts >= su.st
              GROUP BY 1),
       le AS (SELECT user_id, max(ts) lt FROM events GROUP BY 1),
       subj AS (SELECT su.user_id,
           CASE WHEN pu.pt IS NOT NULL THEN
               CAST(datediff('day', CAST(su.st AS DATE),
                 CAST(pu.pt AS DATE)) AS BIGINT)
             ELSE CAST(datediff('day', CAST(su.st AS DATE),
                 CAST(le.lt AS DATE)) AS BIGINT) END AS t,
           CASE WHEN pu.pt IS NOT NULL THEN 1 ELSE 0 END AS ev
         FROM su LEFT JOIN pu ON su.user_id=pu.user_id
         JOIN le ON su.user_id=le.user_id),
       n0 AS (SELECT CAST(count(*) AS BIGINT) total FROM subj),
       d AS (SELECT t, CAST(sum(ev) AS BIGINT) d_i,
               CAST(count(*) AS BIGINT) out_i FROM subj GROUP BY 1),
       r AS (SELECT t, d_i, CAST(total - coalesce(sum(out_i) OVER
               (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
                 1 PRECEDING), 0) AS BIGINT) AS n_i
             FROM d, n0),
       c AS (SELECT t, d_i, n_i,
           CASE WHEN d_i > 0 AND n_i > d_i THEN
             ${r6sql(
               "ln(CAST(n_i - d_i AS DOUBLE) / n_i)")}
             ELSE 0.0 END AS contrib
         FROM r)
       SELECT t, d_i, n_i,
         ${r6sql(
           """sum(contrib) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW)""")} AS ln_surv
       FROM c WHERE d_i > 0 AND n_i > d_i ORDER BY t""") { (s, d) =>
    val ev = Tables.events(s, d)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("st"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id").filter(col("ts") >= col("st"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("pt"))
    val le = ev.groupBy(col("user_id")).agg(max(col("ts")).as("lt"))
    val subj = su.join(pu, Seq("user_id"), "left")
      .join(le, "user_id")
      .select(
        when(col("pt").isNotNull,
          datediff(to_date(col("pt")), to_date(col("st"))))
          .otherwise(datediff(to_date(col("lt")), to_date(col("st"))))
          .cast("long").as("t"),
        when(col("pt").isNotNull, 1L).otherwise(0L).as("ev"))
    val n0 = subj.agg(count(lit(1)).cast("long").as("total"))
    val dd = subj.groupBy(col("t"))
      .agg(sum(col("ev")).cast("long").as("d_i"),
        count(lit(1)).cast("long").as("out_i"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = dd.crossJoin(broadcast(n0))
      .select(col("t"), col("d_i"),
        (col("total") - coalesce(sum(col("out_i")).over(wPrev),
          lit(0L))).cast("long").as("n_i"))
    val c = r.select(col("t"), col("d_i"), col("n_i"),
      when(col("d_i") > 0 && col("n_i") > col("d_i"),
        r6(log((col("n_i") - col("d_i")).cast("double")
          / col("n_i"))))
        .otherwise(0.0).as("contrib"))
    c.select(col("t"), col("d_i"), col("n_i"),
        r6(sum(col("contrib")).over(wCum)).as("ln_surv"))
      .filter(col("d_i") > 0 && col("n_i") > col("d_i"))
      .orderBy(col("t"))
  }

  /** High-value audience overlap: exact Jaccard between event types'
    * user sets, restricted to value > 150 interactions (the
    * unrestricted sets saturate on this fixture — every user touches
    * every type). Same inverted-index discipline as q222/q230: the
    * pair counts come from a user-keyed self-join of the deduped
    * (type, user) relation — each user contributes at most C(5,2)
    * pairs — never a types×types×users expansion. Set sizes and
    * intersections are exact longs; the Jaccard is one IEEE
    * divide, r6-rounded. */
  val audienceOverlap: QueryDef = QueryDef.sql(
    s"""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events
             WHERE value > 150),
       sz AS (SELECT event_type, CAST(count(*) AS BIGINT) nu
              FROM tu GROUP BY 1),
       p AS (SELECT a.event_type t1, b.event_type t2,
               CAST(count(*) AS BIGINT) common
             FROM tu a JOIN tu b ON a.user_id=b.user_id
               AND a.event_type < b.event_type GROUP BY 1,2)
       SELECT t1, t2, common, za.nu AS n1, zb.nu AS n2,
         ${r6sql(
           "CAST(common AS DOUBLE)/(za.nu + zb.nu - common)")}
           AS jaccard
       FROM p JOIN sz za ON p.t1=za.event_type
       JOIN sz zb ON p.t2=zb.event_type
       ORDER BY 1,2""") { (s, d) =>
    val tu = Tables.events(s, d).filter(col("value") > 150)
      .select(col("event_type"), col("user_id")).distinct()
    val sz = tu.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("nu"))
    val a = tu.select(col("event_type").as("t1"), col("user_id"))
    val b = tu.select(col("event_type").as("t2"), col("user_id"))
    val p = a.join(b, Seq("user_id")).filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).cast("long").as("common"))
    p.join(broadcast(sz.select(col("event_type").as("t1"),
        col("nu").as("n1"))), "t1")
      .join(broadcast(sz.select(col("event_type").as("t2"),
        col("nu").as("n2"))), "t2")
      .select(col("t1"), col("t2"), col("common"), col("n1"),
        col("n2"),
        r6(col("common").cast("double")
          / (col("n1") + col("n2") - col("common"))).as("jaccard"))
      .orderBy(col("t1"), col("t2"))
  }

  /** Mutual information between event_type and the fixed-width value
    * bucket — the feature-dependence screen in BITS-free nats (q99's
    * chi-square tests significance; MI measures the information
    * shared). The only fact-sized stage is the 50-cell contingency
    * aggregate (q202's fixed-width buckets — never quantile); margins
    * and the total are residue re-aggregates, each cell's
    * p·ln(p/(px·py)) is r6-rounded, and the ≤50-term fold runs in
    * explicit (type, bucket) order via the q202 sorted-struct
    * aggregate — order-identical cross-engine despite ln. */
  val mutualInformation: QueryDef = QueryDef.sql(
    s"""WITH b AS (SELECT event_type,
           least(greatest(CAST(floor(value/10) AS INTEGER),0),9)
             AS bucket,
           CAST(count(*) AS BIGINT) c FROM events GROUP BY 1,2),
       n0 AS (SELECT CAST(sum(c) AS BIGINT) n FROM b),
       mx AS (SELECT event_type, CAST(sum(c) AS BIGINT) cx
              FROM b GROUP BY 1),
       my AS (SELECT bucket, CAST(sum(c) AS BIGINT) cy
              FROM b GROUP BY 1),
       cell AS (SELECT b.event_type, b.bucket,
           ${r6sql(
             """(CAST(c AS DOUBLE)/n) * ln( (CAST(c AS DOUBLE)*n)
                / (CAST(cx AS DOUBLE)*cy) )""")} AS contrib
         FROM b JOIN mx USING (event_type) JOIN my USING (bucket),
           n0)
       SELECT ${r6sql(
           "list_sum(list(contrib ORDER BY event_type, bucket))")}
           AS mi_nats,
         CAST(count(*) AS BIGINT) AS n_cells
       FROM cell""") { (s, d) =>
    val b = Tables.events(s, d)
      .groupBy(col("event_type"),
        least(greatest(floor(col("value") / 10).cast("int"), lit(0)),
          lit(9)).as("bucket"))
      .agg(count(lit(1)).cast("long").as("c"))
    val n0 = b.agg(sum(col("c")).cast("long").as("n"))
    val mx = b.groupBy(col("event_type"))
      .agg(sum(col("c")).cast("long").as("cx"))
    val my = b.groupBy(col("bucket"))
      .agg(sum(col("c")).cast("long").as("cy"))
    val cell = b.join(mx, "event_type").join(my, "bucket")
      .crossJoin(broadcast(n0))
      .select(col("event_type"), col("bucket"),
        r6((col("c").cast("double") / col("n"))
          * log((col("c").cast("double") * col("n"))
            / (col("cx").cast("double") * col("cy")))).as("contrib"))
    cell.agg(
      r6(aggregate(
        transform(array_sort(collect_list(struct(col("event_type"),
          col("bucket"), col("contrib")))),
          _.getField("contrib")),
        lit(0.0), _ + _)).as("mi_nats"),
      count(lit(1)).cast("long").as("n_cells"))
  }

  /** The daily series the time-series queries below read: per
    * (event_type, epoch day `di`), the exact long sum `dv` of the
    * events' micro-unit values. q245 and q304 build their own, each
    * with one more group key (the day's DATE, its ISO weekday). */
  private def dailyMicroSums(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), epochDay(col("ts")).as("di"))
      .agg(sum(micros(col("value"))).cast("long").as("dv"))

  /** [[dailyMicroSums]] as a DuckDB subquery. */
  private def dailyMicroSumsSql: String =
    s"""SELECT event_type, CAST(${epochDaySql("ts")} AS BIGINT) AS di,
           CAST(sum(${microsSql("value")}) AS BIGINT) AS dv
         FROM events GROUP BY 1, 2"""

  /** 7-day ROLLING OLS slope per event_type — the windowed model
    * fit (q208 fits one global line; operations wants "what's the
    * trend RIGHT NOW", refit every day over the trailing week). All
    * five sufficient statistics are frame window-sums of exact
    * integers over the daily grid (x = epoch day, y = quantized
    * daily sum; n·Σxy stays long-safe while daily micro-sums are
    * < ~1e15 — beyond that, per-row products go DECIMAL), sharing
    * ONE (type, day) sort; the slope is a single IEEE divide of two
    * exact longs, and partial lead-in frames (n < 7) are excluded
    * so every slope means the same window. */
  val rollingOls: QueryDef = QueryDef.sql(
    s"""WITH d AS (SELECT event_type, di AS x, dv AS y
         FROM ($dailyMicroSumsSql)),
       w AS (SELECT event_type, x,
           CAST(count(*) OVER f AS BIGINT) n,
           CAST(sum(x) OVER f AS BIGINT) sx,
           CAST(sum(y) OVER f AS BIGINT) sy,
           CAST(sum(x*x) OVER f AS BIGINT) sxx,
           CAST(sum(x*y) OVER f AS BIGINT) sxy
         FROM d WINDOW f AS (PARTITION BY event_type ORDER BY x
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
       SELECT event_type, x AS day_idx,
         ${r6sql(
           """CAST(n*sxy - sx*sy AS DOUBLE)
              / CAST(n*sxx - sx*sx AS DOUBLE) / 1000000.0""")}
           AS slope
       FROM w WHERE n = 7 ORDER BY 1,2""") { (s, d) =>
    val g = dailyMicroSums(s, d)
      .select(col("event_type"), col("di").as("x"), col("dv").as("y"))
    val f = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rowsBetween(-6, Window.currentRow)
    g.select(col("event_type"), col("x"),
        count(lit(1)).over(f).cast("long").as("n"),
        sum(col("x")).over(f).cast("long").as("sx"),
        sum(col("y")).over(f).cast("long").as("sy"),
        sum(col("x") * col("x")).over(f).cast("long").as("sxx"),
        sum(col("x") * col("y")).over(f).cast("long").as("sxy"))
      .filter(col("n") === 7)
      .select(col("event_type"), col("x").as("day_idx"),
        r6((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double") / 1000000.0).as("slope"))
      .orderBy(col("event_type"), col("day_idx"))
  }

  /** Day-of-week-adjusted anomaly days — seasonal-residual flagging
    * (q217 decomposes; this DECIDES): residual = daily sum − that
    * type's same-weekday mean, flagged when |residual| exceeds 2σ of
    * the type's residual population. The weekday key is only ever a
    * GROUPING key (Spark's Sunday=1 vs DuckDB's Sunday=0 numbering
    * groups identically, so the difference is immaterial —
    * the key is never output). Residuals are doubles built by the
    * same exact-long-divide sequence on both engines; σ comes from
    * r6-rounded residual contributions folded in explicit day order
    * (q202 recipe) over the ~30-day residue, so the 2σ cut —
    * a selection-deciding float comparison — sees bit-identical
    * operands cross-engine. */
  val dowAnomaly: QueryDef = QueryDef.sql(
    s"""WITH d AS (SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(${epochDaySql("ts")}
             AS BIGINT) AS di,
           CAST(sum(${microsSql("value")})
             AS BIGINT) AS dv
         FROM events GROUP BY 1,2,3),
       dw AS (SELECT *, dayofweek(day) AS dow FROM d),
       m AS (SELECT event_type AS et, dow AS dw2,
               CAST(sum(dv) AS BIGINT) s, CAST(count(*) AS BIGINT) c
             FROM dw GROUP BY 1,2),
       r AS (SELECT dw.event_type, dw.di, dw.dv,
           (CAST(dw.dv AS DOUBLE) - CAST(m.s AS DOUBLE)/m.c)
             / 1000000.0 AS resid
         FROM dw JOIN m ON dw.event_type=m.et AND dw.dow=m.dw2),
       s AS (SELECT event_type,
           ${r6sql(
             s"list_sum(list(${r6sql("resid")} ORDER BY di))")}
             AS sr,
           ${r6sql(
             s"list_sum(list(${r6sql("resid*resid")} ORDER BY di))")}
             AS srr,
           CAST(count(*) AS BIGINT) n FROM r GROUP BY 1)
       SELECT r.event_type, r.di AS day_idx,
         ${r6sql("resid")} AS resid_val,
         CASE WHEN abs(resid) > 2.0*sqrt((srr - sr*sr/n)/(n-1))
           THEN 1 ELSE 0 END AS is_anomaly
       FROM r JOIN s ON r.event_type=s.event_type
       WHERE abs(resid) > 2.0*sqrt((srr - sr*sr/n)/(n-1))
       ORDER BY 1,2""") { (s, d) =>
    val vk = micros(col("value"))
    val g = Tables.events(s, d)
      .groupBy(col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"),
        epochDay(col("ts")).as("di"))
      .agg(sum(vk).cast("long").as("dv"))
      .withColumn("dow", dayofweek(col("day")))
    val m = g.groupBy(col("event_type").as("et"),
        col("dow").as("dw2"))
      .agg(sum(col("dv")).cast("long").as("s"),
        count(lit(1)).cast("long").as("c"))
    // residuals in VALUE units: squared micro residuals leave r6's
    // domain (the q245 lesson in Rounding)
    val r = g.join(m, col("event_type") === col("et")
        && col("dow") === col("dw2"))
      .select(col("event_type"), col("di"),
        ((col("dv").cast("double")
          - col("s").cast("double") / col("c")) / 1000000.0)
          .as("resid"))
    val st = r.groupBy(col("event_type").as("s_et"))
      .agg(
        r6(aggregate(
          transform(array_sort(collect_list(struct(col("di"),
            r6(col("resid")).as("v")))), _.getField("v")),
          lit(0.0), _ + _)).as("sr"),
        r6(aggregate(
          transform(array_sort(collect_list(struct(col("di"),
            r6(col("resid") * col("resid")).as("v")))),
            _.getField("v")),
          lit(0.0), _ + _)).as("srr"),
        count(lit(1)).cast("long").as("n"))
    val sigma = lit(2.0) * sqrt((col("srr")
      - col("sr") * col("sr") / col("n")) / (col("n") - 1))
    r.join(broadcast(st), col("event_type") === col("s_et"))
      .filter(abs(col("resid")) > sigma)
      .select(col("event_type"), col("di").as("day_idx"),
        r6(col("resid")).as("resid_val"),
        when(abs(col("resid")) > sigma, 1).otherwise(0)
          .as("is_anomaly"))
      .orderBy(col("event_type"), col("day_idx"))
  }

  /** Hampel filter over the daily grid: flag days whose quantized
    * daily sum departs from the centered 7-day rolling MEDIAN by
    * more than 3× the rolling MAD — the robust twin of q245's
    * mean/σ residual screen (one wild day poisons a mean-based
    * window; the median/MAD window shrugs it off). Everything is
    * exact micro-longs: the frame is materialized as a 7-element
    * array (row-local sort of 7 longs, not a shuffle), median and
    * MAD are element-4 selections, and the 3×MAD cut compares
    * integers — no float anywhere. At 100 TB the window runs on the
    * dimension-sized daily residue. */
  val hampelOutliers: QueryDef = QueryDef.sql(
    s"""WITH d AS ($dailyMicroSumsSql),
       w AS (SELECT event_type, di, dv,
           list(dv) OVER (PARTITION BY event_type ORDER BY di
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS fr
         FROM d),
       m AS (SELECT event_type, di, dv,
           list_sort(fr)[4] AS med,
           list_sort(list_transform(fr,
             x -> abs(x - list_sort(fr)[4])))[4] AS mad
         FROM w WHERE len(fr) = 7)
       SELECT event_type, di AS day_idx, dv AS day_val_micro,
         med AS med_micro, mad AS mad_micro
       FROM m WHERE abs(dv - med) > 3*mad AND mad > 0
       ORDER BY 1, 2""") { (s, d) =>
    val g = dailyMicroSums(s, d)
    val f = Window.partitionBy(col("event_type")).orderBy(col("di"))
      .rowsBetween(-3, 3)
    g.withColumn("fr", collect_list(col("dv")).over(f))
      .filter(size(col("fr")) === 7)
      .withColumn("med", element_at(array_sort(col("fr")), 4))
      .withColumn("mad", element_at(array_sort(
        transform(col("fr"), x => abs(x - col("med")))), 4))
      .filter(abs(col("dv") - col("med")) > lit(3L) * col("mad")
        && col("mad") > 0)
      .select(col("event_type"), col("di").as("day_idx"),
        col("dv").as("day_val_micro"), col("med").as("med_micro"),
        col("mad").as("mad_micro"))
      .orderBy(col("event_type"), col("day_idx"))
  }

  /** Deterministic multiplier-bootstrap CI for the per-type mean: 200
    * resamples materialized as integer weights {0,1,1,2} (mean 1)
    * from a pure-integer hash of (event_id, replicate), so both
    * engines draw the SAME resamples with no RNG. One map-side
    * 200× expansion feeds a (type, replicate) partial aggregate —
    * at 100 TB the expansion never shuffles (weights are computed
    * in the scan projection) and the shuffled relation is
    * |types|×200 rows. Replicate means are exact-long divides; the
    * CI is an order-statistic selection (6th / 195th of 200 sorted
    * means), not an interpolation. */
  val bootstrapCi: QueryDef = QueryDef.sql(
    s"""WITH reps AS (SELECT unnest(generate_series(0, 199)) AS rb),
       x AS (SELECT e.event_type, reps.rb,
           ${microsSql("e.value")} v,
           ((e.event_id * 2654435761 + reps.rb * 97) % 1000003) % 4
             AS h4
         FROM events e CROSS JOIN reps),
       w AS (SELECT event_type, rb,
           CAST(sum(v * (CASE h4 WHEN 0 THEN 0 WHEN 3 THEN 2
             ELSE 1 END)) AS BIGINT) sv,
           CAST(sum(CASE h4 WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END)
             AS BIGINT) sw
         FROM x GROUP BY 1,2),
       m AS (SELECT event_type,
           list_sort(list(CAST(sv AS DOUBLE)/sw/1000000.0)) ms
         FROM w WHERE sw > 0 GROUP BY 1)
       SELECT event_type, CAST(len(ms) AS BIGINT) AS n_boot,
         ${r6sql("ms[6]")} AS ci_lo,
         ${r6sql("ms[195]")} AS ci_hi
       FROM m ORDER BY 1""") { (s, d) =>
    val wt = when(col("h4") === 0, 0L).when(col("h4") === 3, 2L)
      .otherwise(1L)
    val x = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        micros(col("value")).as("v"))
      .withColumn("rb", explode(sequence(lit(0L), lit(199L))))
      .withColumn("h4",
        ((col("event_id") * lit(2654435761L) + col("rb") * lit(97L))
          % lit(1000003L)) % lit(4L))
    val w = x.groupBy(col("event_type"), col("rb"))
      .agg(sum(col("v") * wt).cast("long").as("sv"),
        sum(wt).cast("long").as("sw"))
    w.filter(col("sw") > 0)
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(
        col("sv").cast("double") / col("sw") / lit(1000000.0)))
        .as("ms"))
      .select(col("event_type"),
        size(col("ms")).cast("long").as("n_boot"),
        r6(element_at(col("ms"), 6)).as("ci_lo"),
        r6(element_at(col("ms"), 195)).as("ci_hi"))
      .orderBy(col("event_type"))
  }

  /** One-way ANOVA F across event types on the quantized value —
    * the k-group extension of q228's two-sample Welch t. Sufficient
    * statistics are exact: per-group Σv and n are longs, the global
    * Σv² is an exact DECIMAL(38) integer sum (v² exceeds 2^53, so a
    * double sum would be order-dependent — the decimal sum is
    * order-free), and the five per-group s²/n terms fold in explicit
    * event_type order. F itself is a fixed sequence of IEEE ops on
    * those exact inputs. One fact pass, one-row result. */
  val anovaF: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT event_type,
           ${microsSql("value")} v FROM events),
       g AS (SELECT event_type, CAST(sum(v) AS BIGINT) s,
               CAST(count(*) AS BIGINT) n FROM e GROUP BY 1),
       tot AS (SELECT CAST(sum(s) AS BIGINT) st,
           CAST(sum(n) AS BIGINT) nt, CAST(count(*) AS BIGINT) k,
           list_sum(list(CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n
             ORDER BY event_type)) sb_raw
         FROM g),
       ssw AS (SELECT CAST(sum(CAST(v AS DECIMAL(19,0))
             * CAST(v AS DECIMAL(19,0))) AS DOUBLE) svv FROM e)
       SELECT k-1 AS df_between, nt-k AS df_within,
         ${r6sql(
           """((sb_raw - CAST(st AS DOUBLE)*st/nt)/(k-1))
              / ((svv - sb_raw)/(nt-k))""")} AS f_stat
       FROM tot, ssw""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"),
        micros(col("value")).as("v"))
    val g = e.groupBy(col("event_type"))
      .agg(sum(col("v")).cast("long").as("s"),
        count(lit(1)).cast("long").as("n"))
    val tot = g.agg(sum(col("s")).cast("long").as("st"),
      sum(col("n")).cast("long").as("nt"),
      count(lit(1)).cast("long").as("k"),
      aggregate(transform(array_sort(collect_list(struct(
          col("event_type"),
          (col("s").cast("double") * col("s").cast("double")
            / col("n")).as("t")))), _.getField("t")),
        lit(0.0), _ + _).as("sb_raw"))
    val ssw = e.agg(sum(col("v").cast("decimal(19,0)")
        * col("v").cast("decimal(19,0)")).cast("double").as("svv"))
    tot.crossJoin(ssw)
      .select((col("k") - 1).as("df_between"),
        (col("nt") - col("k")).as("df_within"),
        r6(((col("sb_raw")
            - col("st").cast("double") * col("st") / col("nt"))
            / (col("k") - 1))
          / ((col("svv") - col("sb_raw"))
            / (col("nt") - col("k")))).as("f_stat"))
  }

  /** SAX symbolization of the daily series: z-normalize each type's
    * quantized daily sums against that type's own mean/σ, then map
    * to the 4-symbol alphabet at the standard Gaussian quartile
    * breakpoints (±0.6745, 0) and emit one word per (type, week) in
    * day order — the discretization under motif mining / symbolic
    * anomaly matching. σ uses the exact-decimal Σdv² (dv² > 2^53)
    * and sqrt, the one transcendental that IS correctly rounded per
    * IEEE-754, so the breakpoint comparisons see bit-identical z on
    * both engines. try_divide guards the σ=0 degenerate type (both
    * engines then emit the 'd' branch). */
  val saxSymbols: QueryDef = QueryDef.sql(
    s"""WITH d AS ($dailyMicroSumsSql),
       st AS (SELECT event_type AS et, CAST(sum(dv) AS BIGINT) s,
           CAST(count(*) AS BIGINT) n,
           CAST(sum(CAST(dv AS DECIMAL(19,0))
             * CAST(dv AS DECIMAL(19,0))) AS DOUBLE) svv
         FROM d GROUP BY 1),
       z AS (SELECT event_type, di, di // 7 AS wk,
           (CAST(dv AS DOUBLE) - CAST(s AS DOUBLE)/n)
             / sqrt((svv - CAST(s AS DOUBLE)*s/n)/(n-1)) AS zz
         FROM d JOIN st ON event_type = et WHERE n >= 2),
       sym AS (SELECT event_type, wk, di,
           CASE WHEN zz < -0.6745 THEN 'a' WHEN zz < 0 THEN 'b'
                WHEN zz < 0.6745 THEN 'c' ELSE 'd' END AS sy
         FROM z)
       SELECT event_type, CAST(wk AS BIGINT) AS week_idx,
         string_agg(sy, '' ORDER BY di) AS sax_word
       FROM sym GROUP BY 1,2 ORDER BY 1,2""") { (s, d) =>
    val dg = dailyMicroSums(s, d)
    val st = dg.groupBy(col("event_type").as("et"))
      .agg(sum(col("dv")).cast("long").as("s"),
        count(lit(1)).cast("long").as("n"),
        sum(col("dv").cast("decimal(19,0)")
          * col("dv").cast("decimal(19,0)")).cast("double")
          .as("svv"))
    val z = dg.join(broadcast(st), col("event_type") === col("et"))
      .filter(col("n") >= 2)
      .select(col("event_type"), col("di"),
        expr("di div 7").as("wk"),
        try_divide(
          col("dv").cast("double")
            - col("s").cast("double") / col("n"),
          sqrt((col("svv")
            - col("s").cast("double") * col("s") / col("n"))
            / (col("n") - 1))).as("zz"))
    val sy = when(col("zz") < -0.6745, "a")
      .when(col("zz") < 0, "b")
      .when(col("zz") < 0.6745, "c").otherwise("d")
    z.withColumn("sy", sy)
      .groupBy(col("event_type"), col("wk"))
      .agg(array_join(transform(array_sort(collect_list(struct(
        col("di"), col("sy")))), _.getField("sy")), "")
        .as("sax_word"))
      .select(col("event_type"), col("wk").cast("long")
        .as("week_idx"), col("sax_word"))
      .orderBy(col("event_type"), col("week_idx"))
  }

  /** Exact 1-Wasserstein (earth-mover) distance between the value
    * distributions of the two user_id-parity cohorts, per event_type
    * — the magnitude-aware drift metric next to q91's KS (sup-gap)
    * and q202's PSI (binned): W1 = ∫|F_A − F_B| integrates HOW FAR
    * mass moved, not just whether it did. Entirely exact: quantized
    * values, cumulative counts via one window over the per-type
    * distinct-value residue, each |ΔF| term cross-multiplied to the
    * integer |cca·n_b − ccb·n_a|·gap and summed in DECIMAL(38) —
    * the single divide happens once per type at the end. */
  val wassersteinDrift: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT event_type, user_id % 2 AS cohort,
           ${microsSql("value")} v FROM events),
       n AS (SELECT event_type,
           CAST(sum(CASE WHEN cohort=0 THEN 1 ELSE 0 END) AS BIGINT)
             na,
           CAST(sum(CASE WHEN cohort=1 THEN 1 ELSE 0 END) AS BIGINT)
             nb
         FROM e GROUP BY 1),
       c AS (SELECT event_type, v,
           CAST(sum(CASE WHEN cohort=0 THEN 1 ELSE 0 END) AS BIGINT)
             ca,
           CAST(sum(CASE WHEN cohort=1 THEN 1 ELSE 0 END) AS BIGINT)
             cb
         FROM e GROUP BY 1,2),
       cum AS (SELECT event_type, v,
           CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY v)
             AS BIGINT) cca,
           CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY v)
             AS BIGINT) ccb,
           lead(v) OVER (PARTITION BY event_type ORDER BY v) AS nv
         FROM c),
       t AS (SELECT cum.event_type, na, nb,
           CAST(sum(CAST(abs(cca*nb - ccb*na) AS DECIMAL(19,0))
             * CAST(nv - v AS DECIMAL(19,0))) AS DECIMAL(38,0)) num
         FROM cum JOIN n ON cum.event_type = n.event_type
         WHERE nv IS NOT NULL GROUP BY 1,2,3)
       SELECT event_type, na AS n_a, nb AS n_b,
         ${r6sql(
           "CAST(num AS DOUBLE)/na/nb/1000000.0")} AS w1_dist
       FROM t ORDER BY 1""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"), (col("user_id") % 2).as("cohort"),
        micros(col("value")).as("v"))
    val cnt = e.groupBy(col("event_type").as("n_et"))
      .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L))
        .cast("long").as("na"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L))
          .cast("long").as("nb"))
    val c = e.groupBy(col("event_type"), col("v"))
      .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L))
        .cast("long").as("ca"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L))
          .cast("long").as("cb"))
    val win = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val cum = c.select(col("event_type"), col("v"),
      sum(col("ca")).over(win).cast("long").as("cca"),
      sum(col("cb")).over(win).cast("long").as("ccb"),
      lead(col("v"), 1).over(win).as("nv"))
    cum.join(broadcast(cnt), col("event_type") === col("n_et"))
      .filter(col("nv").isNotNull)
      .groupBy(col("event_type"), col("na"), col("nb"))
      .agg(sum(abs(col("cca") * col("nb") - col("ccb") * col("na"))
          .cast("decimal(19,0)")
        * (col("nv") - col("v")).cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("num"))
      .select(col("event_type"), col("na").as("n_a"),
        col("nb").as("n_b"),
        r6(col("num").cast("double") / col("na") / col("nb")
          / lit(1000000.0)).as("w1_dist"))
      .orderBy(col("event_type"))
  }

  /** Equi-height histogram construction — the ANALYZE-stats artifact
    * a cost-based optimizer keeps per column: 8 buckets per
    * event_type over the quantized value, each upper bound the
    * smallest v whose cumulative count covers i/8 of the rows. The
    * ceil is avoided by the all-integer cross-multiplication
    * cm·8 ≥ i·n (the q185 recipe), so boundary selection never
    * touches a float. One (type, v) aggregate, one window over the
    * distinct-value residue, an 8-way row-local expansion —
    * dimension-sized everywhere past the first aggregate. */
  val equiHeightHistogram: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT event_type,
           ${microsSql("value")} v FROM events),
       c AS (SELECT event_type, v, CAST(count(*) AS BIGINT) n
             FROM e GROUP BY 1,2),
       cum AS (SELECT event_type, v,
           CAST(sum(n) OVER (PARTITION BY event_type ORDER BY v)
             AS BIGINT) cm
         FROM c),
       t AS (SELECT event_type AS et, CAST(count(*) AS BIGINT) nt
             FROM e GROUP BY 1),
       b AS (SELECT event_type, i.i AS bucket_i, min(v) AS ub
         FROM cum JOIN t ON event_type = et
         CROSS JOIN (SELECT unnest(generate_series(1,8)) AS i) i
         WHERE cm * 8 >= i.i * nt
         GROUP BY 1,2)
       SELECT event_type, CAST(bucket_i AS BIGINT) bucket_i,
         ub AS upper_micro
       FROM b ORDER BY 1,2""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"),
        micros(col("value")).as("v"))
    val c = e.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).cast("long").as("n"))
    val win = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val cum = c.select(col("event_type"), col("v"),
      sum(col("n")).over(win).cast("long").as("cm"))
    val t = e.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).cast("long").as("nt"))
    cum.join(broadcast(t), col("event_type") === col("et"))
      .withColumn("i", explode(sequence(lit(1L), lit(8L))))
      .filter(col("cm") * 8 >= col("i") * col("nt"))
      .groupBy(col("event_type"), col("i"))
      .agg(min(col("v")).as("upper_micro"))
      .select(col("event_type"), col("i").cast("long")
        .as("bucket_i"), col("upper_micro"))
      .orderBy(col("event_type"), col("bucket_i"))
  }

  /** Column-entropy profile: Shannon entropy (nats) of event_type
    * and of the value-decile bucket — the information-density row a
    * data-profiling pass records per column (q100 profiles
    * nulls/cardinality; this measures how EVENLY the mass spreads).
    * Counts are exact; each −p·ln p contribution is r6-rounded and
    * folded in explicit key order (the q240 MI recipe — ln is not
    * correctly-rounded by libm, so contributions are pinned before
    * the fold). Output is one row per profiled column. */
  val columnEntropy: QueryDef = QueryDef.sql(
    s"""WITH s AS (
         SELECT 'event_type' AS col_name, event_type AS k FROM events
         UNION ALL
         SELECT 'value_decile',
           CAST((${microsSql("value")} * 10)
             // 327530001 AS VARCHAR) FROM events),
       c AS (SELECT col_name, k, CAST(count(*) AS BIGINT) n
             FROM s GROUP BY 1,2),
       t AS (SELECT col_name AS cn, CAST(sum(n) AS BIGINT) nt
             FROM c GROUP BY 1),
       h AS (SELECT col_name, CAST(count(*) AS BIGINT) n_distinct,
           list_sum(list(${r6sql(
             "-(CAST(n AS DOUBLE)/nt) * ln(CAST(n AS DOUBLE)/nt)")}
             ORDER BY k)) ent
         FROM c JOIN t ON col_name = cn GROUP BY 1)
       SELECT col_name, n_distinct,
         ${r6sql("ent")} AS entropy_nats
       FROM h ORDER BY 1""") { (s, d) =>
    val ev = Tables.events(s, d)
    val vk = micros(col("value"))
    val stacked = ev.select(lit("event_type").as("col_name"),
        col("event_type").as("k"))
      .unionByName(ev.select(lit("value_decile").as("col_name"),
        call_function("div", vk * 10, lit(327530001)).cast("string")
          .as("k")))
    val c = stacked.groupBy(col("col_name"), col("k"))
      .agg(count(lit(1)).cast("long").as("n"))
    val t = c.groupBy(col("col_name").as("cn"))
      .agg(sum(col("n")).cast("long").as("nt"))
    val p = col("n").cast("double") / col("nt")
    c.join(broadcast(t), col("col_name") === col("cn"))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).cast("long").as("n_distinct"),
        aggregate(transform(array_sort(collect_list(struct(col("k"),
            r6(-p * log(p)).as("contrib")))), _.getField("contrib")),
          lit(0.0), _ + _).as("ent"))
      .select(col("col_name"), col("n_distinct"),
        r6(col("ent")).as("entropy_nats"))
      .orderBy(col("col_name"))
  }

  /** Behavioral-diversity histogram: Shannon entropy of each user's
    * event-type mix, bucketed at 0.05-nat granularity — the
    * engagement-breadth profile (a user who only clicks scores 0; a
    * uniform 5-type user scores ln 5). Per-user folds run over ≤5
    * r6-pinned contributions in type order (q240 recipe), so the
    * bucket boundary — a selection-deciding float floor — sees
    * bit-identical entropy cross-engine. Fact shuffles once on
    * (user, type); everything after is user-residue sized. */
  val userTypeEntropy: QueryDef = QueryDef.sql(
    s"""WITH c AS (SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) n FROM events GROUP BY 1,2),
       u AS (SELECT user_id AS u2, CAST(sum(n) AS BIGINT) nt
             FROM c GROUP BY 1),
       h AS (SELECT user_id,
           list_sum(list(${r6sql(
             "-(CAST(n AS DOUBLE)/nt) * ln(CAST(n AS DOUBLE)/nt)")}
             ORDER BY event_type)) ent
         FROM c JOIN u ON user_id = u2 GROUP BY 1)
       SELECT CAST(floor(ent/0.05) AS BIGINT) bucket,
         CAST(count(*) AS BIGINT) n_users
       FROM h GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val c = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"))
    val u = c.groupBy(col("user_id").as("u2"))
      .agg(sum(col("n")).cast("long").as("nt"))
    val p = col("n").cast("double") / col("nt")
    c.join(u, col("user_id") === col("u2"))
      .groupBy(col("user_id"))
      .agg(aggregate(transform(array_sort(collect_list(struct(
          col("event_type"), r6(-p * log(p)).as("contrib")))),
          _.getField("contrib")), lit(0.0), _ + _).as("ent"))
      .groupBy(floor(col("ent") / 0.05).cast("long").as("bucket"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy(col("bucket"))
  }

  /** Bigram next-event prediction with a TEMPORAL train/test split —
    * the eval loop over q203's Markov transitions: train the
    * majority-next-type table on the first half of the day span
    * (split = all-integer midpoint, in-plan broadcast), score exact
    * accuracy on the second half. Transition sequencing is one
    * (user; ts, event_id) window shared by both halves; the argmax
    * is total-order deterministic (count desc, type asc). */
  val markovAccuracy: QueryDef = QueryDef.sql(
    s"""WITH seq AS (SELECT user_id, event_type,
           CAST(${epochDaySql("ts")}
             AS BIGINT) di,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) nxt
         FROM events),
       bounds AS (SELECT (CAST(min(di) AS BIGINT)
           + CAST(max(di) AS BIGINT)) // 2 AS split FROM seq),
       tr AS (SELECT event_type p, nxt n2, CAST(count(*) AS BIGINT) c
         FROM seq, bounds WHERE nxt IS NOT NULL AND di <= split
         GROUP BY 1,2),
       pred AS (SELECT p, n2 AS predicted FROM (
           SELECT p, n2, row_number() OVER (PARTITION BY p
             ORDER BY c DESC, n2) rk FROM tr) WHERE rk=1),
       test AS (SELECT seq.event_type p, seq.nxt n2
         FROM seq, bounds WHERE nxt IS NOT NULL AND di > split)
       SELECT test.p AS prev_type, CAST(count(*) AS BIGINT) n_test,
         CAST(sum(CASE WHEN test.n2 = pred.predicted THEN 1 ELSE 0
           END) AS BIGINT) n_correct,
         ${r6sql("""CAST(sum(CASE WHEN test.n2 = pred.predicted THEN 1
           ELSE 0 END) AS DOUBLE)/count(*)""")}
           AS accuracy
       FROM test JOIN pred ON test.p = pred.p
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val seq = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        epochDay(col("ts")).as("di"),
        lead(col("event_type"), 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
    val bounds = seq.agg(
      ((min(col("di")) + max(col("di"))) / 2).cast("long")
        .as("split"))
    val withSplit = seq.crossJoin(broadcast(bounds))
    val tr = withSplit.filter(col("di") <= col("split"))
      .groupBy(col("event_type").as("p"), col("nxt").as("n2"))
      .agg(count(lit(1)).cast("long").as("c"))
    val rk = Window.partitionBy(col("p"))
      .orderBy(col("c").desc, col("n2"))
    val pred = tr.withColumn("rk", row_number().over(rk))
      .filter(col("rk") === 1)
      .select(col("p").as("pp"), col("n2").as("predicted"))
    withSplit.filter(col("di") > col("split"))
      .select(col("event_type").as("p"), col("nxt").as("n2"))
      .join(broadcast(pred), col("p") === col("pp"))
      .groupBy(col("p").as("prev_type"))
      .agg(count(lit(1)).cast("long").as("n_test"),
        sum(when(col("n2") === col("predicted"), 1L).otherwise(0L))
          .cast("long").as("n_correct"),
        r6(sum(when(col("n2") === col("predicted"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1)))
          .as("accuracy"))
      .orderBy(col("prev_type"))
  }

  /** Seasonal MASE on the daily grid: the error of the
    * seasonal-naive forecast (value 7 days ago) relative to the
    * one-step naive (yesterday) — MASE < 1 means weekly seasonality
    * carries real signal, the go/no-go check before fitting q190's
    * Holt model. Both error sums are exact micro-long |Δ| over lag
    * windows sharing ONE (type, day) sort; gaps in the grid are
    * excluded by lag-index checks so both engines evaluate the same
    * terms; the single divide is try-guarded and r6-rounded. */
  val maseSeasonal: QueryDef = QueryDef.sql(
    s"""WITH d AS ($dailyMicroSumsSql),
       l AS (SELECT event_type, di, dv,
           lag(dv, 7) OVER (PARTITION BY event_type ORDER BY di) p7,
           lag(dv, 1) OVER (PARTITION BY event_type ORDER BY di) p1,
           lag(di, 7) OVER (PARTITION BY event_type ORDER BY di) d7,
           lag(di, 1) OVER (PARTITION BY event_type ORDER BY di) d1
         FROM d),
       e AS (SELECT event_type,
           CAST(sum(CASE WHEN d7 = di - 7 THEN abs(dv - p7) END)
             AS BIGINT) e7,
           CAST(sum(CASE WHEN d7 = di - 7 AND d1 = di - 1
             THEN abs(dv - p1) END) AS BIGINT) e1,
           CAST(sum(CASE WHEN d7 = di - 7 THEN 1 END) AS BIGINT) n7
         FROM l GROUP BY 1)
       SELECT event_type, n7 AS n_eval,
         ${r6sql(
           "CAST(e7 AS DOUBLE)/NULLIF(e1, 0)")} AS mase
       FROM e ORDER BY 1""") { (s, d) =>
    val dg = dailyMicroSums(s, d)
    val w = Window.partitionBy(col("event_type")).orderBy(col("di"))
    val l = dg.select(col("event_type"), col("di"), col("dv"),
      lag(col("dv"), 7).over(w).as("p7"),
      lag(col("dv"), 1).over(w).as("p1"),
      lag(col("di"), 7).over(w).as("d7"),
      lag(col("di"), 1).over(w).as("d1"))
    val ok7 = col("d7") === col("di") - 7
    l.groupBy(col("event_type"))
      .agg(sum(when(ok7, abs(col("dv") - col("p7")))).cast("long")
          .as("e7"),
        sum(when(ok7 && col("d1") === col("di") - 1,
          abs(col("dv") - col("p1")))).cast("long").as("e1"),
        sum(when(ok7, 1L)).cast("long").as("n_eval"))
      .select(col("event_type"), col("n_eval"),
        r6(try_divide(col("e7").cast("double"),
          when(col("e1") === 0, lit(null)).otherwise(col("e1"))
            .cast("double"))).as("mase"))
      .orderBy(col("event_type"))
  }

  /** Time-bounded funnel: click→purchase conversion WITHIN ONE HOUR,
    * by ISO weekday of the click — q210 counts stage presence ever;
    * production funnels require the conversion window. Per-user
    * click×purchase pairing (bounded by per-user event counts, never
    * a cross-corpus join), EXISTS collapsed as max over the click
    * grain, exact counts, one r6 divide per weekday row. */
  val timedFunnel: QueryDef = QueryDef.sql(
    s"""WITH c AS (SELECT user_id, event_id, epoch_us(ts) us,
           isodow(CAST(date_trunc('day', ts) AS DATE)) dw
         FROM events WHERE event_type = 'click'),
       p AS (SELECT user_id AS pu, epoch_us(ts) pus FROM events
         WHERE event_type = 'purchase'),
       conv AS (SELECT c.user_id, c.event_id, c.dw,
           max(CASE WHEN pus >= us AND pus <= us + 3600000000
             THEN 1 ELSE 0 END) converted
         FROM c LEFT JOIN p ON c.user_id = pu
         GROUP BY 1,2,3)
       SELECT CAST(dw AS BIGINT) iso_dow,
         CAST(count(*) AS BIGINT) n_clicks,
         CAST(sum(converted) AS BIGINT) n_converted,
         ${r6sql(
           "CAST(sum(converted) AS DOUBLE)/count(*)")} AS conv_rate
       FROM conv GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val ev = Tables.events(s, d)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        (weekday(to_date(date_trunc("day", col("ts")))) + 1)
          .cast("long").as("dw"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"),
        unix_micros(col("ts")).as("pus"))
    c.join(p, col("user_id") === col("pu"), "left")
      .groupBy(col("user_id"), col("event_id"), col("dw"))
      .agg(max(when(col("pus") >= col("us")
        && col("pus") <= col("us") + 3600000000L, 1)
        .otherwise(0)).as("converted"))
      .groupBy(col("dw").as("iso_dow"))
      .agg(count(lit(1)).cast("long").as("n_clicks"),
        sum(col("converted")).cast("long").as("n_converted"),
        r6(sum(col("converted")).cast("double") / count(lit(1)))
          .as("conv_rate"))
      .orderBy(col("iso_dow"))
  }

  /** Dispersion index (variance-to-mean ratio, value units) per
    * event type — the overdispersion screen run before assuming
    * Poisson-ish behavior anywhere downstream (σ²/μ ≫ 1 means
    * bursty/clustered, and Poisson-based alerting thresholds are
    * garbage). Same exact sufficient statistics as q249: Σv as long,
    * Σv² as DECIMAL(19)² integer sum, one fixed IEEE sequence at the
    * end, rescaled to value units before the r6 (the q245 overflow
    * lesson). */
  val dispersionIndex: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT event_type,
           ${microsSql("value")} v FROM events),
       g AS (SELECT event_type, CAST(sum(v) AS BIGINT) s,
           CAST(count(*) AS BIGINT) n,
           CAST(sum(CAST(v AS DECIMAL(19,0)) * CAST(v AS
             DECIMAL(19,0))) AS DOUBLE) svv
         FROM e GROUP BY 1)
       SELECT event_type, n,
         ${r6sql(
           """((svv - CAST(s AS DOUBLE)*s/n)/(n-1))
              / (CAST(s AS DOUBLE)/n) / 1000000.0""")} AS dispersion
       FROM g ORDER BY 1""") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        micros(col("value")).as("v"))
      .groupBy(col("event_type"))
      .agg(sum(col("v")).cast("long").as("s"),
        count(lit(1)).cast("long").as("n"),
        sum(col("v").cast("decimal(19,0)")
          * col("v").cast("decimal(19,0)")).cast("double")
          .as("svv"))
      .select(col("event_type"), col("n"),
        r6(((col("svv")
            - col("s").cast("double") * col("s") / col("n"))
            / (col("n") - 1))
          / (col("s").cast("double") / col("n")) / 1000000.0)
          .as("dispersion"))
      .orderBy(col("event_type"))
  }

  /** Hill estimator of the tail index (inverse α) over each type's
    * top-100 values — the heavy-tail read q115's Zipf slope gives
    * for frequencies, applied to magnitudes: mean of ln(x_i/x_k)
    * above the k=101st order statistic. The top-101 selection is an
    * exact integer rank (ties broken by event_id, and the ln terms
    * depend only on VALUES, so boundary ties cannot flip the
    * answer); each ln contribution is r6-pinned and folded in rank
    * order (q202 recipe). The rank window partitions by type —
    * never a global sort. */
  val hillTailIndex: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT event_type, event_id,
           ${microsSql("value")} v FROM events
         WHERE value > 0),
       r AS (SELECT event_type, v,
           row_number() OVER (PARTITION BY event_type
             ORDER BY v DESC, event_id) rk FROM e),
       xk AS (SELECT event_type AS et, v AS vk FROM r
              WHERE rk = 101),
       h AS (SELECT event_type,
           list_sum(list(${r6sql(
             "ln(CAST(v AS DOUBLE)/vk)")} ORDER BY rk)) sh
         FROM r JOIN xk ON event_type = et WHERE rk <= 100
         GROUP BY 1)
       SELECT event_type, ${r6sql("sh/100.0")}
         AS hill_alpha_inv
       FROM h ORDER BY 1""") { (s, d) =>
    val e = Tables.events(s, d).filter(col("value") > 0)
      .select(col("event_type"), col("event_id"),
        micros(col("value")).as("v"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("v").desc, col("event_id"))
    val r = e.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 101)
    val xk = r.filter(col("rk") === 101)
      .select(col("event_type").as("et"), col("v").as("vk"))
    r.filter(col("rk") <= 100)
      .join(broadcast(xk), col("event_type") === col("et"))
      .groupBy(col("event_type"))
      .agg(aggregate(transform(array_sort(collect_list(struct(
          col("rk"), r6(log(col("v").cast("double") / col("vk")))
            .as("contrib")))), _.getField("contrib")),
        lit(0.0), _ + _).as("sh"))
      .select(col("event_type"),
        r6(col("sh") / 100.0).as("hill_alpha_inv"))
      .orderBy(col("event_type"))
  }

  /** DAU/MAU stickiness per day — the engagement-density ratio over
    * q237's trailing-window machinery: MAU is the exact trailing-30d
    * distinct-user count via the same expand-dedupe-count identity
    * (each (user, day) row explodes into the 30 future days it keeps
    * the user "monthly active" for — row-local, bounded 30×), DAU is
    * the plain per-day distinct. Lead-in days (< first day + 29) are
    * excluded so every ratio means the same window. */
  val stickinessRatio: QueryDef = QueryDef.sql(
    s"""WITH ud AS (SELECT DISTINCT user_id,
           CAST(${epochDaySql("ts")}
             AS BIGINT) di
         FROM events),
       dau AS (SELECT di, CAST(count(*) AS BIGINT) dau FROM ud
               GROUP BY 1),
       ex AS (SELECT user_id, di + o.o AS dd FROM ud
         CROSS JOIN (SELECT unnest(generate_series(0,29)) o) o),
       mau AS (SELECT dd AS di,
           CAST(count(DISTINCT user_id) AS BIGINT) mau
         FROM ex GROUP BY 1),
       b AS (SELECT CAST(min(di) AS BIGINT) d0 FROM ud)
       SELECT dau.di AS day_idx, dau.dau, mau.mau,
         ${r6sql(
           "CAST(dau.dau AS DOUBLE)/mau.mau")} AS stickiness
       FROM dau JOIN mau ON dau.di = mau.di, b
       WHERE dau.di >= d0 + 29 ORDER BY 1""") { (s, d) =>
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        epochDay(col("ts")).as("di"))
      .distinct()
    val dau = ud.groupBy(col("di"))
      .agg(count(lit(1)).cast("long").as("dau"))
    val mau = ud
      .withColumn("o", explode(sequence(lit(0L), lit(29L))))
      .select(col("user_id"), (col("di") + col("o")).as("dd"))
      .distinct()
      .groupBy(col("dd"))
      .agg(count(lit(1)).cast("long").as("mau"))
    val b = ud.agg(min(col("di")).cast("long").as("d0"))
    dau.join(mau, col("di") === col("dd"))
      .crossJoin(broadcast(b))
      .filter(col("di") >= col("d0") + 29)
      .select(col("di").as("day_idx"), col("dau"), col("mau"),
        r6(col("dau").cast("double") / col("mau")).as("stickiness"))
      .orderBy(col("day_idx"))
  }

  /** Recency-decayed popularity WITHOUT transcendentals: the decay
    * weight 2^(−age_weeks) is an exact integer right-shift of a
    * micro-unit (1000000 >> age, capped at 19 shifts ≈ weight 1) —
    * no pow/exp anywhere, so the ranking is bit-exact on any engine.
    * The max-day anchor is an in-plan one-row broadcast (q234's
    * recency stance: anchor to the DATA, not the wall clock). One
    * fact aggregate; rank over the |types| residue. */
  val decayedPopularity: QueryDef = QueryDef.sql(
    s"""WITH b AS (SELECT CAST(max(${epochDaySql("ts")}) AS BIGINT) md
         FROM events),
       e AS (SELECT event_type,
           CAST(${epochDaySql("ts")}
             AS BIGINT) di FROM events),
       w AS (SELECT event_type,
           CAST(1000000 >> CAST(least((md - di) // 7, 19) AS INTEGER)
             AS BIGINT) wm
         FROM e, b),
       g AS (SELECT event_type, CAST(sum(wm) AS BIGINT)
             decayed_micro, CAST(count(*) AS BIGINT) n
           FROM w GROUP BY 1)
       SELECT event_type, n, decayed_micro,
         CAST(row_number() OVER (ORDER BY decayed_micro DESC,
           event_type) AS BIGINT) rnk
       FROM g ORDER BY rnk""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"),
        epochDay(col("ts")).as("di"))
    val b = e.agg(max(col("di")).cast("long").as("md"))
    val g = e.crossJoin(broadcast(b))
      .withColumn("age", least(expr("(md - di) div 7"), lit(19L))
        .cast("int"))
      .select(col("event_type"),
        expr("shiftright(1000000L, age)").as("wm"))
      .groupBy(col("event_type"))
      .agg(sum(col("wm")).cast("long").as("decayed_micro"),
        count(lit(1)).cast("long").as("n"))
    g.withColumn("rnk", row_number().over(
        Window.orderBy(col("decayed_micro").desc, col("event_type")))
        .cast("long"))
      .select(col("event_type"), col("n"), col("decayed_micro"),
        col("rnk"))
      .orderBy(col("rnk"))
  }

  /** Difference-in-differences: purchase share per (user-parity
    * cohort × pre/post period around the all-integer midpoint day),
    * with the DiD estimate — the causal-read layout for a natural
    * experiment. Four exact count cells, rates as exact-long
    * divides, the DiD a fixed IEEE sequence on a one-row conditional
    * aggregate broadcast back onto the two output rows. */
  val diffInDiff: QueryDef = QueryDef.sql(
    s"""WITH b AS (SELECT (CAST(min(${epochDaySql("ts")}) AS BIGINT)
           + CAST(max(${epochDaySql("ts")}) AS BIGINT)) // 2 AS split
         FROM events),
       e AS (SELECT user_id % 2 AS cohort,
           CASE WHEN CAST(${epochDaySql("ts")}
             AS BIGINT) <= split THEN 0 ELSE 1 END
             AS period,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             AS is_p
         FROM events, b),
       g AS (SELECT CAST(cohort AS BIGINT) cohort,
           CAST(period AS BIGINT) period,
           CAST(count(*) AS BIGINT) n, CAST(sum(is_p) AS BIGINT) p
         FROM e GROUP BY 1,2),
       r AS (SELECT cohort, period, n, p, CAST(p AS DOUBLE)/n AS r
             FROM g),
       d AS (SELECT
           (max(CASE WHEN cohort=1 AND period=1 THEN r END)
            - max(CASE WHEN cohort=1 AND period=0 THEN r END))
         - (max(CASE WHEN cohort=0 AND period=1 THEN r END)
            - max(CASE WHEN cohort=0 AND period=0 THEN r END))
           AS did FROM r)
       SELECT a.cohort, a.n AS n_pre, b2.n AS n_post,
         ${r6sql("b2.r - a.r")} AS delta,
         ${r6sql("did")} AS did
       FROM r a JOIN r b2 ON a.cohort = b2.cohort
         AND a.period = 0 AND b2.period = 1, d
       ORDER BY a.cohort""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select((col("user_id") % 2).as("cohort"),
        epochDay(col("ts")).as("di"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("is_p"))
    val b = ev.agg(((min(col("di")) + max(col("di"))) / 2)
      .cast("long").as("split"))
    val r = ev.crossJoin(broadcast(b))
      .groupBy(col("cohort").cast("long").as("cohort"),
        when(col("di") <= col("split"), 0L).otherwise(1L)
          .as("period"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("is_p")).cast("long").as("p"))
      .withColumn("r", col("p").cast("double") / col("n"))
    def cell(c: Int, p: Int) = max(when(col("cohort") === c
      && col("period") === p, col("r")))
    val did = r.agg(((cell(1, 1) - cell(1, 0))
      - (cell(0, 1) - cell(0, 0))).as("did"))
    val pre = r.filter(col("period") === 0)
      .select(col("cohort"), col("n").as("n_pre"), col("r").as("ra"))
    val post = r.filter(col("period") === 1)
      .select(col("cohort").as("c2"), col("n").as("n_post"),
        col("r").as("rb"))
    pre.join(post, col("cohort") === col("c2"))
      .crossJoin(broadcast(did))
      .select(col("cohort"), col("n_pre"), col("n_post"),
        r6(col("rb") - col("ra")).as("delta"),
        r6(col("did")).as("did"))
      .orderBy(col("cohort"))
  }

  /** Rank matching within activity strata — the matched-cohort
    * construction behind observational A/B reads: users bucketed by
    * exact activity-count strata, each cohort ranked inside its
    * stratum by (n_events, user_id), pairs joined on equal rank, and
    * the per-stratum mean absolute spend gap reported. Every step is
    * integer-exact; the rank windows partition by (stratum, cohort)
    * — never a global sort. */
  val rankMatching: QueryDef = QueryDef.sql(
    s"""WITH u AS (SELECT user_id, user_id % 2 AS cohort,
           CAST(count(*) AS BIGINT) n_ev,
           CAST(sum(${microsSql("value")})
             AS BIGINT) spend
         FROM events GROUP BY 1,2),
       st AS (SELECT *, least(n_ev // 20, 9) AS stratum,
           row_number() OVER (PARTITION BY least(n_ev // 20, 9),
             cohort ORDER BY n_ev, user_id) rk FROM u),
       m AS (SELECT a.stratum, a.spend sa, b.spend sb
         FROM st a JOIN st b ON a.stratum = b.stratum
           AND a.rk = b.rk AND a.cohort = 0 AND b.cohort = 1)
       SELECT CAST(stratum AS BIGINT) stratum,
         CAST(count(*) AS BIGINT) n_pairs,
         ${r6sql(
           "CAST(sum(abs(sa - sb)) AS DOUBLE)/count(*)/1000000.0")}
           AS mean_abs_diff
       FROM m GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy(col("user_id"), (col("user_id") % 2).as("cohort"))
      .agg(count(lit(1)).cast("long").as("n_ev"),
        sum(micros(col("value")))
          .cast("long").as("spend"))
      .withColumn("stratum",
        least(expr("n_ev div 20"), lit(9L)).cast("long"))
    val w = Window.partitionBy(col("stratum"), col("cohort"))
      .orderBy(col("n_ev"), col("user_id"))
    val st = u.withColumn("rk", row_number().over(w))
    val a = st.filter(col("cohort") === 0)
      .select(col("stratum"), col("rk"), col("spend").as("sa"))
    val bb = st.filter(col("cohort") === 1)
      .select(col("stratum").as("s2"), col("rk").as("rk2"),
        col("spend").as("sb"))
    a.join(bb, col("stratum") === col("s2")
        && col("rk") === col("rk2"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        r6(sum(abs(col("sa") - col("sb"))).cast("double")
          / count(lit(1)) / 1000000.0).as("mean_abs_diff"))
      .orderBy(col("stratum"))
  }

  /** Inter-arrival burstiness per type: CV of event gaps (σ/μ over
    * exact µs gaps, Σg as long and Σg² as exact decimal) and the
    * bounded Goh–Barabási burstiness (CV−1)/(CV+1) — Poisson
    * arrivals sit at 0, bursty traffic above. The only float ops
    * are one sqrt (IEEE-exact) and two divides on exact inputs; the
    * gap sequencing shares one (type; ts, event_id) sort. */
  val burstiness: QueryDef = QueryDef.sql(
    s"""WITH s AS (SELECT event_type, epoch_us(ts) us,
           lag(epoch_us(ts)) OVER (PARTITION BY event_type
             ORDER BY ts, event_id) pus FROM events),
       g AS (SELECT event_type, us - pus AS gp FROM s
             WHERE pus IS NOT NULL),
       a AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
           CAST(sum(gp) AS BIGINT) sg,
           CAST(sum(CAST(gp AS DECIMAL(19,0))
             * CAST(gp AS DECIMAL(19,0))) AS DOUBLE) sgg
         FROM g GROUP BY 1),
       c AS (SELECT event_type, n,
           sqrt((sgg - CAST(sg AS DOUBLE)*sg/n)/(n-1))
             / (CAST(sg AS DOUBLE)/n) AS cv
         FROM a WHERE n >= 2)
       SELECT event_type, n AS n_gaps,
         ${r6sql("cv")} AS cv,
         ${r6sql("(cv - 1.0)/(cv + 1.0)")}
           AS burstiness
       FROM c ORDER BY 1""") { (s, d) =>
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val g = Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        lag(unix_micros(col("ts")), 1).over(w).as("pus"))
      .filter(col("pus").isNotNull)
      .select(col("event_type"), (col("us") - col("pus")).as("gp"))
    val a = g.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("gp")).cast("long").as("sg"),
        sum(col("gp").cast("decimal(19,0)")
          * col("gp").cast("decimal(19,0)")).cast("double")
          .as("sgg"))
      .filter(col("n") >= 2)
    val cv = sqrt((col("sgg")
      - col("sg").cast("double") * col("sg") / col("n"))
      / (col("n") - 1)) / (col("sg").cast("double") / col("n"))
    a.select(col("event_type"), col("n").as("n_gaps"),
        r6(cv).as("cv"),
        r6((cv - 1.0) / (cv + 1.0)).as("burstiness"))
      .orderBy(col("event_type"))
  }

  /** Simpson's-paradox audit: does the cohort-B-minus-cohort-A
    * purchase-share difference keep its POOLED sign inside every
    * ISO-weekday stratum? A stratum that flips sign is the Simpson
    * flag — the pooled metric is confounded by day mix. All counts
    * exact; the sign comparison operates on divides of exact longs,
    * identical cross-engine. */
  val simpsonAudit: QueryDef = QueryDef.sql(
    s"""WITH c AS (SELECT user_id % 2 AS cohort,
           isodow(CAST(date_trunc('day', ts) AS DATE)) dw,
           CASE WHEN event_type='purchase' THEN 1 ELSE 0 END is_p
         FROM events),
       g AS (SELECT CAST(cohort AS BIGINT) cohort,
           CAST(dw AS BIGINT) dw, CAST(count(*) AS BIGINT) n,
           CAST(sum(is_p) AS BIGINT) p FROM c GROUP BY 1,2),
       pool AS (SELECT CAST(cohort AS BIGINT) cohort,
           CAST(count(*) AS BIGINT) n, CAST(sum(is_p) AS BIGINT) p
         FROM c GROUP BY 1),
       pd AS (SELECT
           max(CASE WHEN cohort=1 THEN CAST(p AS DOUBLE)/n END)
           - max(CASE WHEN cohort=0 THEN CAST(p AS DOUBLE)/n END)
           AS pooled_diff FROM pool),
       sd AS (SELECT a.dw,
           CAST(b.p AS DOUBLE)/b.n - CAST(a.p AS DOUBLE)/a.n
             AS strat_diff
         FROM g a JOIN g b ON a.dw=b.dw AND a.cohort=0
           AND b.cohort=1)
       SELECT sd.dw AS iso_dow,
         ${r6sql("strat_diff")} AS strat_diff,
         ${r6sql("pooled_diff")} AS pooled_diff,
         CASE WHEN (strat_diff >= 0) = (pooled_diff >= 0) THEN 1
           ELSE 0 END AS agrees
       FROM sd, pd ORDER BY 1""") { (s, d) =>
    val c = Tables.events(s, d)
      .select((col("user_id") % 2).cast("long").as("cohort"),
        (weekday(to_date(date_trunc("day", col("ts")))) + 1)
          .cast("long").as("dw"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("is_p"))
    val g = c.groupBy(col("cohort"), col("dw"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("is_p")).cast("long").as("p"))
    val pool = c.groupBy(col("cohort"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("is_p")).cast("long").as("p"))
    val pd = pool.agg((
      max(when(col("cohort") === 1,
        col("p").cast("double") / col("n")))
      - max(when(col("cohort") === 0,
        col("p").cast("double") / col("n")))).as("pooled_diff"))
    val a = g.filter(col("cohort") === 0)
      .select(col("dw"), (col("p").cast("double") / col("n"))
        .as("ra"))
    val bb = g.filter(col("cohort") === 1)
      .select(col("dw").as("dw2"),
        (col("p").cast("double") / col("n")).as("rb"))
    a.join(bb, col("dw") === col("dw2"))
      .crossJoin(broadcast(pd))
      .select(col("dw").as("iso_dow"),
        r6(col("rb") - col("ra")).as("strat_diff"),
        r6(col("pooled_diff")).as("pooled_diff"),
        when((col("rb") - col("ra") >= 0)
          === (col("pooled_diff") >= 0), 1).otherwise(0)
          .as("agrees"))
      .orderBy(col("iso_dow"))
  }

  /** Wald–Wolfowitz runs test on the daily up/down sequence per
    * type — is the series' direction RANDOM or trending/oscillating?
    * Signs, run breaks, and counts are all integer window logic on
    * the daily grid; the z-score is one fixed IEEE sequence (sqrt
    * only) on exact counts. Flat days (Δ=0) are dropped per the
    * classic two-category formulation. */
  val runsTest: QueryDef = QueryDef.sql(
    s"""WITH d AS ($dailyMicroSumsSql),
       s AS (SELECT event_type, di,
           CASE WHEN dv > lag(dv) OVER w THEN 1
                WHEN dv < lag(dv) OVER w THEN -1 ELSE 0 END sg
         FROM d WINDOW w AS (PARTITION BY event_type ORDER BY di)),
       nz AS (SELECT event_type, di, sg,
           lag(sg) OVER (PARTITION BY event_type ORDER BY di) psg
         FROM s WHERE sg IS NOT NULL AND sg <> 0),
       g AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
           CAST(sum(CASE WHEN sg=1 THEN 1 ELSE 0 END) AS BIGINT)
             n_up,
           CAST(sum(CASE WHEN psg IS NULL OR sg <> psg THEN 1
             ELSE 0 END) AS BIGINT) runs
         FROM nz GROUP BY 1)
       SELECT event_type, n, n_up, runs,
         ${r6sql(
           """(runs - (2.0*n_up*(n-n_up)/n + 1))
              / sqrt( (2.0*n_up*(n-n_up)*(2.0*n_up*(n-n_up)-n))
                / (CAST(n AS DOUBLE)*n*(n-1)) )""")} AS z
       FROM g WHERE n_up > 0 AND n_up < n ORDER BY 1""") { (s, d) =>
    val dg = dailyMicroSums(s, d)
    val w = Window.partitionBy(col("event_type")).orderBy(col("di"))
    val sg = when(col("dv") > lag(col("dv"), 1).over(w), 1L)
      .when(col("dv") < lag(col("dv"), 1).over(w), -1L)
      .otherwise(0L)
    val nz = dg.withColumn("sg", sg)
      .filter(col("sg").isNotNull && col("sg") =!= 0)
      .withColumn("psg", lag(col("sg"), 1).over(w))
    val g = nz.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("sg") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_up"),
        sum(when(col("psg").isNull
          || col("sg") =!= col("psg"), 1L).otherwise(0L))
          .cast("long").as("runs"))
      .filter(col("n_up") > 0 && col("n_up") < col("n"))
    val two = lit(2.0) * col("n_up") * (col("n") - col("n_up"))
    g.select(col("event_type"), col("n"), col("n_up"), col("runs"),
        r6((col("runs") - (two / col("n") + 1))
          / sqrt((two * (two - col("n")))
            / (col("n").cast("double") * col("n")
              * (col("n") - 1)))).as("z"))
      .orderBy(col("event_type"))
  }

  /** Autocorrelation table (lags 1–7) of the daily series per type —
    * q206 reads one lag; this emits the ACF page a seasonality
    * analyst actually looks at. Lag pairing is an equi-join on
    * di + k (grid gaps pair nothing — both engines see the same
    * pairs); all five sufficient statistics exact (Σ as long,
    * cross-products as DECIMAL(19)²); the correlation is one IEEE
    * sequence per (type, lag) row. */
  val acfLags: QueryDef = QueryDef.sql(
    s"""WITH d AS ($dailyMicroSumsSql),
       lg AS (SELECT unnest(generate_series(1,7)) AS lag_k),
       p AS (SELECT a.event_type, lg.lag_k, a.dv x, b.dv y
         FROM d a JOIN lg ON true
         JOIN d b ON b.event_type=a.event_type
           AND b.di = a.di + lg.lag_k),
       st AS (SELECT event_type, lag_k, CAST(count(*) AS BIGINT) n,
           CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
           CAST(sum(CAST(x AS DECIMAL(19,0))*CAST(x AS
             DECIMAL(19,0))) AS DOUBLE) sxx,
           CAST(sum(CAST(y AS DECIMAL(19,0))*CAST(y AS
             DECIMAL(19,0))) AS DOUBLE) syy,
           CAST(sum(CAST(x AS DECIMAL(19,0))*CAST(y AS
             DECIMAL(19,0))) AS DOUBLE) sxy
         FROM p GROUP BY 1,2 HAVING count(*) >= 3)
       SELECT event_type, CAST(lag_k AS BIGINT) lag_k, n,
         ${r6sql(
           """(n*sxy - CAST(sx AS DOUBLE)*sy)
              / sqrt((n*sxx - CAST(sx AS DOUBLE)*sx)
                * (n*syy - CAST(sy AS DOUBLE)*sy))""")} AS acf
       FROM st ORDER BY 1,2""") { (s, d) =>
    val dg = dailyMicroSums(s, d)
    val a = dg.withColumn("lag_k",
      explode(sequence(lit(1L), lit(7L))))
    val b = dg.select(col("event_type").as("et2"),
      col("di").as("di2"), col("dv").as("y"))
    val st = a.join(b, col("et2") === col("event_type")
        && col("di2") === col("di") + col("lag_k"))
      .select(col("event_type"), col("lag_k"),
        col("dv").as("x"), col("y"))
      .groupBy(col("event_type"), col("lag_k"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x").cast("decimal(19,0)")
          * col("x").cast("decimal(19,0)")).cast("double").as("sxx"),
        sum(col("y").cast("decimal(19,0)")
          * col("y").cast("decimal(19,0)")).cast("double").as("syy"),
        sum(col("x").cast("decimal(19,0)")
          * col("y").cast("decimal(19,0)")).cast("double").as("sxy"))
      .filter(col("n") >= 3)
    st.select(col("event_type"), col("lag_k"), col("n"),
        r6((col("n") * col("sxy")
            - col("sx").cast("double") * col("sy"))
          / sqrt((col("n") * col("sxx")
              - col("sx").cast("double") * col("sx"))
            * (col("n") * col("syy")
              - col("sy").cast("double") * col("sy")))).as("acf"))
      .orderBy(col("event_type"), col("lag_k"))
  }

  /** Calendar-completeness audit: per type, span vs present days on
    * the daily grid — the MISSING-day count q107's gap-fill would
    * have to repair (this audits; q107 fixes). Pure integer
    * aggregate. */
  val missingDays: QueryDef = QueryDef.sql(
    s"""WITH d AS (SELECT event_type,
           CAST(${epochDaySql("ts")}
             AS BIGINT) di
         FROM events GROUP BY 1,2),
       b AS (SELECT event_type, CAST(min(di) AS BIGINT) lo,
           CAST(max(di) AS BIGINT) hi,
           CAST(count(*) AS BIGINT) present FROM d GROUP BY 1)
       SELECT event_type, hi - lo + 1 AS span_days, present,
         hi - lo + 1 - present AS missing_days
       FROM b ORDER BY 1""") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        epochDay(col("ts")).as("di"))
      .distinct()
      .groupBy(col("event_type"))
      .agg(min(col("di")).cast("long").as("lo"),
        max(col("di")).cast("long").as("hi"),
        count(lit(1)).cast("long").as("present"))
      .select(col("event_type"),
        (col("hi") - col("lo") + 1).as("span_days"), col("present"),
        (col("hi") - col("lo") + 1 - col("present"))
          .as("missing_days"))
      .orderBy(col("event_type"))
  }

  /** Theil T inequality index over per-user spend — the
    * decomposable inequality measure next to q209's Gini and q258's
    * Lorenz table. ratio = x·n/Σx is one IEEE multiply-divide on
    * exact longs; each ratio·ln(ratio) contribution is pinned to
    * integer MICROS and summed as longs — exact, order-independent,
    * and map-side combinable. (r14, VERDICT r13 #4: the previous
    * in-order double fold collected EVERY user's contribution into
    * one constant-keyed array — a single-task corpus-sized buffer at
    * scale, the q156 entries-vs-bytes blindspot. The fixed-point sum
    * removes the collect entirely; |k| ≤ n·ln n·10⁶ stays far below
    * 2⁶³ at any plausible user count.) Zero-spend users contribute 0
    * and are excluded on both sides. */
  val theilIndex: QueryDef = QueryDef.sql(
    s"""WITH u AS (SELECT user_id,
           CAST(sum(${microsSql("value")})
             AS BIGINT) x
         FROM events GROUP BY 1),
       t AS (SELECT CAST(sum(x) AS BIGINT) sx,
           CAST(count(*) AS BIGINT) n FROM u),
       c AS (SELECT user_id, (CAST(x AS DOUBLE)*n/sx) AS ratio
             FROM u, t),
       h AS (SELECT CAST(sum(${microsSql("ratio * ln(ratio)")}) AS BIGINT) thk
         FROM c WHERE ratio > 0)
       SELECT t.n AS n_users,
         ${r6sql("(thk / 1000000.0) / t.n")} AS theil
       FROM h, t""") { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(micros(col("value")))
        .cast("long").as("x"))
    val t = u.agg(sum(col("x")).cast("long").as("sx"),
      count(lit(1)).cast("long").as("n"))
    val ratio = col("x").cast("double") * col("n") / col("sx")
    u.crossJoin(broadcast(t))
      .select(col("user_id"), ratio.as("ratio"), col("n"))
      .filter(col("ratio") > 0)
      .groupBy(col("n"))
      .agg(sum(micros(col("ratio") * log(col("ratio")))).as("thk"))
      .select(col("n").as("n_users"),
        r6((col("thk") / lit(1000000.0)) / col("n")).as("theil"))
  }

  /** Value-positional window breadth: first_value / nth_value(2) /
    * last_value / max−min range over a centered 5-row frame on the
    * daily grid — the window-function API surface q213 (rank family)
    * and q12 (running) don't touch, exercised with explicit frame
    * bounds on both engines. All values exact micro-longs; one
    * (type, day) sort serves every function. */
  val windowValueBreadth: QueryDef = QueryDef.sql(
    s"""WITH d AS ($dailyMicroSumsSql),
       w AS (SELECT event_type, di, dv,
           first_value(dv) OVER f AS w_first,
           last_value(dv) OVER f AS w_last,
           nth_value(dv, 2) OVER f AS w_second,
           CAST(max(dv) OVER f AS BIGINT) w_max,
           CAST(min(dv) OVER f AS BIGINT) w_min
         FROM d WINDOW f AS (PARTITION BY event_type ORDER BY di
           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING))
       SELECT event_type, di AS day_idx, dv, w_first, w_second,
         w_last, w_max - w_min AS w_range
       FROM w ORDER BY 1,2""") { (s, d) =>
    val dg = dailyMicroSums(s, d)
    val f = Window.partitionBy(col("event_type")).orderBy(col("di"))
      .rowsBetween(-2, 2)
    dg.select(col("event_type"), col("di").as("day_idx"), col("dv"),
        first(col("dv")).over(f).as("w_first"),
        nth_value(col("dv"), 2).over(f).as("w_second"),
        last(col("dv")).over(f).as("w_last"),
        (max(col("dv")).over(f) - min(col("dv")).over(f))
          .cast("long").as("w_range"))
      .orderBy(col("event_type"), col("day_idx"))
  }

  /** Newcomer share per week: what fraction of each week's events
    * come from users whose FIRST-ever event falls in that week —
    * the growth-vs-retention composition read (a product living off
    * newcomers looks healthy in volume while retention rots). First
    * weeks via one min-aggregate per user; one user-keyed join. */
  val newcomerShare: QueryDef = QueryDef.sql(
    s"""WITH f AS (SELECT user_id,
           CAST(min(${epochDaySql("ts")})
             // 7 AS BIGINT) fw
         FROM events GROUP BY 1),
       e AS (SELECT user_id,
           CAST((${epochDaySql("ts")})
             // 7 AS BIGINT) wk FROM events),
       g AS (SELECT e.wk, CAST(count(*) AS BIGINT) n_events,
           CAST(sum(CASE WHEN f.fw = e.wk THEN 1 ELSE 0 END)
             AS BIGINT) newcomer_events
         FROM e JOIN f ON e.user_id = f.user_id GROUP BY 1)
       SELECT wk AS week_idx, n_events, newcomer_events,
         ${r6sql(
           "CAST(newcomer_events AS DOUBLE)/n_events")}
           AS newcomer_share
       FROM g ORDER BY 1""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        epochWeek.as("wk"))
    val f = ev.groupBy(col("user_id").as("u2"))
      .agg(min(col("wk")).cast("long").as("fw"))
    ev.join(f, col("user_id") === col("u2"))
      .groupBy(col("wk").as("week_idx"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(when(col("fw") === col("wk"), 1L).otherwise(0L))
          .cast("long").as("newcomer_events"))
      .select(col("week_idx"), col("n_events"),
        col("newcomer_events"),
        r6(col("newcomer_events").cast("double") / col("n_events"))
          .as("newcomer_share"))
      .orderBy(col("week_idx"))
  }

  /** Entropy RATE of the event sequence: H(next | prev) over the
    * bigram transition residue — how predictable the next event is
    * GIVEN the current one (q262 measures marginal mix; q203 gives
    * the raw matrix; this is the single-number predictability).
    * Counts exact; each −(c/N)·ln(c/c_prev) cell r6-pinned, folded
    * in (prev, next) order. One sequencing window + two
    * residue-sized aggregates. */
  val seqEntropyRate: QueryDef = QueryDef.sql(
    s"""WITH seq AS (SELECT user_id, event_type p,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) n2 FROM events),
       tr AS (SELECT p, n2, CAST(count(*) AS BIGINT) c FROM seq
              WHERE n2 IS NOT NULL GROUP BY 1,2),
       m AS (SELECT p AS p2, CAST(sum(c) AS BIGINT) cp FROM tr
             GROUP BY 1),
       t AS (SELECT CAST(sum(c) AS BIGINT) ct FROM tr),
       h AS (SELECT list_sum(list(${r6sql(
         "-(CAST(c AS DOUBLE)/ct) * ln(CAST(c AS DOUBLE)/cp)")}
           ORDER BY p, n2)) er,
           CAST(count(*) AS BIGINT) n_pairs
         FROM tr JOIN m ON p = p2, t)
       SELECT n_pairs, ${r6sql("er")}
         AS entropy_rate_nats FROM h""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(s, d)
      .select(col("event_type").as("p"),
        lead(col("event_type"), 1).over(w).as("n2"))
      .filter(col("n2").isNotNull)
      .groupBy(col("p"), col("n2"))
      .agg(count(lit(1)).cast("long").as("c"))
    val m = tr.groupBy(col("p").as("p2"))
      .agg(sum(col("c")).cast("long").as("cp"))
    val t = tr.agg(sum(col("c")).cast("long").as("ct"))
    val cell = -((col("c").cast("double") / col("ct")) *
      log(col("c").cast("double") / col("cp")))
    tr.join(broadcast(m), col("p") === col("p2"))
      .crossJoin(broadcast(t))
      .agg(aggregate(transform(array_sort(collect_list(struct(
          col("p"), col("n2"), r6(cell).as("contrib")))),
          _.getField("contrib")), lit(0.0), _ + _).as("er"),
        count(lit(1)).cast("long").as("n_pairs"))
      .select(col("n_pairs"), r6(col("er"))
        .as("entropy_rate_nats"))
  }

  /** Week-over-week user flows: retained / arrived / churned per
    * week from a FULL OUTER join of adjacent weekly active-user
    * sets — the turnover ledger behind q97's cohort matrix (cohorts
    * track ONE entry generation; this tracks every weekly edge).
    * Lead-in and lead-out weeks excluded so every row compares two
    * real weeks. */
  val weeklyTurnover: QueryDef = QueryDef.sql(
    s"""WITH uw AS (SELECT DISTINCT user_id,
           CAST((${epochDaySql("ts")})
             // 7 AS BIGINT) wk FROM events),
       p AS (SELECT a.wk + 1 AS wk, a.user_id FROM uw a),
       j AS (SELECT coalesce(c.wk, p.wk) wk,
           CAST(sum(CASE WHEN c.user_id IS NOT NULL
             AND p.user_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) retained,
           CAST(sum(CASE WHEN c.user_id IS NOT NULL
             AND p.user_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) arrived,
           CAST(sum(CASE WHEN c.user_id IS NULL
             AND p.user_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) churned
         FROM uw c FULL JOIN p ON c.wk = p.wk
           AND c.user_id = p.user_id GROUP BY 1),
       b AS (SELECT CAST(min(wk) AS BIGINT) w0,
           CAST(max(wk) AS BIGINT) w1 FROM uw)
       SELECT wk AS week_idx, retained, arrived, churned
       FROM j, b WHERE wk > w0 AND wk <= w1 ORDER BY 1""") { (s, d) =>
    val uw = Tables.events(s, d)
      .select(col("user_id"),
        epochWeek.as("wk"))
      .distinct()
    val p = uw.select((col("wk") + 1).as("pwk"),
      col("user_id").as("pu"))
    val b = uw.agg(min(col("wk")).cast("long").as("w0"),
      max(col("wk")).cast("long").as("w1"))
    uw.join(p, col("wk") === col("pwk")
        && col("user_id") === col("pu"), "full")
      .select(coalesce(col("wk"), col("pwk")).as("jwk"),
        col("user_id"), col("pu"))
      .groupBy(col("jwk"))
      .agg(
        sum(when(col("user_id").isNotNull
          && col("pu").isNotNull, 1L).otherwise(0L)).cast("long")
          .as("retained"),
        sum(when(col("user_id").isNotNull
          && col("pu").isNull, 1L).otherwise(0L)).cast("long")
          .as("arrived"),
        sum(when(col("user_id").isNull
          && col("pu").isNotNull, 1L).otherwise(0L)).cast("long")
          .as("churned"))
      .crossJoin(broadcast(b))
      .filter(col("jwk") > col("w0") && col("jwk") <= col("w1"))
      .select(col("jwk").as("week_idx"), col("retained"),
        col("arrived"), col("churned"))
      .orderBy(col("week_idx"))
  }

  /** Churn-risk screen: users whose OPEN gap (time since last
    * event, anchored to the data's max timestamp — never the wall
    * clock) exceeds 3× their own median inter-event gap. The median
    * is the exact interpolated percentile (q193 equivalence) of
    * exact µs gaps; the 3× cut compares identically-derived
    * doubles. Users with <3 events excluded (no meaningful median).
    * Emitted as risk-bucket counts. */
  val churnRisk: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT user_id, epoch_us(ts) us FROM events),
       b AS (SELECT CAST(max(us) AS BIGINT) now_us FROM e),
       g AS (SELECT user_id, us - lag(us) OVER (PARTITION BY user_id
             ORDER BY us) gp FROM e),
       med AS (SELECT user_id AS u2,
           ${r6sql("quantile_cont(gp, 0.5)")} mg
         FROM g WHERE gp IS NOT NULL GROUP BY 1),
       lastv AS (SELECT user_id, CAST(max(us) AS BIGINT) lu,
           CAST(count(*) AS BIGINT) n_ev FROM e GROUP BY 1),
       r AS (SELECT lastv.user_id, CAST(now_us - lu AS BIGINT)
             open_gap, mg
         FROM lastv JOIN med ON user_id = u2, b WHERE n_ev >= 3)
       SELECT CASE WHEN open_gap > 3*mg THEN 'at_risk'
           ELSE 'active' END AS risk,
         CAST(count(*) AS BIGINT) n_users
       FROM r GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val b = e.agg(max(col("us")).cast("long").as("now_us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val g = e.withColumn("gp", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gp").isNotNull)
    val med = g.groupBy(col("user_id").as("u2"))
      .agg(r6(percentile(col("gp"), lit(0.5))).as("mg"))
    val lastv = e.groupBy(col("user_id"))
      .agg(max(col("us")).cast("long").as("lu"),
        count(lit(1)).cast("long").as("n_ev"))
      .filter(col("n_ev") >= 3)
    lastv.join(med, col("user_id") === col("u2"))
      .crossJoin(broadcast(b))
      .select(when((col("now_us") - col("lu")).cast("long")
        > lit(3) * col("mg"), "at_risk").otherwise("active")
        .as("risk"))
      .groupBy(col("risk"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy(col("risk"))
  }

  /** GMV bridge: week-over-week purchase-revenue change decomposed
    * into retained users' delta + new users' gain + churned users'
    * loss (the additive identity every revenue review wants — the
    * check column proves the decomposition sums exactly). One FULL
    * OUTER join of adjacent weekly (user, revenue) residues; all
    * money exact micro-longs. */
  val gmvBridge: QueryDef = QueryDef.sql(
    s"""WITH uwv AS (SELECT user_id,
           CAST((${epochDaySql("ts")})
             // 7 AS BIGINT) wk,
           CAST(sum(${microsSql("value")})
             AS BIGINT) v
         FROM events WHERE event_type='purchase' GROUP BY 1,2),
       p AS (SELECT user_id, wk + 1 AS wk, v FROM uwv),
       j AS (SELECT coalesce(c.wk, p.wk) wk,
           CAST(sum(CASE WHEN c.user_id IS NOT NULL
             AND p.user_id IS NOT NULL THEN c.v - p.v ELSE 0 END)
             AS BIGINT) retained_delta,
           CAST(sum(CASE WHEN p.user_id IS NULL THEN c.v ELSE 0
             END) AS BIGINT) new_gain,
           CAST(sum(CASE WHEN c.user_id IS NULL THEN -p.v ELSE 0
             END) AS BIGINT) churn_loss
         FROM uwv c FULL JOIN p ON c.wk = p.wk
           AND c.user_id = p.user_id GROUP BY 1),
       b AS (SELECT CAST(min(wk) AS BIGINT) w0,
           CAST(max(wk) AS BIGINT) w1 FROM uwv)
       SELECT j.wk AS week_idx, retained_delta, new_gain,
         churn_loss,
         retained_delta + new_gain + churn_loss AS total_delta_check
       FROM j, b WHERE j.wk > w0 AND j.wk <= w1
       ORDER BY 1""") { (s, d) =>
    val uwv = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"),
        epochWeek.as("wk"))
      .agg(sum(micros(col("value")))
        .cast("long").as("v"))
    val p = uwv.select(col("user_id").as("pu"),
      (col("wk") + 1).as("pwk"), col("v").as("pvv"))
    val b = uwv.agg(min(col("wk")).cast("long").as("w0"),
      max(col("wk")).cast("long").as("w1"))
    uwv.join(p, col("wk") === col("pwk")
        && col("user_id") === col("pu"), "full")
      .select(coalesce(col("wk"), col("pwk")).as("jwk"),
        col("user_id"), col("pu"), col("v"), col("pvv"))
      .groupBy(col("jwk"))
      .agg(
        sum(when(col("user_id").isNotNull && col("pu").isNotNull,
          col("v") - col("pvv")).otherwise(0L)).cast("long")
          .as("retained_delta"),
        sum(when(col("pu").isNull, col("v")).otherwise(0L))
          .cast("long").as("new_gain"),
        sum(when(col("user_id").isNull, -col("pvv")).otherwise(0L))
          .cast("long").as("churn_loss"))
      .crossJoin(broadcast(b))
      .filter(col("jwk") > col("w0") && col("jwk") <= col("w1"))
      .select(col("jwk").as("week_idx"), col("retained_delta"),
        col("new_gain"), col("churn_loss"),
        (col("retained_delta") + col("new_gain")
          + col("churn_loss")).as("total_delta_check"))
      .orderBy(col("week_idx"))
  }

  /** Top-3 most prominent daily peaks per type: strict local maxima
    * ranked by prominence (value over the centered 7-day mean) —
    * emitted as a top-k, NOT a threshold cut, because relative
    * prominence shrinks ~1/√N with volume (a fixed 1.2× cut that
    * fires at sf0.001 finds nothing at sf0.1 — measured max ratios
    * 2.32/1.54/1.12 across the three SFs). The ratio's operands are
    * exact longs so the ranking doubles are bit-identical; ties
    * break by day. */
  val peakDetection: QueryDef = QueryDef.sql(
    s"""WITH d AS ($dailyMicroSumsSql),
       w AS (SELECT event_type, di, dv, lag(dv) OVER f pv,
           lead(dv) OVER f nv,
           CAST(sum(dv) OVER (PARTITION BY event_type ORDER BY di
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
             s7,
           CAST(count(*) OVER (PARTITION BY event_type ORDER BY di
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
             c7
         FROM d WINDOW f AS (PARTITION BY event_type ORDER BY di)),
       pk AS (SELECT event_type, di, dv,
           CAST(dv AS DOUBLE)*c7/s7 AS prom,
           row_number() OVER (PARTITION BY event_type
             ORDER BY CAST(dv AS DOUBLE)*c7/s7 DESC, di) rk
         FROM w WHERE pv IS NOT NULL AND nv IS NOT NULL
           AND dv > pv AND dv > nv)
       SELECT event_type, CAST(rk AS BIGINT) peak_rank,
         di AS day_idx, dv AS day_val_micro,
         ${r6sql("prom")} AS prominence
       FROM pk WHERE rk <= 3 ORDER BY 1,2""") { (s, d) =>
    val dg = dailyMicroSums(s, d)
    val f = Window.partitionBy(col("event_type")).orderBy(col("di"))
    val f7 = f.rowsBetween(-3, 3)
    val w = dg.select(col("event_type"), col("di"), col("dv"),
      lag(col("dv"), 1).over(f).as("pv"),
      lead(col("dv"), 1).over(f).as("nv"),
      sum(col("dv")).over(f7).cast("long").as("s7"),
      count(lit(1)).over(f7).cast("long").as("c7"))
    val prom = col("dv").cast("double") * col("c7") / col("s7")
    val rkw = Window.partitionBy(col("event_type"))
      .orderBy(prom.desc, col("di"))
    w.filter(col("pv").isNotNull && col("nv").isNotNull
        && col("dv") > col("pv") && col("dv") > col("nv"))
      .withColumn("prom", prom)
      .withColumn("rk", row_number().over(rkw).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("event_type"), col("rk").as("peak_rank"),
        col("di").as("day_idx"), col("dv").as("day_val_micro"),
        r6(col("prom")).as("prominence"))
      .orderBy(col("event_type"), col("peak_rank"))
  }

  /** Longest active-day streak per user, emitted as a streak-length
    * histogram — the classic gaps-and-islands read (di − row_number
    * is constant within a consecutive run). Everything integer; the
    * per-user window partitions by user. */
  val streakHistogram: QueryDef = QueryDef.sql(
    s"""WITH ud AS (SELECT DISTINCT user_id,
           CAST(${epochDaySql("ts")}
             AS BIGINT) di FROM events),
       g AS (SELECT user_id, di,
           di - row_number() OVER (PARTITION BY user_id
             ORDER BY di) AS grp FROM ud),
       st AS (SELECT user_id, CAST(count(*) AS BIGINT) len FROM g
              GROUP BY user_id, grp),
       mx AS (SELECT user_id, CAST(max(len) AS BIGINT) max_streak
              FROM st GROUP BY 1)
       SELECT max_streak, CAST(count(*) AS BIGINT) n_users
       FROM mx GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        epochDay(col("ts")).as("di"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("di"))
    ud.withColumn("grp", col("di") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).cast("long").as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).cast("long").as("max_streak"))
      .groupBy(col("max_streak"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy(col("max_streak"))
  }

  /** Seasonal strength: share of daily variance explained by the
    * same-weekday means (R² of the weekday-mean model) per type —
    * the effect-size companion to q245's anomaly flags and q217's
    * decomposition. SS_total from exact decimal Σdv²; SS_resid from
    * r6-pinned residual squares folded in residual order; residuals
    * rescaled to value units before squaring (q245 overflow
    * lesson). */
  val seasonalStrength: QueryDef = QueryDef.sql(
    s"""WITH d AS (SELECT event_type,
           CAST(${epochDaySql("ts")}
             AS BIGINT) di,
           isodow(CAST(date_trunc('day', ts) AS DATE)) dw,
           CAST(sum(${microsSql("value")})
             AS BIGINT) dv
         FROM events GROUP BY 1,2,3),
       m AS (SELECT event_type et, dw dw2, CAST(sum(dv) AS BIGINT)
             s, CAST(count(*) AS BIGINT) c FROM d GROUP BY 1,2),
       t AS (SELECT event_type et2, CAST(sum(dv) AS BIGINT) st,
           CAST(count(*) AS BIGINT) n,
           CAST(sum(CAST(dv AS DECIMAL(19,0))*CAST(dv AS
             DECIMAL(19,0))) AS DOUBLE) svv FROM d GROUP BY 1),
       r AS (SELECT d.event_type,
           (CAST(dv AS DOUBLE) - CAST(m.s AS DOUBLE)/m.c)/1000000.0
             AS resid
         FROM d JOIN m ON d.event_type=m.et AND d.dw=m.dw2),
       ss AS (SELECT event_type, list_sum(list(
           ${r6sql("resid*resid")} ORDER BY resid))
           ssr FROM r GROUP BY 1)
       SELECT t.et2 AS event_type, t.n,
         ${r6sql(
           """1.0 - ssr/((svv - CAST(st AS DOUBLE)*st/n)
              /1000000.0/1000000.0)""")} AS seasonal_strength
       FROM ss JOIN t ON event_type = et2 ORDER BY 1""") { (s, d) =>
    val vk = micros(col("value"))
    val dg = Tables.events(s, d)
      .groupBy(col("event_type"),
        epochDay(col("ts")).as("di"),
        (weekday(to_date(date_trunc("day", col("ts")))) + 1)
          .as("dw"))
      .agg(sum(vk).cast("long").as("dv"))
    val m = dg.groupBy(col("event_type").as("et"),
        col("dw").as("dw2"))
      .agg(sum(col("dv")).cast("long").as("s"),
        count(lit(1)).cast("long").as("c"))
    val t = dg.groupBy(col("event_type").as("et2"))
      .agg(sum(col("dv")).cast("long").as("st"),
        count(lit(1)).cast("long").as("n"),
        sum(col("dv").cast("decimal(19,0)")
          * col("dv").cast("decimal(19,0)")).cast("double")
          .as("svv"))
    val r = dg.join(broadcast(m), col("event_type") === col("et")
        && col("dw") === col("dw2"))
      .select(col("event_type"),
        ((col("dv").cast("double")
          - col("s").cast("double") / col("c")) / 1000000.0)
          .as("resid"))
    val ss = r.groupBy(col("event_type"))
      .agg(aggregate(transform(array_sort(collect_list(struct(
          col("resid"), r6(col("resid") * col("resid"))
            .as("contrib")))), _.getField("contrib")),
        lit(0.0), _ + _).as("ssr"))
    ss.join(broadcast(t), col("event_type") === col("et2"))
      .select(col("event_type"), col("n"),
        r6(lit(1.0) - col("ssr")
          / ((col("svv")
            - col("st").cast("double") * col("st") / col("n"))
            / 1000000.0 / 1000000.0)).as("seasonal_strength"))
      .orderBy(col("event_type"))
  }

  /** Nonparametric skew (mean − median)/σ per type — the bounded,
    * outlier-robust asymmetry read (third-moment skew would need
    * Σv³, which overflows even DECIMAL(38) at volume; this needs
    * only the exact stats already proven: Σv, exact-interpolated
    * median, decimal Σv²). */
  val nonparamSkew: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT event_type,
           ${microsSql("value")} v FROM events),
       g AS (SELECT event_type, CAST(sum(v) AS BIGINT) s,
           CAST(count(*) AS BIGINT) n,
           CAST(sum(CAST(v AS DECIMAL(19,0))*CAST(v AS
             DECIMAL(19,0))) AS DOUBLE) svv,
           ${r6sql("quantile_cont(v, 0.5)")} med
         FROM e GROUP BY 1)
       SELECT event_type, n,
         ${r6sql(
           """(CAST(s AS DOUBLE)/n - med)
              / sqrt((svv - CAST(s AS DOUBLE)*s/n)/(n-1))""")}
           AS nonparam_skew
       FROM g ORDER BY 1""") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        micros(col("value")).as("v"))
      .groupBy(col("event_type"))
      .agg(sum(col("v")).cast("long").as("s"),
        count(lit(1)).cast("long").as("n"),
        sum(col("v").cast("decimal(19,0)")
          * col("v").cast("decimal(19,0)")).cast("double")
          .as("svv"),
        r6(percentile(col("v"), lit(0.5))).as("med"))
      .select(col("event_type"), col("n"),
        r6((col("s").cast("double") / col("n") - col("med"))
          / sqrt((col("svv")
            - col("s").cast("double") * col("s") / col("n"))
            / (col("n") - 1))).as("nonparam_skew"))
      .orderBy(col("event_type"))
  }

  /** Interaction-matrix audit for recommender-style data: density
    * of the user×type matrix (nonzero cells over the full grid) and
    * the activity mass held by the top decile of users. The global
    * activity rank rides `Packing.withGlobalOffsets` on a NEGATED
    * key (range shuffle + driver prefix — never a single-partition
    * window over the user residue); the decile cut is the
    * all-integer rk·10 ≤ n. */
  val matrixSparsity: QueryDef = QueryDef.sql(
    s"""WITH c AS (SELECT user_id, event_type FROM events
             GROUP BY 1,2),
       u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) nu
             FROM events),
       t AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) nt
             FROM events),
       z AS (SELECT CAST(count(*) AS BIGINT) nz FROM c),
       pu AS (SELECT user_id, CAST(count(*) AS BIGINT) ne
              FROM events GROUP BY 1),
       r AS (SELECT user_id, ne,
           row_number() OVER (ORDER BY ne DESC, user_id) rk FROM pu),
       tot AS (SELECT CAST(sum(ne) AS BIGINT) te,
           CAST(count(*) AS BIGINT) np FROM pu),
       topd AS (SELECT CAST(sum(ne) AS BIGINT) top_mass
         FROM r, tot WHERE rk*10 <= np)
       SELECT u.nu AS n_users, t.nt AS n_types,
         z.nz AS nonzero_cells,
         ${r6sql("CAST(nz AS DOUBLE)/(nu*nt)")}
           AS density,
         ${r6sql("CAST(top_mass AS DOUBLE)/te")}
           AS top_decile_mass
       FROM u, t, z, topd, tot""") { (s, d) =>
    val ev = Tables.events(s, d)
    val c = ev.select(col("user_id"), col("event_type")).distinct()
    val z = c.agg(count(lit(1)).cast("long").as("nz"))
    val ut = ev.agg(
      countDistinct(col("user_id")).cast("long").as("nu"),
      countDistinct(col("event_type")).cast("long").as("nt"))
    val pu = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("ne"))
      .withColumn("negne", -col("ne")).withColumn("one", lit(1L))
    val ranked = graft.ops.Packing.withGlobalOffsets(pu, "negne",
        "one", tieCols = Seq("user_id"))
      .withColumn("rk", col("offset") + 1)
    val tot = pu.agg(sum(col("ne")).cast("long").as("te"),
      count(lit(1)).cast("long").as("np"))
    val topd = ranked.crossJoin(broadcast(tot))
      .filter(col("rk") * 10 <= col("np"))
      .agg(sum(col("ne")).cast("long").as("top_mass"))
    ut.crossJoin(z).crossJoin(broadcast(topd))
      .crossJoin(broadcast(tot))
      .select(col("nu").as("n_users"), col("nt").as("n_types"),
        col("nz").as("nonzero_cells"),
        r6(col("nz").cast("double") / (col("nu") * col("nt")))
          .as("density"),
        r6(col("top_mass").cast("double") / col("te"))
          .as("top_decile_mass"))
  }

  /** Volatility clustering (ARCH effect): lag-1 autocorrelation of
    * |ΔdV| on the daily grid per type — do big moves follow big
    * moves? Adjacent-day pairing by equi-join on di+1 (grid gaps
    * pair nothing); exact sufficient statistics, one IEEE sequence
    * per row (the q284 machinery pointed at absolute changes). */
  val volClustering: QueryDef = QueryDef.sql(
    s"""WITH d AS ($dailyMicroSumsSql),
       ch AS (SELECT event_type, di,
           abs(dv - lag(dv) OVER (PARTITION BY event_type
             ORDER BY di)) AS adlt
         FROM d),
       pr AS (SELECT a.event_type, a.adlt x, b.adlt y FROM ch a
         JOIN ch b ON b.event_type = a.event_type
           AND b.di = a.di + 1
         WHERE a.adlt IS NOT NULL AND b.adlt IS NOT NULL),
       st AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
           CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
           CAST(sum(CAST(x AS DECIMAL(19,0))*CAST(x AS
             DECIMAL(19,0))) AS DOUBLE) sxx,
           CAST(sum(CAST(y AS DECIMAL(19,0))*CAST(y AS
             DECIMAL(19,0))) AS DOUBLE) syy,
           CAST(sum(CAST(x AS DECIMAL(19,0))*CAST(y AS
             DECIMAL(19,0))) AS DOUBLE) sxy
         FROM pr GROUP BY 1 HAVING count(*) >= 3)
       SELECT event_type, n,
         ${r6sql(
           """(n*sxy - CAST(sx AS DOUBLE)*sy)
              / sqrt((n*sxx - CAST(sx AS DOUBLE)*sx)
                * (n*syy - CAST(sy AS DOUBLE)*sy))""")}
           AS vol_autocorr
       FROM st ORDER BY 1""") { (s, d) =>
    val dg = dailyMicroSums(s, d)
    val w = Window.partitionBy(col("event_type")).orderBy(col("di"))
    val ch = dg.select(col("event_type"), col("di"),
        abs(col("dv") - lag(col("dv"), 1).over(w)).as("adlt"))
      .filter(col("adlt").isNotNull)
    val b = ch.select(col("event_type").as("et2"),
      col("di").as("di2"), col("adlt").as("y"))
    ch.join(b, col("et2") === col("event_type")
        && col("di2") === col("di") + 1)
      .select(col("event_type"), col("adlt").as("x"), col("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x").cast("decimal(19,0)")
          * col("x").cast("decimal(19,0)")).cast("double").as("sxx"),
        sum(col("y").cast("decimal(19,0)")
          * col("y").cast("decimal(19,0)")).cast("double").as("syy"),
        sum(col("x").cast("decimal(19,0)")
          * col("y").cast("decimal(19,0)")).cast("double").as("sxy"))
      .filter(col("n") >= 3)
      .select(col("event_type"), col("n"),
        r6((col("n") * col("sxy")
            - col("sx").cast("double") * col("sy"))
          / sqrt((col("n") * col("sxx")
              - col("sx").cast("double") * col("sx"))
            * (col("n") * col("syy")
              - col("sy").cast("double") * col("sy"))))
          .as("vol_autocorr"))
      .orderBy(col("event_type"))
  }

  /** Cross-correlation lead-lag table between the click and
    * purchase daily series (lags −3..+3) — does engagement LEAD
    * revenue, and by how many days? The q284 sufficient-statistics
    * machinery on an offset equi-join of the two per-type series;
    * everything exact up to the one IEEE sequence per lag row. */
  val crossCorrelation: QueryDef = QueryDef.sql(
    s"""WITH d AS (SELECT * FROM ($dailyMicroSumsSql)
         WHERE event_type IN ('click','purchase')),
       a AS (SELECT di, dv x FROM d WHERE event_type='click'),
       b AS (SELECT di, dv y FROM d WHERE event_type='purchase'),
       lg AS (SELECT unnest(generate_series(-3,3)) AS lag_k),
       p AS (SELECT lg.lag_k, a.x, b.y FROM lg JOIN a ON true
             JOIN b ON b.di = a.di + lg.lag_k),
       st AS (SELECT lag_k, CAST(count(*) AS BIGINT) n,
           CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
           CAST(sum(CAST(x AS DECIMAL(19,0))*CAST(x AS
             DECIMAL(19,0))) AS DOUBLE) sxx,
           CAST(sum(CAST(y AS DECIMAL(19,0))*CAST(y AS
             DECIMAL(19,0))) AS DOUBLE) syy,
           CAST(sum(CAST(x AS DECIMAL(19,0))*CAST(y AS
             DECIMAL(19,0))) AS DOUBLE) sxy
         FROM p GROUP BY 1 HAVING count(*) >= 3)
       SELECT CAST(lag_k AS BIGINT) lag_k, n,
         ${r6sql(
           """(n*sxy - CAST(sx AS DOUBLE)*sy)
              / sqrt((n*sxx - CAST(sx AS DOUBLE)*sx)
                * (n*syy - CAST(sy AS DOUBLE)*sy))""")} AS xcorr
       FROM st ORDER BY 1""") { (s, d) =>
    val dg = dailyMicroSums(s, d)
      .filter(col("event_type").isin("click", "purchase"))
    val a = dg.filter(col("event_type") === "click")
      .select(col("di"), col("dv").as("x"))
      .withColumn("lag_k", explode(sequence(lit(-3L), lit(3L))))
    val b = dg.filter(col("event_type") === "purchase")
      .select(col("di").as("di2"), col("dv").as("y"))
    a.join(b, col("di2") === col("di") + col("lag_k"))
      .groupBy(col("lag_k"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x").cast("decimal(19,0)")
          * col("x").cast("decimal(19,0)")).cast("double").as("sxx"),
        sum(col("y").cast("decimal(19,0)")
          * col("y").cast("decimal(19,0)")).cast("double").as("syy"),
        sum(col("x").cast("decimal(19,0)")
          * col("y").cast("decimal(19,0)")).cast("double").as("sxy"))
      .filter(col("n") >= 3)
      .select(col("lag_k"), col("n"),
        r6((col("n") * col("sxy")
            - col("sx").cast("double") * col("sy"))
          / sqrt((col("n") * col("sxx")
              - col("sx").cast("double") * col("sx"))
            * (col("n") * col("syy")
              - col("sy").cast("double") * col("sy")))).as("xcorr"))
      .orderBy(col("lag_k"))
  }

  /** User active-lifetime percentiles: exact interpolated
    * p25/p50/p90 of (last − first active day) per user — the
    * summary scalar row next to q238's full survival curve. */
  val lifetimePercentiles: QueryDef = QueryDef.sql(
    s"""WITH u AS (SELECT user_id,
           CAST(max(${epochDaySql("ts")})
             - min(${epochDaySql("ts")})
             AS BIGINT) span
         FROM events GROUP BY 1)
       SELECT CAST(count(*) AS BIGINT) n_users,
         ${r6sql("quantile_cont(span, 0.25)")} AS p25,
         ${r6sql("quantile_cont(span, 0.5)")} AS p50,
         ${r6sql("quantile_cont(span, 0.9)")} AS p90
       FROM u""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg((max(epochDay(col("ts"))) - min(epochDay(col("ts"))))
        .cast("long").as("span"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        r6(percentile(col("span"), lit(0.25))).as("p25"),
        r6(percentile(col("span"), lit(0.5))).as("p50"),
        r6(percentile(col("span"), lit(0.9))).as("p90"))
  }

  /** Strict-order 3-step funnel: click → view → purchase, in ORDER,
    * all within 2 h of the click — q266 checks one timed edge; real
    * funnels require the full ordered path. EXISTS over the
    * per-user (view × purchase) candidate set collapses as max over
    * the click grain; the join fan-out is bounded by per-user event
    * counts, never corpus-wide. */
  val orderedFunnel: QueryDef = QueryDef.sql(
    s"""WITH c AS (SELECT user_id, event_id, epoch_us(ts) us
           FROM events WHERE event_type='click'),
       v AS (SELECT user_id vu, epoch_us(ts) vus FROM events
         WHERE event_type='view'),
       p AS (SELECT user_id pu, epoch_us(ts) pus FROM events
         WHERE event_type='purchase'),
       f AS (SELECT c.user_id, c.event_id,
           max(CASE WHEN vus > us AND pus > vus
             AND pus <= us + 7200000000 THEN 1 ELSE 0 END) conv
         FROM c LEFT JOIN v ON vu = c.user_id
         LEFT JOIN p ON pu = c.user_id GROUP BY 1,2)
       SELECT CAST(count(*) AS BIGINT) n_clicks,
         CAST(sum(conv) AS BIGINT) n_full_funnel,
         ${r6sql(
           "CAST(sum(conv) AS DOUBLE)/count(*)")} AS funnel_rate
       FROM f""") { (s, d) =>
    val ev = Tables.events(s, d)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"),
        unix_micros(col("ts")).as("vus"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"),
        unix_micros(col("ts")).as("pus"))
    c.join(v, col("vu") === col("user_id"), "left")
      .join(p, col("pu") === col("user_id"), "left")
      .groupBy(col("user_id"), col("event_id"))
      .agg(max(when(col("vus") > col("us")
        && col("pus") > col("vus")
        && col("pus") <= col("us") + 7200000000L, 1)
        .otherwise(0)).as("conv"))
      .agg(count(lit(1)).cast("long").as("n_clicks"),
        sum(col("conv")).cast("long").as("n_full_funnel"),
        r6(sum(col("conv")).cast("double") / count(lit(1)))
          .as("funnel_rate"))
  }

  /** Mix-shift growth decomposition: each type's week-over-week
    * revenue delta as a CONTRIBUTION to total prior-week revenue —
    * the columns of a growth bridge by product line (q301
    * decomposes by user fate; this by type). FULL OUTER join of
    * adjacent weekly (type, revenue) residues with zero-fill, exact
    * money. */
  val growthContribution: QueryDef = QueryDef.sql(
    s"""WITH d AS (SELECT event_type,
           CAST((${epochDaySql("ts")})
             // 7 AS BIGINT) wk,
           CAST(sum(${microsSql("value")})
             AS BIGINT) v
         FROM events GROUP BY 1,2),
       pr AS (SELECT event_type, wk + 1 AS wk, v pv FROM d),
       j AS (SELECT coalesce(d.wk, pr.wk) wk,
           coalesce(d.event_type, pr.event_type) et,
           coalesce(d.v, 0) cv, coalesce(pr.pv, 0) pv
         FROM d FULL JOIN pr ON d.wk = pr.wk
           AND d.event_type = pr.event_type),
       tw AS (SELECT wk, CAST(sum(pv) AS BIGINT) tot_prev FROM j
              GROUP BY 1),
       b AS (SELECT CAST(min(wk) AS BIGINT) w0,
           CAST(max(wk) AS BIGINT) w1 FROM d)
       SELECT j.wk AS week_idx, et AS event_type,
         CAST(cv - pv AS BIGINT) delta_micro,
         ${r6sql(
           "CAST(cv - pv AS DOUBLE)/tot_prev")}
           AS growth_contribution
       FROM j JOIN tw ON j.wk = tw.wk, b
       WHERE j.wk > w0 AND j.wk <= w1 AND tot_prev > 0
       ORDER BY 1,2""") { (s, d) =>
    val dg = Tables.events(s, d)
      .groupBy(col("event_type"),
        epochWeek.as("wk"))
      .agg(sum(micros(col("value")))
        .cast("long").as("v"))
    val pr = dg.select(col("event_type").as("pet"),
      (col("wk") + 1).as("pwk"), col("v").as("pv"))
    val b = dg.agg(min(col("wk")).cast("long").as("w0"),
      max(col("wk")).cast("long").as("w1"))
    val j = dg.join(pr, col("wk") === col("pwk")
        && col("event_type") === col("pet"), "full")
      .select(coalesce(col("wk"), col("pwk")).as("jwk"),
        coalesce(col("event_type"), col("pet")).as("et"),
        coalesce(col("v"), lit(0L)).as("cv"),
        coalesce(col("pv"), lit(0L)).as("pv"))
    val tw = j.groupBy(col("jwk").as("twk"))
      .agg(sum(col("pv")).cast("long").as("tot_prev"))
    j.join(broadcast(tw), col("jwk") === col("twk"))
      .crossJoin(broadcast(b))
      .filter(col("jwk") > col("w0") && col("jwk") <= col("w1")
        && col("tot_prev") > 0)
      .select(col("jwk").as("week_idx"), col("et").as("event_type"),
        (col("cv") - col("pv")).cast("long").as("delta_micro"),
        r6((col("cv") - col("pv")).cast("double")
          / col("tot_prev")).as("growth_contribution"))
      .orderBy(col("week_idx"), col("event_type"))
  }

  /** Windowed telemetry dedup (batch form): readings with the same
    * (type, centi-quantized value) inside one hour collapse to the
    * earliest event_id — the batch twin of q183's
    * dropDuplicatesWithinWatermark, keyed the way duplicate sensor
    * emissions actually repeat. Emits kept/raw/collapsed per type
    * (collapse exercised at sf0.01+; the sf0.001 slice has no
    * within-hour repeats — the zeros ARE its answer). */
  val windowedDedup: QueryDef = QueryDef.sql(
    """WITH w AS (SELECT event_type,
           CAST(floor(value*100+0.5) AS BIGINT) vb,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) hw, event_id
         FROM events),
       d AS (SELECT event_type, vb, hw,
           CAST(min(event_id) AS BIGINT) keeper,
           CAST(count(*) AS BIGINT) n FROM w GROUP BY 1,2,3)
       SELECT event_type, CAST(count(*) AS BIGINT) n_kept,
         CAST(sum(n) AS BIGINT) n_raw,
         CAST(sum(n) - count(*) AS BIGINT) n_collapsed
       FROM d GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("vb"),
        expr("unix_micros(ts) div 3600000000").as("hw"),
        col("event_id"))
      .groupBy(col("event_type"), col("vb"), col("hw"))
      .agg(min(col("event_id")).cast("long").as("keeper"),
        count(lit(1)).cast("long").as("n"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        sum(col("n")).cast("long").as("n_raw"),
        (sum(col("n")) - count(lit(1))).cast("long")
          .as("n_collapsed"))
      .orderBy(col("event_type"))
  }

  /** Tenure↔spend correlation at the user grain: Pearson between
    * active lifespan (days) and total quantized spend — do
    * long-tenured users actually spend more? Exact sufficient
    * statistics on the user residue (the q205 machinery pointed at
    * two derived user metrics). */
  val tenureSpendCorr: QueryDef = QueryDef.sql(
    s"""WITH u AS (SELECT user_id,
           CAST(max(${epochDaySql("ts")})
             - min(${epochDaySql("ts")})
             AS BIGINT) x,
           CAST(sum(${microsSql("value")})
             AS BIGINT) y
         FROM events GROUP BY 1),
       st AS (SELECT CAST(count(*) AS BIGINT) n,
           CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
           CAST(sum(CAST(x AS DECIMAL(19,0))*CAST(x AS
             DECIMAL(19,0))) AS DOUBLE) sxx,
           CAST(sum(CAST(y AS DECIMAL(19,0))*CAST(y AS
             DECIMAL(19,0))) AS DOUBLE) syy,
           CAST(sum(CAST(x AS DECIMAL(19,0))*CAST(y AS
             DECIMAL(19,0))) AS DOUBLE) sxy FROM u)
       SELECT n, ${r6sql(
         """(n*sxy - CAST(sx AS DOUBLE)*sy)
            / sqrt((n*sxx - CAST(sx AS DOUBLE)*sx)
              * (n*syy - CAST(sy AS DOUBLE)*sy))""")}
         AS tenure_spend_corr
       FROM st""") { (s, d) =>
    val di = epochDay(col("ts"))
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg((max(di) - min(di)).cast("long").as("x"),
        sum(micros(col("value")))
          .cast("long").as("y"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x").cast("decimal(19,0)")
          * col("x").cast("decimal(19,0)")).cast("double").as("sxx"),
        sum(col("y").cast("decimal(19,0)")
          * col("y").cast("decimal(19,0)")).cast("double").as("syy"),
        sum(col("x").cast("decimal(19,0)")
          * col("y").cast("decimal(19,0)")).cast("double").as("sxy"))
      .select(col("n"),
        r6((col("n") * col("sxy")
            - col("sx").cast("double") * col("sy"))
          / sqrt((col("n") * col("sxx")
              - col("sx").cast("double") * col("sx"))
            * (col("n") * col("syy")
              - col("sy").cast("double") * col("sy"))))
          .as("tenure_spend_corr"))
  }

  /** Chronotype histogram: each user's PEAK activity hour-of-day
    * (argmax with count-desc, hour-asc tie-break — total order) and
    * the population distribution over those peaks — behavioral
    * segmentation input. All integer. */
  val peakHourHistogram: QueryDef = QueryDef.sql(
    """WITH c AS (SELECT user_id,
           CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT) hod,
           CAST(count(*) AS BIGINT) n FROM events GROUP BY 1,2),
       r AS (SELECT user_id, hod,
           row_number() OVER (PARTITION BY user_id
             ORDER BY n DESC, hod) rk FROM c)
       SELECT hod AS peak_hour, CAST(count(*) AS BIGINT) n_users
       FROM r WHERE rk=1 GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val c = Tables.events(s, d)
      .groupBy(col("user_id"),
        expr("unix_micros(ts) div 3600000000 % 24").as("hod"))
      .agg(count(lit(1)).cast("long").as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("hod"))
    c.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("hod").as("peak_hour"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy(col("peak_hour"))
  }

  /** Time-to-first-purchase by signup cohort week: exact
    * interpolated median of the integer day lag between signup and
    * first purchase, per cohort — the activation-speed scalar next
    * to q238's full survival curve and q246's LTV triangle. */
  val timeToFirstPurchase: QueryDef = QueryDef.sql(
    s"""WITH su AS (SELECT user_id,
           CAST(min(${epochDaySql("ts")})
             AS BIGINT) sd
         FROM events WHERE event_type='signup' GROUP BY 1),
       fp AS (SELECT user_id pu,
           CAST(min(${epochDaySql("ts")})
             AS BIGINT) pd
         FROM events WHERE event_type='purchase' GROUP BY 1),
       l AS (SELECT su.user_id, CAST(sd // 7 AS BIGINT) cohort_wk,
           pd - sd AS lag_d
         FROM su JOIN fp ON pu = su.user_id WHERE pd >= sd)
       SELECT cohort_wk, CAST(count(*) AS BIGINT) n_converted,
         ${r6sql("quantile_cont(lag_d, 0.5)")}
           AS median_days
       FROM l GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val di = epochDay(col("ts"))
    val ev = Tables.events(s, d)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(di).cast("long").as("sd"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("pu"))
      .agg(min(di).cast("long").as("pd"))
    su.join(fp, col("pu") === col("user_id"))
      .filter(col("pd") >= col("sd"))
      .select(expr("sd div 7").cast("long").as("cohort_wk"),
        (col("pd") - col("sd")).as("lag_d"))
      .groupBy(col("cohort_wk"))
      .agg(count(lit(1)).cast("long").as("n_converted"),
        r6(percentile(col("lag_d"), lit(0.5))).as("median_days"))
      .orderBy(col("cohort_wk"))
  }

  /** Model-lift gain table: orders scored by total price (the
    * "model score"), outcome = urgent/high priority; rows are cut
    * into 10 equal-population deciles by score DESC and each
    * decile's positive rate is compared to the base rate — the
    * standard campaign-targeting / classifier-calibration read.
    * The global rank comes from [[graft.ops.Packing
    * .withGlobalOffsets]] (range shuffle + driver prefix over
    * numPartitions totals), NEVER a no-partition ntile window — the
    * single-partition collapse is exactly what this operator must
    * avoid at 100 TB. Decile = ((i-1)*10) div n on BOTH engines
    * (even-spread integer form; n and the per-decile counts are
    * exact longs, lift is two IEEE divides on the 10-row residue). */
  val decileLift: QueryDef = QueryDef.sql(
    s"""WITH s AS (SELECT o_orderkey,
           ${microsSql("o_totalprice")} pm,
           CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             THEN 1 ELSE 0 END y
         FROM orders),
       r AS (SELECT y, CAST(row_number() OVER
               (ORDER BY pm DESC, y, o_orderkey) AS BIGINT) i FROM s),
       t0 AS (SELECT CAST(count(*) AS BIGINT) nn FROM s),
       dd AS (SELECT CAST(((i-1)*10)//nn + 1 AS BIGINT) AS decile, y
              FROM r, t0),
       g AS (SELECT decile, CAST(count(*) AS BIGINT) n_rows,
               CAST(sum(y) AS BIGINT) n_pos FROM dd GROUP BY 1),
       t AS (SELECT CAST(sum(n_pos) AS BIGINT) tot_pos,
               CAST(sum(n_rows) AS BIGINT) tot_n FROM g)
       SELECT decile, n_rows, n_pos,
         ${r6sql("""(CAST(n_pos AS DOUBLE)/n_rows)
           / (CAST(tot_pos AS DOUBLE)/tot_n)""")}
           AS lift
       FROM g, t ORDER BY 1""") { (s, d) =>
    val base = Tables.orders(s, d).select(col("o_orderkey"),
        micros(col("o_totalprice")).as("pm"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("y"))
      .withColumn("negpm", -col("pm"))
      .withColumn("one", lit(1L))
    val ranked = graft.ops.Packing.withGlobalOffsets(base, "negpm",
      "one", tieCols = Seq("y", "o_orderkey"))
    val n = base.agg(count(lit(1)).as("nn"))
    val g = ranked.crossJoin(broadcast(n))
      .select((expr("(offset * 10) div nn") + 1).cast("long")
        .as("decile"), col("y"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("y")).cast("long").as("n_pos"))
    val t = g.agg(sum(col("n_pos")).cast("long").as("tot_pos"),
      sum(col("n_rows")).cast("long").as("tot_n"))
    g.crossJoin(broadcast(t))
      .select(col("decile"), col("n_rows"), col("n_pos"),
        r6(try_divide(col("n_pos").cast("double") / col("n_rows"),
          col("tot_pos").cast("double") / col("tot_n"))).as("lift"))
      .orderBy(col("decile"))
  }

  /** Mann–Whitney U (rank-sum) between purchase and click values —
    * the nonparametric two-sample location test next to q228's
    * parametric Welch t. Ranks use the exact midrank-with-ties
    * form, computed WITHOUT a global row sort: values quantize to
    * micro-longs, ONE hash aggregate reduces the fact to the
    * distinct-value relation (v, n, n1v), and the prefix count over
    * that much smaller relation comes from
    * [[graft.ops.Packing.withGlobalOffsets]] — midrank(v) =
    * prefix + 1 + (n-1)/2. The rank-sum Σ n1v·midrank is a sum of
    * exact half-integers (order-free exact in double to 2^52), so
    * no fold-order pinning is needed; U and the rank-biserial
    * effect size are IEEE ops on the 1-row residue. */
  val mannWhitneyU: QueryDef = QueryDef.sql(
    s"""WITH s AS (SELECT event_type,
           ${microsSql("value")} v FROM events
         WHERE event_type IN ('purchase','click')
           AND value IS NOT NULL),
       c AS (SELECT v, CAST(count(*) AS BIGINT) n,
               CAST(sum(CASE WHEN event_type='purchase' THEN 1
                 ELSE 0 END) AS BIGINT) n1v
             FROM s GROUP BY 1),
       p AS (SELECT v, n, n1v,
               CAST(coalesce(sum(n) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) offp
             FROM c),
       a AS (SELECT CAST(sum(n1v) AS BIGINT) n1,
               CAST(sum(n - n1v) AS BIGINT) n2,
               sum(n1v * (offp + 1 + (n-1)/2.0)) r1 FROM p)
       SELECT n1, n2,
         ${r6sql("r1 - CAST(n1 AS DOUBLE)*(n1+1)/2.0")} AS u1,
         ${r6sql("""1 - 2*(r1 - CAST(n1 AS DOUBLE)*(n1+1)/2.0)
           / (CAST(n1 AS DOUBLE)*n2)""")}
           AS rank_biserial
       FROM a""") { (s, d) =>
    val sv = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "click")
        && col("value").isNotNull)
      .select(col("event_type"),
        micros(col("value")).as("v"))
    val c = sv.groupBy(col("v"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("long").as("n1v"))
    val p = graft.ops.Packing.withGlobalOffsets(c, "v", "n")
    val a = p.agg(sum(col("n1v")).cast("long").as("n1"),
      sum(col("n") - col("n1v")).cast("long").as("n2"),
      sum(col("n1v")
        * (col("offset") + lit(1) + (col("n") - lit(1)) / lit(2.0)))
        .as("r1"))
    val u1raw = col("r1") -
      col("n1").cast("double") * (col("n1") + lit(1)) / lit(2.0)
    a.select(col("n1"), col("n2"), r6(u1raw).as("u1"),
      r6(lit(1) - lit(2) * u1raw /
        (col("n1").cast("double") * col("n2"))).as("rank_biserial"))
  }

  /** Two-pass exact skewness/kurtosis per event_type — the
    * numerically-honest moment computation at lake scale: pass 1 is
    * an exact integer mean (centi-quantized long sums), pass 2
    * accumulates powers of the SHIFTED residual d = v − ⌊mean⌋
    * (central moments are shift-invariant), so d² stays in long and
    * d³/d⁴ go through DECIMAL(38,0) sums — exact and order-free at
    * any row count, where raw double power sums stop being exactly
    * representable at ~2^53 and drift with partial-agg order. The
    * final skew/kurtosis arithmetic is the identical IEEE op
    * sequence on both engines over the ≤|types|-row residue
    * (m2^1.5 spelled m2·sqrt(m2) — pow(x,1.5) is a different libm
    * entry point on each engine). */
  val momentStats: QueryDef = QueryDef.sql(
    s"""WITH s AS (SELECT event_type,
           CAST(floor(value*100+0.5) AS BIGINT) v FROM events
         WHERE value IS NOT NULL),
       b AS (SELECT event_type, CAST(sum(v) AS BIGINT) s1,
               CAST(count(*) AS BIGINT) n FROM s GROUP BY 1),
       base AS (SELECT event_type, s1 // n AS mu0 FROM b),
       dd AS (SELECT s.event_type, v - mu0 AS d
              FROM s JOIN base USING (event_type)),
       m AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
               CAST(sum(d) AS DECIMAL(38,0)) c1,
               CAST(sum(d*d) AS DECIMAL(38,0)) c2,
               CAST(sum(CAST(d*d AS DECIMAL(38,0))*d)
                 AS DECIMAL(38,0)) c3,
               CAST(sum(CAST(d*d AS DECIMAL(38,0))*(d*d))
                 AS DECIMAL(38,0)) c4
             FROM dd GROUP BY 1),
       u AS (SELECT event_type, n,
               CAST(c1 AS DOUBLE)/n u1, CAST(c2 AS DOUBLE)/n u2,
               CAST(c3 AS DOUBLE)/n u3, CAST(c4 AS DOUBLE)/n u4
             FROM m)
       SELECT event_type, n,
         ${r6sql("""(u3 - 3*u2*u1 + 2*u1*u1*u1)
           / ((u2 - u1*u1) * sqrt(u2 - u1*u1))""")} AS skewness,
         ${r6sql("""(u4 - 4*u3*u1 + 6*u2*(u1*u1) - 3*(u1*u1)*(u1*u1))
           / ((u2 - u1*u1) * (u2 - u1*u1)) - 3""")} AS kurtosis_excess
       FROM u ORDER BY 1""") { (s, d) =>
    val sv = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("v"))
    // exact integer division for the base (values are non-negative,
    // so Spark's truncating `div` == DuckDB's flooring `//`; a
    // double-division cast would silently drift past 2^53 — any
    // CONSISTENT integer base is mathematically fine by shift
    // invariance, but both engines must pick the SAME one)
    val base = sv.groupBy(col("event_type"))
      .agg(sum(col("v")).cast("long").as("s1v"),
        count(lit(1)).cast("long").as("nv"))
      .select(col("event_type"),
        expr("s1v div nv").cast("long").as("mu0"))
    val dd = sv.join(base, Seq("event_type"))
      .select(col("event_type"), (col("v") - col("mu0")).as("d"))
    val dec = "decimal(38,0)"
    val m = dd.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        // d and d·d cast to DECIMAL(38,0) BEFORE the sum (as c3/c4
        // do): the oracle sums in HUGEINT, and a long accumulator
        // would overflow at scale (throw under ANSI) — the exactness
        // claim must hold at any row count, not just fixture counts
        sum(col("d").cast(dec)).cast(dec).as("c1"),
        sum((col("d") * col("d")).cast(dec)).cast(dec).as("c2"),
        sum((col("d") * col("d")).cast(dec) * col("d")).cast(dec)
          .as("c3"),
        sum((col("d") * col("d")).cast(dec) * (col("d") * col("d")))
          .cast(dec).as("c4"))
    val nD = col("n").cast("double")
    val u = m.select(col("event_type"), col("n"),
      (col("c1").cast("double") / nD).as("u1"),
      (col("c2").cast("double") / nD).as("u2"),
      (col("c3").cast("double") / nD).as("u3"),
      (col("c4").cast("double") / nD).as("u4"))
    val m2 = col("u2") - col("u1") * col("u1")
    u.select(col("event_type"), col("n"),
      r6((col("u3") - lit(3) * col("u2") * col("u1")
        + lit(2) * col("u1") * col("u1") * col("u1"))
        / (m2 * sqrt(m2))).as("skewness"),
      r6((col("u4") - lit(4) * col("u3") * col("u1")
        + lit(6) * col("u2") * (col("u1") * col("u1"))
        - lit(3) * (col("u1") * col("u1")) * (col("u1") * col("u1")))
        / (m2 * m2) - lit(3)).as("kurtosis_excess"))
      .orderBy(col("event_type"))
  }

  /** Inter-arrival coefficient of variation per event_type — the
    * burstiness read on the GLOBAL per-type timeline (CV 1 ≈
    * Poisson, > 1 bursty; q321 is the per-document token twin). The
    * lag runs in |types| bounded partitions; gap second moments go
    * through DECIMAL(38,0) (µs gaps square to ~10²⁰ — past both
    * long and exact-double range), mean/variance/sqrt on the 5-row
    * residue. */
  val interarrivalCv: QueryDef = QueryDef.sql(
    s"""WITH g AS (SELECT event_type, epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY event_type ORDER BY ts, event_id) gap
         FROM events),
       m AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
               CAST(sum(gap) AS BIGINT) s1,
               CAST(sum(CAST(gap AS DECIMAL(38,0))*gap)
                 AS DECIMAL(38,0)) s2
             FROM g WHERE gap IS NOT NULL GROUP BY 1)
       SELECT event_type, n,
         ${r6sql("""sqrt(CAST(s2 AS DOUBLE)/n
             - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
           / (CAST(s1 AS DOUBLE)/n)""")} AS cv
       FROM m ORDER BY 1""") { (s, d) =>
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val g = Tables.events(s, d)
      .select(col("event_type"),
        (unix_micros(col("ts"))
          - lag(unix_micros(col("ts")), 1).over(w)).as("gap"))
      .filter(col("gap").isNotNull)
    val m = g.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("gap")).cast("long").as("s1"),
        sum(col("gap").cast("decimal(38,0)") * col("gap"))
          .cast("decimal(38,0)").as("s2"))
    val nD = col("n").cast("double")
    val mean = col("s1").cast("double") / nD
    m.select(col("event_type"), col("n"),
      r6(sqrt(col("s2").cast("double") / nD - mean * mean) / mean)
        .as("cv"))
      .orderBy(col("event_type"))
  }

  /** Bitmap retention: each user's activity compresses to ONE
    * 63-bit day mask (`bit_or` of day-offset bits — the bitwise
    * aggregate surface, and the layout real engagement systems use:
    * a user-month is 8 bytes regardless of event count), then the
    * day-d retention of day-0 actives is a popcount-style probe of
    * the mask — integer-exact end to end, and the 30-way day
    * expansion runs over the USER relation, never the fact. At
    * 100 TB the fact collapses to |users| longs in one aggregate;
    * every downstream question (retention, streaks, L28) is mask
    * arithmetic. */
  val bitmapRetention: QueryDef = QueryDef.sql(
    s"""WITH d0 AS (SELECT min(datediff('day', DATE '1970-01-01',
           CAST(ts AS DATE))) m FROM events),
       u AS (SELECT user_id,
               bit_or(CAST(1 AS BIGINT) <<
                 least(CAST(datediff('day', DATE '1970-01-01',
                   CAST(ts AS DATE)) - m AS INTEGER), 62)) mask
             FROM events, d0 GROUP BY 1),
       base AS (SELECT CAST(count(*) AS BIGINT) n0 FROM u
                WHERE (mask & 1) = 1),
       days AS (SELECT unnest(range(30)) d),
       ret AS (SELECT d, CAST(sum(CASE WHEN (mask & 1) = 1
                 AND ((mask >> CAST(d AS INTEGER)) & 1) = 1
                 THEN 1 ELSE 0 END) AS BIGINT) n_ret
               FROM u, days GROUP BY 1)
       SELECT CAST(d AS BIGINT) day_offset, n_ret,
         ${r6sql("CAST(n_ret AS DOUBLE)/(SELECT n0 FROM base)")} AS retention
       FROM ret ORDER BY 1""") { (s, d) =>
    val ev = Tables.events(s, d).select(col("user_id"),
      datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
    val d0 = ev.agg(min(col("day")).as("m"))
    val u = ev.crossJoin(broadcast(d0))
      .select(col("user_id"),
        expr("shiftleft(CAST(1 AS BIGINT)," +
          " CAST(least(day - m, 62) AS INT))").as("b"))
      .groupBy(col("user_id"))
      .agg(bit_or(col("b")).as("mask"))
    val base = u.filter((col("mask").bitwiseAND(1)) === 1)
      .agg(count(lit(1)).cast("long").as("n0"))
    u.select(col("mask"),
        explode(sequence(lit(0L), lit(29L))).as("d"))
      .select(col("d"),
        when(col("mask").bitwiseAND(1) === 1
          && expr("shiftright(mask, CAST(d AS INT))")
            .bitwiseAND(1) === 1, 1L).otherwise(0L).as("hit"))
      .groupBy(col("d"))
      .agg(sum(col("hit")).cast("long").as("n_ret"))
      .crossJoin(broadcast(base))
      .select(col("d").as("day_offset"), col("n_ret"),
        r6(col("n_ret").cast("double") / col("n0")).as("retention"))
      .orderBy(col("day_offset"))
  }

  /** Active-days histogram off the q344 day mask: engagement depth
    * as popcount (`bit_count`) of the per-user bitmap — the L30
    * distribution read, two integer aggregates end to end (fact →
    * masks, masks → histogram). */
  val activeDaysHistogram: QueryDef = QueryDef.sql(
    """WITH d0 AS (SELECT min(datediff('day', DATE '1970-01-01',
           CAST(ts AS DATE))) m FROM events),
       u AS (SELECT user_id,
               bit_or(CAST(1 AS BIGINT) <<
                 least(CAST(datediff('day', DATE '1970-01-01',
                   CAST(ts AS DATE)) - m AS INTEGER), 62)) mask
             FROM events, d0 GROUP BY 1)
       SELECT CAST(bit_count(mask) AS BIGINT) active_days,
         CAST(count(*) AS BIGINT) n_users
       FROM u GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val ev = Tables.events(s, d).select(col("user_id"),
      datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
    val d0 = ev.agg(min(col("day")).as("m"))
    ev.crossJoin(broadcast(d0))
      .select(col("user_id"),
        expr("shiftleft(CAST(1 AS BIGINT)," +
          " CAST(least(day - m, 62) AS INT))").as("b"))
      .groupBy(col("user_id"))
      .agg(bit_or(col("b")).as("mask"))
      .groupBy(bit_count(col("mask")).cast("long").as("active_days"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy(col("active_days"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q328_decile_lift" -> decileLift,
    "q329_mannwhitney_u" -> mannWhitneyU,
    "q334_moment_stats" -> momentStats,
    "q336_interarrival_cv" -> interarrivalCv,
    "q344_bitmap_retention" -> bitmapRetention,
    "q345_active_days_histogram" -> activeDaysHistogram,
    "q202_psi_drift" -> psiDrift,
    "q325_time_to_first_purchase" -> timeToFirstPurchase,
    "q203_markov_transitions" -> markovTransitions,
    "q204_benford_digits" -> benfordDigits,
    "q205_feature_corr" -> featureCorr,
    "q206_daily_autocorr" -> dailyAutocorr,
    "q208_hourly_ols" -> hourlyOls,
    "q209_gini_activity" -> giniActivity,
    "q210_funnel" -> funnel,
    "q215_repetition_signals" -> repetitionSignals,
    "q216_classifier_eval" -> classifierEval,
    "q217_seasonal_decompose" -> seasonalDecompose,
    "q219_association_rules" -> associationRules,
    "q224_twap" -> twap,
    "q225_spearman_corr" -> spearmanCorr,
    "q228_welch_ttest" -> welchTtest,
    "q229_theilsen_slope" -> theilSen,
    "q232_linear_interpolate" -> linearInterpolate,
    "q233_quantile_normalize" -> quantileNormalize,
    "q235_path_trigrams" -> pathTrigrams,
    "q237_trailing_dau" -> trailingDau,
    "q238_survival_km" -> survivalKm,
    "q239_audience_overlap" -> audienceOverlap,
    "q240_mutual_information" -> mutualInformation,
    "q244_rolling_ols" -> rollingOls,
    "q245_dow_anomaly" -> dowAnomaly,
    "q247_hampel_outliers" -> hampelOutliers,
    "q248_bootstrap_ci" -> bootstrapCi,
    "q249_anova_f" -> anovaF,
    "q250_sax_symbols" -> saxSymbols,
    "q251_wasserstein_drift" -> wassersteinDrift,
    "q253_equiheight_histogram" -> equiHeightHistogram,
    "q255_column_entropy" -> columnEntropy,
    "q262_user_type_entropy" -> userTypeEntropy,
    "q263_markov_accuracy" -> markovAccuracy,
    "q264_mase_seasonal" -> maseSeasonal,
    "q266_timed_funnel" -> timedFunnel,
    "q269_dispersion_index" -> dispersionIndex,
    "q270_hill_tail_index" -> hillTailIndex,
    "q271_stickiness_ratio" -> stickinessRatio,
    "q272_decayed_popularity" -> decayedPopularity,
    "q273_diff_in_diff" -> diffInDiff,
    "q274_rank_matching" -> rankMatching,
    "q275_burstiness" -> burstiness,
    "q276_simpson_audit" -> simpsonAudit,
    "q283_runs_test" -> runsTest,
    "q284_acf_lags" -> acfLags,
    "q285_missing_days" -> missingDays,
    "q286_theil_index" -> theilIndex,
    "q288_window_value_breadth" -> windowValueBreadth,
    "q291_newcomer_share" -> newcomerShare,
    "q297_seq_entropy_rate" -> seqEntropyRate,
    "q299_weekly_turnover" -> weeklyTurnover,
    "q300_churn_risk" -> churnRisk,
    "q301_gmv_bridge" -> gmvBridge,
    "q302_peak_detection" -> peakDetection,
    "q303_streak_histogram" -> streakHistogram,
    "q304_seasonal_strength" -> seasonalStrength,
    "q307_nonparam_skew" -> nonparamSkew,
    "q308_matrix_sparsity" -> matrixSparsity,
    "q309_vol_clustering" -> volClustering,
    "q310_cross_correlation" -> crossCorrelation,
    "q311_lifetime_percentiles" -> lifetimePercentiles,
    "q314_ordered_funnel" -> orderedFunnel,
    "q315_growth_contribution" -> growthContribution,
    "q316_windowed_dedup" -> windowedDedup,
    "q317_tenure_spend_corr" -> tenureSpendCorr,
    "q319_peak_hour_histogram" -> peakHourHistogram)



}
