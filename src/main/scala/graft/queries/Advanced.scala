package graft.queries

import graft.{QueryDef, Tables}
import graft.Rounding.{micros, microsSql, r6, r6sql}
import graft.text.TextOps
import graft.text.TextOps.tokensSql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extension tier 4 (session 4): event-time analytics breadth
  * (time-RANGE rolling frames, ordered funnels), training-mixture
  * planning, and the bounded-heap grouped top-k that replaces the
  * window-sort formulation at scale.
  */
object Advanced {

  /** Rolling 1-hour aggregate per user over event time — a RANGE
    * frame (value-based, peers share the frame), not a ROWS frame:
    * for each event, the count and value-sum of that user's events
    * in the preceding hour inclusive. One shuffle on user_id; the
    * per-partition sliding computation is linear (Spark maintains
    * the moving frame incrementally, no per-row rescan). The frame
    * is keyed on exact integer microseconds so both engines bound
    * it identically. */
  val rollingHour: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, value
         FROM events)
       SELECT event_id, user_id,
              CAST(count(*) OVER w AS BIGINT) AS n_1h,
              ${r6sql("sum(value) OVER w")} AS sum_1h
       FROM e
       WINDOW w AS (PARTITION BY user_id ORDER BY us
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
       ORDER BY event_id""") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_1h"),
        r6(sum(col("value")).over(w)).as("sum_1h"))
      .orderBy(col("event_id"))
  }

  /** Ordered conversion funnel signup → click → purchase per user:
    * each stage's timestamp must strictly follow the previous
    * stage's (min qualifying time), the standard product-analytics
    * semantics. Three conditional-min aggregations, each joined
    * back on user_id — every stage keys on user_id, so at scale the
    * first shuffle's partitioning is reused by AQE for the rest
    * (and the per-user stage tables are corpus-of-users-sized, far
    * smaller than the event log they summarize). */
  val funnelStages: QueryDef = QueryDef.sql(
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       s AS (SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN us END) AS signup_us
             FROM e GROUP BY 1),
       c AS (SELECT e.user_id,
               min(CASE WHEN event_type = 'click' AND us > signup_us
                        THEN us END) AS click_us
             FROM e JOIN s ON e.user_id = s.user_id GROUP BY 1),
       p AS (SELECT e.user_id,
               min(CASE WHEN event_type = 'purchase' AND us > click_us
                        THEN us END) AS purchase_us
             FROM e JOIN c ON e.user_id = c.user_id GROUP BY 1)
       SELECT s.user_id, s.signup_us, c.click_us, p.purchase_us,
              CAST(CASE WHEN purchase_us IS NOT NULL THEN 3
                        WHEN click_us IS NOT NULL THEN 2
                        WHEN signup_us IS NOT NULL THEN 1
                        ELSE 0 END AS BIGINT) AS stage
       FROM s JOIN c ON s.user_id = c.user_id
              JOIN p ON s.user_id = p.user_id
       ORDER BY s.user_id""") { (sp, d) =>
    val e = Tables.events(sp, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val s = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("us")))
        .as("signup_us"))
    val c = e.join(s, "user_id")
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "click" &&
        col("us") > col("signup_us"), col("us"))).as("click_us"))
    val p = e.join(c, "user_id")
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "purchase" &&
        col("us") > col("click_us"), col("us"))).as("purchase_us"))
    s.join(c, "user_id").join(p, "user_id")
      .select(col("user_id"), col("signup_us"), col("click_us"),
        col("purchase_us"),
        when(col("purchase_us").isNotNull, 3L)
          .when(col("click_us").isNotNull, 2L)
          .when(col("signup_us").isNotNull, 1L)
          .otherwise(0L).as("stage"))
      .orderBy(col("user_id"))
  }

  /** Training-mixture weights per source (Pile/Dolma-style):
    * temperature-scaled sampling weights w_s ∝ tokens_s^α with
    * α = 0.5 — upweights small sources relative to proportional
    * sampling. One vocabulary-free aggregate (tiny: one row per
    * source), the normalizer broadcast back in-plan. `alloc` is the
    * per-source document budget a 100k-doc training mix would draw.
    * Complements q76 (which ENFORCES a budget); this query PLANS
    * one. */
  val mixtureWeights: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT source, count(*) AS n_docs,
             sum(len(${tokensSql("text")})) AS toks
           FROM documents GROUP BY 1),
       z AS (SELECT sum(sqrt(toks)) AS z FROM t)
       SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
              CAST(toks AS BIGINT) AS tokens,
              ${r6sql("sqrt(toks) / z")} AS weight,
              CAST(floor((sqrt(toks) / z) * 100000 + 0.5) AS BIGINT) AS alloc
       FROM t, z ORDER BY source""") { (s, d) =>
    val t = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("tokens"))
    val z = t.agg(sum(sqrt(col("tokens"))).as("z"))
    t.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("tokens"),
        r6(sqrt(col("tokens")) / col("z")).as("weight"),
        floor(sqrt(col("tokens")) / col("z") * lit(100000.0) + lit(0.5))
          .cast("long").as("alloc"))
      .orderBy(col("source"))
  }

  /** Grouped top-k through the bounded-heap aggregate
    * (`ops/TopK.scala`) — top-3 customers by account balance per
    * nation WITHOUT the window sort: only ≤ k rows per (nation ×
    * input partition) cross the shuffle, versus row_number()'s full
    * shuffle+sort of the corpus. The oracle IS the window
    * formulation, so this row proves the two agree exactly
    * (ties broken ord DESC, id ASC on both sides). */
  val groupedTopK: QueryDef = QueryDef.sql(
    s"""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
              CAST(rk AS BIGINT) AS rank, c_custkey AS custkey,
              ${r6sql("c_acctbal")} AS acctbal
       FROM (SELECT c_nationkey, c_custkey, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey) AS rk
             FROM customer)
       WHERE rk <= 3 ORDER BY nationkey, rank""") { (s, d) =>
    val top3 = graft.ops.TopK.topk(3)
    Tables.customer(s, d)
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(top3(col("c_acctbal").cast("double"), col("c_custkey"))
        .as("top"))
      .select(col("nationkey"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("nationkey"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("custkey"), r6(col("e.ord")).as("acctbal"))
      .orderBy(col("nationkey"), col("rank"))
  }

  /** Kolmogorov-Smirnov drift statistic between two event-type value
    * distributions — the distribution-shift check a data pipeline
    * runs between ingest batches. The ECDFs need a GLOBAL cumulative
    * sum over distinct values; since `value` is a continuous double,
    * the distinct relation is corpus-sized, so a naive
    * `Window.orderBy(value)` would collapse to one task. Instead the
    * cumsums ride `Packing.withGlobalOffsets`' distributed prefix sum
    * (range shuffle + per-partition bases) — the same primitive as
    * sequence packing, reused. All divisions are exact-integer →
    * double casts performed identically on both engines, so even the
    * argmax tie filter (`diff = dmax`) is portable. */
  val ksDrift: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
           FROM events WHERE event_type IN ('click', 'view')),
       g AS (SELECT value, sum(ia) AS na, sum(1 - ia) AS nb
             FROM e GROUP BY 1),
       t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM g),
       c AS (SELECT value, sum(na) OVER w AS ca, sum(nb) OVER w AS cb
             FROM g WINDOW w AS (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       d AS (SELECT value,
               abs(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
                 - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) AS diff
             FROM c, t),
       m AS (SELECT max(diff) AS dmax FROM d)
       SELECT CAST(ta AS BIGINT) AS n_click, CAST(tb AS BIGINT) AS n_view,
              ${r6sql("dmax")} AS d_stat,
              min(value) AS ks_at
       FROM d, m, t WHERE diff = dmax GROUP BY 1, 2, 3""") { (s, d) =>
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("value"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("ia"))
    val g = e.groupBy(col("value"))
      .agg(sum(col("ia")).as("na"), sum(lit(1L) - col("ia")).as("nb"))
    val tot = g.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    // two distributed prefix sums (exclusive) + the row's own count
    // = the inclusive ECDF numerators — fused into one range shuffle
    // + one window pass (they share the value order)
    val cb = graft.ops.Packing.withGlobalOffsetsMulti(g, "value",
      Seq("na" -> "ca_ex", "nb" -> "cb_ex"))
    val diff = cb.crossJoin(broadcast(tot))
      .select(col("value"), col("ta"), col("tb"),
        abs((col("ca_ex") + col("na")).cast("double") / col("ta").cast("double")
          - (col("cb_ex") + col("nb")).cast("double") / col("tb").cast("double"))
          .as("diff"))
    val m = diff.agg(max(col("diff")).as("dmax"))
    diff.crossJoin(broadcast(m))
      .filter(col("diff") === col("dmax"))
      .groupBy(col("ta").as("n_click"), col("tb").as("n_view"),
        r6(col("dmax")).as("d_stat"))
      .agg(min(col("value")).as("ks_at"))
  }

  /** Sliding event-time windows (10-minute window, 5-minute slide):
    * each event lands in exactly window/slide = 2 windows. Spark's
    * `window()` expands rows BEFORE the aggregate — a map-side
    * explode by a factor of 2, then one shuffle keyed on
    * (window, event_type); epoch-aligned starts keep the oracle a
    * pure floor-arithmetic UNION ALL. */
  val slidingWindow: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
       x AS (SELECT (us // 300000000) * 300000000 AS w, event_type, value
               FROM e
             UNION ALL
             SELECT (us // 300000000) * 300000000 - 300000000, event_type,
               value FROM e)
       SELECT w AS w_start_us, event_type, count(*) AS n,
              ${r6sql("sum(value)")} AS total_value
       FROM x GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), r6(sum(col("value"))).as("total_value"))
      .select(unix_micros(col("window.start")).as("w_start_us"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("w_start_us"), col("event_type"))
  }

  /** kNN label prediction — majority vote of the 5 nearest corpus
    * neighbors by cosine (the q32 machinery: broadcast queries,
    * corpus unshuffled, codegen dot). The vote table is |Q|·k rows,
    * so IT broadcasts into the label join; ties break to the larger
    * vote count then the smaller label via one orderable-struct
    * max — no window over the corpus anywhere. */
  val knnClassify: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 50),
       p AS (SELECT q_id, e.vec_id AS n_id,
               ${r6sql("""list_dot_product(q_v, e.v)
                 / (sqrt(list_dot_product(q_v, q_v))
                    * sqrt(list_dot_product(e.v, e.v)))""")} AS cos
             FROM q JOIN e ON e.vec_id <> q_id),
       r AS (SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, n_id) AS rank
             FROM p),
       v AS (SELECT q_id, CAST(emb.label AS BIGINT) AS n_label,
               count(*) AS votes
             FROM r JOIN embeddings emb ON emb.vec_id = r.n_id
             WHERE rank <= 5 GROUP BY 1, 2),
       b AS (SELECT q_id, n_label, votes,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY votes DESC, n_label) AS rk
             FROM v)
       SELECT b.q_id, b.n_label AS pred_label,
              CAST(b.votes AS BIGINT) AS votes,
              CAST(t.label AS BIGINT) AS true_label
       FROM b JOIN embeddings t ON t.vec_id = b.q_id
       WHERE rk = 1 ORDER BY b.q_id""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val nn = graft.vector.VectorOps.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 50), 5)
    val labels = emb.select(col("vec_id").as("n_id"),
      col("label").cast("long").as("n_label"))
    val votes = labels.join(broadcast(nn.select(col("q_id"), col("n_id"))),
        "n_id")
      .groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val pred = votes
      .groupBy(col("q_id"))
      .agg(max(struct(col("votes"), (-col("n_label")).as("neg"))).as("m"))
      .select(col("q_id"), (-col("m.neg")).as("pred_label"),
        col("m.votes").as("votes"))
    val truth = emb.select(col("vec_id").as("q_id"),
      col("label").cast("long").as("true_label"))
    truth.join(broadcast(pred), "q_id")
      .select(col("q_id"), col("pred_label"), col("votes"),
        col("true_label"))
      .orderBy(col("q_id"))
  }

  /** Aggregate-function breadth on one shuffle: bool_and/bool_or,
    * filtered counts, and argmin/argmax via orderable-struct min/max
    * (tie-broken by the key, so the pick is total and portable —
    * plain min_by/max_by on a non-unique ordering column would be
    * nondeterministic on BOTH engines). */
  val aggBreadth: QueryDef = QueryDef.sql(
    """SELECT c_mktsegment AS segment, count(*) AS n,
              bool_and(c_acctbal > 0) AS all_positive,
              bool_or(c_acctbal > 9000) AS any_rich,
              count(*) FILTER (WHERE c_acctbal < 0) AS n_negative,
              (min(struct_pack(a := c_acctbal, k := c_custkey))).k
                AS poorest_cust,
              (max(struct_pack(a := c_acctbal, k := c_custkey))).k
                AS richest_cust
       FROM customer GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        bool_and(col("c_acctbal") > 0).as("all_positive"),
        bool_or(col("c_acctbal") > 9000).as("any_rich"),
        count_if(col("c_acctbal") < 0).as("n_negative"),
        min(struct(col("c_acctbal").as("a"), col("c_custkey").as("k")))
          .as("mn"),
        max(struct(col("c_acctbal").as("a"), col("c_custkey").as("k")))
          .as("mx"))
      .select(col("segment"), col("n"), col("all_positive"),
        col("any_rich"), col("n_negative"),
        col("mn.k").as("poorest_cust"), col("mx.k").as("richest_cust"))
      .orderBy(col("segment"))
  }

  /** Per-document token-distribution entropy — the quality signal
    * that separates natural prose (high entropy) from repetitive
    * boilerplate (low). Fully row-local on the Spark side
    * ([[graft.text.TextOps.tokenEntropy]]'s sorted-run fold — no
    * doc×token shuffle); the oracle recomputes it relationally with
    * a list-ordered sum so the float fold order matches. */
  val tokenEntropyQ: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id,
             unnest(${tokensSql("text")}) AS tok
           FROM documents),
       c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
       e AS (SELECT doc_id,
               list_sum(list_transform(list(CAST(c AS DOUBLE) ORDER BY tok),
                 x -> x * ln(x))) AS s,
               sum(c) AS n
             FROM c GROUP BY 1)
       SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
              ${r6sql("ln(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE)")}
                AS entropy
       FROM e ORDER BY doc_id""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        r6(TextOps.tokenEntropy(col("toks"))).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** Robust outlier detection per event type: median + MAD (median
    * absolute deviation), flagging values beyond 3·MAD — the
    * quantile-threshold pattern of q03 applied twice. Both medians
    * are exact in-plan percentile aggregates broadcast back; no
    * driver round-trip, no sort of the corpus (percentile is a
    * partial-aggregating sketch-free exact agg over bounded
    * groups). */
  val madOutliers: QueryDef = QueryDef.sql(
    s"""WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
             FROM events GROUP BY 1),
       d AS (SELECT e.event_type, value, med, abs(value - med) AS dev
             FROM events e JOIN m USING (event_type)),
       s AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
             FROM d GROUP BY 1)
       SELECT d.event_type, count(*) AS n,
              count(*) FILTER (WHERE dev > 3 * mad) AS n_outliers,
              ${r6sql("max(med)")} AS median,
              ${r6sql("max(mad)")} AS mad
       FROM d JOIN s USING (event_type) GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count_if(col("dev") > lit(3) * col("mad")).as("n_outliers"),
        r6(max(col("med"))).as("median"),
        r6(max(col("mad"))).as("mad"))
      .orderBy(col("event_type"))
  }

  /** Retention cohort matrix: users grouped by first-seen day, the
    * count of distinct active users per (cohort, day offset) — the
    * standard product-retention triangle. The per-user first-seen
    * aggregate keys on user_id like the event join that follows, so
    * the shuffle partitioning is reused; distinct-user counting is
    * a two-level partial aggregate, never a collect. */
  val retentionCohorts: QueryDef = QueryDef.sql(
    """WITH u AS (SELECT user_id,
             min(date_trunc('day', ts)) AS cohort
           FROM events GROUP BY 1)
       SELECT cohort, CAST(date_diff('day', CAST(cohort AS DATE),
                CAST(date_trunc('day', e.ts) AS DATE)) AS BIGINT) AS day_off,
              count(DISTINCT e.user_id) AS active_users
       FROM events e JOIN u USING (user_id)
       GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val ev = Tables.events(s, d)
    // cohort stays a day-truncated TIMESTAMP (the parquet logical
    // type the driver compare is proven on — q24), not DATE
    val u = ev.groupBy(col("user_id"))
      .agg(min(date_trunc("day", col("ts"))).as("cohort"))
    ev.join(u, "user_id")
      .groupBy(col("cohort"),
        datediff(to_date(date_trunc("day", col("ts"))), to_date(col("cohort")))
          .cast("long").as("day_off"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("cohort"), col("day_off"))
  }

  /** PMI collocations — the corpus-statistics step behind phrase
    * mining / tokenizer-merge candidates: pointwise mutual
    * information of adjacent token pairs, top-20 with support ≥ 5.
    * All count tables are vocabulary-bounded (the q74 shapes); the
    * scalars N and B broadcast in-plan; PMI is computed in the
    * additive-ln form (overflow-safe at any corpus size, identical
    * op order on both engines) and RANKED on its r6-rounded value
    * (the q57 lesson: ulp-level ln() differences must not flip
    * ranks), tie-broken by the bigram text. Global top-20 plans
    * TakeOrderedAndProject, not a full sort. */
  val pmiCollocations: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       w AS (SELECT unnest(toks) AS tok FROM t),
       uni AS (SELECT tok, count(*) AS c1 FROM w GROUP BY 1),
       tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),
       x AS (SELECT unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS s
             FROM t WHERE len(toks) >= 2),
       bc AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c2
              FROM x GROUP BY 1, 2),
       btot AS (SELECT CAST(sum(c2) AS DOUBLE) AS bt FROM bc),
       p AS (SELECT w1 || ' ' || w2 AS bg, c2,
               ${r6sql("""ln(CAST(c2 AS DOUBLE)) + 2.0 * ln(n) - ln(bt)
                 - ln(CAST(a.c1 AS DOUBLE)) - ln(CAST(b.c1 AS DOUBLE))""")}
                 AS pmi
             FROM bc JOIN uni a ON bc.w1 = a.tok
                     JOIN uni b ON bc.w2 = b.tok, tot, btot
             WHERE c2 >= 5),
       r AS (SELECT bg, CAST(c2 AS BIGINT) AS c2, pmi,
               row_number() OVER (ORDER BY pmi DESC, bg) AS rank
             FROM p)
       SELECT bg, c2, pmi, CAST(rank AS BIGINT) AS rank
       FROM r WHERE rank <= 20 ORDER BY rank""") { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val uni = docs.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val tot = uni.agg(sum(col("c1")).cast("double").as("n"))
    val bi = docs.filter(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("s"))
      .groupBy(col("s.w1").as("w1"), col("s.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    val btot = bi.agg(sum(col("c2")).cast("double").as("bt"))
    val p = bi
      .join(uni.select(col("tok").as("w1"), col("c1").as("c1a")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c1").as("c1b")), "w2")
      .filter(col("c2") >= 5)
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
      .select(concat(col("w1"), lit(" "), col("w2")).as("bg"), col("c2"),
        r6(log(col("c2").cast("double")) + lit(2.0) * log(col("n"))
          - log(col("bt")) - log(col("c1a").cast("double"))
          - log(col("c1b").cast("double"))).as("pmi"))
    val top = p.orderBy(col("pmi").desc, col("bg")).limit(20)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pmi").desc, col("bg"))).cast("long"))
      .orderBy(col("rank"))
  }

  /** Chi-square independence test between event type and hour of
    * day — the categorical drift / association check. The
    * contingency table is bounded (|types| × 24 cells), so row and
    * column marginals broadcast in-plan; expected counts come from
    * exact integer marginal products cast to double identically on
    * both engines. */
  val chiSquare: QueryDef = QueryDef.sql(
    s"""WITH o AS (SELECT event_type AS et, CAST(hour(ts) AS INTEGER) AS hr,
             count(*) AS obs
           FROM events GROUP BY 1, 2),
       r AS (SELECT et, sum(obs) AS rt FROM o GROUP BY 1),
       c AS (SELECT hr, sum(obs) AS ct FROM o GROUP BY 1),
       n AS (SELECT sum(obs) AS n, count(DISTINCT et) AS nr,
               count(DISTINCT hr) AS nc FROM o),
       t AS (SELECT obs,
               CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) AS exp
             FROM o JOIN r USING (et) JOIN c USING (hr), n)
       SELECT CAST((SELECT n FROM n) AS BIGINT) AS n,
              CAST((SELECT (nr - 1) * (nc - 1) FROM n) AS BIGINT) AS dof,
              ${r6sql("""sum((CAST(obs AS DOUBLE) - exp)
                * (CAST(obs AS DOUBLE) - exp) / exp)""")} AS chi2
       FROM t""") { (s, d) =>
    val o = Tables.events(s, d)
      .groupBy(col("event_type").as("et"),
        hour(col("ts")).cast("int").as("hr"))
      .agg(count(lit(1)).as("obs"))
    val r = o.groupBy(col("et")).agg(sum(col("obs")).as("rt"))
    val c = o.groupBy(col("hr")).agg(sum(col("obs")).as("ct"))
    val n = o.agg(sum(col("obs")).as("n"),
      countDistinct(col("et")).as("nr"), countDistinct(col("hr")).as("nc"))
    o.join(broadcast(r), "et").join(broadcast(c), "hr")
      .crossJoin(broadcast(n))
      .select(col("n"), col("nr"), col("nc"), col("obs").cast("double").as("od"),
        ((col("rt") * col("ct")).cast("double") / col("n").cast("double"))
          .as("exp"))
      .groupBy(col("n"), ((col("nr") - 1) * (col("nc") - 1)).as("dof"))
      .agg(r6(sum((col("od") - col("exp")) * (col("od") - col("exp"))
        / col("exp"))).as("chi2"))
  }

  /** One-pass dataset profile ("dataset card" stats) over the
    * numeric measure columns of lineitem: null counts, exact
    * distinct cardinalities, min/max/mean — ONE scan computing every
    * aggregate (multi-distinct planned via Expand), unpivoted with
    * `stack` so adding a column adds zero jobs. The Deequ-style rule
    * audit (q80) asserts; this row describes. */
  val columnProfile: QueryDef = QueryDef.sql(
    s"""SELECT 'l_discount' AS column_name, count(*) AS n,
              count(*) - count(l_discount) AS n_null,
              count(DISTINCT l_discount) AS n_distinct,
              ${r6sql("min(l_discount)")} AS min_v,
              ${r6sql("max(l_discount)")} AS max_v,
              ${r6sql("avg(l_discount)")} AS avg_v
       FROM lineitem
       UNION ALL
       SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
              count(DISTINCT l_extendedprice),
              ${r6sql("min(l_extendedprice)")},
              ${r6sql("max(l_extendedprice)")},
              ${r6sql("avg(l_extendedprice)")}
       FROM lineitem
       UNION ALL
       SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
              count(DISTINCT l_quantity),
              ${r6sql("min(l_quantity)")},
              ${r6sql("max(l_quantity)")},
              ${r6sql("avg(l_quantity)")}
       FROM lineitem
       UNION ALL
       SELECT 'l_tax', count(*), count(*) - count(l_tax),
              count(DISTINCT l_tax),
              ${r6sql("min(l_tax)")},
              ${r6sql("max(l_tax)")},
              ${r6sql("avg(l_tax)")}
       FROM lineitem
       ORDER BY column_name""") { (s, d) =>
    val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
    // NOT Spread: an r15 attempt to parallelize the one-split scan
    // (the Expand+partial-distinct stage is a 1.8 s single task)
    // changed avg()'s partial-sum ORDER and moved avg_v by 1e-6 —
    // the float-sum-reorder hazard; the straggler is the price of
    // the bit-stable declared result here
    val li = Tables.lineitem(s, d)
    val agg = li.agg(count(lit(1)).as("n"),
      cols.flatMap(c => Seq(
        count(col(c)).as(s"cnt_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        r6(min(col(c))).as(s"mn_$c"),
        r6(max(col(c))).as(s"mx_$c"),
        r6(avg(col(c))).as(s"av_$c"))): _*)
    val stackArgs = cols.map(c =>
      s"'$c', n - cnt_$c, nd_$c, mn_$c, mx_$c, av_$c").mkString(", ")
    agg.selectExpr("n",
        s"stack(${cols.length}, $stackArgs) AS " +
          "(column_name, n_null, n_distinct, min_v, max_v, avg_v)")
      .select(col("column_name"), col("n"), col("n_null"),
        col("n_distinct"), col("min_v"), col("max_v"), col("avg_v"))
      .orderBy(col("column_name"))
  }

  /** Exact interpolated multi-quantile per group — the EXACT
    * counterpart of q64's approx_quantiles (Greenwald-Khanna sketch):
    * Spark's `percentile` aggregate computes the same linear
    * interpolation (rank p·(n−1), lerp between floor/ceil neighbors)
    * as DuckDB's `quantile_cont`, so the oracle is a direct parity
    * check on the formula. Exact percentile buffers each group's
    * values — the right tool for bounded group cardinality (per-type
    * event values here); at unbounded cardinality q64's sketch is
    * the scale path, and having BOTH rows documents the tradeoff. */
  val exactQuantiles: QueryDef = QueryDef.sql(
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         ${r6sql("quantile_cont(value, 0.25)")}
           AS q25,
         ${r6sql("quantile_cont(value, 0.50)")}
           AS q50,
         ${r6sql("quantile_cont(value, 0.90)")}
           AS q90
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        r6(percentile(col("value"), lit(0.25))).as("q25"),
        r6(percentile(col("value"), lit(0.50))).as("q50"),
        r6(percentile(col("value"), lit(0.90))).as("q90"))
      .orderBy(col("event_type"))
  }

  /** Per-GROUP exact-k deterministic sample — closes the sampling
    * matrix's last cell (q58 per-stratum FRACTION, q140 global
    * fixed-k, q185 weighted-systematic; this is per-stratum
    * fixed-k): the k smallest content-independent md5(doc_id) hashes
    * per lang, so every stratum yields exactly k rows regardless of
    * its size — the balanced-eval-set construction. Rides the
    * bounded-heap grouped top-k (negated hash → the DESC heap keeps
    * the ascending-hash winners; ties to the smaller id on both
    * engines), k rows per task per group across the shuffle — never
    * a per-group sort. */
  val groupedSample: QueryDef = QueryDef.sql(
    """SELECT lang, CAST(rk AS BIGINT) AS rank, doc_id FROM (
         SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang ORDER BY
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                  AS BIGINT), doc_id) AS rk
         FROM documents)
       WHERE rk <= 5 ORDER BY lang, rank""") { (s, d) =>
    val top5 = graft.ops.TopK.topk(5)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long").as("hv"))
      .groupBy(col("lang"))
      .agg(top5(-col("hv").cast("double"), col("doc_id")).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("doc_id"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Per-user CUSUM drift detection (Page's cumulative-sum control
    * chart — the sequential change-point detector KS-drift (q91)
    * cannot replace: KS compares whole distributions, CUSUM flags
    * WHEN a sustained shift starts, online): S_i = max(0,
    * S_{i-1} + (x_i − target)), alarm when the running peak crosses
    * h. The recursion is inherently sequential per user, so it runs
    * as ONE user_id shuffle + a row-local ordered fold over the
    * collected event sequence (q173's closed-form trick does not
    * apply — max-recursion has no prefix-sum form; per-user history
    * is bounded, same contract as q173/q25). Determinism: the fold
    * order is (us, event_id)-sorted on both engines, the reference
    * is a FIXED target (a data-derived float mean would reintroduce
    * reduction-order nondeterminism), and every operation is a
    * double add/subtract/max folded in the same order — DuckDB's
    * sentinel-prepended list_reduce is the same left fold as Spark's
    * aggregate with an explicit zero state. (Oracle note: the state
    * rides a 2-element DOUBLE list, not a struct — DuckDB 1.0's
    * list_reduce mis-evaluates the second field of a struct
    * accumulator, observed peak 518.51 vs the hand-fold's 333.03;
    * the list encoding reproduces the hand fold exactly.) */
  val cusumDrift: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
         FROM events),
       g AS (SELECT user_id,
               list_transform(list(struct_pack(us := us, eid := event_id,
                   v := value) ORDER BY us, event_id), r -> r.v) AS vals
             FROM e GROUP BY 1),
       f AS (SELECT user_id,
               list_reduce(
                 list_prepend([0.0::DOUBLE, 0.0::DOUBLE],
                   list_transform(vals, x -> [x::DOUBLE, 0.0::DOUBLE])),
                 (acc, x) ->
                   [greatest(0.0::DOUBLE, acc[1] + (x[1] - 55.0::DOUBLE)),
                    greatest(acc[2], greatest(0.0::DOUBLE,
                      acc[1] + (x[1] - 55.0::DOUBLE)))]) AS st
             FROM g)
       SELECT user_id,
         ${r6sql("st[1]")} AS cusum_end,
         ${r6sql("st[2]")} AS cusum_peak,
         st[2] > 500.0::DOUBLE AS alarm
       FROM f ORDER BY user_id""") { (s, d) =>
    val step: (Column, Column) => Column = (acc, x) =>
      struct(
        greatest(lit(0.0), acc.getField("s") + (x - lit(55.0))).as("s"),
        greatest(acc.getField("m"),
          greatest(lit(0.0), acc.getField("s") + (x - lit(55.0)))).as("m"))
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
        col("value").as("v")))).as("seq"))
      .select(col("user_id"),
        aggregate(
          transform(col("seq"), r => r.getField("v")),
          struct(lit(0.0).as("s"), lit(0.0).as("m")),
          step).as("st"))
      .select(col("user_id"),
        r6(col("st.s")).as("cusum_end"),
        r6(col("st.m")).as("cusum_peak"),
        (col("st.m") > lit(500.0)).as("alarm"))
      .orderBy(col("user_id"))
  }

  /** Per-user Holt double-exponential smoothing (level + trend,
    * α=0.3, β=0.1, standard l₀=x₁ / b₀=x₂−x₁ init) with a one-step
    * forecast — the forecasting-family member next to q173's EWMA
    * (single smoothing, closed-form windowable) and q189's CUSUM:
    * the TREND recursion couples two states, so no closed form — it
    * runs as the same one-shuffle + row-local ordered fold contract
    * as q189, with the identical determinism story (fixed
    * constants, (us, event_id) fold order, double arithmetic in the
    * same tree shape on both engines; list-encoded oracle state per
    * the q189 DuckDB struct-accumulator note). */
  val holtForecast: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
         FROM events),
       g AS (SELECT user_id,
               list_transform(list(struct_pack(us := us, eid := event_id,
                   v := value) ORDER BY us, event_id), r -> r.v) AS vals
             FROM e GROUP BY 1),
       f AS (SELECT user_id, len(vals) AS n,
               list_reduce(
                 list_prepend(
                   [vals[1]::DOUBLE, (vals[2] - vals[1])::DOUBLE],
                   list_transform(vals[3:], x -> [x::DOUBLE, 0.0::DOUBLE])),
                 (acc, x) ->
                   [0.3::DOUBLE * x[1]
                      + 0.7::DOUBLE * (acc[1] + acc[2]),
                    0.1::DOUBLE * ((0.3::DOUBLE * x[1]
                        + 0.7::DOUBLE * (acc[1] + acc[2])) - acc[1])
                      + 0.9::DOUBLE * acc[2]]) AS st
             FROM g WHERE len(vals) >= 3)
       SELECT user_id, CAST(n AS INTEGER) AS n_obs,
         ${r6sql("st[1]")} AS level_end,
         ${r6sql("st[2]")} AS trend_end,
         ${r6sql("st[1] + st[2]")} AS forecast_1
       FROM f ORDER BY user_id""") { (s, d) =>
    val step: (Column, Column) => Column = (acc, x) => {
      val lNew = lit(0.3) * x +
        lit(0.7) * (acc.getField("l") + acc.getField("b"))
      struct(lNew.as("l"),
        (lit(0.1) * (lNew - acc.getField("l")) +
          lit(0.9) * acc.getField("b")).as("b"))
    }
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
        col("value").as("v")))).as("seq"))
      .select(col("user_id"),
        transform(col("seq"), r => r.getField("v")).as("vals"))
      .filter(size(col("vals")) >= 3)
      .select(col("user_id"), size(col("vals")).as("n_obs"),
        aggregate(
          slice(col("vals"), lit(3), size(col("vals")) - 2),
          struct(element_at(col("vals"), 1).as("l"),
            (element_at(col("vals"), 2) - element_at(col("vals"), 1))
              .as("b")),
          step).as("st"))
      .select(col("user_id"), col("n_obs"),
        r6(col("st.l")).as("level_end"),
        r6(col("st.b")).as("trend_end"),
        r6(col("st.l") + col("st.b")).as("forecast_1"))
      .orderBy(col("user_id"))
  }

  // ---- The co-event graph family (q184, q196, q243, q267, q333,
  // q346, q356, q365) reads ONE co-occurrence graph: users are nodes,
  // and two users are neighbours when they share distinct
  // (event_type, hour) activity buckets. Each relation the family
  // shares is derived by one helper below, next to the one oracle
  // CTE that derives the same relation in DuckDB.

  /** The graph's bucketed projection: distinct (event_type, h,
    * user_id) activity buckets. */
  private def coEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
        col("user_id"))
      .distinct()
  // MATERIALIZED: every family member reads p twice (the pair
  // self-join), and DuckDB inlines an unhinted CTE per reference
  private val coEventsCte =
    """p AS MATERIALIZED (SELECT DISTINCT event_type,
         date_trunc('hour', ts) AS h, user_id FROM events)"""
  // (u, v, c): every user pair u < v with its shared-bucket count
  private val pairCountsCte =
    """pc AS MATERIALIZED (SELECT a.user_id u, b.user_id v,
           CAST(count(*) AS BIGINT) c
         FROM p a JOIN p b ON a.event_type = b.event_type
           AND a.h = b.h AND a.user_id < b.user_id GROUP BY 1, 2)"""

  /** Undirected edges (u < v) between users sharing >= 3 buckets,
    * through the chunked pair machinery of
    * [[graft.ops.Graph.cooccurEdges]]. */
  private def support3Edges(p: DataFrame): DataFrame =
    graft.ops.Graph.cooccurEdges(p, Seq("event_type", "h"), "user_id",
      minSupport = 3)
  private val support3Cte =
    s"""$pairCountsCte,
       e AS (SELECT u, v FROM pc WHERE c >= 3)"""

  /** SCALE-INVARIANT undirected edges (u < v): pairs whose
    * shared-bucket count is >= 2× the mean over all pairs (a fixed
    * absolute support saturates to one giant component as SF grows,
    * the TESTDATA.md drift lesson). Eagerly `localCheckpoint`ed, so
    * every consumer (q243's label-prop rounds, q267's peel, q333's
    * degree aggregate) plans against a flat LogicalRDD instead of
    * re-analyzing the pair-expansion tree (measured for q243: 8.6 s →
    * ~4 s at sf0.1). The pair counts under it are checkpointed
    * LAZILY: the threshold's aggregate, the first job that reads
    * them, stores their blocks, and the filter reads those blocks
    * instead of aggregating the pair shuffle a second time; they are
    * released once the edges are stored. The edge blocks are
    * reclaimed by the ContextCleaner once the result is consumed. */
  private def meanCutEdges(p: DataFrame): DataFrame = {
    val ckpt = new graft.LocalCheckpoints
    val pc = ckpt(graft.ops.Graph.cooccurPairCounts(p,
      Seq("event_type", "h"), "user_id"), eager = false)
    val thr = pc.agg((lit(2.0)
      * (sum(col("w")).cast("double") / count(lit(1)))).as("t"))
    val e = pc.crossJoin(broadcast(thr))
      .filter(col("w").cast("double") >= col("t"))
      .select(col("u"), col("v"))
      .localCheckpoint()
    ckpt.release()
    e
  }
  private val meanCutCte =
    s"""$pairCountsCte,
       thr AS (SELECT 2.0*avg(c) t FROM pc),
       e AS MATERIALIZED (SELECT u, v FROM pc, thr WHERE c >= t)"""

  /** Both directions of an undirected edge list, eagerly
    * `localCheckpoint`ed. The symmetric relation sits under ~10
    * consumer subtrees (sketch rounds, bitmap builds, audit chains):
    * AQE exchange reuse dedups their EXECUTION, but Catalyst and AQE
    * still plan the full replicated pair-expansion tree under each
    * (measured 2.1 s of driver gap on a 7.9 s q346), and an eager
    * consumer re-derives it per job. The checkpoint stores plain rows
    * and cuts the PLAN to a flat LogicalRDD (isolated min-of-2: q346
    * 7.9 → 6.1 s, q356 7.7 → 6.6 s, q365 9.7 → 7.9 s), where a
    * persist() adds a columnar materialization barrier and still
    * carries the full logical subtree through the optimizer (q346:
    * 9.5 vs 6.3 s). MEMORY_AND_DISK blocks, freed by the
    * ContextCleaner with the plan. */
  private def symmetricCheckpointed(e: DataFrame): DataFrame =
    e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
  private val symmetricCte =
    "ee AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)"

  /** Scale-aware sampling modulus of the exact audit tiers (the
    * corpus-adaptive-banding discipline): 1-in-`small` sources at
    * small fixtures, 1-in-5·`small` once the graph has >= 1000 nodes
    * and its reach relations saturate. A bounded driver scalar,
    * recomputed identically by [[auditModulusCte]]. */
  private def auditModulus(p: DataFrame, small: Int): Int =
    if (p.select(col("user_id")).distinct().count() >= 1000) 5 * small
    else small
  private def auditModulusCte(small: Int): String =
    s"""m0 AS (SELECT CASE WHEN count(DISTINCT user_id) >= 1000
                THEN ${5 * small} ELSE $small END AS m FROM p)"""

  /** Exact reach of the SAMPLED sources (u % mod = 0) of the
    * symmetric edge list `ee`, for hops 2..`hops`: one
    * (src, bm, n_reach) relation per hop, where n_reach counts the
    * nodes other than src within that many hops.
    *
    * The sample filter applies BEFORE any expansion, so the wedge
    * join only fans out of the ~1/mod sampled rows (sampled-side ×
    * deg work, never a hub's full deg²). Reach sets are per-source
    * Roaring64 bitmaps: hop 2 aggregates the sampled one- and
    * two-hop rows; each later hop explodes the sources' bitmaps back
    * to (src, d) rows (|sample|·reach rows), attaches each d's
    * neighbour bitmap, and ORs per source. The row form shuffled
    * every expansion row through a distinct keyed by the MIDDLE node
    * (no map-side collapse: ~22 s of task time across q365's three
    * rounds at sf0.1); here the multiplicity collapses inside the OR.
    * src enters the bitmap at hop 3 (src ∈ B(d) for every neighbour d
    * of src, and a sampled source has one) and STAYS — expanding
    * through src only re-adds B(src) ⊆ reach₂ — so n_reach is the
    * cardinality from hop 3 on minus that one member; the hop-2
    * bitmap never holds src.
    *
    * Each hop's relation that a later round reads is checkpointed
    * (the 3^round plan-replication lesson: un-truncated q365 rounds
    * read 8.5-9.0 s vs 7.9-8.4 s); the last hop's is not, since only
    * the caller's one plan reads it. The neighbour bitmaps are
    * checkpointed when more than one round reads them. They are built
    * behind an explicit repartition by node: with map-side partial
    * bitmaps the final merge deserializes and ORs one bitmap per
    * (node, map partition), and AQE coalesces that KB-sized exchange
    * to ONE task (measured: a 1.7 s single-task straggler on a 6 s
    * q356); raw 16-byte edge rows shuffle cheaper. */
  private[graft] def sampledReach(ee: DataFrame, mod: Int,
      hops: Int): Seq[DataFrame] = {
    import graft.functions.BitmapFunctions.{bitmap64Agg, bitmap64Card, bitmap64OrAgg, bitmap64Union, bitmap64Explode}
    val eeS = ee.filter(col("u") % mod === 0)
    val two = eeS.as("a").join(ee.as("b"), col("a.v") === col("b.u")
        && col("a.u") =!= col("b.v"))
      .select(col("a.u").as("src"), col("b.v").as("dst"))
    val nb = ee
      .repartition(ee.sparkSession.sessionState.conf.numShufflePartitions,
        col("u"))
      .groupBy(col("u").as("d"))
      .agg(bitmap64Agg(col("v")).as("nb"))
    val nbB = if (hops > 3) nb.localCheckpoint(true) else nb
    def counted(bm: DataFrame, hop: Int) = bm.select(col("src"), col("bm"),
      (bitmap64Card(col("bm")) - lit(if (hop >= 3) 1L else 0L))
        .cast("long").as("n_reach"))
    var cur = eeS.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(two)
      .groupBy(col("src")).agg(bitmap64Agg(col("dst")).as("bm"))
    val out = Seq.newBuilder[DataFrame]
    for (hop <- 3 to hops) {
      cur = cur.localCheckpoint(true)
      out += counted(cur, hop - 1)
      val nbs = cur.select(col("src"), bitmap64Explode(col("bm")).as("d"))
        .join(nbB.hint("shuffle_hash"), "d")
        .groupBy(col("src")).agg(bitmap64OrAgg(col("nb")).as("nbs"))
      cur = cur.join(nbs, "src")
        .select(col("src"), bitmap64Union(col("bm"), col("nbs")).as("bm"))
    }
    (out += counted(cur, hops)).result()
  }
  // the same reach relations in row form: r<h> holds (src, dst) for
  // every dst ≠ src within h hops of a sampled src
  private def sampledReachCte(hops: Int): String =
    ("""ees AS (SELECT u, v FROM ee, m0 WHERE u % m0.m = 0),
       r2 AS (SELECT a.u AS src, b.v AS dst
              FROM ees a JOIN ee b ON a.v = b.u WHERE a.u <> b.v
              UNION SELECT u, v FROM ees)""" +: (3 to hops).map { h =>
      val r = s"r${h - 1}"
      s"""r$h AS (SELECT $r.src, ee.v AS dst
              FROM $r JOIN ee ON $r.dst = ee.u WHERE ee.v <> $r.src
              UNION SELECT src, dst FROM $r)"""
    }).mkString(",\n       ")

  /** Per-user triangle counts over the co-occurrence graph (edge:
    * two users sharing >= 3 distinct (event_type, hour) activity
    * buckets) — the third graph family member next to PageRank
    * (q101) and connected components (q48), exercising
    * [[graft.ops.Graph.triangleCounts]]'s degree-ordered
    * orientation. The edge derivation is a bucket-bounded
    * co-occurrence self-join (k² pairs per bucket, k <= bucket
    * cardinality — never a global cross join) pruned by the
    * >= 3-bucket support filter; the triangle phase's wedge fan-out
    * is orientation-bounded, so no hub node can explode a task. The
    * oracle closes wedges by the id order directly (a < b < c
    * three-way self-join) — quadratic wedge generation is fine in
    * DuckDB at fixture scale, and both derivations count each
    * triangle exactly once. */
  val triangleCooccur: QueryDef = QueryDef.sql(
    s"""WITH $coEventsCte,
       $support3Cte,
       tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
               FROM e e1 JOIN e e2 ON e2.u = e1.v
                    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
       m AS (SELECT a AS user_id FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_tri
       FROM m GROUP BY 1 ORDER BY 1""") { (s, d) =>
    // the edges are NOT checkpointed: triangleCounts' two consumers
    // of the edge relation share its aggregate exchange
    // (ReusedExchange), same reasoning as pageRank's uncached edge
    // subplan below
    graft.ops.Graph.triangleCounts(support3Edges(coEvents(s, d)))
      .orderBy(col("user_id"))
  }

  /** Weighted PageRank over the user-journey transition graph
    * (event_type → next event_type, edge weight = transition count):
    * the steady-state importance of each funnel stage. Exercises
    * [[graft.ops.Graph.pageRank]] — fixed 5 power iterations, each
    * one node-keyed shuffle; the oracle unrolls the same five
    * iterations as chained CTEs with identical float arithmetic. */
  private def prIterCte(k: Int): String =
    s"""r$k AS (SELECT nd.node,
          (1 - 0.85) / n + 0.85 * coalesce(s.c, 0) AS rank
        FROM nd CROSS JOIN nn LEFT JOIN
          (SELECT ed.dst AS node,
             sum(r.rank * CAST(ed.w AS DOUBLE)
               / CAST(od.outw AS DOUBLE)) AS c
           FROM r${k - 1} r JOIN ed ON ed.src = r.node
                JOIN od ON od.src = ed.src
           GROUP BY 1) s ON s.node = nd.node)"""

  val pageRankTransitions: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
             event_id FROM events),
       t AS (SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY us, event_id) AS dst
             FROM e),
       ed AS (SELECT src, dst, count(*) AS w FROM t
              WHERE dst IS NOT NULL GROUP BY 1, 2),
       od AS (SELECT src, sum(w) AS outw FROM ed GROUP BY 1),
       nd AS (SELECT DISTINCT node FROM
               (SELECT src AS node FROM ed
                UNION ALL SELECT dst FROM ed)),
       nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
       r0 AS (SELECT node, 1.0 / n AS rank FROM nd CROSS JOIN nn),
       ${(1 to 5).map(prIterCte).mkString(",\n       ")}
       SELECT node, ${r6sql("rank")} AS rank
       FROM r5 ORDER BY node""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val edges = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
    graft.ops.Graph.pageRank(edges, iters = 5)
      .select(col("node"), r6(col("rank")).as("rank"))
      .orderBy(col("node"))
  }

  /** Higher-order-function breadth over the embedding column — the
    * row-local vector feature pass (norm via the codegen dot, mean/
    * extrema/predicates via transform-family HOFs). Everything is
    * per-row; the only shuffle is the final presentation sort. The
    * mean's fold runs in list order on both engines, so the float
    * sums agree. */
  val vectorStats: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings)
       SELECT vec_id,
              ${r6sql("sqrt(list_dot_product(v, v))")} AS norm,
              ${r6sql("list_sum(v) / len(v)")} AS mean_v,
              list_min(v) AS min_v, list_max(v) AS max_v,
              CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_pos,
              len(list_filter(v, x -> abs(x) > 0.5)) > 0 AS has_large
       FROM e ORDER BY vec_id""") { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val v = graft.vector.VectorOps.toDouble(col("embedding"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), v.as("v"))
      .select(col("vec_id"),
        r6(sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
          .as("norm"),
        r6(aggregate(col("v"), lit(0.0), (acc, x) => acc + x)
          / size(col("v"))).as("mean_v"),
        array_min(col("v")).as("min_v"), array_max(col("v")).as("max_v"),
        size(filter(col("v"), x => x > 0)).as("n_pos"),
        exists(col("v"), x => abs(x) > 0.5).as("has_large"))
      .orderBy(col("vec_id"))
  }

  /** Materialized-rollup maintenance: the first 14 days are the
    * persisted aggregate snapshot (key → count/sum state), newer
    * events are the increment; merging is a union + re-aggregate of
    * STATE rows — day-sized work, never a full recompute. (The
    * membership-index sibling is q73; this is the additive-state
    * form every nightly rollup uses.) Oracle: the full recompute —
    * equality IS the correctness claim. */
  val incrementalAgg: QueryDef = QueryDef.sql(
    s"""SELECT event_type, count(*) AS n,
              ${r6sql("sum(value)")} AS total,
              ${r6sql("sum(value) / count(*)")}
                AS mean_value
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value"),
        dayofmonth(col("ts")).as("dom"))
    def state(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
    val snapshot = state(ev.filter(col("dom") <= 14))
    val increment = state(ev.filter(col("dom") > 14))
    snapshot.unionByName(increment)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      .select(col("event_type"), col("n"), r6(col("s")).as("total"),
        r6(col("s") / col("n")).as("mean_value"))
      .orderBy(col("event_type"))
  }

  /** HLL sketch rollup — the mergeable-state form of distinct
    * counting: per-day sketches union to the period total WITHOUT
    * re-touching the raw data (the q43 estimator made re-usable).
    *
    * DRIVER-CHECKED via containment (the q43/q64 pattern, VERDICT r3
    * #7): the sketch bytes and estimates are engine-specific, but two
    * portable claims ride the plan as booleans — `merge_ok` (merged
    * daily estimate within 2% of the direct whole-period estimate:
    * they estimate the SAME set, but Datasketches HLL union is
    * bit-identical to the direct sketch only while both stay in
    * sparse/set mode — measured exact at sf0.01, ≤ 1.26% apart at
    * sf0.1 where 1500 distinct crosses into dense HLL mode — so 2%
    * is the honest mode-independent bound for two lgK=12 estimates
    * of one set) and `bound_ok` (BOTH estimates within 5% of the
    * exact distinct count — generous vs lgK=12's ~1.6% rse). The
    * oracle emits the exact count and both expected TRUEs, so a
    * sketch violating either claim hash-mismatches in the driver
    * compare. SketchSpec keeps the same gates suite-side. */
  val hllRollup: QueryDef = QueryDef.sql(
    """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
              TRUE AS merge_ok, TRUE AS bound_ok
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        dayofmonth(col("ts")).as("dom"))
    val daily = ev.groupBy(col("event_type"), col("dom"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
        .as("merged_estimate"))
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
        .as("direct_estimate"),
        countDistinct(col("user_id")).as("exact_distinct"))
    merged.join(direct, "event_type")
      .select(col("event_type"), col("exact_distinct"),
        (abs(col("merged_estimate") - col("direct_estimate"))
          <= lit(0.02) * col("direct_estimate")).as("merge_ok"),
        (greatest(abs(col("direct_estimate") - col("exact_distinct")),
            abs(col("merged_estimate") - col("exact_distinct")))
          <= lit(0.05) * col("exact_distinct")).as("bound_ok"))
      .orderBy(col("event_type"))
  }

  /** Multiset set operations — INTERSECT ALL / EXCEPT ALL keep
    * multiplicities (min / difference of per-value counts), the
    * semantics q13/q14's distinct forms erase. Spark plans both as
    * one aggregate + generate (count pairs, then replicate), not a
    * join blowup. */
  val setAll: QueryDef = QueryDef.sql(
    """SELECT 'intersect_all' AS op, user_id FROM
         (SELECT user_id FROM events WHERE event_type = 'click'
          INTERSECT ALL
          SELECT user_id FROM events WHERE event_type = 'view')
       UNION ALL
       SELECT 'except_all', user_id FROM
         (SELECT user_id FROM events WHERE event_type = 'click'
          EXCEPT ALL
          SELECT user_id FROM events WHERE event_type = 'view')
       ORDER BY op, user_id""") { (s, d) =>
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"))
    clicks.intersectAll(views).select(lit("intersect_all").as("op"),
        col("user_id"))
      .unionByName(clicks.exceptAll(views)
        .select(lit("except_all").as("op"), col("user_id")))
      .orderBy(col("op"), col("user_id"))
  }

  /** Null-handling API surface (the reference's P6 dropna widened):
    * nulls introduced with a guard, then `na.fill` for numeric
    * defaulting, `na.replace` for categorical recoding, and a
    * null-flag — the standard feature-cleaning trio. All row-local. */
  val nullHandling: QueryDef = QueryDef.sql(
    """WITH b AS (SELECT event_id, event_type,
             CASE WHEN value < 1 THEN NULL ELSE value END AS v
           FROM events)
       SELECT event_id,
              CASE WHEN event_type = 'click' THEN 'tap'
                   ELSE event_type END AS event_type_replaced,
              coalesce(v, -1.0) AS value_filled,
              v IS NULL AS was_null
       FROM b ORDER BY event_id""") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        when(col("value") < 1, lit(null)).otherwise(col("value")).as("v"))
      .na.replace("event_type", Map("click" -> "tap"))
      .withColumn("was_null", col("v").isNull)
      .na.fill(Map("v" -> -1.0))
      .select(col("event_id"),
        col("event_type").as("event_type_replaced"),
        col("v").as("value_filled"), col("was_null"))
      .orderBy(col("event_id"))
  }

  /** Time-spine gap filling: every hour between each user's first
    * and last activity, zero-filled where no events landed — the
    * completeness step before any per-period rate or SLA metric.
    * The spine generates from per-user (min, max) bounds — a
    * bounded-size aggregate exploded row-locally, NOT a global
    * calendar cross join; the fill is one co-keyed left join. */
  val gapFill: QueryDef = QueryDef.sql(
    """WITH u AS (SELECT user_id, min(date_trunc('hour', ts)) AS h0,
             max(date_trunc('hour', ts)) AS h1
           FROM events GROUP BY 1),
       spine AS (SELECT user_id,
               unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                 AS hour_start
             FROM u),
       a AS (SELECT user_id, date_trunc('hour', ts) AS hour_start,
               count(*) AS n
             FROM events GROUP BY 1, 2)
       SELECT s.user_id, s.hour_start, coalesce(a.n, 0) AS n
       FROM spine s LEFT JOIN a USING (user_id, hour_start)
       ORDER BY 1, 2""") { (s, d) =>
    val ev = Tables.events(s, d)
    val bounds = ev.groupBy(col("user_id"))
      .agg(min(date_trunc("hour", col("ts"))).as("h0"),
        max(date_trunc("hour", col("ts"))).as("h1"))
    val spine = bounds.select(col("user_id"),
      explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
        .as("hour_start"))
    val active = ev.groupBy(col("user_id"),
        date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("cnt"))
    spine.join(active, Seq("user_id", "hour_start"), "left")
      .select(col("user_id"), col("hour_start"),
        coalesce(col("cnt"), lit(0L)).as("n"))
      .orderBy(col("user_id"), col("hour_start"))
  }

  /** String-function breadth — the row-local text-wrangling surface
    * (pad/translate/reverse/split_part/concat_ws/repeat/substr),
    * every function chosen for identical semantics on both engines
    * (initcap, soundex, format_number are NOT portable and are
    * deliberately absent). */
  val stringBreadth: QueryDef = QueryDef.sql(
    """SELECT c_custkey,
              lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
              translate(c_mktsegment, 'AEIOU', 'aeiou') AS segment_lc_vowels,
              reverse(c_name) AS rev_name,
              split_part(c_name, '#', 2) AS cust_num,
              concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR))
                AS tag,
              repeat('*', CAST(c_custkey % 5 AS INTEGER)) AS stars,
              upper(substr(c_mktsegment, 1, 3)) AS seg3
       FROM customer ORDER BY c_custkey""") { (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"),
        lpad(col("c_custkey").cast("string"), 12, "0").as("padded"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou")
          .as("segment_lc_vowels"),
        reverse(col("c_name")).as("rev_name"),
        expr("split_part(c_name, '#', 2)").as("cust_num"),
        concat_ws("|", col("c_mktsegment"), col("c_nationkey").cast("string"))
          .as("tag"),
        expr("repeat('*', CAST(c_custkey % 5 AS INT))").as("stars"),
        upper(substring(col("c_mktsegment"), 1, 3)).as("seg3"))
      .orderBy(col("c_custkey"))
  }

  /** Date/time-function breadth over event time: quarter, ISO week,
    * day-of-year, month end, and day/month arithmetic. Date-typed
    * results are emitted as ISO strings — both engines cast DATE to
    * 'YYYY-MM-DD', while a raw DATE column would ride different
    * physical types through the compare. */
  val dateBreadth: QueryDef = QueryDef.sql(
    """WITH e AS (SELECT event_id, CAST(date_trunc('day', ts) AS DATE) AS d
           FROM events)
       SELECT event_id,
              CAST(d AS VARCHAR) AS day,
              CAST(quarter(d) AS INTEGER) AS qtr,
              CAST(weekofyear(d) AS INTEGER) AS iso_week,
              CAST(dayofyear(d) AS INTEGER) AS doy,
              CAST(last_day(d) AS VARCHAR) AS month_end,
              CAST(d + 7 AS VARCHAR) AS next_week,
              CAST(CAST(d + INTERVAL 1 MONTH AS DATE) AS VARCHAR)
                AS next_month
       FROM e ORDER BY event_id""") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), to_date(date_trunc("day", col("ts"))).as("d"))
      .select(col("event_id"),
        col("d").cast("string").as("day"),
        quarter(col("d")).cast("int").as("qtr"),
        weekofyear(col("d")).cast("int").as("iso_week"),
        dayofyear(col("d")).cast("int").as("doy"),
        last_day(col("d")).cast("string").as("month_end"),
        date_add(col("d"), 7).cast("string").as("next_week"),
        add_months(col("d"), 1).cast("string").as("next_month"))
      .orderBy(col("event_id"))
  }

  /** Last-touch attribution: each purchase attributed to the user's
    * most recent click at-or-before it — the as-of join
    * (`ops/AsOf`, q44's operator) reused on a second domain, proving
    * it is generic: ONE user-keyed shuffle, zero join blowup, rights
    * pre-deduplicated per (user, ts) to honor the operator contract.
    * Oracle: DuckDB's native ASOF LEFT JOIN. */
  val attribution: QueryDef = QueryDef.sql(
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
           FROM events),
       p AS (SELECT event_id, user_id, us FROM e
             WHERE event_type = 'purchase'),
       c AS (SELECT user_id, us AS c_us, max(event_id) AS click_event_id
             FROM e WHERE event_type = 'click' GROUP BY 1, 2)
       SELECT p.event_id, p.user_id, p.us AS purchase_us,
              c.click_event_id,
              c.click_event_id IS NOT NULL AS attributed
       FROM p ASOF LEFT JOIN c
         ON p.user_id = c.user_id AND p.us >= c.c_us
       ORDER BY p.event_id""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("c_us"))
      .agg(max(col("event_id")).as("click_event_id"))
    graft.ops.AsOf.asofJoin(purchases, clicks, "user_id",
        leftTs = "us", rightTs = "c_us", payload = Seq("click_event_id"))
      .select(col("event_id"), col("user_id"), col("us").as("purchase_us"),
        col("click_event_id"),
        col("click_event_id").isNotNull.as("attributed"))
      .orderBy(col("event_id"))
  }

  /** Near-dup cluster collapse with a QUALITY keep policy — q48's
    * transitive components composed with a keep-longest rule (ties
    * to the smaller doc_id via one orderable-struct aggregate per
    * cluster, broadcast back). This is the decision step real
    * curation runs after clustering: q48 says WHICH docs group,
    * this row says WHO survives. */
  val dedupKeepBest: QueryDef = QueryDef.sql(
    s"""WITH RECURSIVE
       t AS (SELECT doc_id, ${tokensSql("text")} AS toks
             FROM documents),
       s AS (SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 AS sh
             FROM t WHERE len(toks) >= 3),
       p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
             FROM s a JOIN s b ON a.doc_id < b.doc_id
             WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                   / (len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh))) >= 0.6),
       sym AS (SELECT a_id AS u, b_id AS v FROM p
               UNION ALL SELECT b_id, a_id FROM p),
       lbl(u, l) AS (
         SELECT u, u FROM (SELECT DISTINCT u FROM sym)
         UNION
         SELECT s2.v, lbl.l FROM lbl JOIN sym s2 ON s2.u = lbl.u),
       m AS (SELECT u AS doc_id, min(l) AS cluster_id FROM lbl GROUP BY u),
       b AS (SELECT m.cluster_id,
               max(struct_pack(nc := d.n_chars, ni := -d.doc_id)) AS best
             FROM m JOIN documents d USING (doc_id) GROUP BY 1)
       SELECT m.doc_id, m.cluster_id, d.n_chars,
              (d.n_chars = (b.best).nc AND m.doc_id = -(b.best).ni) AS keep
       FROM m JOIN documents d USING (doc_id) JOIN b USING (cluster_id)
       ORDER BY m.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val pairs = graft.dedup.Dedup.minhashNearDupPairs(docs,
      "doc_id", "text", 0.6)
    val comp = graft.dedup.Dedup.nearDupComponents(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
    val withLen = comp.join(docs.select(col("doc_id"), col("n_chars")),
      "doc_id")
    val best = withLen.groupBy(col("cluster_id"))
      .agg(max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("ni")))
        .as("best"))
    withLen.join(broadcast(best), "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("n_chars"),
        (col("n_chars") === col("best.nc") &&
          col("doc_id") === -col("best.ni")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** ANSI-safe arithmetic surface — Spark 4 runs ANSI mode, where
    * raw division-by-zero and bad casts THROW; the try_* family
    * yields NULL instead, which is exactly DuckDB's native
    * double-division and TRY_CAST semantics, so the oracle is
    * direct. The error-tolerant path every ingest pipeline needs. */
  val safeMath: QueryDef = QueryDef.sql(
    s"""SELECT event_id,
              ${r6sql("value / CAST(user_id % 3 AS DOUBLE)")} AS safe_div,
              user_id % 3 = 0 AS div_was_zero,
              try_cast(substr(event_type, 1, 2) AS INTEGER) AS bad_parse,
              try_cast(CAST(user_id AS VARCHAR) AS INTEGER) AS good_parse
       FROM events ORDER BY event_id""") { (s, d) =>
    // row-local try_* math over a one-split scan, then a global sort
    // whose range sample re-executes the projection: spread + persist
    // (the media-tier pattern; every output column is per-row
    // deterministic, so no ordering hazard)
    val m = graft.ops.Spread(Tables.events(s, d)
        .select(col("event_id"), col("value"), col("user_id"),
          col("event_type")))
      .select(col("event_id"),
        r6(try_divide(col("value"), (col("user_id") % 3).cast("double")))
          .as("safe_div"),
        (col("user_id") % 3 === 0).as("div_was_zero"),
        expr("try_cast(substr(event_type, 1, 2) AS INT)").as("bad_parse"),
        expr("try_cast(CAST(user_id AS STRING) AS INT)").as("good_parse"))
    graft.ops.Spread.persistSorted(m, col("event_id"))
  }

  /** Nested-type round trip: shred per-user rows into a sorted
    * array<struct> profile, then flatten back with explode — the
    * parquet-nested-column pattern (one struct column instead of a
    * second table). The oracle states the IDENTITY: flatten(nest(x))
    * equals the flat aggregation, so DuckDB never needs to build the
    * nested value at all. */
  val nestedShred: QueryDef = QueryDef.sql(
    """WITH g AS (SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY 1, 2),
       t AS (SELECT user_id, sum(n) AS n_events FROM g GROUP BY 1)
       SELECT g.user_id, CAST(t.n_events AS BIGINT) AS n_events,
              g.event_type, g.n
       FROM g JOIN t USING (user_id) ORDER BY 1, 3""") { (s, d) =>
    val perType = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val nested = perType.groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"),
        array_sort(collect_list(struct(col("event_type").as("t"),
          col("n")))).as("types"))
    nested
      .select(col("user_id"), col("n_events"),
        explode(col("types")).as("e"))
      .select(col("user_id"), col("n_events"),
        col("e.t").as("event_type"), col("e.n").as("n"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Cumulative user acquisition: distinct users first seen per day,
    * running total — the growth curve. First-seen is a user-keyed
    * aggregate; the cumsum window runs over the per-DAY relation,
    * whose size is bounded by the calendar, so the global ordering
    * is legitimately tiny (documented — this is NOT the corpus-sized
    * global window q69/q91 avoid). */
  val newUsersCumulative: QueryDef = QueryDef.sql(
    """WITH u AS (SELECT user_id, min(date_trunc('day', ts)) AS d0
           FROM events GROUP BY 1),
       g AS (SELECT d0, count(*) AS new_users FROM u GROUP BY 1)
       SELECT d0 AS day, new_users,
              CAST(sum(new_users) OVER (ORDER BY d0
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS total_users
       FROM g ORDER BY day""") { (s, d) =>
    val firstSeen = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(date_trunc("day", col("ts"))).as("d0"))
    val daily = firstSeen.groupBy(col("d0"))
      .agg(count(lit(1)).as("new_users"))
    daily
      .withColumn("total_users",
        sum(col("new_users")).over(Window.orderBy(col("d0"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("d0").as("day"), col("new_users"), col("total_users"))
      .orderBy(col("day"))
  }

  /** Zipf fit over the token frequency distribution — ordinary
    * least squares of ln(freq) on ln(rank) via the regression
    * AGGREGATES (regr_slope/regr_intercept/corr), one pass over the
    * vocabulary-bounded frequency table. Ranks are exact integers
    * (count DESC, token ASC — total order), so both engines regress
    * the identical point set. */
  val zipfSlope: QueryDef = QueryDef.sql(
    s"""WITH w AS (SELECT unnest(${tokensSql("text")}) AS tok
           FROM documents),
       f AS (SELECT tok, count(*) AS c FROM w GROUP BY 1),
       r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rk
             FROM f)
       SELECT CAST(count(*) AS BIGINT) AS n_points,
              ${r6sql("""regr_slope(ln(CAST(c AS DOUBLE)),
                ln(CAST(rk AS DOUBLE)))""")}
                AS slope,
              ${r6sql("""regr_intercept(ln(CAST(c AS DOUBLE)),
                ln(CAST(rk AS DOUBLE)))""")}
                AS intercept,
              ${r6sql("corr(ln(CAST(c AS DOUBLE)), ln(CAST(rk AS DOUBLE)))")}
                AS correlation
       FROM r WHERE rk <= 1000""") { (s, d) =>
    val f = Tables.documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val ranked = f.withColumn("rk",
        row_number().over(Window.orderBy(col("c").desc, col("tok"))))
      .filter(col("rk") <= 1000)
      .select(log(col("c").cast("double")).as("y"),
        log(col("rk").cast("double")).as("x"))
    ranked.agg(count(lit(1)).as("n_points"),
      r6(regr_slope(col("y"), col("x"))).as("slope"),
      r6(regr_intercept(col("y"), col("x"))).as("intercept"),
      r6(corr(col("y"), col("x"))).as("correlation"))
  }

  /** Key-skew audit — the diagnostic that DRIVES the q63 salting
    * decision: per-key count distribution of the join/agg key
    * (max/mean skew ratio, the hot-top-10's share of all rows), as
    * one summary row. The top-10 share rides the bounded-heap TopK
    * aggregate (k rows per task cross the shuffle, never the key
    * histogram); everything else is one partial-agg pass over
    * per-key counts. At 100 TB this is the cheap pre-flight that
    * decides between a plain, salted, or broadcast join. */
  val skewAudit: QueryDef = QueryDef.sql(
    s"""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
       r AS (SELECT n, row_number() OVER (ORDER BY n DESC, user_id)
               AS rk
             FROM c)
       SELECT (SELECT count(*) FROM c) AS n_keys,
         (SELECT max(n) FROM c) AS max_n,
         ${r6sql("""(SELECT max(n) FROM c) / ((SELECT sum(n) FROM c)
                / (SELECT count(*) FROM c))""")}
           AS skew_ratio,
         ${r6sql("""(SELECT sum(n) FROM r WHERE rk <= 10)
                / CAST((SELECT sum(n) FROM c) AS DOUBLE)""")}
           AS top10_share""") { (s, d) =>
    val counts = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val topk = graft.ops.TopK.topk(10)
    counts.agg(
        count(lit(1)).as("n_keys"),
        max(col("n")).as("max_n"),
        sum(col("n")).as("__total"),
        topk(col("n").cast("double"), col("user_id")).as("__top"))
      .select(col("n_keys"), col("max_n"),
        r6(col("max_n") / (col("__total") / col("n_keys")))
          .as("skew_ratio"),
        r6(aggregate(transform(col("__top"), s_ => s_.getField("ord")),
            lit(0.0), (acc, x) => acc + x) / col("__total").cast("double"))
          .as("top10_share"))
  }

  /** Row-level CDC apply — the lakehouse MERGE step: state₁ is the
    * latest event per user in the first half of the month, the delta
    * is everything after, and applying the delta means re-taking the
    * latest per user over (state₁ ∪ delta), then dropping users
    * whose final event is a tombstone (event_type = 'error' here).
    * The oracle computes the same state DIRECTLY from the full
    * table, so the hash compare asserts the CDC identity:
    * incremental apply == batch recompute — q103's
    * snapshot+increment algebra at row granularity (and q77's diff,
    * applied). One keyed shuffle over skinny (user, ts, …) rows;
    * state₁ never rescans the old half at apply time. */
  val cdcApply: QueryDef = QueryDef.sql(
    s"""WITH latest AS (
         SELECT user_id, value, ts, event_type,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rk
         FROM events)
       SELECT user_id,
         ${r6sql("value")} AS last_value,
         ts AS last_ts
       FROM latest WHERE rk = 1 AND event_type <> 'error'
       ORDER BY user_id""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("value"), col("ts"), col("event_type"),
        col("event_id"), dayofmonth(col("ts")).as("dom"))
    def latest(df: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1).drop("__rk", "dom")
    }
    val state1 = latest(ev.filter(col("dom") <= 14))
    val delta = ev.filter(col("dom") > 14).drop("dom")
    latest(state1.unionByName(delta).withColumn("dom", lit(0)))
      .filter(col("event_type") =!= "error")
      .select(col("user_id"), r6(col("value")).as("last_value"),
        col("ts").as("last_ts"))
      .orderBy(col("user_id"))
  }

  /** Adjusted exponentially-weighted moving average over each user's
    * click-value series, truncated to a 10-event window (pandas
    * `ewm(alpha=0.3, adjust=True)` semantics under truncation — the
    * trend-smoothing primitive of drift monitors). The naive
    * recursive form is inherently sequential per key; the closed form
    * used here — weight (1-α)^i over the last-10 frame, normalized —
    * is ONE window collect over a ROWS frame plus a row-local
    * higher-order fold (`zip_with`+`aggregate`, codegen'd), so the
    * whole query is a single user_id shuffle and the per-row cost is
    * O(frame). Engine-portable: both sides fold the identical frame
    * order left-to-right over identical float64 products, then round
    * at the 1e-6 grain. */
  val ewmaSmoothing: QueryDef = QueryDef.sql(
    s"""WITH seq AS (SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS rn
         FROM events WHERE event_type = 'click'),
       w AS (SELECT user_id, event_id, rn,
           list_reverse(list(value) OVER (PARTITION BY user_id
             ORDER BY rn ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
             AS win
         FROM seq)
       SELECT user_id, event_id,
         ${r6sql("""list_sum(list_transform(list_zip(win,
               range(0, len(win))),
               x -> x[1] * 0.3 * power(0.7, CAST(x[2] AS DOUBLE))))
             / list_sum(list_transform(range(0, len(win)),
               i -> 0.3 * power(0.7, CAST(i AS DOUBLE))))""")} AS ewma10
       FROM w ORDER BY user_id, event_id""") { (s, d) =>
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wFrame = Window.partitionBy(col("user_id"))
      .orderBy(col("rn")).rowsBetween(-9, 0)
    val win = reverse(collect_list(col("value")).over(wFrame))
    val idx = sequence(lit(0), size(col("win")) - 1)
    val num = aggregate(
      zip_with(col("win"), idx,
        (v, i) => v * lit(0.3) * pow(lit(0.7), i.cast("double"))),
      lit(0.0), _ + _)
    val den = aggregate(
      transform(idx, i => lit(0.3) * pow(lit(0.7), i.cast("double"))),
      lit(0.0), _ + _)
    Tables.events(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("value"),
        row_number().over(wSeq).as("rn"))
      .select(col("user_id"), col("event_id"), col("rn"),
        win.as("win"))
      .select(col("user_id"), col("event_id"),
        r6(num / den).as("ewma10"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Array-function surface breadth (the q108 pattern for the array
    * tier): distinct/position/contains/sort/slice/intersect over the
    * per-document token arrays, all row-local codegen'd expressions —
    * no shuffle beyond the final presentation sort. The intersect is
    * size-only on both engines (element ORDER of a set intersection
    * is engine-internal; its cardinality is not). */
  val arrayBreadth: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents)
       SELECT doc_id,
         CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
         toks[1] AS first_tok,
         CAST(coalesce(list_position(toks, 'join'), 0) AS INTEGER)
           AS join_pos,
         list_contains(toks, 'spark') AS has_spark,
         array_to_string(list_slice(list_sort(toks), 1, 3), ' ')
           AS sorted3,
         CAST(len(list_intersect(list_distinct(toks),
           ['spark', 'join', 'filter', 'group'])) AS INTEGER) AS n_lex
       FROM t ORDER BY doc_id""") { (s, d) =>
    val toks = TextOps.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(array_distinct(toks)).as("n_distinct"),
        element_at(toks, 1).as("first_tok"),
        array_position(toks, "join").cast("int").as("join_pos"),
        array_contains(toks, "spark").as("has_spark"),
        array_join(slice(sort_array(toks), 1, 3), " ").as("sorted3"),
        size(array_intersect(array_distinct(toks),
          array(lit("spark"), lit("join"), lit("filter"), lit("group"))))
          .as("n_lex"))
      .orderBy(col("doc_id"))
  }

  /** Map-function surface breadth (the q108/q174 pattern for the
    * MapType tier): per-document token-count maps for the first and
    * second halves of the token stream (`map_from_entries` over
    * conditional collects), combined with `map_zip_with` (full-outer
    * key union, null-padded values) into a per-token count delta,
    * `map_filter`ed to drift-only entries, and `explode`d back to
    * rows for the oracle compare. The map algebra is row-local after
    * one (doc, half, tok) count shuffle; DuckDB has no map type, so
    * the oracle expresses the same full-outer-union semantics as a
    * conditional-sum pivot — identical relation, engine-idiomatic
    * plans on both sides. */
  val mapBreadth: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       e AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok,
                    generate_subscripts(toks, 1) AS pos FROM t),
       c AS (SELECT doc_id, tok,
                    CASE WHEN pos - 1 < n // 2 THEN 1 ELSE 2 END AS half,
                    count(*) AS cnt
             FROM e GROUP BY 1, 2, 3),
       p AS (SELECT doc_id, tok,
               sum(CASE WHEN half = 1 THEN cnt ELSE 0 END) AS c1,
               sum(CASE WHEN half = 2 THEN cnt ELSE 0 END) AS c2
             FROM c GROUP BY 1, 2)
       SELECT doc_id, tok, CAST(c2 - c1 AS BIGINT) AS delta
       FROM p WHERE c2 <> c1 ORDER BY 1, 2""") { (s, d) =>
    val counts = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .withColumn("half",
        when(col("pos") < floor(col("n") / 2), 1).otherwise(2))
      .groupBy("doc_id", "half", "tok").count()
    counts.groupBy("doc_id")
      .agg(
        map_from_entries(collect_list(when(col("half") === 1,
          struct(col("tok"), col("count"))))).as("m1"),
        map_from_entries(collect_list(when(col("half") === 2,
          struct(col("tok"), col("count"))))).as("m2"))
      .withColumn("drift", map_filter(
        map_zip_with(col("m1"), col("m2"),
          (_, v1, v2) => coalesce(v2, lit(0L)) - coalesce(v1, lit(0L))),
        (_, v) => v =!= 0),
      )
      .select(col("doc_id"), explode(col("drift")).as(Seq("tok", "delta")))
      .orderBy(col("doc_id"), col("tok"))
  }

  /** 2-D skyline (pareto frontier) over part: the parts no other
    * part dominates on (price lower, size higher) — non-strict
    * domination with at least one strict side, so exact (price,
    * size) ties all survive. The oracle states the semantics as the
    * quadratic NOT EXISTS; the Spark plan is the O(n log n)
    * decomposition: per-price max-size pre-aggregate, price-range
    * buckets from a broadcast min/max, a 64-row bucket-prefix max
    * (the only single-partition window — constant-size by
    * construction), and a per-bucket running max over strictly
    * cheaper prices (partitions bounded by bucket width). A row is
    * on the frontier iff it reaches its price's max size and beats
    * the running max over all strictly cheaper prices. No self-join
    * anywhere — at 100 TB the dominant cost is the per-price
    * aggregate's one shuffle. */
  val paretoFrontier: QueryDef = QueryDef.sql(
    """SELECT p_partkey, p_retailprice AS price, p_size
       FROM part p
       WHERE NOT EXISTS (SELECT 1 FROM part q
         WHERE q.p_retailprice <= p.p_retailprice
           AND q.p_size >= p.p_size
           AND (q.p_retailprice < p.p_retailprice
                OR q.p_size > p.p_size))
       ORDER BY price, p_partkey""") { (s, d) =>
    val nB = 64
    val p = Tables.part(s, d).select(col("p_partkey"),
      col("p_retailprice").as("price"), col("p_size"))
    val mm = p.agg(min(col("price")).as("lo"), max(col("price")).as("hi"))
    val bucketed = p.crossJoin(broadcast(mm))
      .withColumn("bk", when(col("hi") === col("lo"), lit(0))
        .otherwise(least(floor((col("price") - col("lo"))
          / (col("hi") - col("lo")) * nB), lit(nB - 1))).cast("int"))
    val perPrice = bucketed.groupBy(col("bk"), col("price"))
      .agg(max(col("p_size")).as("pmax"))
    val wPrefix = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = perPrice.groupBy(col("bk"))
      .agg(max(col("pmax")).as("bmax"))
      .select(col("bk"), max(col("bmax")).over(wPrefix).as("prevb"))
    val wIn = Window.partitionBy(col("bk")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val thr = perPrice
      .withColumn("inprev", max(col("pmax")).over(wIn))
      .join(broadcast(prefix), Seq("bk"))
      .select(col("price"), col("pmax"),
        greatest(coalesce(col("inprev"), lit(Int.MinValue)),
          coalesce(col("prevb"), lit(Int.MinValue))).as("prevmax"))
    bucketed.join(thr, Seq("price"))
      .filter(col("p_size") === col("pmax")
        && col("p_size") > col("prevmax"))
      .select(col("p_partkey"), col("price"), col("p_size"))
      .orderBy(col("price"), col("p_partkey"))
  }

  // exact 2-hop reach of every node in row form, shared by the q196
  // and q346 oracles: two = wedge endpoints, reach = 1- or 2-hop
  // pairs, dg/rc = per-node degree and reach count
  private val exactReach2Cte =
    s"""$coEventsCte,
       $support3Cte,
       $symmetricCte,
       two AS (SELECT a.u AS src, b.v AS dst
               FROM ee a JOIN ee b ON a.v = b.u WHERE a.u <> b.v),
       reach AS (SELECT u AS src, v AS dst FROM ee
                 UNION SELECT src, dst FROM two),
       dg AS (SELECT u AS src, CAST(count(*) AS BIGINT) AS n_direct
              FROM ee GROUP BY 1),
       rc AS (SELECT src, CAST(count(*) AS BIGINT) AS n_reach2
              FROM reach GROUP BY 1)"""

  /** 2-hop reachability counts over the co-occurrence graph (same
    * edge derivation as q184 via [[graft.ops.Graph.cooccurEdges]]):
    * per user, the distinct-neighbor degree and the distinct nodes
    * reachable in at most two hops — one frontier expansion of the
    * iterative BFS every graph engine runs. The expansion is an
    * edge-edge equi-join on the middle node; the per-hop `distinct`
    * is what keeps the frontier a SET at scale (without it the
    * wedge multiplicity compounds per hop). The upstream pair
    * GENERATION is hot-bucket-distributed (the chunked
    * [[graft.ops.Graph.cooccurPairCounts]], SURVEY §15.2); hub
    * fan-out in the wedge join itself is bounded by the >= 3-bucket
    * support filter, and the 10× probe (§13.4) pins the expansion
    * as linear in wedge volume — the honest bound for EXACT 2-hop
    * counts (an approximate variant would take a degree cap or the
    * q184 orientation trick, at the cost of the oracle). */
  val kHopReach: QueryDef = QueryDef.sql(
    s"""WITH $exactReach2Cte
       SELECT rc.src AS user_id, n_direct, n_reach2
       FROM rc JOIN dg ON dg.src = rc.src ORDER BY 1""") { (s, d) =>
    val ee = symmetricCheckpointed(support3Edges(coEvents(s, d)))
    // Exact 2-hop reach via per-node neighbor BITMAPS (r16, guide
    // §2.3/§8 — decide with small payloads): the previous shape
    // materialized the Σdeg² wedge pair stream through the chunked
    // pair machinery, a (u,v) aggregation, a distinct and a count
    // (measured at sf0.1: 133 MB of pair shuffle written, 267 MB
    // read back across the two union branches, ~95 s of ~200 s
    // total task time). Identical counts come from
    //   reach₂(u) = |B(u) ∪ ∪_{v∈N(u)} B(v)| − 1
    // where B(x) is x's exact neighbor set as a Roaring64 bitmap —
    // the −1 removes u itself (u ∈ B(v) for every neighbor v of an
    // undirected graph; u ∉ B(u), and u is never in the declared
    // reach set, so the union overcounts by exactly 1 for every
    // node with deg ≥ 1, which is every node in ee). Each edge
    // ships ONE compressed bitmap (the q346 sketch-tier shape, but
    // exact), wedge multiplicity collapses inside the word-wise OR,
    // and the Σdeg² pair stream never exists. Hub safety matches
    // the sketch tier: shuffle_hash on the KB-payload side +
    // explicit-count repartition by node before the OR aggregate
    // (AQE would size the exchange by compressed map-side bytes).
    // A hub's OR work is Σ_{v∈N(u)} |B(v)|/64 word-ops — linear in
    // the bytes it receives, where the old shape generated deg²
    // pair rows through one bucket's chunk slices.
    import graft.functions.BitmapFunctions.{bitmap64Agg, bitmap64OrAgg, bitmap64UnionCard}
    val s1 = ee.groupBy(col("u"))
      .agg(count(lit(1)).cast("long").as("n_direct"),
        bitmap64Agg(col("v")).as("bm"))
    val np196 = s.sessionState.conf.numShufflePartitions
    val r2 = ee.join(s1.select(col("u").as("v"), col("bm"))
        .hint("shuffle_hash"), "v")
      .repartition(np196, col("u"))
      .groupBy(col("u")).agg(bitmap64OrAgg(col("bm")).as("bm2"))
    s1.join(r2, "u")
      .select(col("u").as("user_id"), col("n_direct"),
        (bitmap64UnionCard(col("bm"), col("bm2")) - lit(1L))
          .as("n_reach2"))
      .orderBy(col("user_id"))
  }

  /** APPROXIMATE 2-hop reach via HLL sketch propagation (HyperBall /
    * ANF, Boldi-Vigna WWW'11 — VERDICT r10 #4): the scale answer for
    * skewed graphs where q196's exact wedge volume (Σdeg²) is
    * intractable. One round of neighborhood-function iteration: each
    * node's 1-hop neighbor set folds into an HLL sketch (lgK=12,
    * ~KB), each edge ships the neighbor's sketch ONCE, and a
    * per-node sketch union estimates |reach≤2| — cost O(m·sketch)
    * edges-times-kilobytes, independent of degree skew, where the
    * exact path explodes a degree-d hub into d² wedge rows. The
    * union over nbrs' 1-hop sketches always contains the source
    * itself (undirected: src ∈ N(n) ∀ n ∈ N(src)), so the estimate
    * targets |reach|+1 and the query subtracts 1.
    *
    * Crossover: at fixture SFs the exact join is faster (wedge
    * volume is small and sketches cost ~KB per edge row); the sketch
    * path wins exactly when Σdeg² ≫ m·(sketch bytes / edge row
    * bytes) — a 10⁵-degree hub contributes 10¹⁰ wedge rows vs 10⁵
    * sketch ships. DRIVER-CHECKED via the q104 containment pattern:
    * exact n_direct/n_reach2 are SQL-portable, and `ok` asserts
    * in-plan that the HLL estimate lands within max(1, 5%) of exact
    * (Datasketches HLL is list/set-mode EXACT until ~2^lgK·¾
    * distincts, far above fixture reach sizes — GraphSpec measures
    * the actual error at two SFs, expected 0). */
  val kHopReachHll: QueryDef = QueryDef.sql(
    s"""WITH $exactReach2Cte
       SELECT rc.src AS user_id, n_direct, n_reach2, TRUE AS ok
       FROM rc JOIN dg ON dg.src = rc.src ORDER BY 1""") { (s, d) =>
    val ee = symmetricCheckpointed(support3Edges(coEvents(s, d)))
    // sketch tier — the 100 TB path: one sketch per node, one sketch
    // ship per edge, one union per node. Sketches are graft's compact
    // HLL_4 encoding (VERDICT r12 #5): same lgK/estimator as the
    // built-in, but 4-bit packed registers + coupon-sparse below
    // threshold + compact serialization — the edge join below ships
    // one sketch PER EDGE, and sketch bytes were the probe-measured
    // dominant shuffle volume in the dense regime (51.9 GB at 100×).
    import graft.functions.SketchFunctions.{hll4Agg, hll4Estimate, hll4Union, hll4UnionAgg}
    // the EXACT audit tier rides the same two aggregations as the
    // sketch tier (r16, guide §2.3/§8): each node's exact neighbor
    // set as a Roaring64 bitmap next to its HLL sketch, each edge
    // ships (sketch, bitmap) once, and one OR-aggregate per node
    // replaces the old chunked wedge expansion + (u,v) aggregation
    // + distinct + count (measured at sf0.1: 133 MB of pair shuffle
    // written + 267 MB read back + ~95 s of ~200 s total task time
    // — and a second edge join). reach₂(u) =
    // |B(u) ∪ ∪_{v∈N(u)} B(v)| − 1, exactly as in q196 (the −1 is u
    // itself: u ∈ B(v) for every neighbor v, u ∉ B(u), and u is
    // never in the declared reach set).
    import graft.functions.BitmapFunctions.{bitmap64Agg, bitmap64OrAgg, bitmap64UnionCard}
    val s1 = ee.groupBy(col("u")).agg(
      hll4Agg(col("v")).as("sk"),
      count(lit(1)).cast("long").as("n_direct"),
      bitmap64Agg(col("v")).as("bm"))
    // repartition by u between the sketch-attach join (keyed by v)
    // and the union: on a skewed graph a hub-v task otherwise builds
    // a partial-agg map over ~every u at a KB sketch per entry — the
    // graph-zipf probe measured it as a 31 s straggler at 10×, and
    // partial agg collapses nothing on v-keyed data anyway.
    // shuffle_hash on the sketch side + an EXPLICIT repartition
    // count (r12 probe, dense-sketch regime at 100×): SMJ sorts the
    // KB-dense sketch relation and AQE sizes the coalesce by the
    // COMPRESSED map-side bytes, leaving ~GB-spill coarse tasks —
    // together a 174 s max-task (46% of wall); hash join + explicit
    // count bound the share at ~10% with uniform tasks.
    // Deployment note (ADVICE r12 #3): SHJ's build side holds one
    // partition's share of the sketch relation in memory, so this
    // count — which tracks spark.sql.shuffle.partitions — must be
    // sized with data volume at deployment (nodes·sketchBytes /
    // partitions ≲ executor task memory). On a cluster that knob is
    // the standard ops dial.
    val np346 = s.sessionState.conf.numShufflePartitions
    val sk2 = ee.join(s1.select(col("u").as("v"), col("sk"), col("bm"))
        .hint("shuffle_hash"), "v")
      .repartition(np346, col("u"))
      .groupBy(col("u")).agg(hll4UnionAgg(col("sk")).as("sk2"),
        bitmap64OrAgg(col("bm")).as("bm2"))
    s1.join(sk2, "u")
      .select(col("u").as("user_id"), col("n_direct"),
        (bitmap64UnionCard(col("bm"), col("bm2")) - lit(1L))
          .as("n_reach2"),
        (hll4Estimate(hll4Union(col("sk"), col("sk2"))) - 1L)
          .as("n_hll"))
      .select(col("user_id"), col("n_direct"), col("n_reach2"),
        (abs(col("n_hll") - col("n_reach2"))
          <= greatest(lit(1L),
            (lit(0.05) * col("n_reach2")).cast("long"))).as("ok"))
      .orderBy(col("user_id"))
  }

  /** ANF / neighborhood function to 3 hops — [[kHopReachHll]]'s
    * sketch propagation ITERATED (the actual HyperBall/ANF
    * algorithm, Boldi-Vigna WWW'11; Palmer et al. KDD'02): round h
    * unions every node's round-(h−1) sketch with its neighbors',
    * so h rounds cost O(h·m) sketch ships — the neighborhood
    * function N(h) and effective-diameter read for graphs where
    * exact h-hop sets are Σdeg^h-intractable. Exact audit tier is
    * SAMPLED (1-in-5 sources; 1-in-25 once the graph has ≥1000
    * nodes — scale-aware like the adaptive banding) and the sample
    * filter applies BEFORE any expansion, so the audit cost is
    * sampled-side × deg, never a hub's full deg².
    * `ok1/ok2/ok3` assert in-plan that each hop's estimate lands
    * within max(1, 5 %) of exact (list/set-mode exact at fixture
    * sizes, same argument as q346). Fixture honesty: at sf0.1 the
    * co-occurrence graph saturates at 2 hops (reach2 ≈ n−1), so
    * hop 3 adds ~nothing there; sf0.001/0.01 grow 41 %/14 % at
    * hop 3 and exercise the iteration for real. */
  val anfReach3: QueryDef = QueryDef.sql(
    s"""WITH $coEventsCte,
       ${auditModulusCte(5)},
       $support3Cte,
       $symmetricCte,
       ${sampledReachCte(3)},
       d1 AS (SELECT u AS src, CAST(count(*) AS BIGINT) AS n_reach1
              FROM ees GROUP BY 1),
       d2 AS (SELECT src, CAST(count(*) AS BIGINT) AS n_reach2
              FROM r2 GROUP BY 1),
       d3 AS (SELECT src, CAST(count(*) AS BIGINT) AS n_reach3
              FROM r3 GROUP BY 1)
       SELECT d1.src AS user_id, n_reach1, n_reach2, n_reach3,
              TRUE AS ok1, TRUE AS ok2, TRUE AS ok3
       FROM d1 JOIN d2 ON d1.src = d2.src JOIN d3 ON d1.src = d3.src
       ORDER BY 1""") { (s, d) =>
    val p = coEvents(s, d)
    val mod = auditModulus(p, 5)
    val ee = symmetricCheckpointed(support3Edges(p))
    // ---- sketch tier (the scale path): S1 = sketch(N(v)); Sh =
    // S(h-1) ∪ neighbors' S(h-1). Each round is one edge join +
    // repartition-by-node + union agg (the q346 hub-safety shape).
    // Compact HLL_4 sketches (VERDICT r12 #5): each round ships one
    // sketch per edge, and ROUND h's sketches are the dense ones —
    // 4-bit packing + compact serialization halves that dominant
    // volume vs the built-in HLL_8 updatable image, identical
    // estimates (see SketchExpressions.scala).
    import graft.functions.SketchFunctions.{hll4Agg, hll4Estimate, hll4Union, hll4UnionAgg}
    val s1 = ee.groupBy(col("u"))
      .agg(hll4Agg(col("v")).as("sk1"),
        count(lit(1)).cast("long").as("d1"))
    // shuffle_hash on every dense-sketch join side + explicit
    // repartition counts (r12 graph-zipf, dense-sketch regime):
    // SMJ would SORT the KB-dense sketch relation each round and
    // AQE coalesces the exchange read by compressed map-side bytes
    // into ~GB-spill coarse tasks — measured 174 s max-task (46% of
    // wall) at the probe's 100× tier, ~10% share with these.
    // conf-sizing requirement: see the q346 note (ADVICE r12 #3) —
    // partitions must scale with nodes·sketchBytes at deployment
    val np356 = s.sessionState.conf.numShufflePartitions
    def propagate(edges: DataFrame, prev: DataFrame,
        skCol: String, outCol: String) =
      edges.join(prev.select(col("u").as("v"), col(skCol))
          .hint("shuffle_hash"), "v")
        .repartition(np356, col("u"))
        .groupBy(col("u")).agg(hll4UnionAgg(col(skCol)).as("__nb"))
        .join(prev.hint("shuffle_hash"), "u")
        .withColumn(outCol, hll4Union(col(skCol), col("__nb")))
        .drop("__nb")
    val s2 = propagate(ee, s1, "sk1", "sk2")
    // round 3 ships DENSE sk2 sketches (KB each once reach
    // saturates), so it restricts to the sampled output nodes — the
    // only rows this query emits; the all-nodes form is the same
    // line without the filter (rounds 1-2 must stay global: a
    // sampled node's neighbors are arbitrary).
    // Why NOT delta/frontier propagation here (VERDICT r13 #7,
    // measured r14): round h's frontier is "sketches that changed
    // in round h−1", which only collapses at rounds ≥ saturation+2
    // — at 3 hops on a graph that saturates at hop 2, round 3's
    // frontier is still FULL (every sketch grew in round 2), so the
    // delta machinery ships everything PLUS its change-tracking
    // overhead (measured: q356 7.9 → 11.5 s isolated; zipf probe
    // ≤4 hops: +10% shuffle bytes, identical output). Delta lives
    // where it pays — the saturating-depth iteration
    // (ops/Graph.anfSketches, q365, and the 5-hop probe rows).
    val s3 = propagate(ee.filter(col("u") % mod === 0), s2, "sk2", "sk3")
    val est = s3.select(col("u").as("src"),
      hll4Estimate(col("sk1")).as("e1"),
      (hll4Estimate(col("sk2")) - 1L).as("e2"),
      (hll4Estimate(col("sk3")) - 1L).as("e3"),
      col("d1"))
    // ---- exact audit tier: the sampled bitmap chain, hops 2 and 3
    // (the full-graph exact shape lives in q196/q346)
    val Seq(r2, r3) = sampledReach(ee, mod, 3)
    val tol = (exact: Column) =>
      greatest(lit(1L), (lit(0.05) * exact).cast("long"))
    est.filter(col("src") % mod === 0)
      .join(r2.select(col("src"), col("n_reach").as("n_reach2")), "src")
      .join(r3.select(col("src"), col("n_reach").as("n_reach3")), "src")
      .select(col("src").as("user_id"),
        col("d1").as("n_reach1"), col("n_reach2"), col("n_reach3"),
        (abs(col("e1") - col("d1")) <= tol(col("d1"))).as("ok1"),
        (abs(col("e2") - col("n_reach2")) <= tol(col("n_reach2")))
          .as("ok2"),
        (abs(col("e3") - col("n_reach3")) <= tol(col("n_reach3")))
          .as("ok3"))
      .orderBy(col("user_id"))
  }

  /** ANF at SATURATING depth — 5 hops over the co-occurrence graph
    * through [[graft.ops.Graph.anfSketches]], the reusable
    * HyperBall loop with frontier-DELTA rounds from round 4 on
    * (VERDICT r13 #7). This is the regime the delta optimization
    * exists for: the fixture graph saturates by hop ~2-3, so rounds
    * past saturation+1 have near-empty frontiers and the delta
    * rounds ship ~nothing where full propagation would ship every
    * node's DENSE sketch along every edge (the dominant ANF cost —
    * probe-measured on the zipf graph's 5-hop rows; at growth
    * rounds delta is pure overhead, which is why q356's 3-hop form
    * stays full and `deltaFrom` defaults past the growth phase).
    * Exact audit tier: sampled sources at 5× q356's modulus (the
    * audit chains two more expansion hops than q356's, so the
    * coarser sample keeps its cost comparable), every estimate
    * asserted in-plan within max(1, 5%) of exact. */
  val anfSaturating: QueryDef = QueryDef.sql(
    s"""WITH $coEventsCte,
       ${auditModulusCte(25)},
       $support3Cte,
       $symmetricCte,
       ${sampledReachCte(5)},
       d5 AS (SELECT src, CAST(count(*) AS BIGINT) AS n_reach5
              FROM r5 GROUP BY 1)
       SELECT src AS user_id, n_reach5, TRUE AS ok5
       FROM d5 ORDER BY 1""") { (s, d) =>
    val p = coEvents(s, d)
    val mod = auditModulus(p, 25)
    // materialized once: this query's consumers are EAGER
    // (anfSketches runs hops−1 checkpointed round jobs and the audit
    // chain more), and exchange reuse never spans jobs, so an
    // un-materialized ee would be re-derived ~8 times
    val ee = symmetricCheckpointed(support3Edges(p))
    import graft.functions.SketchFunctions.hll4Estimate
    // the scale path: GLOBAL 5-round propagation, delta from round 4
    val est = graft.ops.Graph.anfSketches(ee, 5, deltaFrom = 4)
      .filter(col("u") % mod === 0)
      .select(col("u").as("src"),
        (hll4Estimate(col("sk")) - 1L).as("e5"))
    // exact audit: the sampled bitmap chain, hops 2..5
    val n5 = sampledReach(ee, mod, 5).last
      .select(col("src"), col("n_reach").as("n_reach5"))
    est.join(n5, "src")
      .select(col("src").as("user_id"), col("n_reach5"),
        (abs(col("e5") - col("n_reach5"))
          <= greatest(lit(1L),
            (lit(0.05) * col("n_reach5")).cast("long"))).as("ok5"))
      .orderBy(col("user_id"))
  }

  /** Per-user event-time coverage: each event opens a 2-hour
    * activity interval, overlapping intervals merge (interval
    * UNION), and the output is the merged-interval count and total
    * covered microseconds — the dataset-coverage audit shape, and
    * the interval-algebra twin of q25's gap-based sessionization
    * (sessionize clusters points by inter-event gap; this measures
    * the union length of fixed-duration ranges). Classic sweep in
    * ONE pass: the running max of prior interval ends over the
    * start-ordered partition gives each row both its island-boundary
    * flag and its marginal coverage (e − max(pmax, s), clamped at 0
    * for the general contained-interval case), so a single per-user
    * aggregate finishes — no island labeling, no second group-by.
    * The aggregate's grouping key equals the window's partitioning
    * key, so the whole query is ONE hash exchange (gated in
    * PlanAuditSpec); all arithmetic is exact integer microseconds. */
  val intervalCoverage: QueryDef = QueryDef.sql(
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
                     epoch_us(ts) + 7200000000 AS e FROM events),
       o AS (SELECT user_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS pmax
             FROM iv)
       SELECT user_id,
              CAST(sum(CASE WHEN pmax IS NULL OR s > pmax
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_intervals,
              CAST(sum(greatest(e - greatest(coalesce(pmax, s), s), 0))
                AS BIGINT) AS covered_us
       FROM o GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("e"))
    Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("s"))
      .withColumn("e", col("s") + lit(7200000000L))
      .withColumn("pmax", max(col("e"))
        .over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .groupBy(col("user_id"))
      .agg(sum(when(col("pmax").isNull || col("s") > col("pmax"), 1)
          .otherwise(0)).cast("long").as("n_intervals"),
        sum(greatest(col("e") - greatest(coalesce(col("pmax"),
          col("s")), col("s")), lit(0L))).cast("long").as("covered_us"))
      .orderBy(col("user_id"))
  }

  /** One-pass observed ingest — Spark's `Observation` API
    * (CollectMetricsExec): the audit metrics a pipeline publishes
    * alongside its output, collected as a SIDE-OBSERVATION of the
    * single ingest scan instead of a second pass over the fact —
    * at 100 TB the difference between auditing for free and paying
    * the scan twice. The query runs the observed scan to a noop
    * sink, then emits the observation as the one-row result; the
    * oracle recomputes the same aggregates directly, so a metric
    * silently dropped or double-counted by the observation path
    * fails the hash. */
  val observedIngest: QueryDef = QueryDef.sql(
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_null_props,
         CAST(sum(CASE WHEN value > 150 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_high,
         CAST(sum(${microsSql("value")})
           AS BIGINT) AS sum_micro,
         CAST(min(${microsSql("value")})
           AS BIGINT) AS min_micro,
         CAST(max(${microsSql("value")})
           AS BIGINT) AS max_micro
       FROM events""") { (s, d) =>
    val vk = micros(col("value"))
    val obs = org.apache.spark.sql.Observation()
    Tables.events(s, d)
      .observe(obs,
        count(lit(1)).cast("long").as("n_rows"),
        sum(when(col("props").isNull, 1L).otherwise(0L))
          .cast("long").as("n_null_props"),
        sum(when(col("value") > 150, 1L).otherwise(0L))
          .cast("long").as("n_high"),
        sum(vk).cast("long").as("sum_micro"),
        min(vk).cast("long").as("min_micro"),
        max(vk).cast("long").as("max_micro"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long],
      m("n_null_props").asInstanceOf[Long],
      m("n_high").asInstanceOf[Long],
      m("sum_micro").asInstanceOf[Long],
      m("min_micro").asInstanceOf[Long],
      m("max_micro").asInstanceOf[Long]))
      .toDF("n_rows", "n_null_props", "n_high", "sum_micro",
        "min_micro", "max_micro")
  }

  /** Pre-join explosion audit — the diagnostic run BEFORE a
    * many-to-many join at scale: per-key counts on both sides,
    * exact predicted output rows Σ nₐ·n_b, the hottest key's
    * contribution, and the unmatched-key counts. One aggregate per
    * side (both dimension-keyed) and a key-residue full-outer join;
    * the prediction that says "this join emits 600k rows from
    * 25 keys" is what stops a 100 TB nationkey-style join from
    * being discovered at executor-OOM time. */
  val joinExplosionAudit: QueryDef = QueryDef.sql(
    """WITH ca AS (SELECT c_nationkey k, CAST(count(*) AS BIGINT) na
           FROM customer GROUP BY 1),
       cb AS (SELECT s_nationkey k, CAST(count(*) AS BIGINT) nb
              FROM supplier GROUP BY 1),
       f AS (SELECT coalesce(ca.k, cb.k) k, coalesce(na,0) na,
               coalesce(nb,0) nb
             FROM ca FULL JOIN cb ON ca.k=cb.k)
       SELECT CAST(count(*) AS BIGINT) n_keys,
         CAST(sum(na*nb) AS BIGINT) predicted_rows,
         CAST(max(na*nb) AS BIGINT) max_key_rows,
         CAST(sum(CASE WHEN na>0 AND nb=0 THEN 1 ELSE 0 END)
           AS BIGINT) a_only,
         CAST(sum(CASE WHEN nb>0 AND na=0 THEN 1 ELSE 0 END)
           AS BIGINT) b_only
       FROM f""") { (s, d) =>
    val ca = Tables.customer(s, d).groupBy(col("c_nationkey").as("k"))
      .agg(count(lit(1)).cast("long").as("na"))
    val cb = Tables.supplier(s, d).groupBy(col("s_nationkey").as("k"))
      .agg(count(lit(1)).cast("long").as("nb"))
    ca.join(cb, Seq("k"), "full")
      .select(coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .agg(count(lit(1)).cast("long").as("n_keys"),
        sum(col("na") * col("nb")).cast("long").as("predicted_rows"),
        max(col("na") * col("nb")).cast("long").as("max_key_rows"),
        sum(when(col("na") > 0 && col("nb") === 0, 1L)
          .otherwise(0L)).cast("long").as("a_only"),
        sum(when(col("nb") > 0 && col("na") === 0, 1L)
          .otherwise(0L)).cast("long").as("b_only"))
  }

  /** Community detection by min-label propagation with a fixed
    * 3-round budget over the user co-occurrence graph, with a
    * SCALE-INVARIANT edge cut (keep pairs whose shared-bucket count
    * ≥ 2× the mean — a fixed absolute support saturates to one
    * giant component as SF grows, the TESTDATA.md drift lesson).
    * Exercises [[graft.ops.Graph.labelPropagation]]: one node-keyed
    * shuffle per round, labels monotonically decreasing (exact
    * k-hop minima — deterministic whatever the join order), edge
    * subplan planned once via exchange reuse like pageRank's. The
    * oracle unrolls the same three rounds as chained CTEs. Output
    * is the community size histogram. */
  val labelPropagation: QueryDef = {
    def lpIter(k: Int): String =
      s"""l$k AS (
         SELECT c.node, least(c.lbl, coalesce(m.minl, c.lbl)) AS lbl
         FROM l${k - 1} c LEFT JOIN (
           SELECT ee.u AS node, min(p.lbl) AS minl
           FROM ee JOIN l${k - 1} p ON p.node = ee.v
           GROUP BY 1) m ON m.node = c.node)"""
    QueryDef.sql(
      s"""WITH $coEventsCte,
         $meanCutCte,
         $symmetricCte,
         n AS (SELECT DISTINCT u AS node FROM ee),
         l0 AS (SELECT node, node AS lbl FROM n),
         ${lpIter(1)}, ${lpIter(2)}, ${lpIter(3)},
         cs AS (SELECT lbl, CAST(count(*) AS BIGINT) csize
                FROM l3 GROUP BY 1)
         SELECT csize, CAST(count(*) AS BIGINT) n_comms
         FROM cs GROUP BY 1 ORDER BY 1""") { (s, d) =>
      graft.ops.Graph.labelPropagation(meanCutEdges(coEvents(s, d)), 3)
        .groupBy(col("lbl"))
        .agg(count(lit(1)).cast("long").as("csize"))
        .groupBy(col("csize"))
        .agg(count(lit(1)).cast("long").as("n_comms"))
        .orderBy(col("csize"))
    }
  }

  /** 3-core decomposition profile over the co-occurrence graph
    * (same 2×mean-cut edges as q243): per peeling round, how many
    * nodes and edges survive removing degree-<3 nodes — the cohesion
    * audit (a profile that flatlines has a real core; one that
    * collapses to zero was held together by chains). Emitting the
    * PROFILE rather than the surviving node list keeps the result
    * non-degenerate at every SF (the sf0.001 graph has no 3-core —
    * that collapse IS the answer). [[graft.ops.Graph.kCoreProfile]]
    * checkpoints each round's tiny edge residue so the count union
    * never re-derives the pair expansion. Oracle: MATERIALIZED CTE
    * peel rounds (without the hint DuckDB inlines the pair join
    * into every round — quadratic re-evaluation). */
  val kCoreProfileQ: QueryDef = {
    // round 0's edge set is the mean-cut CTE's own `e`
    def en(i: Int): String = if (i == 0) "e" else s"e$i"
    def peelSql(i: Int): String = {
      val p = en(i - 1)
      s"""d$i AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) deg
            FROM (SELECT u AS n FROM $p UNION ALL SELECT v FROM $p)
            GROUP BY 1),
          k$i AS MATERIALIZED (SELECT n FROM d$i WHERE deg >= 3),
          e$i AS MATERIALIZED (SELECT e.u, e.v FROM $p e
            JOIN k$i a ON e.u = a.n JOIN k$i b ON e.v = b.n)"""
    }
    def countSql(i: Int): String =
      s"""SELECT CAST($i AS BIGINT) round,
          (SELECT CAST(count(DISTINCT n) AS BIGINT)
           FROM (SELECT u AS n FROM ${en(i)} UNION ALL
                 SELECT v FROM ${en(i)})) n_nodes,
          (SELECT CAST(count(*) AS BIGINT) FROM ${en(i)}) n_edges"""
    QueryDef.sql(
      s"""WITH $coEventsCte,
         $meanCutCte,
         ${peelSql(1)}, ${peelSql(2)}, ${peelSql(3)}
         ${Seq(0, 1, 2, 3).map(countSql).mkString(
           "SELECT * FROM (", " UNION ALL ", ")")}
         ORDER BY round""") { (s, d) =>
      graft.ops.Graph.kCoreProfile(meanCutEdges(coEvents(s, d)), 3, 3)
    }
  }

  /** Cache-invalidation correctness under lake overwrite: a HALF
    * snapshot of the table is written, read, CACHED and
    * materialized; the path is then overwritten with the FULL table
    * and `refreshByPath` invalidates both the relation cache and
    * the file-listing cache; the final aggregate runs on the
    * ORIGINAL (pre-overwrite) DataFrame reference. If invalidation
    * is broken the stale half-snapshot cache answers and every
    * count is ~half the oracle's — the exact failure a daily
    * overwrite-then-dashboard lake hits. */
  val refreshCacheInvalidation: QueryDef = QueryDef.sql(
    s"""SELECT event_type, CAST(count(*) AS BIGINT) n,
         CAST(sum(${microsSql("value")})
           AS BIGINT) v_micro
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = graft.sources.ScratchDirs.perProcess("q292", d)
    val ev = Tables.events(s, d)
    ev.filter(col("event_id") % 2 === 0)
      .write.mode("overwrite").parquet(dir)
    val viaPath = s.read.parquet(dir).cache()
    viaPath.count() // materialize the stale cache
    ev.write.mode("overwrite").parquet(dir)
    s.catalog.refreshByPath(dir)
    viaPath
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(micros(col("value")))
          .cast("long").as("v_micro"))
      .orderBy(col("event_type"))
  }

  /** Schema-drift union: two producer feeds of the same stream, one
    * WITHOUT the props column (the lake-reality case where an old
    * producer predates a schema addition), merged via
    * unionByName(allowMissingColumns) — missing columns null-fill,
    * nothing silently misaligns by position. DuckDB oracle: UNION
    * ALL BY NAME. */
  val unionSchemaDrift: QueryDef = QueryDef.sql(
    s"""WITH a AS (SELECT event_id, user_id, value FROM events
         WHERE event_type='click'),
       b AS (SELECT event_id, user_id, value, props FROM events
         WHERE event_type='purchase'),
       u AS (SELECT * FROM a UNION ALL BY NAME SELECT * FROM b)
       SELECT CASE WHEN props IS NULL THEN 0 ELSE 1 END AS has_props,
         CAST(count(*) AS BIGINT) n,
         CAST(sum(${microsSql("value")})
           AS BIGINT) v_micro
       FROM u GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val ev = Tables.events(s, d)
    val a = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("value"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"),
        col("props"))
    a.unionByName(b, allowMissingColumns = true)
      .groupBy(when(col("props").isNull, 0).otherwise(1)
        .as("has_props"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(micros(col("value")))
          .cast("long").as("v_micro"))
      .orderBy(col("has_props"))
  }

  /** Literal-dimension decode: the in-code lookup table (a
    * Seq.toDF broadcast dim) as the JOIN alternative to the
    * reference's when-chain decodes (A6 payment_analysis) — at
    * 100 TB a broadcast literal dim beats a 50-branch CASE for
    * maintainability and plans identically (BroadcastHashJoin
    * against a LocalRelation). */
  val literalDimDecode: QueryDef = QueryDef.sql(
    s"""WITH dim(et, dept) AS (VALUES ('click','growth'),
         ('view','growth'),('purchase','revenue'),
         ('signup','activation'),('error','platform')),
       g AS (SELECT dept, CAST(count(*) AS BIGINT) n,
           CAST(sum(${microsSql("value")})
             AS BIGINT) v_micro
         FROM events JOIN dim ON event_type = et GROUP BY 1)
       SELECT * FROM g ORDER BY 1""") { (s, d) =>
    import s.implicits._
    val dim = Seq(("click", "growth"), ("view", "growth"),
      ("purchase", "revenue"), ("signup", "activation"),
      ("error", "platform")).toDF("et", "dept")
    Tables.events(s, d)
      .join(broadcast(dim), col("event_type") === col("et"))
      .groupBy(col("dept"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(micros(col("value")))
          .cast("long").as("v_micro"))
      .orderBy(col("dept"))
  }

  /** Last-observation-carried-forward imputation over the hourly
    * grid: per-type calendar spine (bounded-size min/max explode,
    * the q107 recipe), left join to observed hourly sums, then the
    * IGNORE NULLS positional window fills gaps with the most recent
    * observation — the imputation q107's zero-fill and q232's
    * interpolation don't cover (LOCF is the right fill for
    * state-like series). Leading nulls (before the first
    * observation) stay excluded on both sides. */
  val locfImpute: QueryDef = QueryDef.sql(
    s"""WITH d AS (SELECT event_type,
           CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
             AS BIGINT) hi,
           CAST(sum(${microsSql("value")})
             AS BIGINT) dv
         FROM events GROUP BY 1,2),
       b AS (SELECT event_type AS et, CAST(min(hi) AS BIGINT) lo,
           CAST(max(hi) AS BIGINT) hi2 FROM d GROUP BY 1),
       spine AS (SELECT et, unnest(generate_series(lo, hi2)) AS hi
         FROM b),
       j AS (SELECT spine.et, spine.hi, d.dv FROM spine
         LEFT JOIN d ON d.event_type = spine.et AND d.hi = spine.hi),
       f AS (SELECT et, hi, dv,
           CASE WHEN dv IS NULL THEN 1 ELSE 0 END AS was_missing,
           last_value(dv IGNORE NULLS) OVER (PARTITION BY et
             ORDER BY hi ROWS BETWEEN UNBOUNDED PRECEDING AND
             CURRENT ROW) AS filled
         FROM j)
       SELECT et AS event_type, hi AS hour_idx,
         CAST(filled AS BIGINT) AS filled_micro, was_missing
       FROM f WHERE filled IS NOT NULL ORDER BY 1,2""") { (s, d) =>
    val vk = micros(col("value"))
    val dg = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
          .as("hi"))
      .agg(sum(vk).cast("long").as("dv"))
    val spine = dg.groupBy(col("event_type").as("et"))
      .agg(min(col("hi")).cast("long").as("lo"),
        max(col("hi")).cast("long").as("hi2"))
      .withColumn("shi", explode(sequence(col("lo"), col("hi2"))))
      .select(col("et"), col("shi"))
    val w = Window.partitionBy(col("et")).orderBy(col("shi"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(dg, col("et") === col("event_type")
        && col("shi") === col("hi"), "left")
      .select(col("et"), col("shi"),
        when(col("dv").isNull, 1).otherwise(0).as("was_missing"),
        last(col("dv"), ignoreNulls = true).over(w).as("filled"))
      .filter(col("filled").isNotNull)
      .select(col("et").as("event_type"), col("shi").as("hour_idx"),
        col("filled").cast("long").as("filled_micro"),
        col("was_missing"))
      .orderBy(col("event_type"), col("hour_idx"))
  }

  /** Null-safe join breadth: the `<=>` operator (IS NOT DISTINCT
    * FROM) joining two half-corpus key residues where the key is
    * sometimes NULL — a plain equality join silently DROPS the
    * null-key row on both sides; the null-safe form pairs them.
    * Aggregated to per-key counts BEFORE the join so the null key
    * never explodes pairwise. */
  val nullSafeJoin: QueryDef = QueryDef.sql(
    """WITH a AS (SELECT CASE WHEN value < 1 THEN NULL
           ELSE event_type END ka, CAST(count(*) AS BIGINT) ca
         FROM events WHERE event_id % 2 = 0 GROUP BY 1),
       b AS (SELECT CASE WHEN value < 1 THEN NULL
           ELSE event_type END kb, CAST(count(*) AS BIGINT) cb
         FROM events WHERE event_id % 2 = 1 GROUP BY 1)
       SELECT ka AS join_key, ca, cb FROM a
       JOIN b ON ka IS NOT DISTINCT FROM kb
       ORDER BY ka NULLS FIRST""") { (s, d) =>
    val key = when(col("value") < 1, lit(null))
      .otherwise(col("event_type"))
    val ev = Tables.events(s, d)
    val a = ev.filter(col("event_id") % 2 === 0)
      .groupBy(key.as("ka"))
      .agg(count(lit(1)).cast("long").as("ca"))
    val b = ev.filter(col("event_id") % 2 === 1)
      .groupBy(key.as("kb"))
      .agg(count(lit(1)).cast("long").as("cb"))
    a.join(b, col("ka") <=> col("kb"))
      .select(col("ka").as("join_key"), col("ca"), col("cb"))
      .orderBy(col("join_key").asc_nulls_first)
  }

  /** VARIANT-typed semi-structured extraction (Spark 4's variant
    * path — parse once into the binary variant encoding, then typed
    * path access) over the JSON props column — the modern
    * alternative to q20's per-path get_json_object string re-parse
    * (at 100 TB, parse-once-access-many is the difference between
    * one JSON tokenizer pass and one per extracted path). Oracle:
    * DuckDB json_extract with the same integer cast. */
  val variantExtract: QueryDef = QueryDef.sql(
    """SELECT event_type, CAST(count(*) AS BIGINT) n,
         CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
           AS BIGINT) sum_k,
         CAST(max(CAST(json_extract(props, '$.k') AS BIGINT))
           AS BIGINT) max_k
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val k = expr(
      "variant_get(parse_json(props), '$.k', 'bigint')")
    Tables.events(s, d)
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("k")).cast("long").as("sum_k"),
        max(col("k")).cast("long").as("max_k"))
      .orderBy(col("event_type"))
  }

  /** Log-binned degree histogram of the co-occurrence graph (same
    * 2×mean-cut edges as q243/q267) — the power-law audit every
    * graph pipeline runs before choosing hub mitigations. The bin is
    * computed INTEGER-EXACT as length(bin(deg))-1 (= floor(log2)
    * without the transcendental — a libm log2 one ulp under an
    * exact power of two would flip the bin cross-engine). Edge
    * residue localCheckpoints like q243, so the degree aggregate
    * plans against a flat LogicalRDD instead of re-deriving the
    * pair expansion. */
  val degreeHistogram: QueryDef = QueryDef.sql(
    s"""WITH $coEventsCte,
       $meanCutCte,
       d AS (SELECT n, CAST(count(*) AS BIGINT) deg FROM
             (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
             GROUP BY 1)
       SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(min(deg) AS BIGINT) AS min_deg,
         CAST(max(deg) AS BIGINT) AS max_deg
       FROM d GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val e = meanCutEdges(coEvents(s, d))
    e.select(col("u").as("n"))
      .unionByName(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).cast("long").as("deg"))
      .groupBy((length(bin(col("deg"))) - 1).cast("long").as("bin"))
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        min(col("deg")).cast("long").as("min_deg"),
        max(col("deg")).cast("long").as("max_deg"))
      .orderBy(col("bin"))
  }

  /** Bounded BFS profile via RECURSIVE CTE (Spark 4's
    * `WITH RECURSIVE` — the second deliberate `spark.sql` routing
    * next to q42: recursion has no DataFrame-API surface): from the
    * lexicographically-first event type, expand the user-journey
    * transition graph (q203's edges) depth-by-depth with UNION ALL
    * + an explicit depth bound (Spark rejects UNION-distinct
    * recursion, so termination is the bound, and the per-node MIN
    * depth collapses path multiplicity after the fact — BFS levels
    * from a DFS-enumerated path set). The graph is |event types|²
    * bounded, so the path fan-out is a plan constant; the point is
    * the recursive-plan surface, not volume. */
  val recursiveReach: QueryDef = QueryDef.sql(
    """WITH RECURSIVE e AS (
         SELECT src, dst FROM (
           SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS dst
           FROM events)
         WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2),
       st AS (SELECT min(src) s FROM e),
       r(n, d) AS (
         SELECT s, 0 FROM st
         UNION ALL
         SELECT e.dst, d + 1 FROM r JOIN e ON e.src = r.n WHERE d < 3)
       SELECT n AS event_type, CAST(min(d) AS BIGINT) AS min_depth
       FROM r GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val edges = Tables.events(s, d)
      .select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))).as("dst"))
      .filter(col("dst").isNotNull && col("dst") =!= col("src"))
      .select(col("src"), col("dst")).distinct()
    QueryDef.sqlOver(s, edges, "graft_q339_edges") { e =>
      s"""WITH RECURSIVE st AS (SELECT min(src) s FROM $e),
         r(n, d) AS (
           SELECT s, 0 FROM st
           UNION ALL
           SELECT e.dst, d + 1 FROM r
             JOIN $e e ON e.src = r.n WHERE d < 3)
         SELECT n AS event_type, CAST(min(d) AS BIGINT) AS min_depth
         FROM r GROUP BY 1 ORDER BY 1"""
    }
  }

  val defs: Map[String, QueryDef] = Map(
    "q333_degree_histogram" -> degreeHistogram,
    "q339_recursive_reach" -> recursiveReach,
    "q267_kcore_profile" -> kCoreProfileQ,
    "q326_variant_extract" -> variantExtract,
    "q292_refresh_cache" -> refreshCacheInvalidation,
    "q293_union_schema_drift" -> unionSchemaDrift,
    "q294_literal_dim_decode" -> literalDimDecode,
    "q295_locf_impute" -> locfImpute,
    "q296_null_safe_join" -> nullSafeJoin,
    "q241_observed_ingest" -> observedIngest,
    "q242_join_explosion_audit" -> joinExplosionAudit,
    "q243_label_propagation" -> labelPropagation,
    "q195_pareto_frontier" -> paretoFrontier,
    "q196_khop_reach" -> kHopReach,
    "q346_khop_reach_hll" -> kHopReachHll,
    "q356_anf_reach3" -> anfReach3,
    "q365_anf_saturating" -> anfSaturating,
    "q198_interval_coverage" -> intervalCoverage,
    "q180_map_breadth" -> mapBreadth,
    "q87_rolling_hour" -> rollingHour,
    "q173_ewma_smoothing" -> ewmaSmoothing,
    "q174_array_breadth" -> arrayBreadth,
    "q88_funnel_stages" -> funnelStages,
    "q89_mixture_weights" -> mixtureWeights,
    "q90_grouped_topk" -> groupedTopK,
    "q91_ks_drift" -> ksDrift,
    "q92_sliding_window" -> slidingWindow,
    "q93_knn_classify" -> knnClassify,
    "q94_agg_breadth" -> aggBreadth,
    "q95_token_entropy" -> tokenEntropyQ,
    "q96_mad_outliers" -> madOutliers,
    "q97_retention_cohorts" -> retentionCohorts,
    "q98_pmi_collocations" -> pmiCollocations,
    "q99_chi_square" -> chiSquare,
    "q100_column_profile" -> columnProfile,
    "q101_pagerank" -> pageRankTransitions,
    "q184_triangle_cooccur" -> triangleCooccur,
    "q189_cusum_drift" -> cusumDrift,
    "q190_holt_forecast" -> holtForecast,
    "q193_exact_quantiles" -> exactQuantiles,
    "q194_grouped_sample" -> groupedSample,
    "q102_vector_stats" -> vectorStats,
    "q103_incremental_agg" -> incrementalAgg,
    "q104_hll_rollup" -> hllRollup,
    "q105_set_all" -> setAll,
    "q106_null_handling" -> nullHandling,
    "q107_gap_fill" -> gapFill,
    "q108_string_breadth" -> stringBreadth,
    "q109_date_breadth" -> dateBreadth,
    "q110_attribution" -> attribution,
    "q111_dedup_keep_best" -> dedupKeepBest,
    "q112_safe_math" -> safeMath,
    "q113_nested_shred" -> nestedShred,
    "q114_new_users_cumulative" -> newUsersCumulative,
    "q115_zipf_slope" -> zipfSlope,
    "q138_skew_audit" -> skewAudit,
    "q139_cdc_apply" -> cdcApply,
  )
}
