package graft.queries

import graft.{QueryDef, Tables}
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.Rounding.{micros, microsSql, r6, r6sql}
import graft.text.TextOps
import graft.text.TextOps.tokensSql
import graft.vector.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extension tier 2: the training-data-pipeline operators
  * (BASELINE.json north star) — time windows/sessionization, text
  * analysis, dedup (exact / MinHash / SimHash), similarity search —
  * instantiated over documents/embeddings/events.
  *
  * Oracle policy: everything whose semantics are engine-portable is
  * DuckDB-checked (including MinHash near-dup, whose *verify stage*
  * is exact Jaccard, so the oracle is the exact all-pairs query —
  * valid as long as LSH recall is 1 on the data, which the banding is
  * tuned for). Hash-family-dependent outputs (SimHash hamming pairs,
  * LSH-bucketed ANN) are declared rows-only.
  */
object Pipeline {

  /** Tumbling-window aggregation (batch form of the streaming op —
    * graft.streaming.StreamOps runs the same shape incrementally). */
  val tumblingWindow: QueryDef = QueryDef.sql(
    s"""SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n, ${r6sql("sum(value)")} AS total_value
       FROM events GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), r6(sum(col("value"))).as("total_value"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** Sessionization: 30-min-gap sessions per user (lag + running sum
    * of session starts — the batch analogue of stateful streaming
    * sessionization; one shuffle on user_id). */
  val sessionize: QueryDef = QueryDef.sql(
    s"""WITH g AS (
         SELECT user_id, event_id, epoch_us(ts) AS us,
                epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  AS gap
         FROM events),
       s AS (
         SELECT user_id, us,
                CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000
                              THEN 1 ELSE 0 END) OVER
                  (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_idx
         FROM g)
       SELECT user_id, session_idx, count(*) AS n_events,
              ${r6sql("(max(us) - min(us)) / 60000000.0")} AS duration_min
       FROM s GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .withColumn("session_idx",
        sum(when(col("gap").isNull || col("gap") > 1800000000L, 1)
          .otherwise(0).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        r6((max(col("us")) - min(col("us"))) / lit(60000000.0))
          .as("duration_min"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** Sessionization via Spark's NATIVE session_window operator — the
    * Spark-first twin of q25's window-function formulation (and of
    * q151's stateful streaming form; the same expression runs under
    * `readStream` with merging session state). Plans as a dedicated
    * session-window aggregation: one shuffle on the grouping key,
    * sessions merged map-side — no window-function sort-per-user.
    * Boundary semantics differ from q25 at EXACT gap == 30 min
    * (session_window merges on strictly-smaller gaps), so the oracle
    * encodes session_window's own rule (`gap >= 30 min` starts a new
    * session) rather than reusing q25's — on the fixture the two
    * agree (zero exact-boundary gaps at every SF, verified), but the
    * oracle must track the operator, not the data. Session end is
    * last event + gap by definition; emitted in µs for exactness. */
  val sessionWindowNative: QueryDef = QueryDef.sql(
    s"""WITH g AS (
         SELECT user_id, value, epoch_us(ts) AS us,
                epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  AS gap,
                event_id
         FROM events),
       s AS (
         SELECT user_id, value, us,
                CAST(sum(CASE WHEN gap IS NULL OR gap >= 1800000000
                              THEN 1 ELSE 0 END) OVER
                  (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_idx
         FROM g)
       SELECT user_id, min(us) AS session_start_us,
              max(us) + 1800000000 AS session_end_us,
              count(*) AS n_events,
              ${r6sql("sum(value)")}
                AS total_value
       FROM s GROUP BY user_id, session_idx
       ORDER BY 1, 2""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        r6(sum(col("value"))).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start_us"))
  }

  /** q154's session_window aggregation run as a STREAM — the native
    * streaming sessionization (merging session state in the
    * aggregation operator, no hand-written flatMapGroupsWithState;
    * q151 is the arbitrary-state form of the same semantics).
    * Complete output mode makes the final sink state exactly the
    * batch q154 relation — open tail sessions included — so the
    * oracle is the SAME session_window rule (gap >= 30 min splits),
    * with no watermark-flush clause needed. The memory sink +
    * AvailableNow trigger is the harness adapter, as in q47. */
  val streamSessionWindow: QueryDef = QueryDef.sql(
    s"""WITH g AS (
         SELECT user_id, value, epoch_us(ts) AS us,
                epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  AS gap,
                event_id
         FROM events),
       s AS (
         SELECT user_id, value, us,
                CAST(sum(CASE WHEN gap IS NULL OR gap >= 1800000000
                              THEN 1 ELSE 0 END) OVER
                  (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_idx
         FROM g)
       SELECT user_id, min(us) AS session_start_us,
              count(*) AS n_events,
              ${r6sql("sum(value)")}
                AS total_value
       FROM s GROUP BY user_id, session_idx
       ORDER BY 1, 2""") { (s, d) =>
    // complete is the only mode Spark allows for an unwatermarked
    // session-window streaming aggregation (update is rejected with
    // STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION; append requires
    // a watermark and emits only closed sessions, reintroducing the
    // tail-flush clause q151 needed). The charge is state re-emission
    // per batch — the engine's contract for this operator.
    graft.streaming.StreamOps.drain(s, d, "complete") {
      graft.streaming.StreamOps.eventsStream(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          r6(sum(col("value"))).as("total_value"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          col("n_events"), col("total_value"))
    }
      .select(col("user_id"), col("session_start_us"), col("n_events"),
        col("total_value"))
      .orderBy(col("user_id"), col("session_start_us"))
  }

  private val stopwords = Seq("the", "a", "of", "and", "is")

  /** Text quality stats: token counts, mean token length, stopword &
    * punctuation ratios, composite quality score — all row-local. */
  val textStats: QueryDef = QueryDef.sql(
    s"""WITH t AS (
         SELECT doc_id, text, ${tokensSql("text")} AS toks
         FROM documents),
       m AS (
         SELECT doc_id,
                CAST(len(toks) AS INTEGER) AS n_tokens,
                list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                  / len(toks) AS avg_tok,
                len(list_filter(toks,
                  x -> x IN ('the', 'a', 'of', 'and', 'is')))::DOUBLE
                  / len(toks) AS stop_ratio,
                (length(text) - length(regexp_replace(text,
                  '[.,;:!?]', '', 'g')))::DOUBLE / length(text) AS punct
         FROM t)
       SELECT doc_id, n_tokens, ${r6sql("avg_tok")} AS avg_token_len,
              ${r6sql("stop_ratio")} AS stopword_ratio,
              ${r6sql("punct")} AS punct_ratio,
              ${r6sql("""0.4 * least(n_tokens / 200.0, 1.0)
                     + 0.3 * (1.0 - stop_ratio)
                     + 0.3 * least(avg_tok / 8.0, 1.0)""")} AS quality
       FROM m ORDER BY doc_id""") { (s, d) =>
    val df = Tables.documents(s, d)
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        TextOps.avgTokenLen(col("toks")).as("avg_tok"),
        TextOps.stopwordRatio(col("toks"), stopwords).as("stop_ratio"),
        TextOps.punctRatio(col("text")).as("punct"))
    df.select(col("doc_id"), col("n_tokens"),
        r6(col("avg_tok")).as("avg_token_len"),
        r6(col("stop_ratio")).as("stopword_ratio"),
        r6(col("punct")).as("punct_ratio"),
        r6(lit(0.4) * least(col("n_tokens") / lit(200.0), lit(1.0))
          + lit(0.3) * (lit(1.0) - col("stop_ratio"))
          + lit(0.3) * least(col("avg_tok") / lit(8.0), lit(1.0)))
          .as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Model-based quality scoring — logistic-classifier INFERENCE as
    * columnar math (the fastText/DSIR-shaped curation step: score
    * every document with a trained quality model, keep above
    * threshold). Weights here are fixed documented stand-ins (the
    * engine contribution is in-plan inference; training happens
    * offline), features are q26's portable text stats, and the whole
    * scoring pass is row-local — no shuffle, fuses into the scan, at
    * 100 TB it rides the first read of the corpus. `kept` compares
    * the LOGIT against 0 (⟺ p ≥ 0.5) so the flag never depends on
    * exp() rounding; the probability itself is r6-rounded with the
    * same left-to-right arithmetic on both engines. */
  val qualityLogit: QueryDef = QueryDef.sql(
    s"""WITH t AS (
         SELECT doc_id, text, ${tokensSql("text")} AS toks
         FROM documents),
       m AS (
         SELECT doc_id,
                CAST(len(toks) AS INTEGER) AS n_tokens,
                list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                  / len(toks) AS avg_tok,
                len(list_filter(toks,
                  x -> x IN ('the', 'a', 'of', 'and', 'is')))::DOUBLE
                  / len(toks) AS stop_ratio,
                (length(text) - length(regexp_replace(text,
                  '[.,;:!?]', '', 'g')))::DOUBLE / length(text) AS punct
         FROM t),
       z AS (
         SELECT doc_id,
                ((((-3.0 + 2.0 * least(n_tokens / 200.0, 1.0))
                   + 2.5 * stop_ratio)
                  + 1.0 * least(avg_tok / 8.0, 1.0))
                 - 4.0 * punct) AS logit
         FROM m)
       SELECT doc_id,
              ${r6sql("1.0 / (1.0 + exp(-logit))")} AS quality_prob,
              logit >= 0 AS kept
       FROM z ORDER BY doc_id""") { (s, d) =>
    val feats = Tables.documents(s, d)
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        TextOps.avgTokenLen(col("toks")).as("avg_tok"),
        TextOps.stopwordRatio(col("toks"), stopwords).as("stop_ratio"),
        TextOps.punctRatio(col("text")).as("punct"))
    // parenthesized left-to-right identically to the oracle: float
    // addition order is part of the contract, not a style choice
    val logit = ((lit(-3.0)
      + lit(2.0) * least(col("n_tokens") / lit(200.0), lit(1.0)))
      + lit(2.5) * col("stop_ratio"))
      .+(lit(1.0) * least(col("avg_tok") / lit(8.0), lit(1.0)))
      .-(lit(4.0) * col("punct"))
    feats.select(col("doc_id"),
        r6(lit(1.0) / (lit(1.0) + exp(-logit))).as("quality_prob"),
        (logit >= 0).as("kept"))
      .orderBy(col("doc_id"))
  }

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "is"),
    "es" -> Seq("el", "la", "de"),
    "fr" -> Seq("le", "les", "des"),
    "de" -> Seq("der", "und", "die"),
    "zh" -> Seq("的", "了", "是"))

  /** Language-ID heuristic: whole-word marker occurrence scores per
    * language (replace-trick counting — engine-portable integer
    * arithmetic), argmax with deterministic tie order. */
  val langId: QueryDef = {
    def duckScore(ms: Seq[String]): String = ms.map { m =>
      s"(length(p) - length(replace(p, ' $m ', ''))) // ${m.length + 2}"
    }.mkString(" + ")
    val cases = langProfiles.map { case (l, _) =>
      s"WHEN ${l}_score = best AND best > 0 THEN '$l'"
    }.mkString(" ")
    QueryDef.sql(
      s"""WITH p0 AS (SELECT doc_id, lang,
            ' ' || text || ' ' AS p FROM documents),
         sc AS (SELECT doc_id, lang,
            ${langProfiles.map { case (l, ms) =>
              s"CAST(${duckScore(ms)} AS BIGINT) AS ${l}_score" }
              .mkString(", ")}
            FROM p0),
         b AS (SELECT *,
            greatest(${langProfiles.map(_._1 + "_score").mkString(", ")})
              AS best FROM sc)
         SELECT doc_id, lang,
            ${langProfiles.map(_._1 + "_score").mkString(", ")},
            CASE $cases ELSE 'und' END AS predicted_lang
         FROM b ORDER BY doc_id""") { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val df = Tables.documents(s, d)
      val scored = langProfiles.foldLeft(df) { case (acc, (l, ms)) =>
        acc.withColumn(s"${l}_score", TextOps.langScore(col("text"), ms))
      }
      scored.select(
        Seq(col("doc_id"), col("lang")) ++
          langProfiles.map(p => col(s"${p._1}_score")) :+
          TextOps.languageId(col("text"), langProfiles)
            .as("predicted_lang"): _*)
        .orderBy(col("doc_id"))
    }
  }

  /** Document fingerprinting + token counting: whitespace count,
    * chars/4 estimate, and a real GPT-2-style pre-tokenizer chunk
    * count (same regex text runs on both engines). */
  val fingerprint: QueryDef = QueryDef.sql(
    s"""SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
       substr(md5(lower(trim(text))), 1, 8) AS fp_prefix,
       greatest(CAST(len(${tokensSql("text")}) AS BIGINT),
                CAST(ceil(length(text) / 4.0) AS BIGINT)) AS token_est,
       CAST(len(regexp_extract_all(text,
            '${TextOps.bpePattern.replace("'", "''")}'))
            AS BIGINT) AS bpe_chunks
       FROM documents ORDER BY doc_id""") { (s, d) =>
    Tables.documents(s, d).select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fingerprint"),
        substring(TextOps.fingerprint(col("text")), 1, 8).as("fp_prefix"),
        TextOps.bpeTokenEstimate(col("text")).as("token_est"),
        TextOps.bpeChunkCount(col("text")).cast("long").as("bpe_chunks"))
      .orderBy(col("doc_id"))
  }

  /** Exact dedup by content hash over a corpus with planted exact
    * duplicates (the fixture has none, so the query doubles it via
    * UNION ALL with offset ids — every group then has n_dups=2 and
    * the survivor is the original id). */
  val dedupExact: QueryDef = QueryDef.sql(
    """WITH u AS (SELECT doc_id, text FROM documents
                  UNION ALL
                  SELECT doc_id + 100000, text FROM documents)
       SELECT md5(lower(trim(text))) AS fingerprint,
              min(doc_id) AS keep_id, count(*) AS n_dups
       FROM u GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val doubled = docs.unionByName(
      docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    Dedup.exactGroups(doubled, "doc_id", "text")
      .select(col("fingerprint"), col("keep_id"), col("n_dups"))
      .orderBy(col("fingerprint"))
  }

  /** MinHash+LSH near-dup pairs, exact-Jaccard-verified at 0.6.
    * Oracle = exact all-pairs 3-gram Jaccard (valid because the
    * verify stage is exact and banding recall ≈ 1 above 0.6). */
  val dedupMinhash: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       s AS (SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 AS sh
             FROM t WHERE len(toks) >= 3)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              ${r6sql("""len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh)
                   - len(list_intersect(a.sh, b.sh)))""")} AS jaccard
       FROM s a JOIN s b ON a.doc_id < b.doc_id
       WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             >= 0.6
       ORDER BY 1, 2""") { (s, d) =>
    Dedup.minhashNearDupPairs(Tables.documents(s, d), "doc_id", "text", 0.6)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Dedup observability: near-dup volume audited BY SOURCE PAIR —
    * the report curation teams read to find which feeds duplicate
    * each other (mirror sites, scraped re-posts) before deciding
    * drop policy. The PAIR relation is the broadcast side (post-
    * verify it is output-sized, orders smaller than the corpus), so
    * the doc→source map streams map-side through both attach joins
    * and the corpus never shuffles; the audit agg is
    * source-cardinality-bounded. Oracle: the exact all-pairs
    * relation joined the same way (valid on q30's grounds — exact
    * verify, banding recall ≈ 1 at 0.6). */
  val dedupAudit: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
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
                      - len(list_intersect(a.sh, b.sh))) >= 0.6)
       SELECT da.source AS source_a, db.source AS source_b,
              count(*) AS n_pairs
       FROM p JOIN documents da ON da.doc_id = p.a_id
              JOIN documents db ON db.doc_id = p.b_id
       GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val src = docs.select(col("doc_id"), col("source"))
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.6)
      .select(col("a_id"), col("b_id"))
    val withA = src.select(col("doc_id").as("a_id"),
        col("source").as("source_a"))
      .join(broadcast(pairs), "a_id")
    src.select(col("doc_id").as("b_id"), col("source").as("source_b"))
      .join(broadcast(withA), "b_id")
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** SimHash near-dup detection (hamming <= 3 via 4×16-bit chunk
    * banding, the Manku WWW'07 configuration — recall 1 by
    * pigeonhole: <= 3 differing bits cannot touch all 4 chunks),
    * DRIVER-CHECKED via containment (the q43/q64 pattern): identical
    * documents have identical signatures, so every exact-dup pair
    * MUST surface as a simhash candidate at hamming 0. The fixture
    * has no exact dups, so the corpus is doubled with offset ids
    * (q29's construction); the output is the deterministic exact-dup
    * pair set and `ok` asserts IN-PLAN that the banding emitted the
    * pair — a broken chunk explode / bucket join / signature
    * hash-mismatches in the driver compare. Hash-family-specific
    * EXTRA near-dup candidates are excluded by construction;
    * DedupSpec keeps the near-dup overlap gates. */
  val dedupSimhash: QueryDef = QueryDef.sql(
    """WITH u AS (SELECT doc_id, text FROM documents
                  UNION ALL
                  SELECT doc_id + 100000, text FROM documents),
       k AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM u),
       p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
             FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id)
       SELECT a_id, b_id, TRUE AS ok FROM p ORDER BY 1, 2""") { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val doubled = docs.unionByName(
      docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val sim = Dedup.simhashNearDupPairs(doubled, "doc_id", "text")
      .select(col("a_id"), col("b_id"), col("hamming"))
    val keyed = doubled.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("__fp"))
    val truth = keyed.as("ka").join(keyed.as("kb"),
        col("ka.__fp") === col("kb.__fp") &&
          col("ka.doc_id") < col("kb.doc_id"))
      .select(col("ka.doc_id").as("a_id"), col("kb.doc_id").as("b_id"))
    truth.join(sim, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        coalesce(col("hamming") === 0, lit(false)).as("ok"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Brute-force cosine top-5 per query vector — the exact ANN
    * baseline (broadcast queries, corpus never shuffled). */
  val cosineTopK: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 10),
       p AS (SELECT q_id, e.vec_id AS n_id,
               ${r6sql("""list_dot_product(q_v, e.v)
                 / (sqrt(list_dot_product(q_v, q_v))
                    * sqrt(list_dot_product(e.v, e.v)))""")} AS cos
             FROM q JOIN e ON e.vec_id <> q_id),
       r AS (SELECT q_id, n_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, n_id) AS INTEGER) AS rank
             FROM p)
       SELECT q_id, n_id, cos, rank FROM r WHERE rank <= 5
       ORDER BY q_id, rank""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    VectorOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Filtered exact top-3 — neighbors restricted to the query's own
    * label via an EQUI-join (not a post-filter), the
    * metadata-predicated vector search every real store composes
    * with ANN ([[VectorOps.labelFilteredTopK]]). Exact and
    * deterministic → full oracle. */
  val filteredTopK: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       q AS (SELECT vec_id AS q_id, label AS q_label, v AS q_v
             FROM e WHERE vec_id < 10),
       p AS (SELECT q_id, e.vec_id AS n_id,
               ${r6sql("""list_dot_product(q_v, e.v)
                 / (sqrt(list_dot_product(q_v, q_v))
                    * sqrt(list_dot_product(e.v, e.v)))""")} AS cos
             FROM q JOIN e ON e.label = q_label AND e.vec_id <> q_id),
       r AS (SELECT q_id, n_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, n_id) AS INTEGER) AS rank
             FROM p)
       SELECT q_id, n_id, cos, rank FROM r WHERE rank <= 3
       ORDER BY q_id, rank""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    VectorOps.labelFilteredTopK(emb, emb.filter(col("vec_id") < 10), 3)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Graph-ANN top-5 over the per-partition NSW index
    * ([[VectorOps.nswTopK]] — HNSW-lite: greedy-beam navigable-
    * small-world graphs built in mapPartitions, broadcast query
    * probes, exact cross-partition merge; VERDICT r13 #8, the shape
    * modern vector stores run sharded). Approximate by construction
    * ⇒ NO SQL oracle (rows-only at the driver gate); the correctness
    * gate is `AnnRecallSpec`: recall@5 vs q32's exact
    * bruteForceTopK plus run-to-run determinism on fixed input
    * splits. */
  val annNsw: QueryDef = QueryDef.rowsOnly { (s, d) =>
    val emb = Tables.embeddings(s, d)
    VectorOps.nswTopK(emb, emb.filter(col("vec_id") < 10), 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** The planted-duplicate containment audit shared by the ANN rows
    * (q33, q40, q357; the q31/q41 pattern, VERDICT r9 #4): the corpus
    * is doubled with ids offset by 100000, so each query's IDENTICAL
    * vector is in the corpus under another id. Identical vectors get
    * identical band keys (LSH) and the same nearest cell under the
    * same tie-breaks (IVF, per shard too, as the duplicate carries the
    * query's label), so that duplicate is a GUARANTEED candidate and
    * must surface in the top-3 at exact cosine 1 — key or cell
    * computation, the candidate join, exact re-rank and the k-cut are
    * all on the hash-checked path. Tie-proof (ADVICE r10/r11): if the
    * fixture held OTHER vectors identical to a query, 3+ cos-1.0 ties
    * could push the planted id out of the k-cut by the smaller-id
    * tie-break, so `ok` also accepts a FULL list of k cos-1.0 ties; an
    * all-ties list SHORTER than k means the planted candidate was
    * dropped, not evicted, and fails. Recall on NON-identical
    * neighbors stays measured in AnnRecallSpec. `search(corpus,
    * queries)` returns (q_id, n_id, cos, rank) top-3 rows. */
  private def plantedDupAudit(
      search: (DataFrame, DataFrame) => DataFrame): QueryDef = QueryDef.sql(
    """SELECT vec_id AS q_id, TRUE AS ok FROM embeddings
       WHERE vec_id < 10 ORDER BY 1""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val doubled = emb.unionByName(emb.select(
      (col("vec_id") + 100000L).as("vec_id"), col("embedding"),
      col("label")))
    val queries = emb.filter(col("vec_id") < 10)
    queries.select(col("vec_id").as("q_id"))
      .join(search(doubled, queries).groupBy(col("q_id")).agg(
          (bool_or(col("n_id") === col("q_id") + 100000L
             && col("cos") === 1.0)
           || (every(col("cos") === 1.0)
               && count(lit(1)) === 3)).as("__hit")),
        Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("__hit"), lit(false)).as("ok"))
      .orderBy(col("q_id"))
  }

  /** LSH-bucketed ANN (cross-polytope, 32 bands × 1 hash, 2-probe —
    * the VectorOps.lshTopK defaults) under the planted-duplicate
    * audit. Family-dependent recall stays measured in AnnRecallSpec
    * (recall floor + candidate-ratio ceiling). */
  val annLsh: QueryDef = plantedDupAudit(VectorOps.lshTopK(_, _, 3))

  /** Exact embedding near-dup pairs at cosine >= 0.45 (brute-force
    * baseline for the LSH path). */
  val embeddingNearDup: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               ${r6sql("""list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v)))""")} AS cos
             FROM e a JOIN e b ON a.vec_id < b.vec_id)
       SELECT a_id, b_id, cos FROM p WHERE cos >= 0.45
       ORDER BY 1, 2""") { (s, d) =>
    VectorOps.nearDupPairs(Tables.embeddings(s, d), 0.45)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Winnowing-fingerprint near-dup detection (rolling n-gram hashes
    * → window minima, Schleimer SIGMOD'03 — catches shared verbatim
    * passages), DRIVER-CHECKED via containment: the winnowing
    * GUARANTEE says any shared token run of length >= window + ngram
    * - 1 (= 6 at the defaults) yields a shared selected fingerprint,
    * and "pairs sharing a 6-token verbatim run" is exact and
    * SQL-portable. That ground-truth pair set rides the output and
    * `ok` asserts IN-PLAN that winnowing surfaced the pair — a
    * selection-logic bug that drops a guaranteed fingerprint
    * hash-mismatches. Hash-family-specific EXTRA candidates are
    * excluded; DedupSpec keeps the passage-detection gates. */
  val winnowPairs: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       g AS (SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 5),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    || ' ' || toks[i+3] || ' ' || toks[i+4] || ' '
                    || toks[i+5]))) AS gram
             FROM t WHERE len(toks) >= 6),
       p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id)
       SELECT a_id, b_id, TRUE AS ok FROM p ORDER BY 1, 2""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val truth = Dedup.sharedRunPairs(docs, "doc_id", "text", 6)
    val found = Dedup.winnowNearDupPairs(docs, "doc_id", "text",
        minShared = 1)
      .select(col("a_id"), col("b_id"), lit(true).as("__found"))
    truth.join(found, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        coalesce(col("__found"), lit(false)).as("ok"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** IVF-cell ANN top-3 — the inverted-file scale path (nlist =
    * sqrt(n) cells, probe the 40% nearest — see the measured recall
    * curve in VectorOps.ivfTopK's scaladoc) under the planted-duplicate
    * audit: the probe set always contains the query's own cell
    * (nearest = its assignment argmax), which holds its duplicate, so
    * seeding, cell assignment, the probe join and the heap re-rank are
    * hash-checked. */
  val annIvf: QueryDef = plantedDupAudit(VectorOps.ivfTopK(_, _, 3))

  /** Sharded (per-label) IVF ANN under the planted-duplicate audit —
    * the language/domain-partitioned index layout real corpora deploy
    * (VERDICT r11 #7): every label gets its own independent IVF index
    * and each query is routed ONLY to its own label's shard, where its
    * duplicate lands too — seeding, per-shard refinement, the probe
    * join and the k-cut are hash-checked. */
  val annIvfPerGroup: QueryDef =
    plantedDupAudit(VectorOps.ivfTopKPerGroup(_, _, 3, "label"))

  /** Exact all-pairs n-gram Jaccard at 0.5 — the dedup-family
    * exactness baseline, oracle-checked against DuckDB's
    * string-shingle Jaccard (set sizes identical through the hashed
    * representation barring 2^-64 collisions). */
  val ngramJaccard: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       s AS (SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 AS sh
             FROM t WHERE len(toks) >= 3)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              ${r6sql("""len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh)
                   - len(list_intersect(a.sh, b.sh)))""")} AS jaccard
       FROM s a JOIN s b ON a.doc_id < b.doc_id
       WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             >= 0.5
       ORDER BY 1, 2""") { (s, d) =>
    Dedup.exactJaccardPairs(Tables.documents(s, d), "doc_id", "text", 0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Prefix-filtered EXACT Jaccard join at 0.5 — same answer
    * relation as q39 (the oracle is the identical all-pairs SQL) by
    * a sub-quadratic plan: shingles sort by ascending global
    * document frequency, only the |S|−⌈t·|S|⌉+1 rarest index, and
    * the prefix-filtering lemma makes candidate recall 1 with no
    * hash family ([[Dedup.prefixFilterJaccardPairs]]). The
    * exact/approximate/sub-quadratic dedup triangle: q39 exact
    * all-pairs, q30 approximate sub-quadratic, q156 exact
    * sub-quadratic. */
  val prefixFilterJaccard: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       s AS (SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 AS sh
             FROM t WHERE len(toks) >= 3)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              ${r6sql("""len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh)
                   - len(list_intersect(a.sh, b.sh)))""")} AS jaccard
       FROM s a JOIN s b ON a.doc_id < b.doc_id
       WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             >= 0.5
       ORDER BY 1, 2""") { (s, d) =>
    Dedup.prefixFilterJaccardPairs(Tables.documents(s, d), "doc_id",
        "text", 0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** LSH-prefiltered embedding near-dup at 0.45 — the 100 TB path
    * for q34's semantics (cross-polytope candidates + exact verify,
    * never all-pairs: measured candidate ratio 0.077, recall 0.97 at
    * sf0.1). Banding is corpus-size-adaptive
    * ([[VectorOps.autoBanding]], VERDICT r7 #8). Hash-checked via
    * the planted-duplicate containment audit (q31/q41 pattern,
    * VERDICT r9 #4): the corpus is doubled with offset ids; every
    * identical-embedding pair shares its base band key in EVERY
    * band, so the LSH prefilter must emit it and the exact verify
    * must score it cosine 1 — banding, bucket join, pair dedup and
    * the exact-cosine verify are all on the hash-checked path (the
    * oracle recomputes the ground-truth pair set from embedding
    * equality alone). Recall on non-identical pairs stays measured
    * in AnnRecallSpec at fixture scale and the 10× tier. */
  val embeddingNearDupLsh: QueryDef = QueryDef.sql(
    """WITH u AS (SELECT vec_id, embedding FROM embeddings
                  UNION ALL
                  SELECT vec_id + 100000, embedding FROM embeddings)
       SELECT a.vec_id AS a_id, b.vec_id AS b_id, TRUE AS ok
       FROM u a JOIN u b
         ON a.embedding = b.embedding AND a.vec_id < b.vec_id
       ORDER BY 1, 2""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val doubled = emb.unionByName(emb.select(
      (col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    val found = VectorOps.nearDupPairsLshAuto(doubled, 0.45)
      .select(col("a_id"), col("b_id"), col("cos"))
    val truth = doubled.as("x").join(doubled.as("y"),
        col("x.embedding") === col("y.embedding")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
    truth.join(found, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        coalesce(col("cos") === 1.0, lit(false)).as("ok"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Multimodal metadata plumbing: opaque binary payload column +
    * typed metadata (byte length, content hash, frame count). The
    * decode itself is stubbed (graft.multimodal) — this query proves
    * the schema/partitioning path. */
  val multimodalMeta: QueryDef = QueryDef.sql(
    """SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       sha256(text) AS content_sha,
       CAST(octet_length(encode(text)) // 32 AS INTEGER) AS n_frames
       FROM documents ORDER BY doc_id""") { (s, d) =>
    Tables.documents(s, d)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"),
        length(col("payload")).as("byte_len"),
        sha2(col("payload"), 256).as("content_sha"),
        floor(length(col("payload")) / lit(32)).cast("int").as("n_frames"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end multimodal decode over REAL binary payloads: each doc
    * id is rendered into an actual BMP (byte-exact 54-byte header +
    * padded pixel rows) in one mapPartitions stage, then decoded by
    * the pure-JVM BMP parser in another — the full
    * encode → binary column → batch-decode plumbing. The oracle
    * recomputes the expected dimensions and file size arithmetically,
    * so a wrong header offset or row padding in either codec path
    * fails the hash compare. */
  val multimodalDecode: QueryDef = QueryDef.sql(
    """SELECT doc_id,
       CAST(1 + doc_id % 64 AS INTEGER) AS width,
       CAST(1 + doc_id % 48 AS INTEGER) AS height,
       CAST(54 + ((3 * (1 + doc_id % 64) + 3) // 4) * 4
            * (1 + doc_id % 48) AS INTEGER) AS byte_len
       FROM documents ORDER BY doc_id""") { (s, d) =>
    import s.implicits._
    val payloads = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id,
        Multimodal.encodeBmp((1 + id % 64).toInt, (1 + id % 48).toInt))))
      .toDF("doc_id", "payload")
    Multimodal.decodeFeatures(payloads).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("byte_len"))
      .orderBy(col("doc_id"))
  }

  /** Video-frame-subsampling shape over real binary payloads: each
    * doc id rendered to a BMP, split into 32-byte frames, every 4th
    * frame kept (pure Catalyst array ops — no UDF). The oracle
    * recomputes the expected (frame index, frame length) set from
    * the BMP size formula, so a wrong stride/boundary fails. */
  val frameSample: QueryDef = QueryDef.sql(
    """WITH m AS (SELECT doc_id,
         54 + ((3 * (1 + doc_id % 64) + 3) // 4) * 4
              * (1 + doc_id % 48) AS len
       FROM documents),
       f AS (SELECT doc_id,
               unnest(generate_series(0, len // 32 - 1)) AS i
             FROM m)
       SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
              32 AS frame_len
       FROM f WHERE i % 4 = 0 ORDER BY 1, 2""") { (s, d) =>
    import s.implicits._
    val payloads = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id,
        Multimodal.encodeBmp((1 + id % 64).toInt, (1 + id % 48).toInt))))
      .toDF("doc_id", "payload")
    Multimodal.sampleFrames(payloads, frameBytes = 32, stride = 4)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame_bytes")).as("frame_len"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Raw-file multimodal ingestion through Spark's `binaryFile`
    * source — the missing first step before q37's decode: a real
    * lake holds media as FILES (an images/ prefix of jpegs under an
    * object store), not as a column, and the scalable ingest is
    * `read.format("binaryFile")` (distributed listing, per-file
    * (path, length, content) rows, pathGlobFilter pushdown — never a
    * driver-side directory walk). Fixture setup materializes one
    * .bmp per sampled doc from the executors (foreachPartition — in
    * production the files already exist); the query then ingests the
    * directory, parses the id out of the filename, and decodes
    * dimensions from the CONTENT bytes. Oracle recomputes length and
    * dims arithmetically (same formulas as q37), so a truncated
    * write, a wrong glob, or a header mis-parse all fail the hash. */
  val binaryFileIngest: QueryDef = QueryDef.sql(
    """SELECT doc_id,
       CAST(54 + ((3 * (1 + doc_id % 64) + 3) // 4) * 4
            * (1 + doc_id % 48) AS BIGINT) AS file_len,
       CAST(1 + doc_id % 64 AS INTEGER) AS width,
       CAST(1 + doc_id % 48 AS INTEGER) AS height
       FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""") { (s, d) =>
    import s.implicits._
    // pid-suffixed like q82/q128: rewritten every call, not shared
    // across concurrent JVMs on the same sfDir
    val dir = graft.sources.ScratchDirs.perProcess("q181", d)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .filter((id: Long) => id % 10 == 0)
      .foreachPartition { (it: Iterator[Long]) =>
        it.foreach { id =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/img_$id.bmp"),
            Multimodal.encodeBmp((1 + id % 64).toInt, (1 + id % 48).toInt))
        }
      }
    s.read.format("binaryFile").option("pathGlobFilter", "*.bmp")
      .load(dir)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.bmp$", 1)
          .cast("long").as("doc_id"),
        col("length").as("file_len"), col("content"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (id, len, bytes) =>
        val (w, h) = Multimodal.decodeBmpDims(bytes).getOrElse((0, 0))
        (id, len, w, h)
      })
      .toDF("doc_id", "file_len", "width", "height")
      .orderBy(col("doc_id"))
  }

  /** Perceptual-hash image near-dup — the multimodal analogue of
    * MinHash text dedup: every doc id renders to a REAL patterned
    * BMP, the payload goes through the full decode → NN-resize(9×8)
    * → dHash pipeline ([[Multimodal.dHashBmp]]) in one mapPartitions
    * stage, and pairs within hamming ≤ 8 surface via a 9-band LSH
    * bucket join. Banding is pigeonhole-EXACT, not approximate:
    * 9 disjoint bands (one 8-bit + eight 7-bit) over a 64-bit hash
    * means any pair differing in ≤ 8 bits leaves at least one band
    * untouched — recall 1 by construction, so the exact all-pairs
    * oracle is valid. The scale shape is the same as q30/q38: bucket
    * groupBy + in-bucket pair explosion, never an all-pairs join;
    * the 8-byte hash rides along the shuffle so verification needs
    * no join-back. The ≤2⁸-buckets-per-band ceiling saturates beyond
    * ~10⁵ SURVIVING hashes (SURVEY §20.3 has the measured
    * wall); q367 is the corpus-scale companion — exact collapse
    * first, then wide-band multi-index probes. The fixture plants a near-dup per 5-doc group
    * (same image with pixel row 0 inverted → ≤ 8 flipped bits);
    * the oracle recomputes the hashes analytically from the same
    * integer pattern the BMP encoder writes, so a wrong header
    * offset, row padding, resize rounding, or bit order anywhere in
    * the codec path breaks the hash compare. */
  val phashNearDup: QueryDef = QueryDef.sql(
    """WITH p AS (
         SELECT doc_id,
                24 + (doc_id // 5) % 13 AS w,
                24 + (doc_id // 5) % 11 AS h,
                CASE WHEN doc_id % 5 <= 1 THEN (doc_id // 5) * 7919 + 1
                     ELSE doc_id * 104729 + 17 END AS seed,
                (doc_id % 5 = 1) AS inv
         FROM documents),
       grid AS (
         SELECT p.*, y.y, x.x,
                (y.y * h) // 8 AS sy,
                (x.x * w) // 9 AS sx1,
                ((x.x + 1) * w) // 9 AS sx2
         FROM p, generate_series(0,7) y(y), generate_series(0,7) x(x)),
       bits AS (
         SELECT doc_id, y, x,
           CASE WHEN (CASE WHEN inv AND sy = 0
                   THEN 255 - (seed*31 + sx2*17 + sy*29 + sx2*sy*13) % 256
                   ELSE (seed*31 + sx2*17 + sy*29 + sx2*sy*13) % 256 END)
               > (CASE WHEN inv AND sy = 0
                   THEN 255 - (seed*31 + sx1*17 + sy*29 + sx1*sy*13) % 256
                   ELSE (seed*31 + sx1*17 + sy*29 + sx1*sy*13) % 256 END)
           THEN 1 ELSE 0 END AS b
         FROM grid),
       hashes AS (
         SELECT doc_id,
           sum(CASE WHEN y*8+x < 32
               THEN b * (1::BIGINT << (31 - (y*8+x))) ELSE 0 END) AS hi,
           sum(CASE WHEN y*8+x >= 32
               THEN b * (1::BIGINT << (63 - (y*8+x))) ELSE 0 END) AS lo
         FROM bits GROUP BY 1)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              CAST(bit_count(xor(a.hi, b.hi))
                   + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
       FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8
       ORDER BY 1, 2""") { (s, d) =>
    import s.implicits._
    val hashes = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id / 5
        val w = (24 + g % 13).toInt
        val h = (24 + g % 11).toInt
        val seed = if (id % 5 <= 1) g * 7919 + 1 else id * 104729 + 17
        val bmp = Multimodal.encodeBmpPattern(w, h, seed, id % 5 == 1)
        (id, Multimodal.dHashBmp(bmp))
      }).toDF("doc_id", "phash")
    // 9 disjoint bands: band 0 = top 8 bits, bands 1-8 = 7 bits each
    val bandVals = array((0 until 9).map { i =>
      if (i == 0) shiftrightunsigned(col("phash"), 56).bitwiseAND(lit(255L))
      else shiftrightunsigned(col("phash"), 56 - 7 * i).bitwiseAND(lit(127L))
    }: _*)
    // chunked bucket expansion (ops.Graph.cooccurPairs, the q230
    // machinery) with the phash riding as a struct payload: an
    // identical-image cluster at corpus scale concentrates ONE
    // (band, bucket) cell, and the previous row-local collect+
    // flatten built that cell's full k² pair array inside one row
    // (the r13 #4 entries-vs-bytes blindspot — key count small,
    // bytes unbounded). Chunk slices bound both the collected array
    // and each explode.
    val members = hashes
      .select(posexplode(bandVals).as(Seq("band", "bucket")),
        struct(col("doc_id"), col("phash")).as("m"))
    graft.ops.Graph.cooccurPairs(members, Seq("band", "bucket"), "m")
      .select(col("u.doc_id").as("a_id"), col("v.doc_id").as("b_id"),
        bit_count(col("u.phash").bitwiseXOR(col("v.phash")))
          .cast("int").as("hamming"))
      // verify BEFORE the dedup shuffle: the hamming test is a
      // codegen'd row-local filter, so the distinct only moves the
      // passing pairs (~1% of candidates), not every bucket collision
      .filter(col("hamming") <= 8)
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Two-stage media near-dup at corpus scale — the production shape
    * SURVEY §19.3 recorded when it proved q148's narrow banding
    * (9 bands × 7-8 bits = ≤256 buckets/band) saturates beyond
    * ~10⁴-10⁵ images and goes quadratic BY CONSTRUCTION:
    *
    * Stage 1 — exact collapse: identical images share a phash, so a
    * hash-groupBy folds every exact-duplicate cluster to one
    * representative BEFORE any banding (the q29 discipline applied
    * to media). At web-corpus scale this is where most of the mass
    * goes — an image shared by 10⁶ pages is ONE stage-2 row instead
    * of a 10¹² pair bucket, and the cluster size rides along as the
    * dedup-accounting output.
    *
    * Stage 2 — multi-index Hamming search over the survivors
    * (Norouzi, Punjani & Fleet, "Fast Search in Hamming Space with
    * Multi-Index Hashing", CVPR 2012): 4 disjoint 16-bit bands; by
    * pigeonhole a pair within hamming ≤ 8 differs by ≤ ⌊8/4⌋ = 2
    * bits in SOME band, so probing each band key's full radius-2
    * neighborhood (1 + 16 + C(16,2) = 137 deterministic XOR masks)
    * preserves RECALL 1 — the brute-force oracle stays valid — while
    * each band has 2¹⁶ buckets instead of ≤ 2⁸. The honest
    * arithmetic (see [[Dedup.hammingNearDupPairs]], measured by
    * SURVEY §20.3): candidate volume drops from ≈ n²/30 to
    * ≈ n²/239 — the 512× bucket-space gain re-multiplied by the
    * 137-probe expansion nets ≈ 8× at fixed parameters, and the
    * durable scale levers are stage-1 collapse plus the paper's
    * width ≈ log₂ n band rule (fewer, wider bands as the corpus
    * grows; q148 is the narrow-band radius-0 degenerate case). The
    * candidate join is a plain equi-join on (band, key) — streaming,
    * spillable, AQE-splittable — never a per-bucket collect, and the
    * phash rides both sides so verification needs no join-back.
    *
    * Fixture plants real exact-dup mass: per 5-doc group, ids
    * {5g, 5g+2, 5g+3} encode the SAME image (stage-1 cluster of 3),
    * 5g+1 is the row-0-inverted near-dup (≤ 8 flipped bits of the
    * cluster hash), 5g+4 is unique. Output: near-dup pairs BETWEEN
    * cluster representatives with both cluster sizes — the complete
    * dedup ledger (exact mass + near mass) in one result. */
  val mediaNearDupScale: QueryDef = QueryDef.sql(
    """WITH p AS (
         SELECT doc_id,
                24 + (doc_id // 5) % 13 AS w,
                24 + (doc_id // 5) % 11 AS h,
                CASE WHEN doc_id % 5 = 4 THEN doc_id * 104729 + 17
                     ELSE (doc_id // 5) * 7919 + 1 END AS seed,
                (doc_id % 5 = 1) AS inv
         FROM documents),
       grid AS (
         SELECT p.*, y.y, x.x,
                (y.y * h) // 8 AS sy,
                (x.x * w) // 9 AS sx1,
                ((x.x + 1) * w) // 9 AS sx2
         FROM p, generate_series(0,7) y(y), generate_series(0,7) x(x)),
       bits AS (
         SELECT doc_id, y, x,
           CASE WHEN (CASE WHEN inv AND sy = 0
                   THEN 255 - (seed*31 + sx2*17 + sy*29 + sx2*sy*13) % 256
                   ELSE (seed*31 + sx2*17 + sy*29 + sx2*sy*13) % 256 END)
               > (CASE WHEN inv AND sy = 0
                   THEN 255 - (seed*31 + sx1*17 + sy*29 + sx1*sy*13) % 256
                   ELSE (seed*31 + sx1*17 + sy*29 + sx1*sy*13) % 256 END)
           THEN 1 ELSE 0 END AS b
         FROM grid),
       hashes AS (
         SELECT doc_id,
           sum(CASE WHEN y*8+x < 32
               THEN b * (1::BIGINT << (31 - (y*8+x))) ELSE 0 END) AS hi,
           sum(CASE WHEN y*8+x >= 32
               THEN b * (1::BIGINT << (63 - (y*8+x))) ELSE 0 END) AS lo
         FROM bits GROUP BY 1),
       reps AS (
         SELECT hi, lo, min(doc_id) AS rep, count(*) AS sz
         FROM hashes GROUP BY 1, 2)
       SELECT a.rep AS a_id, b.rep AS b_id,
              CAST(bit_count(xor(a.hi, b.hi))
                   + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming,
              a.sz AS a_sz, b.sz AS b_sz
       FROM reps a JOIN reps b ON a.rep < b.rep
       WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8
       ORDER BY 1, 2""") { (s, d) =>
    import s.implicits._
    val hashes = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, Multimodal.fixturePhash(id))))
      .toDF("doc_id", "phash")
    // stage 1: exact collapse — one map-side-combinable shuffle on
    // the 8-byte hash; every identical-image cluster leaves as a
    // single (rep, sz) row
    val reps = hashes.groupBy(col("phash"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("sz"))
    // stage 2: multi-index Hamming probes over the survivors, with
    // the cluster size riding both sides (no join-back) —
    // Dedup.hammingNearDupPairs, 4 disjoint 16-bit bands, radius-2
    // probe masks
    Dedup.hammingNearDupPairs(reps, "rep", "phash",
        threshold = 8, bands = 4, payloadCols = Seq("sz"))
      .select(col("a_id"), col("b_id"), col("hamming"),
        col("a_sz"), col("b_sz"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Cross-modal dedup ledger — multi-SIGNAL entity resolution over
    * the corpus: two documents belong to the same duplicate entity
    * when they share normalized text (exact text dup) OR their
    * images are perceptually near (phash hamming ≤ 8, the q367
    * fixture mapping), and the relation is closed TRANSITIVELY — a
    * page with doc A's text and doc B's image merges A and B. This
    * is the composition every multimodal training-data pipeline
    * runs before keep-one-per-entity sampling: per-signal match
    * generation, edge union, connected components.
    *
    * Scale shape: each signal's exact tier is a window-min star
    * edge set (ONE shuffle on the signal key, no pair expansion —
    * star edges preserve exactly the clique's connectivity); the
    * image near tier is [[Dedup.hammingNearDupPairs]] (multi-index
    * probes over the exact-collapsed survivors, §q367); components
    * run through [[Dedup.nearDupComponents]] (iterative min-label
    * with the single-task union-find endgame). Singletons surface
    * with cluster_id = own id via one left join against the corpus
    * spine; sizes are a window count — no step is quadratic in
    * anything but true duplicate mass. */
  val crossmodalDedup: QueryDef = QueryDef.sql(
    """WITH RECURSIVE
       p AS (
         SELECT doc_id,
                24 + (doc_id // 5) % 13 AS w,
                24 + (doc_id // 5) % 11 AS h,
                CASE WHEN doc_id % 5 = 4 THEN doc_id * 104729 + 17
                     ELSE (doc_id // 5) * 7919 + 1 END AS seed,
                (doc_id % 5 = 1) AS inv
         FROM documents),
       grid AS (
         SELECT p.*, y.y, x.x,
                (y.y * h) // 8 AS sy,
                (x.x * w) // 9 AS sx1,
                ((x.x + 1) * w) // 9 AS sx2
         FROM p, generate_series(0,7) y(y), generate_series(0,7) x(x)),
       bits AS (
         SELECT doc_id, y, x,
           CASE WHEN (CASE WHEN inv AND sy = 0
                   THEN 255 - (seed*31 + sx2*17 + sy*29 + sx2*sy*13) % 256
                   ELSE (seed*31 + sx2*17 + sy*29 + sx2*sy*13) % 256 END)
               > (CASE WHEN inv AND sy = 0
                   THEN 255 - (seed*31 + sx1*17 + sy*29 + sx1*sy*13) % 256
                   ELSE (seed*31 + sx1*17 + sy*29 + sx1*sy*13) % 256 END)
           THEN 1 ELSE 0 END AS b
         FROM grid),
       hashes AS (
         SELECT doc_id,
           sum(CASE WHEN y*8+x < 32
               THEN b * (1::BIGINT << (31 - (y*8+x))) ELSE 0 END) AS hi,
           sum(CASE WHEN y*8+x >= 32
               THEN b * (1::BIGINT << (63 - (y*8+x))) ELSE 0 END) AS lo
         FROM bits GROUP BY 1),
       img AS (SELECT doc_id,
                 min(doc_id) OVER (PARTITION BY hi, lo) AS rep
               FROM hashes),
       eimg AS (SELECT doc_id AS u, rep AS v FROM img
                WHERE doc_id <> rep),
       reps AS (SELECT hi, lo, min(doc_id) AS rep
                FROM hashes GROUP BY 1, 2),
       epair AS (SELECT a.rep AS u, b.rep AS v
                 FROM reps a JOIN reps b ON a.rep < b.rep
                 WHERE bit_count(xor(a.hi, b.hi))
                       + bit_count(xor(a.lo, b.lo)) <= 8),
       tx AS (SELECT doc_id,
                min(doc_id) OVER (PARTITION BY lower(trim(text)))
                  AS rep
              FROM documents),
       etext AS (SELECT doc_id AS u, rep AS v FROM tx
                 WHERE doc_id <> rep),
       e AS (SELECT u, v FROM eimg
             UNION ALL SELECT u, v FROM epair
             UNION ALL SELECT u, v FROM etext),
       sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
       lbl(u, l) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT s2.v, lbl.l FROM lbl JOIN sym s2 ON s2.u = lbl.u),
       m AS (SELECT u AS doc_id, min(l) AS cluster_id
             FROM lbl GROUP BY u)
       SELECT doc_id, cluster_id,
              count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       FROM m ORDER BY doc_id""") { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    // persist: the hash relation feeds two DIFFERENT exchanges (the
    // star-edge window on full rows, the reps partial agg) that
    // ReuseExchange cannot dedup — without the cache the per-doc
    // BMP encode + dHash, the query's dominant row cost, runs twice
    val hashes = graft.Caching.retain(
      docs.select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.fixturePhash(id))))
        .toDF("doc_id", "phash").persist())
    // exact tiers as window-min star edges: one shuffle per signal,
    // connectivity identical to the full clique's
    val wImg = Window.partitionBy(col("phash"))
    val imgStar = hashes
      .withColumn("rep", min(col("doc_id")).over(wImg))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("a_id"), col("rep").as("b_id"))
    val wTxt = Window.partitionBy(lower(trim(col("text"))))
    val textStar = docs
      .select(col("doc_id"), col("text"))
      .withColumn("rep", min(col("doc_id")).over(wTxt))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("a_id"), col("rep").as("b_id"))
    // image near tier over the exact-collapsed survivors (q367)
    val reps = hashes.groupBy(col("phash"))
      .agg(min(col("doc_id")).as("rep"))
    val nearPairs = Dedup.hammingNearDupPairs(reps, "rep", "phash",
      threshold = 8, bands = 4).select(col("a_id"), col("b_id"))
    val comp = Dedup.nearDupComponents(
      imgStar.unionByName(textStar).unionByName(nearPairs))
    docs.select(col("doc_id"))
      .join(comp.select(col("id").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .orderBy(col("doc_id"))
  }

  /** Audio-fingerprint near-dup — the WAV twin of q148's perceptual
    * image dedup: each doc renders to a real PCM-16 payload whose
    * square wave carries a 16-window amplitude envelope
    * ([[Multimodal.encodeWavEnvelope]]), the fingerprint is recovered
    * through the REAL decode path (RIFF header parse + windowed RMS —
    * integer-exact because every window's RMS is exactly amp/32768),
    * and near-dups (envelopes differing in ≤ 2 of 16 windows — the
    * "same track, small edit" signature) surface via a 3-band bucket
    * join that is pigeonhole-exact: ≤ 2 differing symbols across 3
    * disjoint bands leave one band identical, so recall is 1 by
    * construction and the all-pairs oracle is valid. The oracle
    * recomputes the envelope symbols analytically from the same
    * integer pattern the encoder writes — a wrong RIFF offset,
    * window boundary, or quantization breaks the compare. The
    * fixture plants one single-window edit per 4-doc group; symbol
    * verification runs BEFORE the dedup shuffle (q148's lesson). */
  val audioFingerprint: QueryDef = QueryDef.sql(
    """WITH f AS (
         SELECT doc_id, w.w,
           CASE WHEN doc_id % 4 = 1 AND w.w = (doc_id // 4) % 16
                THEN 1 + ((doc_id // 4) * 31 + w.w * 7 + 29) % 63
                WHEN doc_id % 4 <= 1
                THEN 1 + ((doc_id // 4) * 31 + w.w * 7) % 63
                ELSE 1 + (doc_id * 1009 + w.w * 7919) % 63 END AS v
         FROM documents, generate_series(0, 15) w(w)),
       d AS (
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                sum(CASE WHEN a.v <> b.v THEN 1 ELSE 0 END) AS n_diff
         FROM f a JOIN f b ON a.w = b.w AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT a_id, b_id, CAST(n_diff AS INTEGER) AS n_diff
       FROM d WHERE n_diff <= 2 ORDER BY 1, 2""") { (s, d) =>
    import s.implicits._
    val fps = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id / 4
        val amps = Array.tabulate(16) { w =>
          val v =
            if (id % 4 == 1 && w == (g % 16).toInt)
              1 + ((g * 31 + w * 7 + 29) % 63)
            else if (id % 4 <= 1) 1 + ((g * 31 + w * 7) % 63)
            else 1 + ((id * 1009 + w * 7919) % 63)
          (v << 9).toShort
        }
        val wav = Multimodal.encodeWavEnvelope(8000, 800, amps)
        // real decode: header parse + windowed RMS, then exact
        // integer recovery (window RMS is exactly v·512/32768 = v/64)
        val vs = Multimodal.wavRmsWindows(wav, 16)
          .map(r => (math.round(r * 32768.0) >> 9).toInt)
        (id, vs)
      }).toDF("doc_id", "fp")
    // 3 disjoint symbol bands (6+5+5 of 16): hash each slice — a
    // hash collision only ADDS candidates (verified below), it can
    // never drop a true pair (equal slices always share the bucket)
    val bandVals = array(
      hash(slice(col("fp"), 1, 6)),
      hash(slice(col("fp"), 7, 5)),
      hash(slice(col("fp"), 12, 5)))
    // chunked expansion via ops.Graph.cooccurPairs (q148's r14
    // conversion, same rationale): the fp array rides as the struct
    // payload, so the hot-bucket k² stays chunk-bounded and the
    // symbol-diff verify still runs before the dedup shuffle
    val members = fps
      .select(posexplode(bandVals).as(Seq("band", "bucket")),
        struct(col("doc_id"), col("fp")).as("m"))
    graft.ops.Graph.cooccurPairs(members, Seq("band", "bucket"), "m")
      .select(col("u.doc_id").as("a_id"), col("v.doc_id").as("b_id"),
        aggregate(zip_with(col("u.fp"), col("v.fp"),
            (x, y) => when(x =!= y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("int").as("n_diff"))
      .filter(col("n_diff") <= 2)
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  /** PNG decode + perceptual fingerprint per document — the
    * COMPRESSED-image upgrade of q148's media tier (VERDICT r13 #5:
    * real corpora are JPEG/PNG, not BMP): each doc's deterministic
    * pattern is encoded as a REAL PNG (`javax.imageio` writer, zlib
    * DEFLATE inside) and decoded back through the full ImageIO pixel
    * path; the output row carries the DECODED dimensions and the
    * 9×8 dHash computed from decoded pixels. PNG is lossless, so an
    * integer-SQL oracle recomputes dims and both hash halves exactly
    * from the generative formula — any decode defect (orientation,
    * channel order, stride) breaks the hash compare. Row-local
    * mapPartitions decode, no shuffle until the final sort. */
  val pngDecodePhash: QueryDef = QueryDef.sql(
    """WITH p AS (
         SELECT doc_id,
                24 + (doc_id // 5) % 13 AS w,
                24 + (doc_id // 5) % 11 AS h,
                CASE WHEN doc_id % 5 <= 1 THEN (doc_id // 5) * 7919 + 1
                     ELSE doc_id * 104729 + 17 END AS seed,
                (doc_id % 5 = 1) AS inv
         FROM documents),
       grid AS (
         SELECT p.*, y.y, x.x,
                (y.y * h) // 8 AS sy,
                (x.x * w) // 9 AS sx1,
                ((x.x + 1) * w) // 9 AS sx2
         FROM p, generate_series(0,7) y(y), generate_series(0,7) x(x)),
       bits AS (
         SELECT doc_id, y, x,
           CASE WHEN (CASE WHEN inv AND sy = 0
                   THEN 255 - (seed*31 + sx2*17 + sy*29 + sx2*sy*13) % 256
                   ELSE (seed*31 + sx2*17 + sy*29 + sx2*sy*13) % 256 END)
               > (CASE WHEN inv AND sy = 0
                   THEN 255 - (seed*31 + sx1*17 + sy*29 + sx1*sy*13) % 256
                   ELSE (seed*31 + sx1*17 + sy*29 + sx1*sy*13) % 256 END)
           THEN 1 ELSE 0 END AS b
         FROM grid),
       hashes AS (
         SELECT doc_id,
           sum(CASE WHEN y*8+x < 32
               THEN b * (1::BIGINT << (31 - (y*8+x))) ELSE 0 END) AS hi,
           sum(CASE WHEN y*8+x >= 32
               THEN b * (1::BIGINT << (63 - (y*8+x))) ELSE 0 END) AS lo
         FROM bits GROUP BY 1)
       SELECT p.doc_id, CAST(p.w AS BIGINT) AS width,
              CAST(p.h AS BIGINT) AS height,
              CAST(hashes.hi AS BIGINT) AS phash_hi,
              CAST(hashes.lo AS BIGINT) AS phash_lo
       FROM p JOIN hashes USING (doc_id) ORDER BY doc_id""") { (s, d) =>
    import s.implicits._
    // codec work is CPU-bound and the doc-id scan is one split at
    // fixture file sizes — spread it across the session's parallelism
    // before the per-row encode/decode (guide §2.5 input skew), and
    // persist the decoded rows so the final sort's range-boundary
    // sample pass doesn't execute the whole codec subtree a second
    // time (RangePartitioner samples the child by running it).
    // Decode ONCE per row: dims and dHash from the same BufferedImage.
    val decoded = graft.ops.Spread(
        Tables.documents(s, d).select(col("doc_id")))
      .as[Long]
      .mapPartitions(_.map { id =>
        val g = id / 5
        val w = (24 + g % 13).toInt
        val h = (24 + g % 11).toInt
        val seed = if (id % 5 <= 1) g * 7919 + 1 else id * 104729 + 17
        val png = Multimodal.encodeImagePattern("png", w, h, seed,
          id % 5 == 1)
        val img = Multimodal.decodeImage(png).get
        val phash = Multimodal.dHashDecoded(img)
        (id, img.getWidth.toLong, img.getHeight.toLong,
          (phash >>> 32) & 0xFFFFFFFFL, phash & 0xFFFFFFFFL)
      })
      .toDF("doc_id", "width", "height", "phash_hi", "phash_lo")
    graft.ops.Spread.persistSorted(decoded, col("doc_id"))
  }

  /** JPEG decode metadata — the LOSSY half of the compressed-image
    * tier: each doc's pattern rides a real baseline JPEG
    * (`javax.imageio` writer: color convert + DCT + Huffman) and is
    * decoded back through the full ImageIO path. Dimensions survive
    * lossy coding exactly, so the oracle checks them analytically;
    * the decoded-pixel tolerance goldens live in `MultimodalSpec`
    * (hash-exact oracles on lossy pixels would be encoder-version
    * pinning, not correctness). Row-local decode, one final sort. */
  val jpegDecodeMeta: QueryDef = QueryDef.sql(
    """SELECT doc_id,
              CAST(24 + (doc_id // 5) % 13 AS BIGINT) AS width,
              CAST(24 + (doc_id // 5) % 11 AS BIGINT) AS height,
              CAST((24 + (doc_id // 5) % 13)
                 * (24 + (doc_id // 5) % 11) AS BIGINT) AS n_px
       FROM documents ORDER BY doc_id""") { (s, d) =>
    import s.implicits._
    // same shape fixes as q362: spread the one-split scan before the
    // CPU-bound codec stage, persist before the sort so the range-
    // sample pass reads the cache instead of re-encoding every JPEG
    val decoded = graft.ops.Spread(
        Tables.documents(s, d).select(col("doc_id")))
      .as[Long]
      .mapPartitions(_.map { id =>
        val g = id / 5
        val w = (24 + g % 13).toInt
        val h = (24 + g % 11).toInt
        val jpg = Multimodal.encodeImagePattern("jpg", w, h,
          g * 7919 + 1, invertRow0 = false)
        val img = Multimodal.decodeImage(jpg).get
        (id, img.getWidth.toLong, img.getHeight.toLong,
          img.getWidth.toLong * img.getHeight)
      })
      .toDF("doc_id", "width", "height", "n_px")
    graft.ops.Spread.persistSorted(decoded, col("doc_id"))
  }

  /** Animated-GIF frame statistics — the VIDEO-modality upgrade of
    * the byte-slicing frame sampler: each doc renders a real
    * multi-frame GIF container (`javax.imageio` sequence writer,
    * LZW-coded palette frames) with 2-4 frames, and the decode path
    * WALKS THE CONTAINER (reader.getNumImages + per-frame read) —
    * per frame, the decoded luminance sum and pixel count. The
    * pattern uses ≤128 grays, so the GIF palette is exact and the
    * frames round-trip losslessly: the oracle recomputes every
    * frame's pixel sum analytically in integer SQL, making a decode
    * defect anywhere (container walk, palette, LZW, frame order)
    * a hash mismatch. Row-local mapPartitions decode. */
  val gifFrameStats: QueryDef = QueryDef.sql(
    """WITH p AS (SELECT doc_id,
                24 + (doc_id // 5) % 13 AS w,
                24 + (doc_id // 5) % 11 AS h,
                (doc_id // 5) * 7919 + 1 AS seed,
                2 + doc_id % 3 AS nf
         FROM documents),
       fr AS (SELECT p.*, CAST(u.f AS BIGINT) AS f
              FROM p, unnest(generate_series(0, nf - 1)) u(f)),
       px AS (SELECT doc_id, f, w, h,
               sum((seed*31 + x.x*17 + y.y*29 + x.x*y.y*13 + f*41)
                   % 128) AS lum
              FROM fr,
                unnest(generate_series(0, w - 1)) x(x),
                unnest(generate_series(0, h - 1)) y(y)
              GROUP BY 1, 2, 3, 4)
       SELECT doc_id, f AS frame_idx, CAST(lum AS BIGINT) AS lum_sum,
              CAST(w * h AS BIGINT) AS n_px
       FROM px ORDER BY 1, 2""") { (s, d) =>
    import s.implicits._
    // spread the one-split doc-id scan before the CPU-bound
    // encode+decode, persist the per-frame rows so the final sort's
    // range-boundary sample doesn't re-run the whole codec pipeline
    val frames = graft.ops.Spread(
        Tables.documents(s, d).select(col("doc_id")))
      .as[Long]
      .mapPartitions(_.flatMap { id =>
        val g = id / 5
        val w = (24 + g % 13).toInt
        val h = (24 + g % 11).toInt
        val nf = (2 + id % 3).toInt
        val gif = Multimodal.encodeGifAnimation(w, h, g * 7919 + 1, nf)
        Multimodal.gifFrames(gif).zipWithIndex.map { case (img, f) =>
          var lum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              lum += img.getRGB(x, y) & 0xFF
              x += 1
            }
            y += 1
          }
          (id, f.toLong, lum, img.getWidth.toLong * img.getHeight)
        }
      })
      .toDF("doc_id", "frame_idx", "lum_sum", "n_px")
    graft.ops.Spread.persistSorted(frames,
      col("doc_id"), col("frame_idx"))
  }

  /** Amortized GIF container decode — q366's operator in the
    * DEPLOYED regime (the q54-vs-q130 discipline applied to media):
    * q366 times encode+decode end-to-end because its payloads are
    * synthesized in-plan, but a real pipeline's media payloads are
    * INPUTS — the cost that matters at 100 TB is the container-walk
    * decode over stored bytes. The animated-GIF payload table is
    * staged ONCE per fixture generation ([[FixtureMemo]] keyed on
    * the documents table's content signature, concurrency-safe
    * across Verify/Bench JVMs) and the timed region is exactly:
    * parquet scan of binary payloads → ImageIO sequence walk →
    * per-frame luminance reduce. Same analytic oracle as q366 (the
    * payload bytes are deterministic, so staging changes WHERE the
    * encode cost lands, never the answer). */
  val gifDecodeAmortized: QueryDef = QueryDef.sql(
    """WITH p AS (SELECT doc_id,
                24 + (doc_id // 5) % 13 AS w,
                24 + (doc_id // 5) % 11 AS h,
                (doc_id // 5) * 7919 + 1 AS seed,
                2 + doc_id % 3 AS nf
         FROM documents),
       fr AS (SELECT p.*, CAST(u.f AS BIGINT) AS f
              FROM p, unnest(generate_series(0, nf - 1)) u(f)),
       px AS (SELECT doc_id, f, w, h,
               sum((seed*31 + x.x*17 + y.y*29 + x.x*y.y*13 + f*41)
                   % 128) AS lum
              FROM fr,
                unnest(generate_series(0, w - 1)) x(x),
                unnest(generate_series(0, h - 1)) y(y)
              GROUP BY 1, 2, 3, 4)
       SELECT doc_id, f AS frame_idx, CAST(lum AS BIGINT) AS lum_sum,
              CAST(w * h AS BIGINT) AS n_px
       FROM px ORDER BY 1, 2""") { (s, d) =>
    import s.implicits._
    val stage = s"${System.getProperty("java.io.tmpdir")}/graft_gifstage_" +
      Integer.toHexString(d.hashCode)
    graft.sources.FixtureMemo.once(stage,
        graft.sources.FixtureMemo.tableSig(d, "documents")) {
      graft.ops.Spread(
          Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map { id =>
          val g = id / 5
          val w = (24 + g % 13).toInt
          val h = (24 + g % 11).toInt
          val nf = (2 + id % 3).toInt
          (id, Multimodal.encodeGifAnimation(w, h, g * 7919 + 1, nf))
        }).toDF("doc_id", "payload")
        .write.mode("overwrite").parquet(s"$stage/gifs.parquet")
    }
    // spread the staged-payload scan (one file ≈ one split) before
    // the CPU-bound container walk; persist before the sort so the
    // range-sample pass reads decoded rows, not a second decode
    val frames = graft.ops.Spread(
        s.read.parquet(s"$stage/gifs.parquet")
          .select(col("doc_id"), col("payload")))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, gif) =>
        Multimodal.gifFrames(gif).zipWithIndex.map { case (img, f) =>
          var lum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              lum += img.getRGB(x, y) & 0xFF
              x += 1
            }
            y += 1
          }
          (id, f.toLong, lum, img.getWidth.toLong * img.getHeight)
        }
      })
      .toDF("doc_id", "frame_idx", "lum_sum", "n_px")
    graft.ops.Spread.persistSorted(frames,
      col("doc_id"), col("frame_idx"))
  }

  /** Incremental media dedup against a PERSISTED index — q361's
    * daily-ingest story told for images: the corpus's perceptual
    * hashes live in a bucketed (band, key) MIH index built once
    * ([[Dedup.mihKeys]] → `bucketBy(16, band, key)` + sortBy, the
    * q207 amortization); each day's batch is classified per doc as
    *   'dup_exact'  (phash already in the index),
    *   'dup_near'   (within hamming 8 of an index hash — MIH probe
    *                 join, recall 1, deterministic best match =
    *                 min (hamming, index id)),
    *   'dup_batch'  (same phash as an earlier batch doc),
    *   'new'        (none of the above),
    * with the matched id and distance riding along. Scale shape:
    * the per-run shuffles are batch-sized ONLY — batch reps for the
    * exact tier, batch·4·137 probe rows for the near tier; the
    * index side's scan comes out of its buckets with zero exchange
    * and streams sorted (merge join — no corpus-sized hash-map
    * build). Designed truth at every SF: the fixture mapping plants
    * all four branches (id ≡ 0,8,12 mod 20 → exact vs the indexed
    * cluster; ≡ 16 mod 20 → the row-0-inverted near-dup; the
    * unique tier id ≡ 4 mod 20 pairs 40j+4 with 40j+24 — same
    * image, both in the batch, neither indexed → keep-first 'new' +
    * 'dup_batch'). */
  val mediaDedupIncremental: QueryDef = QueryDef.sql(
    """WITH p0 AS (
         SELECT doc_id,
                CASE WHEN doc_id % 40 = 24 THEN doc_id - 20
                     ELSE doc_id END AS eff
         FROM documents),
       p AS (
         SELECT doc_id,
                24 + (eff // 5) % 13 AS w,
                24 + (eff // 5) % 11 AS h,
                CASE WHEN doc_id % 5 = 4 THEN eff * 104729 + 17
                ELSE (eff // 5) * 7919 + 1 END AS seed,
                (doc_id % 5 = 1) AS inv
         FROM p0),
       grid AS (
         SELECT p.*, y.y, x.x,
                (y.y * h) // 8 AS sy,
                (x.x * w) // 9 AS sx1,
                ((x.x + 1) * w) // 9 AS sx2
         FROM p, generate_series(0,7) y(y), generate_series(0,7) x(x)),
       bits AS (
         SELECT doc_id, y, x,
           CASE WHEN (CASE WHEN inv AND sy = 0
                   THEN 255 - (seed*31 + sx2*17 + sy*29 + sx2*sy*13) % 256
                   ELSE (seed*31 + sx2*17 + sy*29 + sx2*sy*13) % 256 END)
               > (CASE WHEN inv AND sy = 0
                   THEN 255 - (seed*31 + sx1*17 + sy*29 + sx1*sy*13) % 256
                   ELSE (seed*31 + sx1*17 + sy*29 + sx1*sy*13) % 256 END)
           THEN 1 ELSE 0 END AS b
         FROM grid),
       hashes AS (
         SELECT doc_id,
           sum(CASE WHEN y*8+x < 32
               THEN b * (1::BIGINT << (31 - (y*8+x))) ELSE 0 END) AS hi,
           sum(CASE WHEN y*8+x >= 32
               THEN b * (1::BIGINT << (63 - (y*8+x))) ELSE 0 END) AS lo
         FROM bits GROUP BY 1),
       bt AS (SELECT doc_id, hi, lo,
                min(doc_id) OVER (PARTITION BY hi, lo) AS first_id
              FROM hashes WHERE doc_id % 4 = 0),
       ix AS (SELECT hi, lo, min(doc_id) AS i_id
              FROM hashes WHERE doc_id % 4 <> 0 GROUP BY 1, 2),
       exd AS (SELECT b.doc_id, b.first_id, b.hi, b.lo, ix.i_id
               FROM bt b LEFT JOIN ix USING (hi, lo)),
       nearc AS (SELECT e.doc_id, i.i_id,
                   bit_count(xor(e.hi, i.hi))
                     + bit_count(xor(e.lo, i.lo)) AS h
                 FROM exd e JOIN ix i
                   ON e.i_id IS NULL
                  AND bit_count(xor(e.hi, i.hi))
                      + bit_count(xor(e.lo, i.lo)) BETWEEN 1 AND 8),
       bestn AS (SELECT doc_id, i_id, h FROM (
                   SELECT doc_id, i_id, h,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY h, i_id) AS rn
                   FROM nearc) WHERE rn = 1)
       SELECT e.doc_id,
         CASE WHEN e.i_id IS NOT NULL THEN 'dup_exact'
              WHEN bn.doc_id IS NOT NULL THEN 'dup_near'
              WHEN e.doc_id <> e.first_id THEN 'dup_batch'
              ELSE 'new' END AS status,
         CASE WHEN e.i_id IS NOT NULL THEN e.i_id
              WHEN bn.doc_id IS NOT NULL THEN bn.i_id
              WHEN e.doc_id <> e.first_id THEN e.first_id
              ELSE NULL END AS match_id,
         CAST(CASE WHEN e.i_id IS NOT NULL THEN 0
              WHEN bn.doc_id IS NOT NULL THEN bn.h
              ELSE NULL END AS INTEGER) AS hamming
       FROM exd e LEFT JOIN bestn bn USING (doc_id)
       ORDER BY doc_id""") { (s, d) =>
    import s.implicits._
    val hashes = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        (id, Multimodal.fixturePhash(id, effFold = true))))
      .toDF("doc_id", "phash")
    // persist: batch feeds the bReps aggregate AND the final
    // classification join through different exchanges — cached, the
    // per-doc encode+hash runs once per run instead of twice
    val batch = graft.Caching.retain(
      hashes.filter(col("doc_id") % 4 === 0).persist())
    // persisted index: MIH key rows bucketed+sorted by (band, key),
    // written once per (session, fixture) — the q207 discipline
    val tbl = s"graft_b_mediaidx_${Integer.toHexString(d.hashCode)}"
    if (!s.catalog.tableExists(tbl)) {
      val idx = hashes.filter(col("doc_id") % 4 =!= 0)
        .groupBy(col("phash")).agg(min(col("doc_id")).as("i_id"))
      val base = graft.sources.ScratchDirs.perProcess("q370", d)
      graft.dedup.Dedup.mihKeys(idx, "phash", 4)
        // one file per bucket so the scan's sort order survives and
        // the merge join needs no index-side sort either
        .repartition(16, col("band"), col("key"))
        .write.mode("overwrite").option("path", s"$base/idx")
        .bucketBy(16, "band", "key").sortBy("band", "key")
        .saveAsTable(tbl)
    }
    val keyedIndex = s.table(tbl)
    val iReps = keyedIndex.select(col("phash"), col("i_id")).distinct()
    val bReps = batch.groupBy(col("phash"))
      .agg(min(col("doc_id")).as("first_id"))
    // exact tier: one batch-rep-sized shuffle against the index reps
    val exd = graft.Caching.retain(
      bReps.join(iReps, Seq("phash"), "left").persist())
    // near tier: probes only from phashes with no exact match
    val near = graft.dedup.Dedup.hammingProbeJoin(
        exd.filter(col("i_id").isNull)
          .select(col("phash"), col("first_id")),
        "first_id", "phash", keyedIndex, "i_id",
        threshold = 8, bands = 4)
      .filter(col("hamming") >= 1)
    val bestNear = near.groupBy(col("a_id"))
      .agg(min(struct(col("hamming"), col("b_id"))).as("bn"))
      .select(col("a_id").as("first_id"),
        col("bn.b_id").as("n_id"), col("bn.hamming").as("n_h"))
    val cls = exd.join(bestNear, Seq("first_id"), "left")
    batch.join(cls, Seq("phash"))
      .select(col("doc_id"),
        when(col("i_id").isNotNull, lit("dup_exact"))
          .when(col("n_id").isNotNull, lit("dup_near"))
          .when(col("doc_id") =!= col("first_id"), lit("dup_batch"))
          .otherwise(lit("new")).as("status"),
        when(col("i_id").isNotNull, col("i_id"))
          .when(col("n_id").isNotNull, col("n_id"))
          .when(col("doc_id") =!= col("first_id"), col("first_id"))
          .otherwise(lit(null).cast("long")).as("match_id"),
        when(col("i_id").isNotNull, lit(0))
          .when(col("n_id").isNotNull, col("n_h"))
          .otherwise(lit(null).cast("int")).cast("int").as("hamming"))
      .orderBy(col("doc_id"))
  }

  /** Per-user consecutive-event gap in minutes — the reference's
    * trip_minutes expression (unix_timestamp subtraction / 60,
    * yellow_taxi_etl.py:70-74 via Features.minutesBetween) under an
    * oracle row: E3 was the one SURVEY §2 expression with only unit
    * coverage (VERDICT r2 missing #1). One shuffle on user_id. */
  val eventGapMinutes: QueryDef = QueryDef.sql(
    s"""WITH g AS (
         SELECT user_id, event_id, epoch_us(ts) // 1000000 AS s,
                lag(epoch_us(ts) // 1000000) OVER
                  (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  AS prev_s
         FROM events)
       SELECT user_id, event_id,
              ${r6sql("(s - prev_s) / 60.0")}
                AS gap_min
       FROM g WHERE prev_s IS NOT NULL ORDER BY user_id, event_id""") {
    (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          r6(graft.ops.Features.minutesBetween(col("prev_ts"), col("ts")))
            .as("gap_min"))
        .orderBy(col("user_id"), col("event_id"))
  }

  /** The streaming path under the driver's correctness signal
    * (VERDICT r2 missing #2): StreamOps.windowedCounts runs as a real
    * Structured Streaming query (file source → watermarked windowed
    * agg → memory sink) through [[graft.streaming.StreamOps.drain]],
    * whose availableNow trigger processes the fixture to completion
    * and terminates. Complete output mode makes the final sink state
    * exactly the batch q24 semantics — deterministic and
    * oracle-expressible. The memory sink is the harness adapter; a
    * recoverable production write is a `foreachBatch` append under a
    * checkpoint (StreamingSpec's lwwUpsert restart case). */
  val streamTumbling: QueryDef = QueryDef.sql(
    s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, ${r6sql("sum(value)")} AS total_value
       FROM events GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    graft.streaming.StreamOps.drain(s, d, "complete") {
      graft.streaming.StreamOps.windowedCounts(
          graft.streaming.StreamOps.eventsStream(s, d))
    }
      .select(col("window_start"), col("event_type"), col("n"),
        r6(col("total_value")).as("total_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Streaming state-store dedup under the correctness gate:
    * at-least-once redelivery (every other event re-emitted twice,
    * row-local) collapsed back to exactly-once by
    * `dropDuplicatesWithinWatermark` before a keyed aggregation
    * ([[graft.streaming.StreamOps.dedupedCounts]]) — the third
    * streaming-dedup shape next to q120 (stream-static anti-join)
    * and q71/q73's batch forms, and the only one whose dedup state
    * lives in the state store with watermark eviction. Oracle: the
    * duplicates are planted, so exact per-type counts off the batch
    * table are the right answer iff the dedup removed precisely the
    * redelivered copies. */
  val streamDropDup: QueryDef = QueryDef.sql(
    s"""SELECT event_type, count(*) AS n,
       ${r6sql("sum(value)")} AS total_value
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    graft.streaming.StreamOps.drain(s, d, "complete") {
      graft.streaming.StreamOps.dedupedCounts(
          graft.streaming.StreamOps.eventsStream(s, d))
    }
      .select(col("event_type"), col("n"),
        r6(col("total_value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Stateful streaming sessionization under the correctness gate —
    * flatMapGroupsWithState with event-time timeouts, the flagship
    * arbitrary-state operator, hash-compared against a relational
    * oracle. Emission semantics are deterministic for a bounded
    * replay: every session closed INLINE by a later event emits
    * exactly the batch q25 row (µs-exact state —
    * [[graft.streaming.StreamOps.sessionizeStream]]); each
    * user's final open session emits iff the terminal watermark
    * (max event time − 2 h, ms-truncated) passes its 30-min gap
    * timeout — the oracle encodes that rule verbatim in the WHERE
    * clause. At scale the state store partitions by user and the
    * watermark bounds open-session memory exactly as in production;
    * the memory sink + AvailableNow trigger is the harness adapter
    * (same as q47/q120/q144). */
  val streamSessionize: QueryDef = QueryDef.sql(
    s"""WITH g AS (
         SELECT user_id, event_id, epoch_us(ts) AS us,
                epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  AS gap
         FROM events),
       s AS (
         SELECT user_id, us,
                CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000
                              THEN 1 ELSE 0 END) OVER
                  (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_idx
         FROM g),
       agg AS (
         SELECT user_id, session_idx, count(*) AS n_events,
                min(us) AS start_us, max(us) AS last_us
         FROM s GROUP BY 1, 2),
       wm AS (SELECT max(epoch_us(ts)) AS mx FROM events),
       lastidx AS (SELECT user_id, max(session_idx) AS last_idx
                   FROM agg GROUP BY 1)
       SELECT a.user_id, a.start_us AS session_start_us,
              a.n_events,
              ${r6sql("(a.last_us - a.start_us) / 60000000.0")} AS duration_min
       FROM agg a
       JOIN lastidx l ON a.user_id = l.user_id, wm
       WHERE a.session_idx < l.last_idx
          OR (a.last_us + 1800000000) // 1000 < mx // 1000 - 7200000
       ORDER BY 1, 2""") { (s, d) =>
    graft.streaming.StreamOps.drain(s, d, "append") {
      graft.streaming.StreamOps.sessionizeStream(
          graft.streaming.StreamOps.eventsStream(s, d))
    }
      .select(col("user_id"), col("session_start_us"), col("n_events"),
        r6(col("duration_min")).as("duration_min"))
      .orderBy(col("user_id"), col("session_start_us"))
  }

  /** Streaming ingest dedup against a persisted index — q73's
    * nightly-batch shape under Structured Streaming: the second half of
    * the corpus arrives as a file stream, every micro-batch is
    * anti-joined against the static fingerprint index of the first
    * half (stream-static joins buffer NO state — the index is
    * re-planned per batch), and the survivors fold into a
    * complete-mode min-keep aggregate so the output is deterministic
    * regardless of arrival/partition order (a streaming
    * dropDuplicates keeps an arbitrary first). The split boundary is
    * one bounded driver scalar (like the PQ codebooks — documented);
    * everything else stays in-plan. */
  val streamStaticDedup: QueryDef = QueryDef.sql(
    """WITH m AS (SELECT max(doc_id) // 2 AS mid FROM documents),
       d1 AS (SELECT DISTINCT md5(lower(trim(text))) AS fingerprint
              FROM documents, m WHERE doc_id < mid),
       d2 AS (SELECT doc_id, md5(lower(trim(text))) AS fingerprint
              FROM documents, m WHERE doc_id >= mid)
       SELECT fingerprint, min(doc_id) AS keep_id FROM d2
       WHERE fingerprint NOT IN (SELECT fingerprint FROM d1)
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val mid = docs.agg((max(col("doc_id")) / 2).cast("long"))
      .collect()(0).getLong(0)
    val index = docs.filter(col("doc_id") < mid)
      .select(TextOps.fingerprint(col("text")).as("fingerprint"))
      .distinct()
    graft.streaming.StreamOps.drain(s, d, "complete") {
      graft.streaming.StreamOps.documentsStream(s, d)
        .filter(col("doc_id") >= mid)
        .select(col("doc_id"), TextOps.fingerprint(col("text"))
          .as("fingerprint"))
        .join(index, Seq("fingerprint"), "left_anti")
        .groupBy(col("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"))
    }
      .select(col("fingerprint"), col("keep_id"))
      .orderBy(col("fingerprint"))
  }

  /** Streaming benchmark-decontamination guard — q56's semantics
    * under Structured Streaming, the shape a LIVE ingest pipeline
    * runs: documents arrive as a file stream, each micro-batch's
    * 3-grams join the STATIC broadcast benchmark gram set
    * (stream-static joins buffer no state; the tiny benchmark side
    * re-plans per batch), and per-doc shared-gram counts fold into a
    * complete-mode aggregate so the flag set is deterministic
    * regardless of arrival order. Output = the contaminated docs
    * only (the quarantine list a guard emits); oracle = the same
    * set computed relationally. At scale the per-doc count state is
    * bounded by the contaminated population (only gram-matching
    * rows reach the aggregate), and an operational deployment
    * windows the complete-mode fold per ingest epoch exactly like
    * q120's restart-after-merge contract. */
  val streamContamination: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       g AS (SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
             FROM t WHERE len(toks) >= 3),
       bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0)
       SELECT g.doc_id, count(*) AS n_shared FROM g JOIN bench USING (g)
       WHERE g.doc_id % 20 <> 0
       GROUP BY 1 HAVING count(*) >= 10 ORDER BY 1""") { (s, d) =>
    val bench = Tables.documents(s, d)
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(TextOps.shingles(col("toks"), 3)).as("g"))
      .distinct()
    graft.streaming.StreamOps.drain(s, d, "complete") {
      graft.streaming.StreamOps.documentsStream(s, d)
        .filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          explode(TextOps.shingles(col("toks"), 3)).as("g"))
        .join(broadcast(bench), "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
    }
      .filter(col("n_shared") >= 10)
      .select(col("doc_id"), col("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Stream-stream interval join under the correctness gate — the
    * remaining Structured Streaming join family (q47 windowed agg,
    * q120/q144 stream-static, q151 arbitrary state, and now
    * double-watermarked stream-stream): each event pairs with the
    * same user's events in the 5 minutes after it. The time-range
    * predicate is what lets the streaming join evict buffered rows
    * once the watermark passes their window — bounded state at any
    * ingest rate — and for a bounded replay the emitted pair set is
    * exactly the batch range join, which is the oracle
    * (StreamingSpec asserts the same equivalence against the batch
    * plan). Output is the pair list + gap seconds, totally ordered. */
  val streamIntervalJoin: QueryDef = QueryDef.sql(
    """SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
              CAST((epoch_us(r.ts) - epoch_us(l.ts)) // 1000000
                   AS BIGINT) AS gap_s
       FROM events l JOIN events r
         ON l.user_id = r.user_id
        AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 5 MINUTE
        AND l.event_id <> r.event_id
       ORDER BY 1, 2, 3""") { (s, d) =>
    graft.streaming.StreamOps.drain(s, d, "append", floor = 8) {
      graft.streaming.StreamOps.intervalJoin(
          graft.streaming.StreamOps.eventsStream(s, d),
          graft.streaming.StreamOps.eventsStream(s, d), withinMinutes = 5)
    }
      .select(col("user_id"), col("l_id"), col("r_id"),
        expr("(unix_micros(r_ts) - unix_micros(l_ts)) div 1000000")
          .as("gap_s"))
      .orderBy(col("user_id"), col("l_id"), col("r_id"))
  }

  /** Stream-stream LEFT OUTER interval join (VERDICT r10 #7 — the
    * one streaming join mode q153's inner join doesn't cover):
    * matched pairs emit immediately; an unmatched left emits once
    * with null right columns when the watermark PROVES no match can
    * still arrive (no speculative emission, no retraction, state
    * still watermark-bounded). The provability horizon is part of
    * the semantics and therefore part of the oracle: for a bounded
    * replay, a left row's null record exists iff the end of its
    * join window sits below the final watermark — max(ts) − 2 h,
    * millisecond-truncated the way the engine tracks event time —
    * so the oracle is the batch left range join RESTRICTED to that
    * horizon on the unmatched side. Lefts younger than the horizon
    * are correctly absent: the stream cannot yet distinguish "no
    * match" from "match still in flight". */
  val streamIntervalJoinLeft: QueryDef = QueryDef.sql(
    """WITH mx AS (SELECT to_timestamp(epoch_ms(max(ts))
                     / 1000.0) AS m FROM events),
       p AS (SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
               CAST((epoch_us(r.ts) - epoch_us(l.ts)) // 1000000
                    AS BIGINT) AS gap_s
             FROM events l JOIN events r
               ON l.user_id = r.user_id
              AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 5 MINUTE
              AND l.event_id <> r.event_id),
       u AS (SELECT l.user_id, l.event_id AS l_id,
               CAST(NULL AS BIGINT) AS r_id,
               CAST(NULL AS BIGINT) AS gap_s
             FROM events l, mx
             WHERE l.ts + INTERVAL 5 MINUTE < mx.m - INTERVAL 2 HOUR
               AND NOT EXISTS (SELECT 1 FROM p
                               WHERE p.l_id = l.event_id))
       SELECT user_id, l_id, r_id, gap_s FROM p
       UNION ALL SELECT user_id, l_id, r_id, gap_s FROM u
       ORDER BY user_id, l_id, r_id NULLS FIRST""") { (s, d) =>
    graft.streaming.StreamOps.drain(s, d, "append", floor = 8) {
      graft.streaming.StreamOps.intervalJoin(
          graft.streaming.StreamOps.eventsStream(s, d),
          graft.streaming.StreamOps.eventsStream(s, d), withinMinutes = 5,
          joinType = "leftOuter")
    }
      .select(col("user_id"), col("l_id"), col("r_id"),
        expr("(unix_micros(r_ts) - unix_micros(l_ts)) div 1000000")
          .as("gap_s"))
      .orderBy(col("user_id"), col("l_id"), col("r_id"))
  }

  /** Stream-stream FULL OUTER interval join — the third and last
    * join mode of the family (q153 inner, q347 left outer). Both
    * sides' unmatched rows emit with nulls once PROVABLE, and the
    * two provability horizons are asymmetric (see
    * [[graft.streaming.StreamOps.intervalJoin]]): a left's
    * null needs the watermark past l.ts + 5 min; a right's only
    * past r.ts (no earlier-or-equal left can still arrive). The
    * oracle is the batch full range join restricted by BOTH
    * horizons on the respective null sides — again exact, again
    * hash-checked. */
  val streamIntervalJoinFull: QueryDef = QueryDef.sql(
    """WITH mx AS (SELECT to_timestamp(epoch_ms(max(ts))
                     / 1000.0) AS m FROM events),
       p AS (SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
               CAST((epoch_us(r.ts) - epoch_us(l.ts)) // 1000000
                    AS BIGINT) AS gap_s
             FROM events l JOIN events r
               ON l.user_id = r.user_id
              AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 5 MINUTE
              AND l.event_id <> r.event_id),
       ul AS (SELECT l.user_id, l.event_id AS l_id,
               CAST(NULL AS BIGINT) AS r_id,
               CAST(NULL AS BIGINT) AS gap_s
             FROM events l, mx
             WHERE l.ts + INTERVAL 5 MINUTE < mx.m - INTERVAL 2 HOUR
               AND NOT EXISTS (SELECT 1 FROM p
                               WHERE p.l_id = l.event_id)),
       ur AS (SELECT r.user_id, CAST(NULL AS BIGINT) AS l_id,
               r.event_id AS r_id, CAST(NULL AS BIGINT) AS gap_s
             FROM events r, mx
             WHERE r.ts < mx.m - INTERVAL 2 HOUR
               AND NOT EXISTS (SELECT 1 FROM p
                               WHERE p.r_id = r.event_id))
       SELECT user_id, l_id, r_id, gap_s FROM p
       UNION ALL SELECT user_id, l_id, r_id, gap_s FROM ul
       UNION ALL SELECT user_id, l_id, r_id, gap_s FROM ur
       ORDER BY user_id, l_id NULLS FIRST, r_id NULLS FIRST""") { (s, d) =>
    graft.streaming.StreamOps.drain(s, d, "append", floor = 8) {
      graft.streaming.StreamOps.intervalJoin(
          graft.streaming.StreamOps.eventsStream(s, d),
          graft.streaming.StreamOps.eventsStream(s, d), withinMinutes = 5,
          joinType = "fullOuter")
    }
      .select(col("user_id"), col("l_id"), col("r_id"),
        expr("(unix_micros(r_ts) - unix_micros(l_ts)) div 1000000")
          .as("gap_s"))
      .orderBy(col("user_id"), col("l_id"), col("r_id"))
  }

  /** The pure-SQL user surface under the correctness gate: the whole
    * query is one `spark.sql` string driving the engine's registered
    * extension functions (graft_shingle_hashes / graft_jaccard —
    * injected via SparkSessionExtensions, GraftExtensionsSpec covers
    * registration) — consecutive-document shingle similarity, the
    * adjacency audit a curation pipeline runs over an ordered dump.
    * The oracle computes the identical Jaccard from string shingle
    * lists: hashed and string set sizes agree barring a 2^-64
    * collision, the same equivalence every dedup oracle here rests
    * on. Proves a SQL-only user gets the native codegen'd
    * expressions with no Scala API. */
  val sqlSurface: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       s AS (SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 AS sh
             FROM t WHERE len(toks) >= 3)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              ${r6sql("""len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh)
                   - len(list_intersect(a.sh, b.sh)))""")} AS jaccard
       FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
       ORDER BY 1""") { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    QueryDef.sqlOver(s, docs, "graft_q159_docs") { docs =>
      s"""WITH h AS (
           SELECT doc_id, graft_shingle_hashes(toks, 3) AS hs
           FROM $docs WHERE size(toks) >= 3)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                ${r6sql("graft_jaccard(a.hs, b.hs)")} AS jaccard
         FROM h a JOIN h b ON b.doc_id = a.doc_id + 1
         ORDER BY a_id"""
    }
  }

  /** Near-dup cluster collapse: MinHash pairs → connected components
    * (iterative min-label propagation) → (doc, cluster id, cluster
    * size). The step after pair generation in a real dedup pipeline —
    * "these two match" becomes "keep one per transitive cluster".
    * Oracle: the exact-Jaccard pair set under a DuckDB recursive CTE
    * doing the same label propagation (valid on the same grounds as
    * q30 — the LSH verify stage is exact and banding recall ≈ 1).
    * The sf0.01 fixture contains a 3-doc chain, so transitive closure
    * beyond direct pairs is exercised, not just mirrored pairs. */
  val dedupClusters: QueryDef = QueryDef.sql(
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
       m AS (SELECT u AS doc_id, min(l) AS cluster_id FROM lbl GROUP BY u)
       SELECT doc_id, cluster_id,
              count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       FROM m ORDER BY doc_id""") { (s, d) =>
    val pairs = Dedup.minhashNearDupPairs(Tables.documents(s, d),
      "doc_id", "text", 0.6)
    Dedup.nearDupComponents(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Int8 scalar quantization round-trip profile: per vector, the
    * quantization scale, the relative L2 reconstruction error
    * through VectorOps.quantizeInt8 → dequantize, and the code
    * range — the memory lever (4× vs float32) real vector stores
    * pull first at scale, oracle-checked because the quantizer is
    * defined with the engine-portable floor(x/scale + 0.5) code
    * function. */
  val quantizeError: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       s AS (SELECT vec_id, v,
               greatest(list_max(list_transform(v, x -> abs(x))),
                        4.9e-324) / 127.0 AS sc
             FROM e),
       r AS (SELECT vec_id, sc,
               list_sum(list_transform(v,
                 x -> pow(x - floor(x / sc + 0.5) * sc, 2))) AS err2,
               list_sum(list_transform(v, x -> x * x)) AS x2,
               list_min(list_transform(v, x -> floor(x / sc + 0.5)))
                 AS cmin,
               list_max(list_transform(v, x -> floor(x / sc + 0.5)))
                 AS cmax
             FROM s)
       SELECT vec_id, ${r6sql("sc")} AS q_scale,
              ${r6sql("sqrt(err2 / x2)")} AS rel_err,
              CAST(cmin AS INTEGER) AS code_min,
              CAST(cmax AS INTEGER) AS code_max
       FROM r ORDER BY vec_id""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = VectorOps.quantizeInt8(emb)
    val recon = VectorOps.dequantize(q)
      .withColumnRenamed("embedding", "recon")
    emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .join(q, "vec_id").join(recon, "vec_id")
      .select(col("vec_id"), r6(col("q_scale")).as("q_scale"),
        r6(sqrt(
          aggregate(zip_with(col("v"), col("recon"),
            (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
          / aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)))
          .as("rel_err"),
        array_min(col("q_codes")).cast("int").as("code_min"),
        array_max(col("q_codes")).cast("int").as("code_max"))
      .orderBy(col("vec_id"))
  }

  /** Corpus-level token frequency (the classic one-shuffle wordcount
    * — every other text op in the catalog is row-local; this is the
    * corpus-granularity statistic): explode tokens → partial-agg
    * count → threshold. At 100 TB: map-side combine bounds the
    * shuffle by vocabulary size, not corpus size. */
  val tokenFrequency: QueryDef = QueryDef.sql(
    s"""SELECT token, count(*) AS n
       FROM (SELECT unnest(${tokensSql("text")}) AS token
             FROM documents)
       GROUP BY token HAVING count(*) >= 5
       ORDER BY n DESC, token""") { (s, d) =>
    Tables.documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .orderBy(col("n").desc, col("token"))
  }

  /** Deterministic train/val/test assignment by content-independent
    * id hash (md5 prefix mod 100 → 90/5/5) — the split-leakage
    * defence: the same doc lands in the same split on every engine,
    * every run, every shard layout. md5 is the portable hash (Spark
    * xxhash64 and DuckDB hash() differ); row-local, no shuffle. */
  val hashSplit: QueryDef = QueryDef.sql(
    """SELECT doc_id,
       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) % 100 AS INTEGER) AS bucket,
       CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 < 90 THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 < 95 THEN 'val'
            ELSE 'test' END AS split
       FROM documents ORDER BY doc_id""") { (s, d) =>
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long") % 100).cast("int")
    Tables.documents(s, d)
      .select(col("doc_id"), bucket.as("bucket"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** RAG/embedding-prep document chunking: overlapping token windows
    * (W=64, stride 48 → 16-token overlap), emitted as (doc_id,
    * chunk_idx, n_chunk_tokens, chunk) — the step between curation
    * and embedding in retrieval pipelines. Entirely row-local
    * (sequence + slice + explode fuse into the scan; output rows ≈
    * tokens/stride per doc); at 100 TB chunking rides the corpus
    * read with zero shuffle. Window starts run to floor((n−1)/S) so
    * every token is covered and the last chunk may be short —
    * identical slicing arithmetic on both engines. */
  val chunkWindows: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       c AS (SELECT doc_id, toks,
               unnest(generate_series(0, (len(toks) - 1) // 48)) AS i
             FROM t)
       SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
              CAST(len(toks[i*48+1 : least(i*48+64, len(toks))])
                   AS BIGINT) AS n_chunk_tokens,
              array_to_string(toks[i*48+1 : least(i*48+64, len(toks))],
                              ' ') AS chunk
       FROM c ORDER BY doc_id, chunk_idx""") { (s, d) =>
    val W = 64; val S = 48
    Tables.documents(s, d)
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          floor((size(col("toks")) - 1) / S).cast("int"))).as("i"))
      .select(col("doc_id"), col("i").cast("long").as("chunk_idx"),
        slice(col("toks"), col("i") * S + 1, lit(W)).as("__c"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("__c")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("__c")).as("chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Leakage-safe train/val split: q51's deterministic md5 split
    * keyed by the near-dup CLUSTER, not the document — near-dups
    * never straddle the boundary, the contamination mode a naive
    * per-doc split has (a train doc's near-copy in val inflates
    * eval). Group key = connected-component cluster id for clustered
    * docs (q48's operator), the doc's own id otherwise; same-cluster
    * ⇒ same key ⇒ same split BY CONSTRUCTION on both engines.
    * Oracle: q48's recursive-CTE components + the same md5 bucket. */
  val leakageSafeSplit: QueryDef = QueryDef.sql(
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
       g AS (SELECT d.doc_id,
               COALESCE(m.cluster_id, d.doc_id) AS group_id
             FROM documents d LEFT JOIN m USING (doc_id))
       SELECT doc_id, group_id,
         CAST(CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 AS INTEGER) AS bucket,
         CASE WHEN CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
              ELSE 'val' END AS split
       FROM g ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val comp = graft.dedup.Dedup.nearDupComponents(
        graft.dedup.Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.6))
      .select(col("id").as("doc_id"), col("cluster_id"))
    val bucket = (conv(substring(md5(col("group_id").cast("string")), 1, 8),
      16, 10).cast("long") % 100).cast("int")
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
      .select(col("doc_id"), col("group_id"), bucket.as("bucket"),
        when(bucket < 80, "train").otherwise("val").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic per-epoch training order: every document gets a
    * reproducible pseudo-random position per epoch (rank of
    * md5(epoch:doc_id) — content-independent, engine-portable, no
    * RNG state), the property that makes a training run replayable
    * from any step on any cluster layout. Per-epoch ranking is a
    * range-partitioned sort here (exact global positions, oracle-
    * checkable); at 100 TB the same hash ordering degrades
    * gracefully to bucketed shuffling — files bucketed by hash
    * prefix, exact order only within buckets — without changing the
    * key. */
  val epochShuffle: QueryDef = QueryDef.sql(
    """SELECT doc_id, CAST(epoch AS INTEGER) AS epoch,
         CAST(row_number() OVER (PARTITION BY epoch
           ORDER BY md5(CAST(epoch AS VARCHAR) || ':'
                        || CAST(doc_id AS VARCHAR)), doc_id)
           AS BIGINT) AS pos
       FROM documents, (SELECT unnest([0, 1]) AS epoch) e
       ORDER BY doc_id, epoch""") { (s, d) =>
    val h = md5(concat(col("epoch").cast("string"), lit(":"),
      col("doc_id").cast("string")))
    val w = Window.partitionBy(col("epoch")).orderBy(h, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array(lit(0), lit(1))).as("epoch"))
      .select(col("doc_id"), col("epoch"),
        row_number().over(w).cast("long").as("pos"))
      .orderBy(col("doc_id"), col("epoch"))
  }

  /** PII scrubbing parity: plant a deterministic email + phone per
    * doc, scrub with TextOps.scrubPii, verify counts and the md5 of
    * the scrubbed text against DuckDB running the same RE2-portable
    * patterns — a wrong replacement, ordering, or boundary in either
    * regex fails the hash compare on every row. */
  val piiScrub: QueryDef = {
    // neither pattern contains a single quote, so SQL-literal
    // embedding is safe as-is
    val email = TextOps.emailPattern
    val phone = TextOps.phonePattern
    QueryDef.sql(
      s"""WITH p AS (SELECT doc_id,
            text || ' contact: user' || CAST(doc_id AS VARCHAR)
                 || '@example.com or 555-123-4567' AS t
          FROM documents)
          SELECT doc_id,
            CAST(len(regexp_extract_all(t, '$email')) AS INTEGER)
              AS n_email,
            CAST(len(regexp_extract_all(t, '$phone')) AS INTEGER)
              AS n_phone,
            md5(regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'),
                '$phone', '<PHONE>', 'g')) AS scrubbed_md5
          FROM p ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .withColumn("t", concat(col("text"), lit(" contact: user"),
          col("doc_id").cast("string"), lit("@example.com or 555-123-4567")))
        .select(col("doc_id"),
          TextOps.emailCount(col("t")).cast("int").as("n_email"),
          TextOps.phoneCount(col("t")).cast("int").as("n_phone"),
          md5(TextOps.scrubPii(col("t"))).as("scrubbed_md5"))
        .orderBy(col("doc_id"))
    }
  }

  /** Product-quantization encode under the driver's oracle: both
    * engines derive the SAME md5-seeded codebook (m=8 subspaces,
    * k=16 codes, dsub=8 over d=64) and argmin-assign every subvector
    * — codes and in-order IEEE distance sums must agree exactly.
    * The trained-codebook and ADC-search quality paths are PqSpec's
    * job (q54); this row pins the encode MECHANISM — subspace
    * slicing, distance fold, tie-break — against an independent
    * engine. */
  val pqEncodeDet: QueryDef = QueryDef.sql(
    s"""WITH cb AS (
         SELECT s.sub, c.code,
           list((CAST(('0x' || substr(md5(s.sub || '_' || c.code || '_'
                  || d.dim), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0
                ORDER BY d.dim) AS c_v
         FROM (SELECT unnest(range(8)) AS sub) s,
              (SELECT unnest(range(16)) AS code) c,
              (SELECT unnest(range(8)) AS dim) d
         GROUP BY s.sub, c.code),
       sv AS (
         SELECT vec_id, s.sub AS sub,
           list_slice(CAST(embedding AS DOUBLE[]),
             s.sub * 8 + 1, s.sub * 8 + 8) AS sv
         FROM embeddings, (SELECT unnest(range(8)) AS sub) s),
       d2 AS (
         -- expanded ||sv||^2 + ||c||^2 - 2<sv,c>, each term an
         -- in-order sum — mirrors the Spark side's codegen dots
         -- term for term (same IEEE ops, same order)
         SELECT vec_id, sv.sub, cb.code,
           list_sum(list_transform(generate_series(1, 8),
             i -> sv.sv[i] * sv.sv[i]))
           + list_sum(list_transform(generate_series(1, 8),
               i -> cb.c_v[i] * cb.c_v[i]))
           - 2.0 * list_sum(list_transform(generate_series(1, 8),
               i -> sv.sv[i] * cb.c_v[i])) AS d2
         FROM sv JOIN cb ON sv.sub = cb.sub),
       r AS (
         SELECT vec_id, sub, code, d2, row_number() OVER
             (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
         FROM d2)
       SELECT vec_id, CAST(sub AS INTEGER) AS sub,
              CAST(code AS INTEGER) AS code,
              ${r6sql("d2")} AS err2
       FROM r WHERE rn = 1 ORDER BY vec_id, sub""") { (s, d) =>
    val cb = VectorOps.pqCodebookDeterministic(s, 8, 16, 8)
    VectorOps.pqEncode(Tables.embeddings(s, d), cb, 8, 8)
      .select(col("pq_id").as("vec_id"), col("sub"), col("code"),
        r6(col("err2")).as("err2"))
      .orderBy(col("vec_id"), col("sub"))
  }

  /** ADC top-k over a Lloyd-trained PQ codebook (m=16, k=16 → 16
    * bytes/vector, 16× vs float32): the compressed-domain search
    * path — scan codes, sum LUT entries. Approximate vs the exact
    * q32 baseline (PqSpec recall gates), but DETERMINISTIC given the
    * codebook — so the codebook is frozen to parquet
    * ([[graft.sources.OracleAux]]) and the oracle recomputes encode,
    * ADC, shortlist and re-rank over the same doubles
    * ([[PqOracle.adcTopKSql]]), hash-checking the full search path
    * (VERDICT r10 #1). */
  val pqAdc: QueryDef = QueryDef.sql(
      PqOracle.adcTopKSql("q54_codebook")) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
    val cb = graft.sources.OracleAux.freezeAndRead(s,
      VectorOps.pqTrain(VectorOps.normalize(emb), 16, 16, 4, iters = 1),
      "q54_codebook", graft.sources.OracleAux.embeddingsTag(emb))
    VectorOps.pqAdcTopK(emb, queries, 3, cb, 16, 4)
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVF-PQ ANN — the FAISS-style composition of q40's cell probing
    * with q54's compressed ADC scan + exact re-rank: the one plan
    * whose per-query cost shrinks on both axes at 100 TB (rows via
    * nprobe/nlist, bytes via 16× codes). Approximate on two axes →
    * rows-only; AnnRecallSpec gates measured recall vs the exact q32
    * baseline. Fixture-scale honesty: this row times the FULL
    * build+train+encode+search (~3.7 s at sf0.1, the catalog's
    * heaviest batch row) — at 5k vectors the index structure costs
    * more than the probe saves, exactly like q40-vs-q32; the
    * structure pays at the scale where a full scan stops fitting the
    * time budget, and the deployed regime amortizes everything but
    * the probe scan (persisted cells+codes, q73's index pattern).
    * Approximate on two axes vs the exact baseline (AnnRecallSpec
    * gates), but deterministic given codebook + centroids — both are
    * frozen to parquet and the oracle recomputes assignment, probes,
    * ADC and re-rank over the same doubles
    * ([[PqOracle.ivfPqTopKSql]], VERDICT r10 #1). The search assigns
    * and probes with the centroids READ BACK from the freeze, so plan
    * and oracle agree even when the frozen partition predates this
    * build. */
  val annIvfPq: QueryDef = QueryDef.sql(
      PqOracle.ivfPqTopKSql("q116_codebook", "q116_centroids")) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
    val tag = graft.sources.OracleAux.embeddingsTag(emb)
    val cb = graft.sources.OracleAux.freezeAndRead(s,
      VectorOps.pqTrain(VectorOps.normalize(emb), 16, 16, 4, iters = 1),
      "q116_codebook", tag)
    VectorOps.ivfPqTopK(emb, queries, 3, cb, 16, 4,
        centroidsHook = c =>
          graft.sources.OracleAux.freezeAndRead(s, c, "q116_centroids", tag))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Gopher-style repetition heuristics (Rae et al. '21 §A1.1 /
    * RefinedWeb / Dolma rule family): fraction of the doc consumed by
    * its most frequent word and 2-gram, and the duplicate-3-gram
    * fraction — the filters LLM pipelines run before training to
    * drop boilerplate and degenerate repetition. All row-local
    * (sorted-run fold, no per-doc shuffle); thresholds documented on
    * the flag column. */
  val qualityRepetition: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
       g2 AS (SELECT doc_id, unnest(list_transform(
                generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS g
              FROM f),
       c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
       a2 AS (SELECT doc_id, max(cnt) AS maxg, sum(cnt) AS total
              FROM c2 GROUP BY 1),
       w AS (SELECT doc_id, unnest(toks) AS tok FROM f),
       cw AS (SELECT doc_id, tok, count(*) AS cnt FROM w GROUP BY 1, 2),
       aw AS (SELECT doc_id, max(cnt) AS maxw, sum(cnt) AS n FROM cw
              GROUP BY 1),
       g3 AS (SELECT doc_id,
                len(list_distinct(list_transform(
                  generate_series(1, len(toks) - 2),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                  AS dist3,
                len(toks) - 2 AS total3
              FROM f)
       SELECT a2.doc_id,
         ${r6sql("maxw::DOUBLE / n")}
           AS topword_frac,
         ${r6sql("maxg::DOUBLE / total")}
           AS top2gram_frac,
         ${r6sql("1.0 - dist3::DOUBLE / total3")}
           AS dup3gram_frac,
         (maxw::DOUBLE / n <= 0.2 AND maxg::DOUBLE / total <= 0.1
          AND 1.0 - dist3::DOUBLE / total3 <= 0.6) AS quality_pass
       FROM a2 JOIN aw ON a2.doc_id = aw.doc_id
               JOIN g3 ON a2.doc_id = g3.doc_id
       ORDER BY a2.doc_id""") { (s, d) =>
    val toks = TextOps.tokens(col("text"))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        // gram COUNTS are what the metrics need, so grams run as
        // codegen positional hashes (graft_gram_hashes), not
        // interpreted zip_with string chains — identical counts,
        // cheaper sort/distinct on longs
        (TextOps.maxMultiplicity(col("toks")).cast("double")
          / size(col("toks"))).as("topword"),
        (TextOps.maxMultiplicity(
            graft.functions.GraftFunctions.gramHashes(col("toks"), 2))
          .cast("double") / (size(col("toks")) - 1)).as("top2"),
        (lit(1.0) - size(array_distinct(
            graft.functions.GraftFunctions.gramHashes(col("toks"), 3)))
          .cast("double") / (size(col("toks")) - 2)).as("dup3"))
    base.select(col("doc_id"),
        r6(col("topword")).as("topword_frac"),
        r6(col("top2")).as("top2gram_frac"),
        r6(col("dup3")).as("dup3gram_frac"),
        (col("topword") <= 0.2 && col("top2") <= 0.1 &&
          col("dup3") <= 0.6).as("quality_pass"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark-contamination check (the n-gram-overlap decontamin-
    * ation step every LLM data pipeline runs — GPT-3 appendix C /
    * Dolma): docs sharing >= 10 distinct 3-grams with any doc of the
    * held-out "benchmark" slice (doc_id % 20 == 0 here) are flagged.
    * Scale shape: benchmark gram sets are tiny by construction →
    * broadcast; the corpus side streams through one semi-join-shaped
    * gram match + per-doc count, never doc×doc. */
  val contaminationCheck: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       g AS (SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
             FROM t WHERE len(toks) >= 3),
       bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0),
       hits AS (SELECT g.doc_id, count(*) AS n_shared
                FROM g JOIN bench USING (g)
                WHERE g.doc_id % 20 <> 0
                GROUP BY 1)
       SELECT t.doc_id, COALESCE(hits.n_shared, 0) AS n_shared,
              COALESCE(hits.n_shared, 0) >= 10 AS contaminated
       FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id
       WHERE t.doc_id % 20 <> 0
       ORDER BY t.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val grams = docs.filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(TextOps.shingles(col("toks"), 3)).as("g"))
    val bench = grams.filter(col("doc_id") % 20 === 0)
      .select(col("g")).distinct()
    val hits = grams.filter(col("doc_id") % 20 =!= 0)
      .join(broadcast(bench), "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    docs.filter(col("doc_id") % 20 =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= 10).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF top terms per doc (sklearn-style smooth idf =
    * ln((1+N)/(1+df)) + 1): one corpus-wide df aggregation (bounded
    * by vocabulary, map-side combined) broadcast back into a
    * row-local tf pass; ranking on the r6-rounded score so an
    * ulp-level ln() difference between engines cannot flip ranks.
    * The canonical feature-extraction step. */
  val tfidfTopK: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       n AS (SELECT count(*) AS nd FROM t),
       tf AS (SELECT doc_id, tok, count(*) AS cnt
              FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
              GROUP BY doc_id, tok),
       len AS (SELECT doc_id, len(toks) AS len FROM t),
       df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM
                (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t)
              GROUP BY tok),
       sc AS (SELECT tf.doc_id, tf.tok,
                ${r6sql("""(tf.cnt::DOUBLE / len.len) *
                  (ln((1.0 + nd) / (1.0 + df.df)) + 1.0)""")} AS score
              FROM tf JOIN len ON tf.doc_id = len.doc_id
                      JOIN df ON tf.tok = df.tok
                      CROSS JOIN n),
       r AS (SELECT doc_id, tok, score, row_number() OVER
               (PARTITION BY doc_id ORDER BY score DESC, tok) AS rank
             FROM sc)
       SELECT doc_id, tok, score, CAST(rank AS INTEGER) AS rank
       FROM r WHERE rank <= 3 ORDER BY doc_id, rank""") { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val nd = docs.count().toDouble
    val tf = docs
      .select(col("doc_id"), size(col("toks")).as("len"),
        explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"), first(col("len")).as("len"))
    val df = docs
      .select(explode(array_distinct(col("toks"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    tf.join(broadcast(df), "tok")
      .withColumn("score", r6((col("cnt").cast("double") / col("len"))
        * (log((lit(1.0) + nd) / (lit(1.0) + col("df"))) + lit(1.0))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("tok"), col("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Stratified per-group sampling: a fixed-size, deterministic
    * sample per stratum (16 docs per lang, smallest md5(doc_id)
    * first) — the mixture-weighting primitive for assembling
    * training sets from heterogeneous sources. md5 is the portable
    * order (content-independent, engine-independent); per-group
    * top-n is one window shuffle on the stratum key. */
  val stratifiedSample: QueryDef = QueryDef.sql(
    """WITH h AS (SELECT doc_id, lang,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS hk
       FROM documents),
       r AS (SELECT doc_id, lang, hk, row_number() OVER
               (PARTITION BY lang ORDER BY hk, doc_id) AS rk
             FROM h)
       SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk
       FROM r WHERE rk <= 16 ORDER BY lang, rk""") { (s, d) =>
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("hk"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        substring(md5(col("doc_id").cast("string")), 1, 16).as("hk"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 16)
      .select(col("doc_id"), col("lang"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Embedding-centroid outlier flagging (the SemDeDup/SimilaritySearch
    * quality-filter shape): per-label mean vector, cosine of every
    * embedding to its own centroid, below-centroid docs flagged. The
    * centroid aggregation is bounded by labels×dims (posexplode +
    * partial-agg avg), broadcast back into a row-local scoring pass —
    * the corpus is scanned twice and never shuffled. Portability: the
    * centroid avg is order-sensitive in the last ulps, but scores are
    * r6-rounded and components are O(1)-magnitude, so a flip would
    * need a value within ~1e-15 of a rounding boundary. */
  val centroidOutliers: QueryDef = QueryDef.sql(
    s"""WITH j AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       c AS (SELECT label, i, avg(v[i]) AS m
             FROM j, (SELECT unnest(generate_series(1, 64)) AS i) g
             GROUP BY 1, 2),
       cent AS (SELECT label, list(m ORDER BY i) AS cv FROM c GROUP BY 1),
       sc AS (SELECT vec_id, j.label,
                list_dot_product(v, cv)
                  / (sqrt(list_dot_product(v, v))
                     * sqrt(list_dot_product(cv, cv))) AS cos
              FROM j JOIN cent ON j.label = cent.label)
       SELECT vec_id, label,
              ${r6sql("cos")} AS centroid_cos,
              cos < 0.0 AS is_outlier
       FROM sc ORDER BY vec_id""") { (s, d) =>
    val j = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        VectorOps.toDouble(col("embedding")).as("v"))
    val cent = j
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim")).agg(avg(col("x")).as("m"))
      .groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
        p => p.getField("m")).as("cv"))
    j.join(broadcast(cent), "label")
      .withColumn("cos", try_divide(VectorOps.dot(col("v"), col("cv")),
        VectorOps.norm(col("v")) * VectorOps.norm(col("cv"))))
      .select(col("vec_id"), col("label"),
        r6(col("cos")).as("centroid_cos"),
        (col("cos") < 0.0).as("is_outlier"))
      .orderBy(col("vec_id"))
  }

  /** Misra-Gries heavy hitters (k=31 → tokens with freq > n/32):
    * bounded map-side sketch state + exact candidate recount — the
    * frequent-token query that does NOT shuffle the vocabulary (q50
    * does; at 100 TB vocabulary-sized shuffles are the bottleneck).
    * The 2-pass design makes the output EXACT (candidates are a
    * guaranteed superset; recount + integer threshold filters them),
    * so it hash-compares against DuckDB's exact counts. */
  val heavyHittersQ: QueryDef = QueryDef.sql(
    s"""WITH w AS (SELECT unnest(${tokensSql("text")}) AS tok
                  FROM documents),
       n AS (SELECT count(*) AS n FROM w),
       c AS (SELECT tok, count(*) AS cnt FROM w GROUP BY 1)
       SELECT tok, cnt FROM c, n WHERE cnt * 32 > n
       ORDER BY cnt DESC, tok""") { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    graft.text.HeavyHitters.heavyHitters(toks, 31)
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** Audio feature extraction under the oracle: synthesize a REAL
    * PCM-16 WAV per doc (square wave, amplitude = f(doc_id)), batch-
    * decode through Multimodal.audioRmsStage (mapPartitions — bytes
    * never leave executors), window-RMS each. The oracle never
    * parses WAV: a square wave's RMS is analytically amp/32768, and
    * the whole chain (integer sample², sum < 2^53, exact mean,
    * correctly-rounded sqrt of a perfect square, power-of-two
    * divide, float32 narrowing) is IEEE-EXACT — so DuckDB computes
    * the closed form and the hash must match bit-for-bit. Real
    * decode, analytic verification. */
  val audioRms: QueryDef = QueryDef.sql(
    """WITH d AS (SELECT doc_id, doc_id * 7 % 20000 + 1000 AS amp
                  FROM documents),
       w AS (SELECT doc_id, amp, unnest(range(4)) AS win FROM d)
       SELECT doc_id, CAST(win AS INTEGER) AS win,
              CAST(CAST(amp / 32768.0 AS FLOAT) AS DOUBLE) AS rms
       FROM w ORDER BY doc_id, win""") { (s, d) =>
    import s.implicits._
    val wavs = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id, Multimodal.encodeWavSquare(8000, 800, 8,
          (id * 7 % 20000 + 1000).toShort))
      }).toDF("doc_id", "payload")
    Multimodal.audioRmsStage(wavs, 4)
      .select(col("doc_id"),
        posexplode(col("rms_windows")).as(Seq("win", "rms")))
      .select(col("doc_id"), col("win"),
        col("rms").cast("double").as("rms"))
      .orderBy(col("doc_id"), col("win"))
  }

  /** SemDeDup-shaped semantic dedup (Abbas et al. '23): restrict the
    * quadratic near-dup search to WITHIN precomputed embedding
    * clusters (the label column — in production, k-means cells), so
    * pair cost is Σ cluster² instead of n², then collapse transitive
    * components and keep the lowest id per component. Composes the
    * catalog's own operators: label-partitioned exact-cosine pairs →
    * Dedup.nearDupComponents → keep-one. Oracle: DuckDB recursive
    * label propagation over the identical within-label pair set.
    * Output: every vector with its survivor (kept = itself). */
  val semanticDedup: QueryDef = QueryDef.sql(
    s"""WITH RECURSIVE
       e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
       p AS (SELECT a.vec_id AS u, b.vec_id AS w
             FROM e a JOIN e b
               ON a.label = b.label AND a.vec_id < b.vec_id
             WHERE ${r6sql("""list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v)))""")} >= 0.35),
       sym AS (SELECT u, w FROM p UNION ALL SELECT w, u FROM p),
       lbl(u, l) AS (
         SELECT u, u FROM (SELECT DISTINCT u FROM sym)
         UNION
         SELECT s.w, lbl.l FROM lbl JOIN sym s ON s.u = lbl.u),
       m AS (SELECT u AS vec_id, min(l) AS keeper FROM lbl GROUP BY u)
       SELECT e.vec_id,
              COALESCE(m.keeper, e.vec_id) AS keeper,
              COALESCE(m.keeper, e.vec_id) = e.vec_id AS kept
       FROM e LEFT JOIN m ON e.vec_id = m.vec_id
       ORDER BY e.vec_id""") { (s, d) =>
    val e = Tables.embeddings(s, d)
    val a = e.select(col("label"), col("vec_id").as("a_id"),
      VectorOps.toDouble(col("embedding")).as("a_v"))
      .withColumn("a_norm", VectorOps.norm(col("a_v")))
    val b = e.select(col("label"), col("vec_id").as("b_id"),
      VectorOps.toDouble(col("embedding")).as("b_v"))
      .withColumn("b_norm", VectorOps.norm(col("b_v")))
    val pairs = a.join(b, Seq("label"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", r6(try_divide(VectorOps.dot(col("a_v"), col("b_v")),
        col("a_norm") * col("b_norm"))))
      .filter(col("cos") >= 0.35)
      .select(col("a_id"), col("b_id"))
    val comp = Dedup.nearDupComponents(pairs)
      .select(col("id").as("vec_id"), col("cluster_id").as("keeper"))
    e.select(col("vec_id")).join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("keeper"), col("vec_id")).as("keeper"),
        (coalesce(col("keeper"), col("vec_id")) === col("vec_id"))
          .as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Feature hashing (Weinberger et al. '09): model-free 128-dim
    * signed bag-of-words embedding — dim = md5(token) mod 128, sign
    * from the next hash bits, weights summed with multiplicity. The
    * text→vector bridge that needs no trained model and no vocabulary
    * shuffle (row-local until the (doc, dim) partial agg). md5 keeps
    * the hash engine-portable, integer arithmetic end-to-end → the
    * oracle recomputes identical sparse vectors. Output: nonzero
    * (doc_id, dim, w) triples. */
  val featureHashing: QueryDef = QueryDef.sql(
    s"""WITH w AS (SELECT doc_id,
            unnest(${tokensSql("text")}) AS tok
          FROM documents),
       h AS (SELECT doc_id,
            CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 128
              AS INTEGER) AS dim,
            CAST(CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) % 2
              AS INTEGER) * 2 - 1 AS sgn
          FROM w)
       SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS w
       FROM h GROUP BY doc_id, dim HAVING sum(sgn) <> 0
       ORDER BY doc_id, dim""") { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val dim = (conv(substring(md5(col("tok")), 1, 8), 16, 10)
      .cast("long") % 128).cast("int")
    val sgn = (conv(substring(md5(col("tok")), 9, 8), 16, 10)
      .cast("long") % 2).cast("int") * 2 - 1
    toks.select(col("doc_id"), dim.as("dim"), sgn.as("sgn"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sgn")).as("w"))
      .filter(col("w") =!= 0)
      .orderBy(col("doc_id"), col("dim"))
  }

  /** Unigram log-probability scoring: per-doc mean log p(token)
    * under the corpus's own unigram distribution — the cheapest
    * "model-based" quality signal (a degenerate LM; low scores mark
    * rare-token soup). Vocabulary-bounded frequency agg broadcast
    * back into a row-local scoring pass. ln() differs across engines
    * only in the last ulp; summed over a doc that is ~1e-13, far
    * inside the r6 rounding. */
  val unigramLogprob: QueryDef = QueryDef.sql(
    s"""WITH w AS (SELECT doc_id,
            unnest(${tokensSql("text")}) AS tok
          FROM documents),
       n AS (SELECT count(*) AS n FROM w),
       f AS (SELECT tok, count(*) AS cnt FROM w GROUP BY tok),
       sc AS (SELECT w.doc_id, ln(f.cnt / (SELECT n FROM n)) AS lp
              FROM w JOIN f ON w.tok = f.tok)
       SELECT doc_id,
              ${r6sql("avg(lp)")} AS mean_logprob,
              CAST(count(*) AS BIGINT) AS n_tokens
       FROM sc GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val n = toks.count().toDouble
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    toks.join(broadcast(freq), "tok")
      .withColumn("lp", log(col("cnt") / lit(n)))
      .groupBy(col("doc_id"))
      .agg(r6(avg(col("lp"))).as("mean_logprob"),
        count(lit(1)).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing (ops.Packing): documents laid end-to-end in
    * doc_id order, sliced into 512-token training windows — offsets
    * come from the distributed prefix sum (range partition +
    * driver-scanned per-partition bases), NOT a single-partition
    * global window. Oracle: DuckDB's global window cumsum computes
    * the same offsets; integer arithmetic throughout. */
  val sequencePacking: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id,
            CAST(len(${tokensSql("text")}) AS BIGINT) AS n
          FROM documents),
       o AS (SELECT doc_id, n,
            CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS "offset"
          FROM t)
       SELECT doc_id, n, "offset",
              CAST("offset" // 512 AS BIGINT) AS bin_first,
              CAST(("offset" + n - 1) // 512 AS BIGINT) AS bin_last,
              "offset" // 512 <> ("offset" + n - 1) // 512 AS straddles
       FROM o ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n"))
    graft.ops.Packing.packWindows(docs, "doc_id", "n", 512)
      .select(col("doc_id"), col("n"), col("offset"),
        col("bin_first"), col("bin_last"), col("straddles"))
      .orderBy(col("doc_id"))
  }

  /** Z-order layout round-trip (sources.ZOrder): events clustered on
    * (user_id, value) by interleaved z-key, written, then read back
    * through a 2-D selective filter and aggregated. Layout never
    * changes content, so the oracle is the same filter+agg straight
    * off the source table. The clustered layout is built ONCE per
    * source-table signature (FixtureMemo — VERDICT r3 #4: the 32-file
    * write inside the timed region dominated the bench number), so
    * this row measures the operator's payoff — the stats-skipping
    * read — while the write cost and the *skipping* advantage are
    * gated by ZOrderSpec's measured file-overlap comparison. */
  val zorderReadback: QueryDef = QueryDef.sql(
    s"""SELECT event_type, count(*) AS n,
         ${r6sql("sum(value)")} AS total_value
       FROM events
       WHERE user_id BETWEEN 10 AND 40 AND value BETWEEN 20 AND 120
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q70_" +
      Integer.toHexString(d.hashCode)
    graft.sources.FixtureMemo.once(dir,
        graft.sources.FixtureMemo.tableSig(d, "events")) {
      graft.sources.ZOrder.writeZOrdered(
        Tables.events(s, d).select(col("event_id"), col("user_id"),
          col("event_type"), col("value")),
        Seq("user_id", "value"), dir, numFiles = 32)
    }
    s.read.parquet(dir)
      .filter(col("user_id").between(10, 40) &&
        col("value").between(20, 120))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), r6(sum(col("value"))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Corpus-level boilerplate removal (text.Boilerplate): every
    * 8-token chunk occurring ≥2 times across the corpus is dropped
    * and documents are rebuilt from the survivors — C4/CCNet's
    * duplicated-span cleaning as one constant-state aggregate (see
    * the operator scaladoc for why there is no anti-join). Oracle:
    * the naive dups + NOT IN formulation in DuckDB. */
  val lineDedup: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       s AS (SELECT doc_id, toks,
               unnest(generate_series(0, (len(toks)-1)//8)) AS i FROM t),
       ch AS (SELECT doc_id, i AS chunk_idx,
                array_to_string(toks[(i*8+1):least((i+1)*8, len(toks))],
                  ' ') AS chunk
              FROM s),
       dup AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(*) >= 2),
       kept AS (SELECT * FROM ch
                WHERE chunk NOT IN (SELECT chunk FROM dup)),
       reb AS (SELECT doc_id, count(*) AS kept_chunks,
                 string_agg(chunk, ' ' ORDER BY chunk_idx) AS rebuilt
               FROM kept GROUP BY 1),
       tot AS (SELECT doc_id, (len(toks)-1)//8 + 1 AS n_chunks FROM t)
       SELECT tot.doc_id, CAST(tot.n_chunks AS BIGINT) AS n_chunks,
         CAST(COALESCE(reb.kept_chunks, 0) AS BIGINT) AS kept_chunks,
         COALESCE(reb.rebuilt, '') AS rebuilt
       FROM tot LEFT JOIN reb USING (doc_id) ORDER BY tot.doc_id""") {
    (s, d) =>
    graft.text.Boilerplate.removeDuplicatedChunks(
        Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** The curation pipeline END-TO-END as one declarative DAG:
    * language-ID agreement filter → repetition quality gate → exact
    * dedup (keep lowest id per fingerprint) → sequence packing of
    * the survivors. Every stage is an operator the catalog already
    * verifies in isolation (q27, q55, q29, q69) — this row proves
    * they COMPOSE in a single plan: the filters are row-local and
    * fuse into the scan, dedup is one window shuffle, packing's
    * prefix sum stays distributed. Oracle: the same four stages as
    * nested DuckDB CTEs. */
  val curationPipeline: QueryDef = {
    def duckScore(ms: Seq[String]): String = ms.map { m =>
      s"(length(p) - length(replace(p, ' $m ', ''))) // ${m.length + 2}"
    }.mkString(" + ")
    val cases = langProfiles.map { case (l, _) =>
      s"WHEN ${l}_score = best AND best > 0 THEN '$l'"
    }.mkString(" ")
    QueryDef.sql(
      s"""WITH p0 AS (SELECT doc_id, lang, text,
              ' ' || text || ' ' AS p FROM documents),
         sc AS (SELECT doc_id, lang, text,
              ${langProfiles.map { case (l, ms) =>
                s"CAST(${duckScore(ms)} AS BIGINT) AS ${l}_score" }
                .mkString(", ")}
              FROM p0),
         b AS (SELECT *,
              greatest(${langProfiles.map(_._1 + "_score").mkString(", ")})
                AS best FROM sc),
         langf AS (SELECT doc_id, text FROM b
                   WHERE (CASE $cases ELSE 'und' END) = lang),
         q AS (SELECT doc_id, text,
                 ${tokensSql("text")} AS toks FROM langf),
         qual AS (SELECT doc_id, text, n FROM (
             SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n,
               1.0 - len(list_distinct(list_transform(
                 generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                 ::DOUBLE / (len(toks) - 2) AS dup3
             FROM q)
           WHERE n >= 20 AND dup3 <= 0.6),
         uniq AS (SELECT doc_id, n FROM qual
                  QUALIFY doc_id = min(doc_id)
                    OVER (PARTITION BY md5(lower(trim(text))))),
         o AS (SELECT doc_id, n,
              CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS "offset"
            FROM uniq)
         SELECT doc_id, n, "offset",
                CAST("offset" // 512 AS BIGINT) AS bin_first
         FROM o ORDER BY doc_id""") { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val toks = TextOps.tokens(col("text"))
      val survivors = Tables.documents(s, d)
        .filter(TextOps.languageId(col("text"), langProfiles)
          === col("lang"))
        .withColumn("n", size(toks).cast("long"))
        .withColumn("dup3", lit(1.0) -
          size(array_distinct(
            graft.functions.GraftFunctions.gramHashes(toks, 3)))
            .cast("double") / (col("n") - 2))
        .filter(col("n") >= 20 && col("dup3") <= 0.6)
        .withColumn("fingerprint", TextOps.fingerprint(col("text")))
      val uniq = Dedup.keepFirstByKey(survivors, Seq("fingerprint"),
        "doc_id").select(col("doc_id"), col("n"))
      graft.ops.Packing.packWindows(uniq, "doc_id", "n", 512)
        .select(col("doc_id"), col("n"), col("offset"), col("bin_first"))
        .orderBy(col("doc_id"))
    }
  }

  /** Incremental (nightly-ingest) dedup (dedup.Incremental): the
    * corpus split in half by doc_id — the first half is "already
    * ingested", its fingerprint index persisted through
    * UpsertParquetSink; the second half is the new batch, deduped
    * against the index with the index on the never-shuffled side
    * (both joins broadcast the day-sized relation). The split
    * boundary is computed IN-PLAN (broadcast scalar, no driver
    * round-trip). Oracle: NOT IN + QUALIFY keep-first in DuckDB. */
  val incrementalDedup: QueryDef = QueryDef.sql(
    """WITH m AS (SELECT max(doc_id) // 2 AS mid FROM documents),
       d1 AS (SELECT DISTINCT md5(lower(trim(text))) AS fingerprint
              FROM documents, m WHERE doc_id < mid),
       d2 AS (SELECT doc_id, md5(lower(trim(text))) AS fingerprint
              FROM documents, m WHERE doc_id >= mid),
       surv AS (SELECT doc_id, fingerprint FROM d2
                WHERE fingerprint NOT IN (SELECT fingerprint FROM d1)
                QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fingerprint))
       SELECT doc_id, fingerprint FROM surv ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val bounds = docs.agg(
      (max(col("doc_id")) / 2).cast("long").as("mid"))
    val withMid = docs.crossJoin(broadcast(bounds))
    val day1 = withMid.filter(col("doc_id") < col("mid"))
      .select(col("doc_id"), col("text"))
    val day2 = withMid.filter(col("doc_id") >= col("mid"))
      .select(col("doc_id"), col("text"))
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q73_" +
      Integer.toHexString(d.hashCode)
    val sink = new graft.sources.UpsertParquetSink(dir, Seq("fingerprint"))
    sink.write(Dedup.exactGroups(day1, "doc_id", "text")
        .select(col("fingerprint"), col("keep_id")),
      "fp_index", org.apache.spark.sql.SaveMode.Overwrite)
    val idx = graft.sources.UpsertParquetSink.read(s, dir, "fp_index")
    val (surv, _) = graft.dedup.Incremental.dedupAgainstIndex(
      day2, "doc_id", "text", idx)
    surv.select(col("doc_id"), col("fingerprint")).orderBy(col("doc_id"))
  }

  /** Bloom-guarded incremental dedup (VERDICT r12 #7, the daily-
    * ingest shape; reference has no analogue): q73 broadcasts the
    * BATCH through the index — right when the batch is day-sized.
    * This is the complementary regime: the batch is too heavy to
    * broadcast, so a Bloom filter built over the HISTORY index
    * (distributed partial blooms OR-merged; Spark's own
    * BloomFilterAggregate/MightContain pair, the runtime-filter
    * machinery used directly) screens every batch row locally.
    * Bloom guarantees NO false negatives, so rows it rejects are
    * definitely new and skip the index join entirely; the corpus-
    * sized confirm semi-join receives only might-contain candidates
    * (true dups + the fpp tail) — the answer is provably
    * independent of the filter. Emits the full ingest audit: per
    * batch doc, 'dup_hist' (fingerprint already indexed),
    * 'dup_batch' (an earlier doc in the same batch), or 'new'.
    *
    * Scale notes: the bloom is sized from the index's own row count
    * (known metadata at deployment; ~1.2 GB bits per 10⁹ docs at 1%
    * fpp). BloomFilterAggregate silently min()s the size against
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`, so
    * `GraftSession` raises that cap to 16e9 bits (~1.6B docs per
    * filter at honest 10 bits/item; NOT higher — the serialized
    * filter must stay under the JVM's Int.MaxValue byte-array
    * ceiling) and `bloomAgg` logs if a request still
    * exceeds it — beyond the cap answers stay correct (no false
    * negatives) but the screen admits progressively more of the
    * batch. Here it rides the plan as a collected binary literal —
    * on a cluster the same bytes attach as a scalar subquery or
    * broadcast var. The within-batch first-occurrence window is
    * batch-sized, never corpus-sized.
    *
    * Fixture note: every shipped document text is unique, so a naive
    * day-split would make the status column degenerate (all 'new' —
    * the r11 saturated-gate lesson, mirrored). The batch therefore
    * models AT-LEAST-ONCE REDELIVERY, the very failure incremental
    * dedup exists for: a 1-in-5 slice of history re-arrives under
    * fresh ingest ids (→ dup_hist), a 1-in-10 slice re-arrives TWICE
    * (→ dup_hist with an in-batch twin), and a 1-in-9 slice of the
    * new day is delivered twice (→ one 'new' + one 'dup_batch').
    * All three statuses are exercised by construction at every SF. */
  val bloomIncrementalDedup: QueryDef = QueryDef.sql(
    """WITH mm AS (SELECT max(doc_id) AS mx, max(doc_id) // 2 AS mid
                   FROM documents),
       hist AS (SELECT doc_id, md5(lower(trim(text))) AS fp
                FROM documents, mm WHERE doc_id < mid),
       d1 AS (SELECT DISTINCT fp AS fingerprint FROM hist),
       base AS (SELECT doc_id, md5(lower(trim(text))) AS fingerprint
                FROM documents, mm WHERE doc_id >= mid),
       batch AS (
         SELECT doc_id, fingerprint FROM base
         UNION ALL SELECT h.doc_id + mx + 1, fp FROM hist h, mm
           WHERE h.doc_id % 5 = 0
         UNION ALL SELECT h.doc_id + 2 * (mx + 1), fp FROM hist h, mm
           WHERE h.doc_id % 10 = 0
         UNION ALL SELECT b.doc_id + 3 * (mx + 1), fingerprint
           FROM base b, mm WHERE b.doc_id % 9 = 0)
       SELECT doc_id, fingerprint,
         CASE WHEN fingerprint IN (SELECT fingerprint FROM d1)
                THEN 'dup_hist'
              WHEN doc_id > min(doc_id) OVER (PARTITION BY fingerprint)
                THEN 'dup_batch'
              ELSE 'new' END AS status
       FROM batch ORDER BY doc_id""") { (s, d) =>
    import graft.functions.GraftFunctions.{bloomAgg, bloomMightContain}
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val bounds = docs.agg(max(col("doc_id")).as("mx"),
      (max(col("doc_id")) / 2).cast("long").as("mid"))
    val withMid = docs.crossJoin(broadcast(bounds))
    val fpCol = md5(lower(trim(col("text"))))
    val histRows = withMid.filter(col("doc_id") < col("mid"))
      .select(col("doc_id"), fpCol.as("fingerprint"), col("mx"))
    val hist = histRows.select(col("fingerprint")).distinct()
    val base = withMid.filter(col("doc_id") >= col("mid"))
      .select(col("doc_id"), fpCol.as("fingerprint"), col("mx"))
    val today = base.select(col("doc_id"), col("fingerprint"))
      .unionByName(histRows.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + col("mx") + 1).as("doc_id"),
          col("fingerprint")))
      .unionByName(histRows.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + (col("mx") + 1) * 2).as("doc_id"),
          col("fingerprint")))
      .unionByName(base.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + (col("mx") + 1) * 3).as("doc_id"),
          col("fingerprint")))
    // index row count is persisted metadata at deployment; one
    // bounded count job here
    val nHist = math.max(1L, hist.count())
    val bloomBytes = hist
      .select(bloomAgg(col("fingerprint"), nHist, hist.sparkSession).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val wFp = Window.partitionBy(col("fingerprint"))
    val tagged = today
      .withColumn("first_id", min(col("doc_id")).over(wFp))
      .withColumn("might",
        bloomMightContain(lit(bloomBytes), col("fingerprint")))
    // only the candidate slice ever meets the corpus-sized index
    val confirmed = tagged.filter(col("might"))
      .join(hist.withColumn("__h", lit(1)), Seq("fingerprint"), "left")
      .select(col("doc_id"), col("fingerprint"), col("first_id"),
        coalesce(col("__h") === 1, lit(false)).as("in_hist"))
    val definiteNew = tagged.filter(!col("might"))
      .select(col("doc_id"), col("fingerprint"), col("first_id"),
        lit(false).as("in_hist"))
    confirmed.unionByName(definiteNew)
      .select(col("doc_id"), col("fingerprint"),
        when(col("in_hist"), "dup_hist")
          .when(col("doc_id") > col("first_id"), "dup_batch")
          .otherwise("new").as("status"))
      .orderBy(col("doc_id"))
  }

  /** Bigram LM quality scoring — per-doc mean ln P(w_i | w_{i-1})
    * under the corpus's own add-α-smoothed bigram model (α = 0.5):
    * the KenLM-shaped upgrade of q68's unigram signal, still with no
    * external model. The count relations grow with corpus
    * vocabulary(²), so neither join carries a broadcast hint: AQE
    * picks broadcast-hash while the measured side is small and flips
    * to a shuffle join on the bigram/unigram key once it isn't —
    * the r5 verdict's 100 TB scale-killer (a pinned broadcast of a
    * vocabulary-sized relation) cannot recur. The vocabulary-size
    * scalar V rides IN-PLAN as a one-row broadcast (q03's pattern,
    * `ops/Anomaly.percentileFilter`), so query construction runs no
    * driver job (gated by `PlanAuditSpec`). */
  val bigramLogprob: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       w AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       uni AS (SELECT tok, count(*) AS c1 FROM w GROUP BY tok),
       v AS (SELECT count(*) AS v FROM uni),
       b AS (SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1])) AS bg
             FROM t WHERE len(toks) >= 2),
       bf AS (SELECT bg, count(*) AS c2 FROM b GROUP BY bg),
       sc AS (SELECT b.doc_id,
                ln((bf.c2 + 0.5) / (uni.c1 + 0.5 * (SELECT v FROM v)))
                  AS lp
              FROM b JOIN bf USING (bg)
              JOIN uni ON string_split(bg, ' ')[1] = uni.tok)
       SELECT doc_id,
              ${r6sql("avg(lp)")} AS mean_logprob,
              CAST(count(*) AS BIGINT) AS n_bigrams
       FROM sc GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val uni = docs.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).cast("double").as("__v"))
    val bi = docs.select(col("doc_id"),
      explode(TextOps.wordGrams(col("toks"), 2)).as("bg"))
    val bfreq = bi.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    bi.join(bfreq, "bg")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(uni, col("w1") === col("tok"))
      .join(broadcast(vocab))
      .withColumn("lp",
        log((col("c2") + lit(0.5)) / (col("c1") + lit(0.5) * col("__v"))))
      .groupBy(col("doc_id"))
      .agg(r6(avg(col("lp"))).as("mean_logprob"),
        count(lit(1)).as("n_bigrams"))
      .orderBy(col("doc_id"))
  }

  /** Small-file compaction round-trip (sources.Compaction): events
    * deliberately fragmented into 64 files, compacted sort-preserving
    * on user_id into right-sized files, read back through a selective
    * filter + agg. Layout never changes content → oracle is the same
    * filter+agg off the source; CompactionSpec gates the file-count
    * collapse and the disjoint-range (pruning-survives) property.
    * The FRAGMENTED INPUT is a fixture, not the operator — it is
    * built once per source-table signature (FixtureMemo, VERDICT r3
    * #4) so the timed region covers what this row is about:
    * compaction itself plus the post-compaction read. */
  val compactionReadback: QueryDef = QueryDef.sql(
    s"""SELECT event_type, count(*) AS n,
         ${r6sql("avg(value)")} AS avg_value
       FROM events WHERE user_id BETWEEN 5 AND 25
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_q75_" +
      Integer.toHexString(d.hashCode)
    graft.sources.FixtureMemo.once(s"$base/frag",
        graft.sources.FixtureMemo.tableSig(d, "events")) {
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .repartition(64)
        .write.mode("overwrite").parquet(s"$base/frag")
    }
    val total = new java.io.File(s"$base/frag").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    graft.sources.Compaction.compact(s, s"$base/frag", s"$base/out",
      targetBytes = math.max(1L, total / 8), sortCols = Seq("user_id"))
    s.read.parquet(s"$base/out")
      .filter(col("user_id").between(5, 25))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("avg_value"))
      .orderBy(col("event_type"))
  }

  /** Domain balancing under a per-source token budget — the
    * Pile/Dolma-style curation step that caps each source's
    * contribution to the training mix. Docs are ordered per source
    * by a deterministic hash (an unbiased shuffle that is still
    * oracle-reproducible), a running token total accumulates, and a
    * doc is kept while the cumulative total is within budget. One
    * shuffle on source; a mega-source skews its window sort — at
    * 100 TB the fix is the standard pre-filter (drop docs whose
    * source already exceeds budget × safety from a first-pass agg)
    * before the exact window. */
  val domainBudget: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, source,
            CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
            md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents),
       c AS (SELECT doc_id, source, n_tokens,
            CAST(sum(n_tokens) OVER (PARTITION BY source
              ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
          FROM t)
       SELECT doc_id, source, n_tokens, cum_tokens,
              cum_tokens <= 800 AS kept
       FROM c ORDER BY doc_id""") { (s, d) =>
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), (col("cum_tokens") <= 800).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** CDC snapshot diff: two corpus snapshots (derived
    * deterministically from `documents` — modulo filters play
    * yesterday/today, a modulo rewrite plays an edit) reconciled by
    * a full-outer join on the key and classified added / removed /
    * changed / unchanged. ONE co-partitioned shuffle per side; with
    * bucketed snapshots (queries.Bucketing) the exchange disappears
    * entirely — that is the nightly 100 TB reconciliation shape. */
  val snapshotDiff: QueryDef = QueryDef.sql(
    """WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
       b AS (SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END
                 AS text
             FROM documents WHERE doc_id % 4 <> 0)
       SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.text <> b.text THEN 'changed'
              ELSE 'unchanged' END AS status
       FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
       ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id").as("a_id"), col("text").as("a_text"))
    val b = docs.filter(col("doc_id") % 4 =!= 0)
      .select(col("doc_id").as("b_id"),
        when(col("doc_id") % 5 === 0, upper(col("text")))
          .otherwise(col("text")).as("b_text"))
    a.join(b, col("a_id") === col("b_id"), "full_outer")
      .select(coalesce(col("a_id"), col("b_id")).as("doc_id"),
        when(col("a_id").isNull, "added")
          .when(col("b_id").isNull, "removed")
          .when(col("a_text") =!= col("b_text"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy(col("doc_id"))
  }

  /** BM25 (Robertson/Okapi) scores for `terms` over a (doc_id, toks)
    * relation, rows with score > 0 only. Corpus statistics (doc
    * count, avg doc length, per-term document frequencies) come from
    * ONE tiny aggregate broadcast back in-plan; scoring is then
    * fully row-local codegen arithmetic. Shared by q78 (the full
    * scored list) and q197 (the lexical lane of fused retrieval) so
    * the two scorings cannot drift. */
  private def bm25Scored(docs: DataFrame, terms: Seq[String],
      k1: Double, bb: Double): DataFrame = {
    val statAggs = Seq(count(lit(1)).cast("long").as("n_docs"),
      avg(size(col("toks"))).as("avgdl")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("toks"), t).cast("int")).as(s"df$i")
      }
    val stats = docs.agg(statAggs.head, statAggs.tail: _*)
    def tf(t: String): Column =
      size(filter(col("toks"), x => x === lit(t))).cast("double")
    val score = terms.zipWithIndex.map { case (t, i) =>
      log((col("n_docs") - col(s"df$i") + lit(0.5)) /
          (col(s"df$i") + lit(0.5)) + lit(1)) *
        tf(t) * lit(k1 + 1) /
        (tf(t) + lit(k1) * (lit(1) - lit(bb) +
          lit(bb) * size(col("toks")) / col("avgdl")))
    }.reduce(_ + _)
    docs.crossJoin(broadcast(stats))
      .withColumn("score", score)
      .filter(col("score") > 0)
      .select(col("doc_id"), col("score"))
  }

  /** q78: BM25 retrieval scoring (k1=1.2 b=0.75) for a fixed query
    * against the corpus — the classic IR ranking function from
    * corpus statistics alone (via [[bm25Scored]]). Output is every
    * matching doc in id order (not a float-ordered top-k, which
    * could flip on last-ulp score ties across engines). */
  val bm25Score: QueryDef = {
    val terms = Seq("spark", "join", "stream")
    val (k1, bb) = (1.2, 0.75)
    def duckDf(t: String) =
      s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END)"
    QueryDef.sql(
      s"""WITH t AS (SELECT doc_id,
              ${tokensSql("text")} AS toks FROM documents),
         st AS (SELECT count(*) AS n_docs,
              avg(len(toks)) AS avgdl,
              ${terms.zipWithIndex.map { case (t, i) =>
                s"${duckDf(t)} AS df$i" }.mkString(", ")}
            FROM t),
         sc AS (SELECT doc_id,
              ${terms.zipWithIndex.map { case (t, i) =>
                s"""(ln((n_docs - df$i + 0.5) / (df$i + 0.5) + 1) *
                   len(list_filter(toks, x -> x = '$t')) * ${k1 + 1} /
                   (len(list_filter(toks, x -> x = '$t')) +
                    $k1 * (1 - $bb + $bb * len(toks) / avgdl)))"""
              }.mkString(" + ")} AS score
            FROM t, st)
         SELECT doc_id,
                ${r6sql("score")} AS bm25
         FROM sc WHERE score > 0 ORDER BY doc_id""") { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      bm25Scored(docs, terms, k1, bb)
        .select(col("doc_id"), r6(col("score")).as("bm25"))
        .orderBy(col("doc_id"))
    }
  }

  /** Hybrid-retrieval fusion by reciprocal rank (RRF, Cormack et al.
    * SIGIR'09): the semantic lane is exact cosine top-50 for a fixed
    * query vector ([[graft.vector.VectorOps.bruteForceTopK]] —
    * broadcast query, bounded-heap ranking), the lexical lane is
    * BM25 top-50 for a fixed term set (the q78 scorer through the
    * same bounded-heap TopK aggregate: partial per-partition heaps,
    * only k rows cross the shuffle — never a global window sort).
    * Fusion joins two <=50-row lists and takes the top 20 by
    * rrf = sum 1/(60 + rank). Every rank is an integer from
    * rounded-score ordering with an id tie-break, and the rrf sum is
    * two fixed-order double terms, so the fused ordering is
    * bit-identical across engines; absent-lane ranks surface as the
    * 0 sentinel (no NULLs in the hashed output). */
  val rrfFusion: QueryDef = {
    val (k1, bb) = (1.2, 0.75)
    def lane(t: String, i: Int): String =
      s"""(ln((n_docs - df$i + 0.5) / (df$i + 0.5) + 1) *
         len(list_filter(toks, x -> x = '$t')) * ${k1 + 1} /
         (len(list_filter(toks, x -> x = '$t')) +
          $k1 * (1 - $bb + $bb * len(toks) / avgdl)))"""
    QueryDef.sql(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
         qv AS (SELECT v AS q_v FROM e WHERE vec_id = 0),
         cs AS (SELECT vec_id AS id,
                  ${r6sql("""list_dot_product(q_v, e.v)
                    / (sqrt(list_dot_product(q_v, q_v))
                       * sqrt(list_dot_product(e.v, e.v)))""")} AS cos
                FROM e CROSS JOIN qv WHERE vec_id <> 0),
         cr AS (SELECT id, CAST(row_number() OVER
                  (ORDER BY cos DESC, id) AS BIGINT) AS r FROM cs),
         crk AS (SELECT id, r FROM cr WHERE r <= 50),
         t AS (SELECT doc_id, ${tokensSql("text")} AS toks
               FROM documents),
         st AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl,
                  sum(CASE WHEN list_contains(toks, 'spark')
                      THEN 1 ELSE 0 END) AS df0,
                  sum(CASE WHEN list_contains(toks, 'join')
                      THEN 1 ELSE 0 END) AS df1,
                  sum(CASE WHEN list_contains(toks, 'stream')
                      THEN 1 ELSE 0 END) AS df2
                FROM t),
         sc AS (SELECT doc_id,
                  ${Seq("spark", "join", "stream").zipWithIndex
                    .map { case (t, i) => lane(t, i) }.mkString(" + ")}
                  AS score
                FROM t, st),
         sb AS (SELECT doc_id AS id,
                  ${r6sql("score")} AS bm25
                FROM sc WHERE score > 0),
         br AS (SELECT id, CAST(row_number() OVER
                  (ORDER BY bm25 DESC, id) AS BIGINT) AS r FROM sb),
         brk AS (SELECT id, r FROM br WHERE r <= 50),
         f AS (SELECT COALESCE(c.id, b.id) AS id,
                 COALESCE(CAST(1.0 AS DOUBLE) / (60 + c.r), 0)
                   + COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.r), 0)
                   AS rrf,
                 COALESCE(c.r, 0) AS cos_rank,
                 COALESCE(b.r, 0) AS bm25_rank
               FROM crk c FULL OUTER JOIN brk b ON c.id = b.id)
         SELECT id AS doc_id,
                ${r6sql("rrf")} AS rrf_score,
                cos_rank, bm25_rank
         FROM f ORDER BY rrf DESC, id LIMIT 20""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cosLane = VectorOps.bruteForceTopK(
          emb, emb.filter(col("vec_id") === 0), 50)
        .select(col("n_id").as("id"),
          col("rank").cast("long").as("cos_rank"))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      val topk = graft.ops.TopK.topk(50)
      val bmLane = bm25Scored(docs, Seq("spark", "join", "stream"),
          k1, bb)
        .agg(topk(r6(col("score")), col("doc_id")).as("__top"))
        .select(posexplode(col("__top")).as(Seq("__i", "__s")))
        .select(col("__s").getField("id").as("id"),
          (col("__i") + 1).cast("long").as("bm25_rank"))
      cosLane.join(bmLane, Seq("id"), "full_outer")
        .select(col("id").as("doc_id"),
          (coalesce(lit(1.0) / (lit(60.0) + col("cos_rank")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("bm25_rank")),
                lit(0.0))).as("rrf"),
          coalesce(col("cos_rank"), lit(0L)).as("cos_rank"),
          coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), r6(col("rrf")).as("rrf_score"),
          col("cos_rank"), col("bm25_rank"))
    }
  }

  /** Exact substring-duplication spans — the "exact substring dedup"
    * shape (Lee et al. '22): every 16-token window occurring ≥2×
    * corpus-wide marks its positions, and per document the marked
    * positions merge into MAXIMAL repeated regions (gaps-and-islands
    * over a running-max window). Three shuffles: gram counts, the
    * join-back of duplicated grams (here broadcast — corpus-scale
    * flips it to a shuffle join on a 128-bit gram hash instead of
    * the raw string), and the per-doc window+agg. The production
    * alternative is a distributed suffix array; this n-gram-mark
    * formulation gets the same spans for span length ≥ k with plan
    * shapes Spark already optimizes. */
  val dupSpans: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       g AS (SELECT doc_id, i - 1 AS pos,
               array_to_string(toks[i:i+15], ' ') AS gram
             FROM t, unnest(generate_series(1, len(toks) - 15)) AS s(i)
             WHERE len(toks) >= 16),
       dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       h AS (SELECT doc_id, pos FROM g
             WHERE gram IN (SELECT gram FROM dup)),
       isl AS (SELECT doc_id, pos,
               CASE WHEN pos > COALESCE(max(pos + 15) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                 THEN 1 ELSE 0 END AS new_island
             FROM h),
       grp AS (SELECT doc_id, pos,
               sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS island
             FROM isl)
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
              CAST(max(pos) + 15 AS BIGINT) AS span_end
       FROM grp GROUP BY doc_id, island
       ORDER BY doc_id, span_start""") { (s, d) =>
    val k = 16
    // grams never materialize as strings: graft_gram_hashes (one
    // codegen pass, position-preserving FNV) replaces the interpreted
    // zip_with n-gram chain, and everything downstream — the count
    // shuffle and the join-back — carries an 8-byte hash (collision
    // odds ~(grams²/2^65), negligible; doc'd 128-bit upgrade for
    // corpus scale)
    graft.functions.GraftFunctions.register(s)
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.gramHashes(
          col("toks"), k)).as(Seq("pos", "gh")))
    val dup = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select(col("gh"))
    val hits = grams.join(broadcast(dup), Seq("gh"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("new_island",
        (col("pos") > coalesce(max(col("pos") + (k - 1)).over(wPrev),
          lit(-1L))).cast("int"))
      .withColumn("island", sum(col("new_island")).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Data-quality constraint audit (the Deequ/dbt-tests shape): a
    * fixed suite of constraints evaluated into one violation-count
    * report. Every single-table rule rides ONE scan as a
    * sum(CASE) aggregate — adding a rule adds zero jobs — and each
    * referential rule is one anti-join count (broadcast when the
    * parent's key column fits, shuffle otherwise; key-column
    * projection means "fits" lasts far longer than the table does).
    */
  val integrityAudit: QueryDef = QueryDef.sql(
    """WITH li AS (SELECT
           sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
             AS li_quantity_null,
           sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
             AS li_quantity_nonpos,
           sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0
             END) AS li_discount_range,
           sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END)
             AS li_price_negative
         FROM lineitem),
       ord AS (SELECT count(*) AS o_orphan_cust FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey)),
       lio AS (SELECT count(*) AS li_orphan_order FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey))
       SELECT * FROM (
         SELECT 'li_quantity_null' AS check_name,
                CAST(li_quantity_null AS BIGINT) AS violations FROM li
         UNION ALL SELECT 'li_quantity_nonpos',
                CAST(li_quantity_nonpos AS BIGINT) FROM li
         UNION ALL SELECT 'li_discount_range',
                CAST(li_discount_range AS BIGINT) FROM li
         UNION ALL SELECT 'li_price_negative',
                CAST(li_price_negative AS BIGINT) FROM li
         UNION ALL SELECT 'o_orphan_cust',
                CAST(o_orphan_cust AS BIGINT) FROM ord
         UNION ALL SELECT 'li_orphan_order',
                CAST(li_orphan_order AS BIGINT) FROM lio)
       ORDER BY check_name""") { (s, d) =>
    def viol(c: Column): Column =
      sum(when(c, 1).otherwise(0)).cast("long")
    val li = Tables.lineitem(s, d).agg(
      viol(col("l_quantity").isNull).as("li_quantity_null"),
      viol(col("l_quantity") <= 0).as("li_quantity_nonpos"),
      viol(col("l_discount") < 0 || col("l_discount") > 1)
        .as("li_discount_range"),
      viol(col("l_extendedprice") < 0).as("li_price_negative"))
    val orphanCust = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("o_orphan_cust"))
    val orphanOrder = Tables.lineitem(s, d)
      .join(broadcast(Tables.orders(s, d).select(col("o_orderkey"))),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("li_orphan_order"))
    // unpivot the one-row agg with stack — the four lineitem rules
    // genuinely share one scan (a per-rule union would re-run it)
    val liRows = li.select(expr(
      """stack(4,
         'li_quantity_null', li_quantity_null,
         'li_quantity_nonpos', li_quantity_nonpos,
         'li_discount_range', li_discount_range,
         'li_price_negative', li_price_negative)
         AS (check_name, violations)"""))
    def row(src: org.apache.spark.sql.DataFrame, name: String) =
      src.select(lit(name).as("check_name"),
        col(name).as("violations"))
    liRows
      .unionByName(row(orphanCust, "o_orphan_cust"))
      .unionByName(row(orphanOrder, "li_orphan_order"))
      .orderBy(col("check_name"))
  }

  /** ORC source/sink round-trip: the third columnar format next to
    * parquet (everywhere) and JSONL/CSV (q128, q172) — ORC rides
    * Spark's native vectorized reader with the same pushdown/pruning
    * machinery, so format choice is an org-standard question, not an
    * engine one. Layout never changes content → oracle is the same
    * agg off the parquet source; the plan check that matters
    * (PushedFilters on the ORC scan) is gated in PlanAuditSpec. */
  val orcRoundtrip: QueryDef = QueryDef.sql(
    s"""SELECT event_type, count(*) AS n,
         ${r6sql("sum(value)")} AS total_value
       FROM events WHERE value > 100
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    // pid-suffixed like q128: the layout is rewritten every call, so
    // concurrent JVMs on the same sfDir must not share the dir
    val dir = graft.sources.ScratchDirs.perProcess("q82", d)
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .filter(col("value") > 100)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), r6(sum(col("value"))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Hive-layout partitioned write + partition-PRUNED read — the
    * data-skipping mechanism every at-scale pipeline leans on before
    * any file- or row-group-level trick (q70 z-order, q62 bloom):
    * rows land in `event_type=<v>/` directories via
    * [[graft.sources.PartitionedParquetSink]], and the read-back
    * filter on the partition column resolves at PLANNING time —
    * `PartitionFilters` in the scan, zero bytes of the other four
    * partitions' files touched (SinksSpec asserts the pruned scan
    * shape; this row puts the semantics under the oracle). Layout
    * never changes content, so the oracle is the same aggregate off
    * the unpartitioned source. */
  val partitionPruning: QueryDef = QueryDef.sql(
    s"""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, count(*) AS n,
         ${r6sql("sum(value)")} AS total_value
       FROM events WHERE event_type = 'click'
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = graft.sources.ScratchDirs.perProcess("q187", d)
    new graft.sources.PartitionedParquetSink(dir, Seq("event_type"))
      .write(Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("event_type"),
            col("value")),
        "events_part", org.apache.spark.sql.SaveMode.Overwrite)
    s.read.parquet(s"$dir/events_part")
      .filter(col("event_type") === "click")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .agg(count(lit(1)).as("n"), r6(sum(col("value"))).as("total_value"))
      .orderBy(col("d"))
  }

  /** Dynamic partition pruning — the RUNTIME twin of q187's static
    * pruning: the fact table is day-partitioned, and the days to
    * keep are not a literal but the output of a dimension query
    * ("the 3 busiest purchase days"), so the planner cannot prune at
    * analysis time. Spark instead reuses the broadcast of the dim
    * side as a partition filter on the fact scan (`dynamicpruning`
    * subquery in PartitionFilters — PlanAuditSpec gates the shape),
    * touching only 3 of ~30 day directories. At 100 TB this is THE
    * mechanism that makes "join fact to a filtered dim" cost
    * proportional to the selected partitions instead of the whole
    * fact. The hot-day pick orders by (count DESC, day) — total,
    * so the LIMIT-3 cut is deterministic. */
  val dynamicPartitionPruning: QueryDef = QueryDef.sql(
    s"""WITH hot AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
             count(*) c
           FROM events WHERE event_type='purchase'
           GROUP BY 1 ORDER BY c DESC, d LIMIT 3)
       SELECT e.event_type, CAST(count(*) AS BIGINT) n,
         ${r6sql(
           s"""CAST(sum(${microsSql("e.value")})
              AS DOUBLE)/1000000.0""")} AS revenue
       FROM events e JOIN hot
         ON CAST(CAST(e.ts AS DATE) AS VARCHAR) = hot.d
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = graft.sources.ScratchDirs.perProcess("q236", d)
    new graft.sources.PartitionedParquetSink(dir, Seq("d"))
      .write(Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"),
            date_format(col("ts"), "yyyy-MM-dd").as("d")),
        "events_day", org.apache.spark.sql.SaveMode.Overwrite)
    val fact = s.read.parquet(s"$dir/events_day")
    val hot = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("d"))
      .limit(3)
      .select(col("d"))
    fact.join(broadcast(hot), "d")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        r6(sum(micros(col("value")))
          .cast("double") / 1000000.0).as("revenue"))
      .orderBy(col("event_type"))
  }

  /** Raw-line corpus ingest through the text source — the
    * plain-text/WET shape of the format family (parquet q-everywhere,
    * ORC q82, JSONL q128, CSV q172, binary files q181): documents
    * exported one-per-line as `id<TAB>text`, read back as untyped
    * lines (`spark.read.text` — distributed line splitting, no
    * schema), and re-parsed row-locally (first-tab split). Oracle
    * computes the same per-doc token/char stats off the parquet
    * source, so a line lost, mis-split, or double-escaped in either
    * direction fails the hash. The fixture contract guarantees
    * newline-free text (production corpora escape or length-prefix
    * before a line-oriented export; nothing here asserts it). */
  val textSource: QueryDef = QueryDef.sql(
    s"""SELECT doc_id,
         CAST(len(${tokensSql("text")}) AS INTEGER) AS n_toks,
         CAST(length(text) AS INTEGER) AS n_chars
       FROM documents ORDER BY doc_id""") { (s, d) =>
    val dir = graft.sources.ScratchDirs.perProcess("q182", d)
    Tables.documents(s, d)
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text"))
        .as("value"))
      .write.mode("overwrite").text(dir)
    val line = s.read.text(dir)
    line
      .select(
        substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        col("value").substr(instr(col("value"), "\t") + 1,
          length(col("value"))).as("text"))
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_toks"),
        length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Token-membership search accelerated by the custom optimizer
    * rule (plans.TokenContainsPrefilter): the filter itself —
    * `array_contains(split(trim(text),' '), 'spark')` — cannot push
    * to the scan, but the rule conjoins the implied
    * `text CONTAINS 'spark'`, which lands in PushedFilters and
    * skips row groups before a single token is split. RuleSpec
    * asserts the plan shape and rule-off equivalence; the oracle
    * checks semantics stay exact. */
  val tokenSearch: QueryDef = QueryDef.sql(
    s"""SELECT lang, count(*) AS n,
         CAST(sum(len(${tokensSql("text")})) AS BIGINT)
           AS total_tokens
       FROM documents
       WHERE list_contains(${tokensSql("text")}, 'spark')
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.documents(s, d)
      .filter(array_contains(TextOps.tokens(col("text")), "spark"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(TextOps.tokenCount(col("text")).cast("long"))
          .as("total_tokens"))
      .orderBy(col("lang"))
  }

  /** Random-projection dimensionality reduction (Achlioptas/JL):
    * embeddings 64 → 16 dims through the deterministic Rademacher
    * codegen expression — the feature-engineering front-end for
    * clustering/IVF when d is large. ORACLE-CHECKED since r8: the
    * splitmix64 sign matrix IS expressible in DuckDB after all —
    * u64 wrap-around arithmetic emulated in HUGEINT ([0,2^64) domain,
    * `>>>` as `// 2^s`, and the two wrap-multiplies split at 32 bits
    * so the int128 product never overflows); the oracle's per-(p,i)
    * sign reproduces `ExprUtil.splitmix64` bit-exactly (validated
    * 8000/8000 cells vs the Scala loop at sf0.001). The summation
    * runs as `list_sum(list(term ORDER BY i))` so FP addition order
    * matches the Scala ascending-i loop — double addition is not
    * associative and a GROUP BY sum would round differently at the
    * r6 boundary. RandomProjectionSpec keeps the JL property gates
    * (norm preservation, distance correlation, sign-consistency with
    * graft_hyperplane_bits, which is exactly this matrix
    * sign-quantized).
    *
    * Output is the projected matrix SHREDDED to (vec_id, dim, value)
    * scalar rows — the harness comparator canonicalizes by
    * sorting/hashing column values and cannot order an array column
    * (VERDICT r3 #2); the shredded relation carries identical
    * information and is the same convention q53 (one code per
    * (vec_id, sub)) already uses. */
  val randomProjectionQ: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             len(embedding) AS d FROM embeddings),
       iidx AS (SELECT DISTINCT generate_subscripts(v, 1) - 1 AS i FROM e),
       idx AS (SELECT p.range AS p, i FROM range(0, 16) p CROSS JOIN iidx),
       s0 AS (SELECT p, i, (p*1000003 + i)::HUGEINT AS x FROM idx),
       s1 AS (SELECT p, i,
                (x + 11400714819323198485) % 18446744073709551616 AS z0
              FROM s0),
       s2 AS (SELECT p, i, xor(z0, z0 // 1073741824) AS a1 FROM s1),
       s3 AS (SELECT p, i,
                ((((a1 // 4294967296) * 13787848793156543929) % 4294967296)
                   * 4294967296
                 + (a1 % 4294967296) * 13787848793156543929)
                  % 18446744073709551616 AS z1
              FROM s2),
       s4 AS (SELECT p, i, xor(z1, z1 // 134217728) AS a2 FROM s3),
       s5 AS (SELECT p, i,
                ((((a2 // 4294967296) * 10723151780598845931) % 4294967296)
                   * 4294967296
                 + (a2 % 4294967296) * 10723151780598845931)
                  % 18446744073709551616 AS z2
              FROM s4),
       sgn AS (SELECT p, i,
                 CASE WHEN xor(z2, z2 // 2147483648) % 2 = 1
                      THEN 1.0 ELSE -1.0 END AS sign
               FROM s5),
       terms AS (SELECT e.vec_id, sgn.p AS dim, sgn.i,
                   e.v[sgn.i + 1] * sgn.sign AS term
                 FROM e JOIN sgn ON sgn.i < e.d),
       proj AS (SELECT vec_id, dim, list_sum(list(term ORDER BY i)) AS s
                FROM terms GROUP BY vec_id, dim)
       SELECT vec_id, CAST(dim AS BIGINT) AS dim,
         ${r6sql("s / sqrt(16.0)")} AS value
       FROM proj ORDER BY vec_id, dim""") { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        graft.functions.GraftFunctions.randomProjection(
          graft.vector.VectorOps.toDouble(col("embedding")), 16)
          .as("projected"))
      .select(col("vec_id"),
        posexplode(col("projected")).as(Seq("dim", "value")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        r6(col("value")).as("value"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Per-label embedding centroids — element-wise mean vector per
    * group, the pooling step behind domain centroids / class
    * prototypes / SemDeDup cluster seeds. Declarative shape:
    * posexplode to (label, dim, value), ONE partial-agg shuffle of
    * n×d skinny rows keyed (label, dim). The alternative (fold whole
    * arrays through an object agg) blocks codegen and map-side
    * combine; dims are fixed and small, so the skinny explode wins
    * at scale.
    *
    * Output stays in the shredded (label, dim, mv, n_members) form —
    * reassembling the array is a consumer-side `collect_list` away,
    * and the harness comparator cannot sort/hash an array column
    * (VERDICT r3 #2). n_members rides the same (label, dim) group
    * for free: every member contributes exactly one value per dim.
    * Oracle: unnest + generate_subscripts (1-based → -1) in DuckDB. */
  private def bpeRoundCte(i: Int): String = s"""
t$i AS (SELECT doc_id, list_filter(string_split(st, '  '), x -> x <> '')
          AS toks FROM s$i),
p$i AS (SELECT toks[j] AS a, toks[j+1] AS b, count(*) AS cnt
        FROM t$i, LATERAL unnest(generate_series(1, len(toks) - 1)) AS u(j)
        GROUP BY 1, 2),
b$i AS (SELECT a, b FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
s${i + 1} AS (SELECT doc_id,
           replace(st, ' ' || a || '  ' || b || ' ',
                       ' ' || a || '_' || b || ' ') AS st
         FROM s$i CROSS JOIN b$i)"""

  /** BPE tokenizer TRAINING — the iterative top-pair merge loop
    * itself, not just one round's pair counts (q125): three unrolled
    * merge rounds, each = corpus-wide adjacent-pair count (one
    * shuffle) → global argmax pair (TakeOrdered 1 row, ties by pair
    * text) → merge applied corpus-wide. The learned merges are
    * DATA-DEPENDENT scalars that stay IN-PLAN (1-row broadcast cross
    * join, the q165-threshold pattern — no driver round-trip), so
    * the whole training loop is one declarative plan. Merge
    * application is leftmost-non-overlapping string replace over a
    * DOUBLE-SPACE-joined token string: the pattern ` a  b ` consumes
    * one space from each side gap, so adjacent merge sites never
    * consume each other's delimiter (replace semantics agree between
    * JVM and DuckDB — verified by the fp hash). Output: per-doc
    * post-merge token count + an md5 fingerprint of the merged
    * stream, so a wrong pair choice in ANY round fails the hash. */
  val bpeTrain: QueryDef = QueryDef.sql(
    """WITH s0 AS (SELECT doc_id,
         '  ' || replace(trim(text), ' ', '  ') || '  ' AS st
       FROM documents),""" +
      Seq(0, 1, 2).map(bpeRoundCte).mkString(",") + """,
    tf AS (SELECT doc_id,
             list_filter(string_split(st, '  '), x -> x <> '') AS toks,
             st FROM s3)
    SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_toks,
           md5(trim(st)) AS fp
    FROM tf ORDER BY doc_id""") { (s, d) =>
    import org.apache.spark.sql.DataFrame
    var st: DataFrame = Tables.documents(s, d)
      .select(col("doc_id"),
        concat(lit("  "), expr("replace(trim(text), ' ', '  ')"),
          lit("  ")).as("st"))
    for (_ <- 1 to 3) {
      // persist the (tiny: one string row per doc) state at each
      // round boundary: round r's state feeds BOTH its own pair count
      // and round r+1's replace — uncached, round 3 would re-execute
      // rounds 1-2's TakeOrdered subplans inside its lineage
      // (measured 15.3 s → 2.4 s at sf0.1). Lifetime via Caching.
      st = graft.Caching.retain(st.persist())
      // toks projected ONCE per row — inlining the filter(split(...))
      // into every lambda field reference re-splits the string 4x
      val top1 = st
        .withColumn("toks", expr("filter(split(st, '  '), x -> x != '')"))
        .select(explode(expr(
          """CASE WHEN size(toks) >= 2 THEN
               transform(sequence(0, size(toks) - 2),
                 j -> struct(toks[j] AS a, toks[j+1] AS b))
             ELSE array() END""")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .select(col("a"), col("b"))
      st = st.crossJoin(broadcast(top1))
        .select(col("doc_id"),
          expr("""replace(st, ' ' || a || '  ' || b || ' ',
                              ' ' || a || '_' || b || ' ')""").as("st"))
    }
    st.select(col("doc_id"),
        size(expr("filter(split(st, '  '), x -> x != '')"))
          .as("n_toks"),
        md5(expr("trim(st)")).as("fp"))
      .orderBy(col("doc_id"))
  }

  private def kmIterCte(i: Int): String = s"""
a$i AS (
  SELECT vec_id, cluster, d FROM (
    SELECT q.vec_id, c.cluster,
      list_sum(list_transform(generate_series(1, 64),
        j -> (CAST(q.v[j] AS DOUBLE) - c.c[j])
           * (CAST(q.v[j] AS DOUBLE) - c.c[j]))) AS d,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY list_sum(list_transform(generate_series(1, 64),
          j -> (CAST(q.v[j] AS DOUBLE) - c.c[j])
             * (CAST(q.v[j] AS DOUBLE) - c.c[j]))), c.cluster) AS rn
    FROM q CROSS JOIN c${i - 1} c) WHERE rn = 1),
m$i AS (SELECT a.cluster, s.dim, sum(s.val) AS sv, count(*) AS n
        FROM a$i a JOIN s ON s.vec_id = a.vec_id GROUP BY 1, 2),
c$i AS (SELECT cluster, list(CAST(sv AS DOUBLE) / n ORDER BY dim) AS c
        FROM m$i GROUP BY 1)"""

  /** Distributed k-means (Lloyd, k = 8, 3 fixed iterations,
    * first-k-ids init) — the clustering operator under the full
    * oracle, which float k-means normally cannot survive: the
    * centroid mean is a reduction whose float result depends on
    * partial-sum order, so the same data clusters differently run to
    * run at scale. The fix is the operator's own design, not an
    * oracle trick: inputs QUANTIZE to integers (round(x·1024) after
    * an explicit float→double cast on both engines), per-cluster
    * per-dim sums are then EXACT and order-free — the plain
    * map-side-combined groupBy shape that scales — and only the
    * final mean division and the fixed-dim-order distance fold are
    * float, both deterministic given identical inputs. Assignment
    * ties break to the smaller cluster id (min(struct(d, cluster))
    * here, ORDER BY d, cluster in the oracle). Each iteration: one
    * 8-row broadcast to every vector (row-local array fold, no
    * shuffle) + one (cluster, dim) partial-agg shuffle of skinny
    * integer rows. Iteration count fixed, like q101's PageRank — the
    * whole computation is one declarative plan, unrolled in the
    * oracle as chained CTEs. */
  val kmeansAssign: QueryDef = QueryDef.sql(
    """WITH q AS (SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(round(x * 1024) AS BIGINT)) AS v
       FROM embeddings),
    s AS (SELECT vec_id, unnest(v) AS val,
            generate_subscripts(v, 1) AS dim FROM q),
    c0 AS (SELECT vec_id AS cluster,
             list_transform(v, x -> CAST(x AS DOUBLE)) AS c
           FROM q WHERE vec_id < 8),""" +
      Seq(1, 2, 3).map(kmIterCte).mkString(",") + s"""
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
      ${r6sql("d")} AS dist
    FROM a3 ORDER BY vec_id""") { (s, d) =>
    import org.apache.spark.sql.DataFrame
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1024).cast("long")).as("v"))
    val sh = q.select(col("vec_id"),
      posexplode(col("v")).as(Seq("dim", "val")))
    var cent: DataFrame = q.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cluster"),
        transform(col("v"), x => x.cast("double")).as("c"))
    var assign: DataFrame = null
    for (_ <- 1 to 3) {
      val dist = aggregate(
        zip_with(col("v"), col("c"),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), _ + _)
      assign = q.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cluster"), dist.as("d"))
        .groupBy("vec_id")
        .agg(min(struct(col("d"), col("cluster"))).as("m"))
        .select(col("vec_id"), col("m.cluster").as("cluster"),
          col("m.d").as("d"))
      cent = assign.join(sh, "vec_id")
        .groupBy(col("cluster"), col("dim"))
        .agg(sum(col("val")).as("sv"), count(lit(1)).as("n"))
        .groupBy("cluster")
        .agg(transform(
          array_sort(collect_list(struct(col("dim"),
            (col("sv").cast("double") / col("n")).as("cv")))),
          e => e.getField("cv")).as("c"))
    }
    assign
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        r6(col("d")).as("dist"))
      .orderBy(col("vec_id"))
  }

  val labelCentroids: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT CAST(label AS BIGINT) AS label,
           unnest(embedding) AS val,
           generate_subscripts(embedding, 1) AS dim
         FROM embeddings)
       SELECT label, CAST(dim - 1 AS BIGINT) AS dim,
              ${r6sql("avg(val)")} AS mv,
              count(*) AS n_members
       FROM e GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"),
        posexplode(graft.vector.VectorOps.toDouble(col("embedding")))
          .as(Seq("dim", "val")))
      .groupBy(col("label"), col("dim"))
      .agg(r6(avg(col("val"))).as("mv"), count(lit(1)).as("n_members"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        col("mv"), col("n_members"))
      .orderBy(col("label"), col("dim"))
  }

  /** Quantile feature binning — discretize a numeric feature into
    * quartile buckets for downstream models/stratification. The
    * quartile thresholds are ONE exact-percentile aggregate
    * broadcast in-plan (the q03 machinery — no driver round-trip,
    * matches DuckDB's quantile_cont interpolation); binning is then
    * a row-local when-chain. Per-bin count + mass proves the
    * assignment. */
  val quantileBinning: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.5) AS q2,
             quantile_cont(o_totalprice, 0.75) AS q3
           FROM orders)
       SELECT CAST(CASE WHEN o_totalprice <= q1 THEN 0
              WHEN o_totalprice <= q2 THEN 1
              WHEN o_totalprice <= q3 THEN 2
              ELSE 3 END AS BIGINT) AS bin,
         count(*) AS n,
         ${r6sql("sum(o_totalprice)")} AS mass
       FROM orders, t GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val orders = Tables.orders(s, d)
    val thr = orders.agg(
      percentile(col("o_totalprice"), lit(0.25)).as("q1"),
      percentile(col("o_totalprice"), lit(0.5)).as("q2"),
      percentile(col("o_totalprice"), lit(0.75)).as("q3"))
    orders.crossJoin(broadcast(thr))
      .select(
        when(col("o_totalprice") <= col("q1"), 0L)
          .when(col("o_totalprice") <= col("q2"), 1L)
          .when(col("o_totalprice") <= col("q3"), 2L)
          .otherwise(3L).as("bin"),
        col("o_totalprice"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        r6(sum(col("o_totalprice"))).as("mass"))
      .orderBy(col("bin"))
  }

  /** BPE-training pair statistics — the inner loop of byte-pair-
    * encoding tokenizer training: count adjacent character pairs
    * within words across the corpus, rank by frequency (the top pair
    * is the next merge a BPE trainer would apply). Pair extraction
    * is row-local (split + per-word substring windows fuse into the
    * corpus scan); the aggregate's key space is ALPHABET²-bounded, so
    * the shuffle carries a vocabulary-sized relation no matter the
    * corpus size, and the top-20 plans TakeOrderedAndProject — the
    * exact shape a 100 TB tokenizer-training pass needs. `n_docs`
    * (document frequency) rides the same aggregate. */
  val bpePairCounts: QueryDef = QueryDef.sql(
    s"""WITH w AS (SELECT doc_id, unnest(${tokensSql("text")})
                    AS w
                  FROM documents),
       p AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, length(w) - 1),
                 i -> substr(w, i, 2))) AS pair
             FROM w WHERE length(w) >= 2)
       SELECT pair, count(*) AS n, count(DISTINCT doc_id) AS n_docs
       FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("w"))
      // filter BEFORE sequence(): Spark's sequence(1, 0) yields the
      // DESCENDING [1, 0], not the empty list DuckDB's
      // generate_series gives — 1-char words must never reach it
      .filter(length(col("w")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  /** Per-dimension winsorization of the embedding corpus — the
    * outlier-clipping step feature pipelines run before
    * normalization/training: exact p01/p99 per dimension (one
    * skinny posexplode aggregate; percentile matches DuckDB's
    * quantile_cont interpolation, the q86 machinery), then clip and
    * re-aggregate. Two shuffles total, both over (dim, value) pairs
    * — embeddings themselves never move; the d-row bounds relation
    * broadcasts. Emits per-dim bounds, clip count, and the
    * winsorized mean as the audit surface. */
  val winsorizeEmbeddings: QueryDef = QueryDef.sql(
    s"""WITH v AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
             CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim
           FROM embeddings),
       b AS (SELECT dim, quantile_cont(x, 0.01) AS lo,
               quantile_cont(x, 0.99) AS hi
             FROM v GROUP BY 1)
       SELECT v.dim,
         ${r6sql("b.lo")} AS p01,
         ${r6sql("b.hi")} AS p99,
         CAST(count(CASE WHEN x < b.lo OR x > b.hi THEN 1 END) AS BIGINT)
           AS n_clipped,
         ${r6sql("avg(least(greatest(x, b.lo), b.hi))")} AS mean_winsorized
       FROM v JOIN b USING (dim)
       GROUP BY 1, b.lo, b.hi ORDER BY 1""") { (s, d) =>
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(graft.vector.VectorOps.toDouble(col("embedding")))
          .as(Seq("dim", "x")))
    val b = v.groupBy(col("dim"))
      .agg(percentile(col("x"), lit(0.01)).as("lo"),
        percentile(col("x"), lit(0.99)).as("hi"))
    v.join(broadcast(b), "dim")
      .select(col("dim"), col("lo"), col("hi"), col("x"),
        least(greatest(col("x"), col("lo")), col("hi")).as("cx"),
        (col("x") < col("lo") || col("x") > col("hi"))
          .cast("long").as("clipped"))
      .groupBy(col("dim"))
      .agg(r6(first(col("lo"))).as("p01"), r6(first(col("hi"))).as("p99"),
        sum(col("clipped")).as("n_clipped"),
        r6(avg(col("cx"))).as("mean_winsorized"))
      .orderBy(col("dim"))
  }

  /** Length-bucketed inference batching — group documents into
    * fixed-size batches by descending token length so same-batch
    * sequences pad to similar lengths (padding waste is the
    * dominating cost of naive batching at inference/training time);
    * emits per-batch occupancy and the padding fraction the layout
    * achieves. The global ranking runs over SKINNY (doc_id,
    * n_tokens) rows only — text never sorts; at 100 TB the same key
    * degrades to precomputed length-range buckets (hash the length
    * into band ids) with exact ordering only within buckets, without
    * changing batch semantics. */
  val lengthBatching: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, len(${tokensSql("text")})
                    AS n_tokens
                  FROM documents),
       r AS (SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
             FROM t)
       SELECT CAST((rn - 1) // 32 AS BIGINT) AS batch_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(max(n_tokens) AS BIGINT) AS max_len,
         CAST(sum(n_tokens) AS BIGINT) AS sum_len,
         ${r6sql("""1.0 - CAST(sum(n_tokens) AS DOUBLE)
                / (max(n_tokens) * count(*))""")} AS padding_frac
       FROM r GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val B = 32
    val t = Tables.documents(s, d)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
    val w = Window.orderBy(col("n_tokens").desc, col("doc_id"))
    t.select(col("doc_id"), col("n_tokens"),
        row_number().over(w).as("rn"))
      .groupBy(floor((col("rn") - 1) / B).cast("long").as("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).cast("long").as("max_len"),
        sum(col("n_tokens")).cast("long").as("sum_len"),
        r6(lit(1.0) - sum(col("n_tokens")).cast("double")
          / (max(col("n_tokens")) * count(lit(1)))).as("padding_frac"))
      .orderBy(col("batch_id"))
  }

  /** JSONL round-trip — the interchange format LLM corpora ship in
    * (one JSON object per line): write the documents table as JSONL,
    * read it back through an EXPLICIT schema (schema inference would
    * be a full extra corpus scan at 100 TB), and prove lossless
    * fidelity by matching an ORDER-INDEPENDENT hash aggregate
    * against the oracle computed on the original table — any
    * escaping fault, encoding corruption, dropped row, or mangled
    * field shifts a per-lang md5 hash sum. The hash sum is bounded
    * state per group (the q51 md5-prefix trick), never a
    * concatenation — group size cannot blow the aggregate. */
  val jsonlRoundtrip: QueryDef = QueryDef.sql(
    """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
              AS BIGINT) AS text_hashsum
       FROM documents GROUP BY 1 ORDER BY 1""") { (s, d) =>
    // pid-suffixed: the layout is rewritten every call (the write IS
    // the operator), so two concurrent JVMs on the same sfDir must
    // not share a dir — one's overwrite would race the other's
    // read-back (the FixtureMemo-style lock is wrong here: nothing
    // is memoized)
    val dir = graft.sources.ScratchDirs.perProcess("q128", d)
    Tables.documents(s, d).write.mode("overwrite").json(dir)
    s.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING," +
        " n_chars BIGINT")
      .json(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("text_hashsum"))
      .orderBy(col("lang"))
  }

  /** Corpus-level boilerplate removal (the C4/CCNet cleaning step) —
    * delete every 8-token chunk occurring 2+ times ACROSS the corpus
    * (headers, footers, license blurbs) and rebuild each document
    * from its surviving chunks in order. Drives
    * [[graft.text.Boilerplate.removeDuplicatedChunks]]: chunking is
    * row-local codegen array ops; duplicate detection is ONE
    * `groupBy(chunk)` whose constant-width state (count + max struct)
    * yields the survivors directly — no self-join, no per-chunk
    * occurrence lists, so a million-fold footer costs the same
    * aggregate state as a unique chunk. The oracle mirrors the
    * chunk/count/rebuild pipeline in set-based SQL. */
  val boilerplateRemoval: QueryDef = QueryDef.sql(
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t
                     FROM documents),
       chunks AS (
         SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
           array_to_string(list_slice(t, CAST(i*8+1 AS INT),
             CAST(i*8+8 AS INT)), ' ') AS chunk
         FROM toks,
           unnest(range(0, CAST(floor((len(t)-1)/8) AS BIGINT)+1)) AS u(i)),
       counts AS (SELECT chunk, count(*) AS cnt FROM chunks
                  GROUP BY chunk),
       kept AS (SELECT c.doc_id, c.chunk_idx, c.chunk
                FROM chunks c JOIN counts USING(chunk) WHERE cnt < 2),
       rebuilt AS (SELECT doc_id, count(*) AS kept_chunks,
                   string_agg(chunk, ' ' ORDER BY chunk_idx) AS rebuilt
                   FROM kept GROUP BY doc_id)
       SELECT t.doc_id, CAST(floor((len(t.t)-1)/8)+1 AS BIGINT)
           AS n_chunks,
         coalesce(kept_chunks, 0) AS kept_chunks,
         coalesce(rebuilt, '') AS rebuilt
       FROM toks t LEFT JOIN rebuilt USING(doc_id)
       ORDER BY t.doc_id""") { (s, d) =>
    graft.text.Boilerplate.removeDuplicatedChunks(
        Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 8, minCount = 2)
      .orderBy(col("doc_id"))
  }

  /** CSV round-trip — q128's lossless-interchange proof applied to
    * the other text format corpora ship in. Write the documents
    * table as headered CSV, read it back through an EXPLICIT schema
    * (inference = an extra full corpus scan at 100 TB), and match the
    * same order-independent per-lang hash aggregate against the
    * oracle computed on the original table — a quoting/escaping
    * fault, dropped row, or type coercion shifts the md5-prefix
    * hash sum. */
  val csvRoundtrip: QueryDef = QueryDef.sql(
    """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
              AS BIGINT) AS text_hashsum
       FROM documents GROUP BY 1 ORDER BY 1""") { (s, d) =>
    // pid-suffixed for the same overwrite-race reason as q128
    val dir = graft.sources.ScratchDirs.perProcess("q172", d)
    Tables.documents(s, d).write.mode("overwrite")
      .option("header", "true").csv(dir)
    s.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING," +
        " n_chars BIGINT")
      .option("header", "true")
      .csv(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("text_hashsum"))
      .orderBy(col("lang"))
  }

  /** Malformed-record tolerance — what a 100 TB lake ingest actually
    * faces: rows written by years of heterogeneous producers, some
    * corrupt. Every 7th document's integer field is deliberately
    * mangled on the way out; the read-back runs under PERMISSIVE
    * mode with `columnNameOfCorruptRecord`, so bad rows surface as
    * (parsed-what-we-could + raw line in the corrupt column) instead
    * of killing the job (FAILFAST) or silently vanishing
    * (DROPMALFORMED). The aggregate counts rows, quarantined rows,
    * and clean-field sums per lang in ONE pass — no
    * corrupt-column-only subquery (Spark disallows referencing only
    * the corrupt column from a raw scan). Oracle recomputes from the
    * planted corruption pattern, so a row dropped or mis-quarantined
    * on either side fails the hash. */
  val malformedTolerance: QueryDef = QueryDef.sql(
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bad,
         CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN n_chars ELSE 0 END)
              AS BIGINT) AS good_chars
       FROM documents GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = graft.sources.ScratchDirs.perProcess("q191", d)
    Tables.documents(s, d)
      .select(concat_ws(",", col("doc_id"), col("lang"),
        when(col("doc_id") % 7 === 0, lit("xx"))
          .otherwise(col("n_chars").cast("string"))).as("value"))
      .write.mode("overwrite").text(dir)
    s.read
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT," +
        " _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_corrupt").isNotNull, 1).otherwise(0)).as("n_bad"),
        sum(coalesce(col("n_chars"), lit(0L))).as("good_chars"))
      .orderBy(col("lang"))
  }

  /** Schema-evolution readback — the other inevitable lake reality
    * next to q191's corruption: files written before and after a
    * column was added must read as ONE relation. Two parquet
    * generations land in the same directory (gen1: doc_id/lang/
    * n_chars for even ids; gen2: + a quality column for odd ids);
    * the `mergeSchema` read unions the footers, gen1 rows surface
    * the new column as NULL, and the aggregate proves both
    * generations contribute: per-lang row count, rows carrying the
    * new column, and its null-skipping sum. (S2's glob scan
    * unit-covers the mechanism; this row puts end-to-end semantics
    * under the oracle.) Oracle recomputes from the id-parity
    * generation rule. */
  val schemaEvolution: QueryDef = QueryDef.sql(
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gen2,
         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars * 2 ELSE 0 END)
              AS BIGINT) AS quality_sum
       FROM documents GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = graft.sources.ScratchDirs.perProcess("q192", d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    docs.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/gen=1")
    docs.filter(col("doc_id") % 2 === 1)
      .withColumn("quality", col("n_chars") * 2)
      .write.mode("overwrite").parquet(s"$dir/gen=2")
    Tables.glob(s, s"$dir/gen=*")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("quality").isNotNull, 1).otherwise(0)).as("n_gen2"),
        sum(coalesce(col("quality"), lit(0L))).as("quality_sum"))
      .orderBy(col("lang"))
  }

  /** k-anonymity audit (k=5) over quasi-identifiers — the privacy
    * governance check next to q52's PII scrub: every
    * (event_type, day-of-week, value-decade) combination carried by
    * fewer than k rows is a re-identification risk and is reported.
    * One hash aggregate on the QI tuple + a post-agg filter
    * (HAVING); the group count is bounded by the QI cardinality
    * product, not the fact size, so the output stays tiny at any
    * scale and the single shuffle carries only partial counts. */
  val kAnonymity: QueryDef = QueryDef.sql(
    """WITH g AS (SELECT event_type,
           CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
           CAST(floor(value / 10) AS BIGINT) AS vbucket,
           CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1, 2, 3)
       SELECT event_type, dow, vbucket, cnt FROM g WHERE cnt < 5
       ORDER BY event_type, dow, vbucket""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"),
        dayofweek(col("ts")).cast("int").as("dow"),
        floor(col("value") / 10).cast("long").as("vbucket"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") < 5)
      .orderBy(col("event_type"), col("dow"), col("vbucket"))
  }

  /** Dynamic partition overwrite — the lake mutation semantics next
    * to q191/q192: a full partitioned write, then a second write
    * carrying ONLY one partition's corrected rows (values negated)
    * with `partitionOverwriteMode=dynamic`, which must replace just
    * the partitions present in the incoming data and leave every
    * other partition untouched (static overwrite would truncate the
    * whole table — and fail the oracle, whose untouched-type counts
    * are non-zero). At 100 TB this is THE idiom for late-arriving
    * corrections: the rewrite cost is proportional to the dirty
    * partitions, not the table. Readback sums per-row `micros`
    * quantizations, so the sums are exact. */
  val dynamicPartitionOverwrite: QueryDef = QueryDef.sql(
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(${microsSql("""CASE WHEN event_type = 'purchase'
             THEN -value ELSE value END""")})
           AS BIGINT) AS qsum
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = graft.sources.ScratchDirs.perProcess("q200", d)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.write.partitionBy("event_type").mode("overwrite").parquet(dir)
    ev.filter(col("event_type") === "purchase")
      .withColumn("value", -col("value"))
      .write.partitionBy("event_type")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(micros(col("value")))
          .cast("long").as("qsum"))
      .orderBy(col("event_type"))
  }

  /** Keyed MERGE-shaped upsert on the lake path (VERDICT r9 #8 —
    * closes the lake-mechanics row next to q200's dynamic overwrite
    * and q139/q75's CDC compaction): a snapshot table is WRITTEN,
    * read back, merged with a keyed change feed (deletes %13,
    * doubled-price updates %7, key-shifted inserts %11 — all derived
    * from the data, no RNG), the merged state is written as the next
    * table version and READ BACK for the output aggregate — both
    * writes and both reads are on the physical path, so a broken
    * merge join, a lost insert, or a resurrected delete
    * hash-mismatches. The merge itself is the engine-standard
    * full-outer join on the key (what MERGE INTO lowers to when the
    * change feed isn't tiny); at 100 TB both sides shuffle on the
    * key once, or zero times if the table is bucketed by it
    * (q158/q207). Version paths are distinct — a lake NEVER
    * overwrites the file set a running read depends on. */
  val mergeUpsert: QueryDef = QueryDef.sql(
    s"""WITH base AS (SELECT o_orderkey,
           ${microsSql("o_totalprice")} AS pm
         FROM orders),
       kept AS (SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN pm*2 ELSE pm END AS pm
         FROM base WHERE o_orderkey % 13 <> 0),
       ins AS (SELECT o_orderkey + 1000000000 AS o_orderkey,
           o_orderkey AS pm FROM base WHERE o_orderkey % 11 = 0),
       m AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
       SELECT CAST(o_orderkey % 10 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pm) AS BIGINT) AS sum_pm,
         CAST(sum(CASE WHEN o_orderkey >= 1000000000 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_inserted
       FROM m GROUP BY 1 ORDER BY 1""") { (s, d) =>
    // pid-keyed (each process writes its own table versions) →
    // registered for shutdown-hook deletion, or repeated runs across
    // processes would accumulate snapshot files in tmp without bound
    val dir = graft.sources.ScratchDirs.perProcess("q327", d)
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      micros(col("o_totalprice")).as("pm"))
    base.write.mode("overwrite").parquet(s"$dir/t_v1.parquet")
    val snap = s.read.parquet(s"$dir/t_v1.parquet")
    val changes = base.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"), lit(null).cast("long").as("pm"),
          lit("D").as("op"))
      .unionByName(base
        .filter(col("o_orderkey") % 7 === 0
          && col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), (col("pm") * 2).as("pm"),
          lit("U").as("op")))
      .unionByName(base.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_orderkey").cast("long").as("pm"), lit("I").as("op")))
    val merged = snap.as("t")
      .join(changes.as("c"), Seq("o_orderkey"), "full_outer")
      .filter(coalesce(col("c.op"), lit("")) =!= "D")
      .select(col("o_orderkey"),
        when(col("c.op").isin("U", "I"), col("c.pm"))
          .otherwise(col("t.pm")).as("pm"))
    merged.write.mode("overwrite").parquet(s"$dir/t_v2.parquet")
    s.read.parquet(s"$dir/t_v2.parquet")
      .groupBy((col("o_orderkey") % 10).cast("long").as("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("pm")).cast("long").as("sum_pm"),
        sum(when(col("o_orderkey") >= 1000000000L, 1L).otherwise(0L))
          .cast("long").as("n_inserted"))
      .orderBy(col("bucket"))
  }

  /** Right-to-be-forgotten erasure + audit — the governance rewrite
    * every lake eventually runs: a forget-set relation anti-joins
    * the fact (broadcast here; at scale a shuffle anti-join on the
    * same key), the scrubbed table is rewritten, and the AUDIT reads
    * the rewrite back and proves residue = 0 with a semi-join
    * against the same forget-set — the residue column is computed
    * from the physical readback, not assumed. Output: per-type
    * before/after counts and the (zero) residue. */
  val erasureAudit: QueryDef = QueryDef.sql(
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_before,
         CAST(sum(CASE WHEN user_id % 97 <> 13 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_after,
         CAST(0 AS BIGINT) AS n_residue
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = graft.sources.ScratchDirs.perProcess("q201", d)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val forget = ev.select(col("user_id")).distinct()
      .filter(col("user_id") % 97 === 13)
    ev.join(forget, Seq("user_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$dir/scrubbed.parquet")
    val back = s.read.parquet(s"$dir/scrubbed.parquet")
    val residue = back.join(forget, Seq("user_id"), "left_semi")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_residue"))
    val before = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_before"))
    val after = back.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_after"))
    before.join(after, Seq("event_type"), "left")
      .join(residue, Seq("event_type"), "left")
      .select(col("event_type"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_residue"), lit(0L)).cast("long")
          .as("n_residue"))
      .orderBy(col("event_type"))
  }

  /** Fill-in-middle (FIM) transformation — the code/infilling
    * pretraining data op: split each document at its 1/3 and 2/3
    * character cuts and re-emit in PSM order
    * (<PRE>prefix<SUF>suffix<MID>middle) with the three span lengths.
    * Entirely row-local string arithmetic off the stored n_chars —
    * zero shuffles beyond the presentation sort, trivially linear at
    * any corpus size. (Real FIM randomizes cut points per document;
    * the deterministic thirds keep the row oracle-checkable — the
    * plan shape is identical.) */
  val fimSplit: QueryDef = QueryDef.sql(
    """WITH s AS (SELECT doc_id, text,
           CAST(floor(n_chars/3) AS INT) AS c1,
           CAST(floor(2*n_chars/3) AS INT) AS c2,
           CAST(n_chars AS INT) AS n
         FROM documents)
       SELECT doc_id,
         concat('<PRE>', substr(text, 1, c1),
                '<SUF>', substr(text, c2+1, n-c2),
                '<MID>', substr(text, c1+1, c2-c1)) AS psm,
         CAST(c1 AS INTEGER) AS pre_len,
         CAST(n-c2 AS INTEGER) AS suf_len,
         CAST(c2-c1 AS INTEGER) AS mid_len
       FROM s ORDER BY doc_id""") { (s, d) =>
    val c1 = floor(col("n_chars") / 3).cast("int")
    val c2 = floor(col("n_chars") * 2 / 3).cast("int")
    val n = col("n_chars").cast("int")
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), c1.as("c1"), c2.as("c2"),
        n.as("n"))
      .select(col("doc_id"),
        concat(lit("<PRE>"), col("text").substr(lit(1), col("c1")),
          lit("<SUF>"),
          col("text").substr(col("c2") + 1, col("n") - col("c2")),
          lit("<MID>"),
          col("text").substr(col("c1") + 1, col("c2") - col("c1")))
          .as("psm"),
        col("c1").as("pre_len"),
        (col("n") - col("c2")).as("suf_len"),
        (col("c2") - col("c1")).as("mid_len"))
      .orderBy(col("doc_id"))
  }

  /** Edit-distance fuzzy near-dup — the third text-similarity metric
    * after set-overlap (Jaccard) and bit-signature (SimHash): pairs
    * whose 40-char prefixes are within Levenshtein 12, BLOCKED on
    * (lang, 50-char length band) so the quadratic distance evaluation
    * runs only inside blocks — the classic record-linkage shape. The
    * self-join is an equi-join on the block key (one shuffle), the
    * `a_id < b_id` residual halves the pairs, and the O(40²) dynamic
    * program runs per candidate, never per corpus pair. At 100 TB the
    * band would fold into the LSH candidate stream; the blocking-key
    * equi-join shape is identical. */
  val editDistanceNearDup: QueryDef = QueryDef.sql(
    """WITH p AS (SELECT doc_id, lang, substr(text, 1, 40) AS pfx,
           CAST(floor(n_chars / 50) AS INTEGER) AS band
         FROM documents)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS dist
       FROM p a JOIN p b
         ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
       WHERE levenshtein(a.pfx, b.pfx) <= 12
       ORDER BY a_id, b_id""") { (s, d) =>
    val p = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 40).as("pfx"),
        floor(col("n_chars") / 50).cast("int").as("band"))
    // the probe side must be spread BEFORE the broadcast join: a
    // single-file corpus scans as one partition, and the whole
    // quadratic DP would run in one task (measured 17 s at sf0.1).
    // The partition count is EXPLICIT because this shuffle is
    // CPU-bound, not byte-bound — AQE's coalescing sees 5000 tiny
    // rows and folds the spread back to one partition (measured: a
    // bare repartition(cols) changed nothing). Hash-partitioning on
    // the block key is the scale-correct spread: it also co-locates
    // any downstream per-block work.
    val shufflePartitions = s.sessionState.conf.numShufflePartitions
    val a = p.select(col("doc_id").as("a_id"), col("lang").as("a_lang"),
        col("pfx").as("a_pfx"), col("band").as("a_band"))
      .repartition(shufflePartitions, col("a_lang"), col("a_band"))
    val b = p.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
      col("pfx").as("b_pfx"), col("band").as("b_band"))
    a.join(b, col("a_lang") === col("b_lang")
        && col("a_band") === col("b_band")
        && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        // threshold form: banded O(k·n) DP with early exit instead of
        // the full O(n²) table — returns the true distance when
        // ≤ 12 and -1 otherwise, so the filter keeps exactly the
        // oracle's pair set with exact distances
        levenshtein(col("a_pfx"), col("b_pfx"), 12).as("dist"))
      .filter(col("dist") >= 0)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Amortized PQ-ADC search over a PERSISTED index — the deployed
    * regime every production vector store runs (q73's persisted-index
    * pattern applied to ANN): the codebook + 16×-compressed code
    * relation are trained/encoded ONCE per corpus snapshot
    * (FixtureMemo keyed on the embeddings table's signature — the
    * q70/q75 layout discipline, so a driver-regenerated fixture
    * rebuilds) and every later search, including the bench's
    * min-of-2, pays only codes-scan + ADC + shortlist re-rank.
    * Catalog companion to q54 (same search, train+encode inside the
    * timed region) and q116 (full IVF-PQ build e2e) — the three rows
    * together put measured numbers on what index amortization buys.
    * Training is deterministic given the corpus, so PqSpec gates
    * bit-equality of this search against q54's inline-trained one.
    * Oracle: the persisted codebook is re-frozen to the OracleAux
    * location each run and DuckDB recomputes the search over it —
    * valid because the persisted code relation is bit-equal to a
    * fresh full-corpus encode with the same codebook (the PqSpec
    * zero-drift gate). */
  val pqSearchAmortized: QueryDef = QueryDef.sql(
      PqOracle.adcTopKSql("q130_codebook")) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val layout = s"${System.getProperty("java.io.tmpdir")}/graft_q130_" +
      Integer.toHexString(d.hashCode)
    // signature = corpus snapshot + PQ params + training-code rev:
    // a param or algorithm change must rebuild the persisted index
    // even when the fixture is unchanged (bump the rev on any
    // pqTrain/pqCodes behavior change)
    val sig = graft.sources.FixtureMemo.tableSig(d, "embeddings") +
      ":pq_m16_k16_d4_i1:rev1"
    graft.sources.FixtureMemo.once(layout, sig) {
      val cb = VectorOps.pqTrain(VectorOps.normalize(emb), 16, 16, 4,
        iters = 1)
      cb.write.mode("overwrite").parquet(s"$layout/codebook")
      VectorOps.pqCodes(emb, s.read.parquet(s"$layout/codebook"), 16, 4)
        .write.mode("overwrite").parquet(s"$layout/codes")
    }
    val cb = graft.sources.OracleAux.freezeAndRead(s,
      s.read.parquet(s"$layout/codebook"), "q130_codebook",
      graft.sources.OracleAux.embeddingsTag(emb))
    val codes = s.read.parquet(s"$layout/codes")
    VectorOps.pqAdcTopKFromCodes(codes, emb,
        emb.filter(col("vec_id") < 10), 3, cb, 16, 4)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Bloom-screened decontamination — q56's benchmark-overlap check
    * computed through a BROADCAST BLOOM PREFILTER (q62's runtime-
    * filter pattern applied at the n-gram level): the benchmark
    * gram set folds into a few-hundred-KB bloom fingerprint, corpus
    * grams are screened MAP-SIDE (`might_contain` fuses into the
    * gram explode — no shuffle, no join for the ~99% that miss), and
    * only bloom survivors reach the exact join. No false negatives ⇒
    * the result is exactly q56's, which is what lets the row be
    * oracle-checked against the plain-join SQL. At 100 TB this is
    * the difference between joining every corpus gram against the
    * benchmark and joining ~(overlap + fpp) of them — the shape
    * real decontamination passes (e.g. 13-gram screens) run. */
  val bloomContamination: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       g AS (SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
             FROM t WHERE len(toks) >= 3),
       bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0),
       hits AS (SELECT g.doc_id, count(*) AS n_shared
                FROM g JOIN bench USING (g)
                WHERE g.doc_id % 20 <> 0
                GROUP BY 1)
       SELECT t.doc_id, COALESCE(hits.n_shared, 0) AS n_shared,
              COALESCE(hits.n_shared, 0) >= 10 AS contaminated
       FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id
       WHERE t.doc_id % 20 <> 0
       ORDER BY t.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val grams = docs.filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(TextOps.shingles(col("toks"), 3)).as("g"))
    val bench = grams.filter(col("doc_id") % 20 === 0)
      .select(col("g")).distinct()
    val bf = graft.ops.BloomJoin.buildFilter(bench, "g",
      estItems = 100000L, numBits = 1L << 20)
    graft.functions.GraftFunctions.register(s)
    val screened = grams.filter(col("doc_id") % 20 =!= 0)
      .filter(call_function(graft.ops.BloomJoin.MIGHT_CONTAIN, lit(bf),
        xxhash64(col("g"))))
    val hits = screened.join(broadcast(bench), "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    docs.filter(col("doc_id") % 20 =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= 10).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic negative sampling — contrastive-training prep:
    * for each anchor document, the k=5 pseudo-random negatives drawn
    * from OTHER sources, selected by rank of md5(anchor:candidate) —
    * content-independent, RNG-free, identical on any engine or
    * cluster layout (the q121 replayability property applied to
    * pair construction). The hash uses 13 hex digits (52 bits) so
    * its integer value is EXACTLY representable as the double the
    * TopK aggregate orders by. Anchors broadcast; ranking runs
    * through the bounded-heap TopK aggregate, so only k rows per
    * (anchor × task) cross the shuffle — never the |A|·n scored
    * stream (the window form would sort all of it). */
  val negativeSampling: QueryDef = QueryDef.sql(
    """WITH a AS (SELECT doc_id AS anchor_id, source AS a_src
                  FROM documents WHERE doc_id % 50 = 0),
       c AS (SELECT anchor_id, d.doc_id AS neg_id,
               CAST(('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || ':'
                     || CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
             FROM a JOIN documents d ON d.source <> a.a_src),
       r AS (SELECT anchor_id, neg_id, h,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY h, neg_id) AS rk
             FROM c)
       SELECT anchor_id, CAST(rk AS INTEGER) AS rank, neg_id
       FROM r WHERE rk <= 5 ORDER BY anchor_id, rank""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val anchors = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("anchor_id"), col("source").as("a_src"))
    val topk = graft.ops.TopK.topk(5)
    docs.select(col("doc_id").as("neg_id"), col("source"))
      .join(broadcast(anchors), col("source") =!= col("a_src"))
      .select(col("anchor_id"), col("neg_id"),
        conv(substring(md5(concat(col("anchor_id").cast("string"),
          lit(":"), col("neg_id").cast("string"))), 1, 13), 16, 10)
          .cast("long").as("h"))
      // smallest hash first ⇔ ord = -h descending; ties → smaller id
      // (the aggregate's convention, matching ORDER BY h, neg_id)
      .groupBy(col("anchor_id"))
      .agg(topk((-col("h")).cast("double"), col("neg_id")).as("__top"))
      .select(col("anchor_id"),
        posexplode(col("__top")).as(Seq("__i", "__s")))
      .select(col("anchor_id"), (col("__i") + 1).cast("int").as("rank"),
        col("__s").getField("id").as("neg_id"))
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** Temperature-based source mixture sampling — the multilingual /
    * multi-source rebalancing step every corpus mix runs (keep
    * probability ∝ n_s^α scaled to a target budget, α=0.5): per-
    * source counts are one tiny aggregate, the keep threshold
    * p_s = min(1, (√n_s / Σ√n_i) · N/n_s) is ROUNDED TO 6 DECIMALS
    * so both engines compare every document's md5 bucket against the
    * same exact constant (sqrt is IEEE-correctly-rounded everywhere;
    * the r6 makes the one summation-order-sensitive value portable),
    * and the keep decision is the q51 deterministic md5 split.
    * Row-local after a broadcast of the ~|sources| threshold
    * relation — at 100 TB the corpus is touched once, map-side. */
  val temperatureSampling: QueryDef = QueryDef.sql(
    s"""WITH s AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
       w AS (SELECT source, n_s,
               ${r6sql("""least(1.0, sqrt(n_s) / (SELECT sum(sqrt(n_s)) FROM s)
                      * (SELECT count(*) FROM documents) * 0.5 / n_s)""")}
                 AS p_keep
             FROM s)
       SELECT d.doc_id, d.source, w.p_keep,
              (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1000000) / 1000000.0 < w.p_keep AS kept
       FROM documents d JOIN w USING (source)
       ORDER BY d.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"))
    val denomAndTotal = counts.agg(
      sum(sqrt(col("n_s"))).as("__denom"),
      sum(col("n_s")).cast("double").as("__total"))
    val w = counts.crossJoin(broadcast(denomAndTotal))
      .select(col("source"),
        r6(least(lit(1.0), sqrt(col("n_s")) / col("__denom")
          * col("__total") * 0.5 / col("n_s"))).as("p_keep"))
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long") % 1000000) / lit(1000000.0)
    docs.join(broadcast(w), "source")
      .select(col("doc_id"), col("source"), col("p_keep"),
        (bucket < col("p_keep")).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Incremental ANN index upkeep — the vector-tier twin of q73's
    * nightly dedup: the index artifacts (codebook trained on the
    * EXISTING corpus half + its codes) persist across runs
    * (FixtureMemo); a new-arrivals batch is encoded with the STALE
    * codebook — row-local, touches only the delta — appended to the
    * code relation, and searched. The operational claim (PqSpec,
    * bit-for-bit): incremental append introduces ZERO drift versus
    * batch re-encoding the full corpus with the same codebook —
    * encode is row-local-deterministic given the codebook, so the
    * only honest staleness cost is codebook quality, which retrains
    * on rebuild cadence (q130's sig discipline), never per batch.
    * At 100 TB: nightly cost = encode(delta) + append, not
    * retrain(corpus) + re-encode(corpus).
    * Oracle: the stale codebook is frozen to the OracleAux location
    * and DuckDB recomputes the search as a full-corpus encode over
    * it — exactly the zero-drift equivalence this row exists to
    * demonstrate (old codes ∪ delta codes ≡ batch re-encode, both
    * row-local argmin over the same frozen doubles). */
  val pqIndexIncremental: QueryDef = QueryDef.sql(
      PqOracle.adcTopKSql("q134_codebook")) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val mid = emb.agg((max(col("vec_id")) / 2).cast("long"))
      .collect()(0).getLong(0) // bounded driver scalar (q120 pattern)
    val layout = s"${System.getProperty("java.io.tmpdir")}/graft_q134_" +
      Integer.toHexString(d.hashCode)
    val sig = graft.sources.FixtureMemo.tableSig(d, "embeddings") +
      ":pq_m16_k16_d4_i1:rev1"
    graft.sources.FixtureMemo.once(layout, sig) {
      val old = emb.filter(col("vec_id") < mid)
      val cb = VectorOps.pqTrain(VectorOps.normalize(old), 16, 16, 4,
        iters = 1)
      cb.write.mode("overwrite").parquet(s"$layout/codebook")
      VectorOps.pqCodes(old, s.read.parquet(s"$layout/codebook"), 16, 4)
        .write.mode("overwrite").parquet(s"$layout/codes")
    }
    val cb = graft.sources.OracleAux.freezeAndRead(s,
      s.read.parquet(s"$layout/codebook"), "q134_codebook",
      graft.sources.OracleAux.embeddingsTag(emb))
    val delta = VectorOps.pqCodes(emb.filter(col("vec_id") >= mid),
      cb, 16, 4)
    val codes = s.read.parquet(s"$layout/codes").unionByName(delta)
    VectorOps.pqAdcTopKFromCodes(codes, emb,
        emb.filter(col("vec_id") < 10), 3, cb, 16, 4)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Embedding distribution drift between corpus snapshots — the
    * vector-tier twin of q91's scalar KS drift: split the corpus
    * into an old/new half (deterministic id boundary), compare
    * per-dimension means and spreads, and flag dimensions whose
    * standardized shift |Δmean|/σ_old exceeds a threshold. The op
    * every embedding-refresh pipeline runs before swapping an index
    * or re-training a probe. Shape: ONE skinny (dim, x) aggregate
    * per half over posexploded rows — embeddings never shuffle
    * whole; d-row join; row-local flagging. */
  val embeddingDrift: QueryDef = QueryDef.sql(
    s"""WITH m AS (SELECT max(vec_id) // 2 AS mid FROM embeddings),
       v AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
               CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER)
                 AS dim
             FROM embeddings),
       o AS (SELECT dim, avg(x) AS mean_old, stddev_samp(x) AS sd_old
             FROM v, m WHERE vec_id < mid GROUP BY 1),
       n AS (SELECT dim, avg(x) AS mean_new
             FROM v, m WHERE vec_id >= mid GROUP BY 1)
       SELECT o.dim,
         ${r6sql("o.mean_old")} AS mean_old,
         ${r6sql("n.mean_new")} AS mean_new,
         ${r6sql("abs(n.mean_new - o.mean_old) / o.sd_old")} AS std_shift,
         ${r6sql("abs(n.mean_new - o.mean_old) / o.sd_old")} > 0.2 AS drifted
       FROM o JOIN n USING (dim) ORDER BY o.dim""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val mid = emb.agg((max(col("vec_id")) / 2).cast("long"))
      .collect()(0).getLong(0) // bounded driver scalar (q120 pattern)
    val v = emb.select(col("vec_id"),
      posexplode(graft.vector.VectorOps.toDouble(col("embedding")))
        .as(Seq("dim", "x")))
    val o = v.filter(col("vec_id") < mid).groupBy(col("dim"))
      .agg(avg(col("x")).as("mean_old"), stddev_samp(col("x")).as("sd_old"))
    val n = v.filter(col("vec_id") >= mid).groupBy(col("dim"))
      .agg(avg(col("x")).as("mean_new"))
    o.join(n, "dim")
      .select(col("dim"),
        r6(col("mean_old")).as("mean_old"),
        r6(col("mean_new")).as("mean_new"),
        r6(abs(col("mean_new") - col("mean_old")) / col("sd_old"))
          .as("std_shift"),
        // flag compares the ROUNDED shift so both engines test the
        // same 6-decimal constant — an unrounded ratio straddling
        // the threshold by an ulp would flip only one side
        (r6(abs(col("mean_new") - col("mean_old")) / col("sd_old")) > 0.2)
          .as("drifted"))
      .orderBy(col("dim"))
  }

  /** Semantic benchmark contamination — the embedding-space
    * complement of q56/q131's n-gram screens (SemDeDup/decontam
    * practice: paraphrased benchmark leakage that shares no 3-gram
    * still sits close in embedding space): every corpus vector's max
    * cosine against the benchmark set, flagged at a threshold on the
    * ROUNDED score (both engines compare the same 6-decimal value).
    * Exact brute-force form — oracle-checkable bit-for-bit (per-pair
    * r6 before the order-independent max) — and honest about scale:
    * the benchmark side is tiny and BROADCASTS (one corpus scan, no
    * shuffle of embeddings); at 100 TB the corpus side would go
    * through the q38 LSH prefilter with this as the verify stage. */
  val semanticContamination: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       b AS (SELECT vec_id AS b_id, v AS b_v FROM e
             WHERE vec_id % 20 = 0),
       c AS (SELECT vec_id, v FROM e WHERE vec_id % 20 <> 0),
       p AS (SELECT c.vec_id,
               ${r6sql("""list_dot_product(c.v, b.b_v)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(b.b_v, b.b_v)))""")} AS cos
             FROM c CROSS JOIN b)
       SELECT vec_id, max(cos) AS max_cos, max(cos) >= 0.3 AS contaminated
       FROM p GROUP BY 1 ORDER BY 1""") { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        graft.vector.VectorOps.toDouble(col("embedding")).as("v"))
    val bench = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("b_id"), col("v").as("b_v"))
    e.filter(col("vec_id") % 20 =!= 0)
      .crossJoin(broadcast(bench))
      .select(col("vec_id"),
        r6(graft.vector.VectorOps.cosine(col("v"), col("b_v"))).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("max_cos"))
      .select(col("vec_id"), col("max_cos"),
        (col("max_cos") >= 0.3).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** Semantic contamination behind the cross-polytope PREFILTER
    * (VERDICT r6 #3 / r7 #7): q136's brute-force verdicts are the
    * small-scale shape; at 100 TB the corpus must never cross-join
    * the benchmark, so candidates come from the q38 LSH banding and
    * only candidates pay the exact cosine verify. tau = 0.45 (the
    * q38 near-dup threshold — "contaminated" = the document IS
    * semantically a benchmark item, not merely correlated like
    * q136's 0.3 screen). Oracle = the exact pair set: banding at
    * this margin captures every fixture pair at all three SFs
    * (gated in AnnRecallSpec so drift is caught locally before a
    * driver red row); PlanAuditSpec gates that the executed plan
    * keeps the key-join prefilter and plans no cartesian/BNLJ. */
  val contaminationLsh: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       b AS (SELECT vec_id AS b_id, v AS b_v FROM e
             WHERE vec_id % 20 = 0),
       c AS (SELECT vec_id, v FROM e WHERE vec_id % 20 <> 0),
       p AS (SELECT c.vec_id, b.b_id,
               ${r6sql("""list_dot_product(c.v, b.b_v)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(b.b_v, b.b_v)))""")} AS cos
             FROM c CROSS JOIN b)
       SELECT vec_id, b_id, cos FROM p WHERE cos >= 0.45
       ORDER BY 1, 2""") { (s, d) =>
    val e = Tables.embeddings(s, d)
    graft.vector.VectorOps.contaminationPairsLsh(
        e.filter(col("vec_id") % 20 =!= 0),
        e.filter(col("vec_id") % 20 === 0), 0.45)
      .orderBy(col("vec_id"), col("b_id"))
  }

  /** Deterministic dataset interleaving — the order-construction
    * step of corpus mixing (round-robin across sources, each
    * source's internal order a reproducible md5 shuffle): global
    * position = (within-source rank − 1) · n_sources + source_index.
    * Complement of q133 (which decides HOW MUCH of each source) and
    * q121 (epoch order over one stream): together they make a mixed
    * training stream replayable from any step. Shapes: one keyed
    * shuffle for the per-source ranking (q121's hash-order window),
    * a ~|sources| index relation broadcast back; at 100 TB the
    * per-source rank degrades to bucketed order exactly like q121. */
  val datasetInterleave: QueryDef = QueryDef.sql(
    """WITH idx AS (SELECT source,
             CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT)
               AS source_index,
             CAST(count(*) OVER () AS BIGINT) AS n_sources
           FROM (SELECT DISTINCT source FROM documents)),
       r AS (SELECT doc_id, source,
               CAST(row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                 AS BIGINT) AS rk
             FROM documents)
       SELECT r.doc_id, r.source,
         (r.rk - 1) * idx.n_sources + idx.source_index AS pos
       FROM r JOIN idx USING (source) ORDER BY r.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val sources = docs.select(col("source")).distinct()
    val wIdx = Window.orderBy(col("source")) // ~|sources| rows only
    val idx = sources
      .select(col("source"),
        (row_number().over(wIdx) - 1).cast("long").as("source_index"))
      .crossJoin(sources.agg(count(lit(1)).as("n_sources")))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col("source"),
        row_number().over(wRank).cast("long").as("rk"))
      .join(broadcast(idx), "source")
      .select(col("doc_id"), col("source"),
        ((col("rk") - 1) * col("n_sources") + col("source_index"))
          .as("pos"))
      .orderBy(col("doc_id"))
  }

  /** Systematic WEIGHTED resampling (the particle-filter/SMC
    * resampler, applied to epoch construction): exactly m = 1000
    * sample points laid at odd multiples of W/2m across the corpus's
    * cumulative token-weight axis; each document receives one copy
    * per point falling in its weight interval — long docs draw
    * multiple copies, short ones thin out, Σn_copies = m exactly
    * (asserted by the oracle's own arithmetic). Completes the
    * sampling family: q58 fraction-stratified, q140 fixed-size
    * uniform, q132/q133 negative/temperature — this one is
    * length-WEIGHTED without replacement-noise. The cumulative axis
    * is [[graft.ops.Packing.withGlobalOffsets]] (range shuffle +
    * driver prefix of partition totals — never a single-partition
    * window), the total is one broadcast scalar row, and the
    * point-counting is row-local ALL-INTEGER arithmetic
    * (f(X) = ((X+W−1) div W) div 2 — floor = truncate for
    * nonnegatives, so Spark `div` and DuckDB `//` agree exactly; no
    * float boundary can flip a selection). */
  val systematicResample: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id,
             CAST(len(${tokensSql("text")}) AS BIGINT) AS len
           FROM documents),
       c AS (SELECT doc_id, len,
               coalesce(sum(len) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS lo
             FROM t),
       w AS (SELECT sum(len) AS tw FROM t),
       s AS (SELECT doc_id,
               ((2*1000*(lo+len) + tw - 1) // tw) // 2
             - ((2*1000*lo + tw - 1) // tw) // 2 AS n_copies
             FROM c CROSS JOIN w)
       SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies
       FROM s WHERE n_copies > 0 ORDER BY doc_id""") { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("len"))
    val withOff = graft.ops.Packing.withGlobalOffsets(t, "doc_id", "len")
    val tot = t.agg(sum(col("len")).as("tw"))
    withOff.crossJoin(broadcast(tot))
      .withColumn("n_copies", expr(
        """(((2*1000*(offset+len) + tw - 1) div tw) div 2)
         - (((2*1000*offset + tw - 1) div tw) div 2)"""))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("n_copies").cast("long").as("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic fixed-SIZE global sample — eval-set / human-review
    * batch construction (q58 samples fixed FRACTIONS per stratum;
    * this draws exactly k rows corpus-wide): the k smallest
    * md5(doc_id) hashes, reproducible on any engine and unchanged by
    * appends that don't displace a winner. Ranking rides the
    * bounded-heap TopK aggregate — k rows per task cross the
    * shuffle, no global sort of the corpus (TakeOrdered-equivalent
    * but keyed by a content-independent hash). */
  val reservoirSample: QueryDef = QueryDef.sql(
    """WITH h AS (SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS hv
           FROM documents),
       r AS (SELECT doc_id, hv,
               row_number() OVER (ORDER BY hv, doc_id) AS rk
             FROM h)
       SELECT CAST(rk AS INTEGER) AS rank, doc_id
       FROM r WHERE rk <= 100 ORDER BY rank""") { (s, d) =>
    val topk = graft.ops.TopK.topk(100)
    Tables.documents(s, d)
      .select(col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long").as("hv")) // 52 bits: exactly double-representable
      .agg(topk((-col("hv")).cast("double"), col("doc_id")).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__i", "__s")))
      .select((col("__i") + 1).cast("int").as("rank"),
        col("__s").getField("id").as("doc_id"))
      .orderBy(col("rank"))
  }

  /** N-gram novelty curve — per-document fraction of 3-grams whose
    * FIRST corpus occurrence (by doc_id order) is this document: the
    * diversity/staleness metric curation teams track as a corpus
    * grows (novelty collapsing toward 0 signals the crawl is
    * re-reading itself). First occurrence is one `min(doc_id)` per
    * distinct gram (vocabulary-bounded aggregate, the q50 shape) —
    * never a self-join; the per-doc fold is a broadcast-free
    * re-aggregation of the same skinny (gram, doc) stream. */
  val ngramNovelty: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
                  FROM documents),
       g AS (SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                 AS g
             FROM t WHERE len(toks) >= 3),
       f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY 1)
       SELECT g.doc_id, count(*) AS n_grams,
         CAST(count(CASE WHEN f.first_doc = g.doc_id THEN 1 END)
              AS BIGINT) AS n_novel,
         ${r6sql("""count(CASE WHEN f.first_doc = g.doc_id THEN 1 END)
                / CAST(count(*) AS DOUBLE)""")}
           AS novelty
       FROM g JOIN f USING (g) GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(TextOps.shingles(col("toks"), 3)).as("g"))
    val first = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("first_doc") === col("doc_id")).cast("long"))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        r6(col("n_novel") / col("n_grams").cast("double")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** l-diversity audit over the (event_type, iso-weekday)
    * quasi-identifier grid — the companion to q199's k-anonymity
    * (k counts GROUP SIZE; l counts how many DISTINCT sensitive
    * values hide inside the group — a large group whose members all
    * share one sensitive value is still re-identifiable). Sensitive
    * attribute is the user's segment (user_id mod 10); one exact
    * count-distinct per QI cell, dimension-sized output. Weekday is
    * emitted as ISO (Mon=1) — Spark's weekday()+1 ≡ DuckDB's
    * isodow() — because engine-native dayofweek numberings differ
    * (the q245 lesson, here the key IS output). */
  val lDiversity: QueryDef = QueryDef.sql(
    """WITH e AS (SELECT event_type,
           isodow(CAST(date_trunc('day', ts) AS DATE)) AS dw,
           user_id % 10 AS seg
         FROM events),
       g AS (SELECT event_type, CAST(dw AS BIGINT) dw,
           CAST(count(*) AS BIGINT) n_rows,
           CAST(count(DISTINCT seg) AS BIGINT) l_div
         FROM e GROUP BY 1,2)
       SELECT event_type, dw AS iso_dow, n_rows, l_div,
         CASE WHEN l_div >= 5 THEN 1 ELSE 0 END AS meets_l5
       FROM g ORDER BY 1,2""") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        (weekday(to_date(date_trunc("day", col("ts")))) + 1)
          .cast("long").as("dw"),
        (col("user_id") % 10).as("seg"))
      .groupBy(col("event_type"), col("dw"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("seg")).cast("long").as("l_div"))
      .select(col("event_type"), col("dw").as("iso_dow"),
        col("n_rows"), col("l_div"),
        when(col("l_div") >= 5, 1).otherwise(0).as("meets_l5"))
      .orderBy(col("event_type"), col("iso_dow"))
  }

  /** T5-style span-corruption mask plan: deterministic span starts
    * from a pure-integer hash of (doc_id, token position) (~1/7 of
    * positions), span length 1–3 from a second hash, clipped to the
    * document, then OVERLAPPING SPANS MERGED by the gaps-and-islands
    * window (q198's interval-coverage recipe applied per doc) so the
    * emitted mask plan is canonical — the artifact a denoising
    * pretraining job materializes next to the corpus. Everything is
    * row-local or per-doc-windowed: tokenize → posexplode → filter →
    * two windows partitioned by doc — no fact-sized shuffle beyond
    * the doc key. */
  val spanCorruption: QueryDef = QueryDef.sql(
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} toks
             FROM documents),
       p AS (SELECT doc_id, len(toks) AS nt,
           unnest(generate_series(0, len(toks)-1)) AS pos
         FROM t WHERE len(toks) >= 1),
       st AS (SELECT doc_id, nt, pos,
           pos + ((doc_id + pos) % 3) AS e0
         FROM p
         WHERE ((doc_id*73 + pos*2654435761) % 1000003) % 7 = 0),
       sp AS (SELECT doc_id, nt, pos AS s,
           CASE WHEN e0 > nt-1 THEN nt-1 ELSE e0 END AS e
         FROM st),
       isl AS (SELECT doc_id, nt, s, e,
           CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS brk
         FROM sp),
       grp AS (SELECT doc_id, nt, s, e,
           CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY s)
             AS BIGINT) gid
         FROM isl),
       m AS (SELECT doc_id, nt, gid, min(s) ms, max(e) me
             FROM grp GROUP BY 1,2,3)
       SELECT doc_id, CAST(count(*) AS BIGINT) n_spans,
         CAST(sum(me - ms + 1) AS BIGINT) masked_tokens,
         ${r6sql("CAST(sum(me - ms + 1) AS DOUBLE)/nt")} AS mask_ratio
       FROM m GROUP BY doc_id, nt ORDER BY doc_id""") { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), size(col("toks")).cast("long").as("nt"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("nt"), col("pos").cast("long").as("pos"))
    val st = toks
      .filter(((col("doc_id") * 73 + col("pos") * lit(2654435761L))
        % 1000003L) % 7L === 0)
      .select(col("doc_id"), col("nt"), col("pos").as("s"),
        least(col("pos") + (col("doc_id") + col("pos")) % 3,
          col("nt") - 1).as("e"))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    st.withColumn("brk",
        when(col("s") > coalesce(max(col("e")).over(wPrev),
          lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("gid", sum(col("brk")).over(wCum).cast("long"))
      .groupBy(col("doc_id"), col("nt"), col("gid"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
      .groupBy(col("doc_id"), col("nt"))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(col("me") - col("ms") + 1).cast("long")
          .as("masked_tokens"))
      .select(col("doc_id"), col("n_spans"), col("masked_tokens"),
        r6(col("masked_tokens").cast("double") / col("nt"))
          .as("mask_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Streaming last-write-wins upsert via mapGroupsWithState — the
    * CDC-compaction state op (q139 is the batch window form; this
    * keeps ONE (ts, event_id, value) triple per user in the state
    * store, replaced whenever a later (ts, event_id) arrives —
    * bounded state = one row per live key at any scale). The memory
    * sink collects per-batch snapshots in update mode, so a final
    * batch-side latest-per-user selection canonicalizes the output
    * under ANY micro-batch split (AvailableNow may deliver the file
    * in one batch today and several after a lake re-chunk). */
  val streamUpsert: QueryDef = QueryDef.sql(
    s"""WITH latest AS (
         SELECT user_id, value, ts, event_id,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) rk
         FROM events WHERE event_type IN ('purchase','signup','click'))
       SELECT user_id, event_id AS last_event_id,
         ${r6sql("value")} AS last_value
       FROM latest WHERE rk=1 ORDER BY user_id""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("last_event_id").desc)
    graft.streaming.StreamOps.drain(s, d, "update") {
      graft.streaming.StreamOps.lwwUpsert(
        graft.streaming.StreamOps.eventsStream(s, d)
          .filter(col("event_type").isin("purchase", "signup", "click")))
    }
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("last_event_id"),
        r6(col("last_value")).as("last_value"))
      .orderBy(col("user_id"))
  }

  /** Running per-user totals through `transformWithState` — Spark 4's
    * arbitrary-state streaming API (StatefulProcessor + typed state
    * handles, the mapGroupsWithState successor) under the
    * correctness gate. State carries exact micro-long totals, so the
    * answer is independent of micro-batch split and per-batch row
    * order; the final latest-per-user selection (max running count
    * wins, the q256 canonicalization) makes the update-mode sink
    * deterministic under ANY batching. Requires — and here pins,
    * for this drain only — the RocksDB state-store provider path.
    * Oracle: per-user count + exact quantized sum. */
  val streamTws: QueryDef = QueryDef.sql(
    s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(${microsSql("value")}) AS BIGINT)
           AS total_micro
       FROM events GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n_events").desc)
    graft.streaming.StreamOps.drain(s, d, "update",
        provider = Some(graft.streaming.StreamOps.RocksDbProvider)) {
      graft.streaming.StreamOps.runningTotalsTws(
        graft.streaming.StreamOps.eventsStream(s, d))
    }
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("n_events"), col("total_micro"))
      .orderBy(col("user_id"))
  }

  /** XML roundtrip — Spark 4's built-in XML source exercised as the
    * third interchange format next to q172 (CSV) and q128 (JSONL):
    * the corpus is written as XML (entity-escaping &<> in text),
    * read back under an explicit schema, and hash-aggregated per
    * lang against the oracle computed on the original parquet — a
    * broken escape, dropped row, or type coercion shifts the
    * md5-prefix hashsum. Same one-writer-one-reader shape as a
    * lake's interchange-export job. */
  val xmlRoundtrip: QueryDef = QueryDef.sql(
    """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
              AS BIGINT) AS text_hashsum
       FROM documents GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = graft.sources.ScratchDirs.perProcess("q257", d)
    Tables.documents(s, d).write.mode("overwrite")
      .option("rowTag", "doc").format("xml").save(dir)
    s.read
      .schema("doc_id BIGINT, text STRING, lang STRING," +
        " source STRING, n_chars BIGINT")
      .option("rowTag", "doc").format("xml").load(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10)
          .cast("long")).cast("long").as("text_hashsum"))
      .orderBy(col("lang"))
  }

  /** Balanced class downsampling — the imbalance fix applied before
    * training: every event_type keeps exactly n_min rows (the
    * smallest class's count), chosen as the n_min lowest by a
    * deterministic integer hash of event_id (tie-broken by the id
    * itself), so both engines — and any two cluster runs — keep the
    * SAME rows with no RNG. One rank window per class partition +
    * an in-plan one-row broadcast of n_min; emitted as per-class
    * aggregates of the kept set. */
  val balancedDownsample: QueryDef = QueryDef.sql(
    s"""WITH e AS (SELECT event_type, event_id,
           ${microsSql("value")} v,
           (event_id * 2654435761) % 1000003 AS h
         FROM events),
       n AS (SELECT CAST(min(cnt) AS BIGINT) nmin
         FROM (SELECT count(*) cnt FROM e GROUP BY event_type)),
       r AS (SELECT event_type, v, h,
           row_number() OVER (PARTITION BY event_type
             ORDER BY h, event_id) AS rk
         FROM e)
       SELECT event_type, CAST(count(*) AS BIGINT) n_kept,
         CAST(sum(v) AS BIGINT) kept_value_micro,
         CAST(max(h) AS BIGINT) max_h
       FROM r, n WHERE rk <= nmin GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        micros(col("value")).as("v"),
        ((col("event_id") * lit(2654435761L)) % lit(1000003L))
          .as("h"))
    val nmin = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .agg(min(col("cnt")).cast("long").as("nmin"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("h"), col("event_id"))
    e.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(nmin))
      .filter(col("rk") <= col("nmin"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        sum(col("v")).cast("long").as("kept_value_micro"),
        max(col("h")).cast("long").as("max_h"))
      .orderBy(col("event_type"))
  }

  /** Nearest-centroid confusion matrix: every embedding assigned to
    * its nearest label centroid, tallied against its true label —
    * the label-quality read (an off-diagonal cell is label noise or
    * class overlap). Distances fold per-dim in index order
    * (zip_with + ordered aggregate ≡ DuckDB's list_sum in list
    * order); ties break to the smaller centroid label; the argmin
    * is a 10-row window per vector. One broadcast of the 10×dim
    * centroid table; one fact pass. Centroids come from EXACT
    * quantized-long sums divided once — q85's r6(avg) is fine for
    * OUTPUT, but here the centroid feeds a selection-deciding
    * distance comparison, and a float avg's summation-order noise
    * at the r6 knife edge flips assignments (measured: one flipped
    * cell per ~100 at every SF before the fix). */
  val centroidConfusion: QueryDef = QueryDef.sql(
    s"""WITH c AS (SELECT CAST(label AS BIGINT) clabel, dim,
           CAST(sum(${microsSql("CAST(val AS DOUBLE)")}) AS DOUBLE)
             / count(*) / 1000000.0 mv
         FROM (SELECT label, unnest(embedding) val,
               generate_subscripts(embedding,1) dim FROM embeddings)
         GROUP BY clabel, dim),
       ca AS (SELECT clabel, list(mv ORDER BY dim) cv FROM c
              GROUP BY 1),
       d AS (SELECT e.vec_id, CAST(e.label AS BIGINT) tlabel,
           ca.clabel,
           list_sum(list_transform(
             generate_series(1, len(e.embedding)),
             i -> (CAST(e.embedding[i] AS DOUBLE) - ca.cv[i])
                * (CAST(e.embedding[i] AS DOUBLE) - ca.cv[i]))) dist
         FROM embeddings e CROSS JOIN ca),
       r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY dist, clabel) rn FROM d)
       SELECT tlabel AS true_label, clabel AS assigned_label,
         CAST(count(*) AS BIGINT) n
       FROM r WHERE rn = 1 GROUP BY 1,2 ORDER BY 1,2""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("tlabel"),
        graft.vector.VectorOps.toDouble(col("embedding")).as("vec"))
    val ca = emb
      .select(col("tlabel").as("clabel"),
        posexplode(col("vec")).as(Seq("dim", "val")))
      .groupBy(col("clabel"), col("dim"))
      .agg((sum(micros(col("val")))
        .cast("double") / count(lit(1)) / 1000000.0).as("mv"))
      .groupBy(col("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        col("mv")))), _.getField("mv")).as("cv"))
    val dist = aggregate(
      zip_with(col("vec"), col("cv"), (a, b) => (a - b) * (a - b)),
      lit(0.0), _ + _)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("clabel"))
    emb.crossJoin(broadcast(ca))
      .withColumn("dist", dist)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("tlabel").as("true_label"),
        col("clabel").as("assigned_label"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("true_label"), col("assigned_label"))
  }

  private def bmpOracleGrid: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
       dims AS (SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) w,
           CAST(1 + doc_id % 48 AS BIGINT) h,
           doc_id*7+1 AS seed,
           CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END inv FROM ids),
       px AS (SELECT doc_id, seed, inv, x.x, y.y FROM dims
         JOIN LATERAL (SELECT unnest(generate_series(0, w-1)) AS x)
           x ON true
         JOIN LATERAL (SELECT unnest(generate_series(0, h-1)) AS y)
           y ON true),
       lum AS (SELECT doc_id, x, y,
           CASE WHEN inv = 1 AND y = 0
             THEN 255 - ((seed*31 + x*17 + y*29 + x*y*13) % 256)
             ELSE (seed*31 + x*17 + y*29 + x*y*13) % 256 END AS l
         FROM px) """

  private def bmpPayloads(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, d).filter(col("doc_id") < 50)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id, Multimodal.encodeBmpPattern((1 + id % 64).toInt,
          (1 + id % 48).toInt, id * 7 + 1, id % 5 == 1))
      }).toDF("doc_id", "payload")
  }

  /** Image tile-statistics plumbing: each doc rendered to a REAL
    * patterned 24-bpp BMP, the BYTES tiled 8×8 and reduced to
    * per-tile luminance means ([[Multimodal.tileStats]] walks the
    * padded pixel rows) — the patch-feature kernel of an image
    * pipeline with the decode running distributed in mapPartitions.
    * The oracle recomputes every pixel from the pattern formula in
    * SQL, so a stride/offset bug in the byte walk shifts a tile
    * mean and fails the hash. */
  val imageTileStats: QueryDef = QueryDef.sql(
    s"""$bmpOracleGrid
       SELECT doc_id, CAST(x // 8 AS BIGINT) tile_x,
         CAST(y // 8 AS BIGINT) tile_y,
         CAST(count(*) AS BIGINT) n_pix,
         ${r6sql("CAST(sum(l) AS DOUBLE)/count(*)")}
           AS mean_lum
       FROM lum GROUP BY 1,2,3 ORDER BY 1,2,3""") { (s, d) =>
    import s.implicits._
    bmpPayloads(s, d).as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        Multimodal.tileStats(payload, 8).map { case (tx, ty, sl, n) =>
          (id, tx.toLong, ty.toLong, n, sl)
        }
      }.toDF("doc_id", "tile_x", "tile_y", "n_pix", "sum_lum")
      .select(col("doc_id"), col("tile_x"), col("tile_y"),
        col("n_pix"),
        r6(col("sum_lum").cast("double") / col("n_pix"))
          .as("mean_lum"))
      .orderBy(col("doc_id"), col("tile_x"), col("tile_y"))
  }

  /** Corpus-level luminance histogram over the same real BMP bytes:
    * 16 bins of the blue channel, summed across the 50-doc sample —
    * the distributional sanity check an image-ingest job runs
    * before training (a codec regression shifts mass between
    * bins). */
  val imageLumHistogram: QueryDef = QueryDef.sql(
    s"""$bmpOracleGrid
       SELECT CAST(l // 16 AS BIGINT) bin,
         CAST(count(*) AS BIGINT) n_pixels
       FROM lum GROUP BY 1 ORDER BY 1""") { (s, d) =>
    import s.implicits._
    bmpPayloads(s, d).as[(Long, Array[Byte])]
      .flatMap { case (_, payload) =>
        Multimodal.lumHistogram(payload).zipWithIndex
          .map { case (n, b) => (b.toLong, n) }
      }.toDF("bin", "n")
      .groupBy(col("bin"))
      .agg(sum(col("n")).cast("long").as("n_pixels"))
      .orderBy(col("bin"))
  }

  /** Intra-class cohesion: mean dot product of each embedding with
    * its OWN label's exact-quantized centroid (vectors are unit, so
    * this is mean cosine-to-centroid) — the compactness score that
    * explains q282's confusion (cohesion ≈0.02 on this fixture =
    * weak class structure). Centroids exact (the q282 recipe);
    * per-vector dots fold in dim order; the per-label mean folds
    * r6-pinned dots in vec_id order. */
  val classCohesion: QueryDef = QueryDef.sql(
    s"""WITH c AS (SELECT CAST(label AS BIGINT) AS lab, dim,
           CAST(sum(${microsSql("CAST(val AS DOUBLE)")}) AS DOUBLE)
             / count(*) / 1000000.0 mv
         FROM (SELECT label, unnest(embedding) val,
               generate_subscripts(embedding,1) dim FROM embeddings)
         GROUP BY lab, dim),
       ca AS (SELECT lab, list(mv ORDER BY dim) cv FROM c
              GROUP BY 1),
       d AS (SELECT e.vec_id, CAST(e.label AS BIGINT) AS lab2,
           list_sum(list_transform(
             generate_series(1, len(e.embedding)),
             i -> CAST(e.embedding[i] AS DOUBLE) * ca.cv[i])) dt
         FROM embeddings e JOIN ca
           ON ca.lab = CAST(e.label AS BIGINT)),
       h AS (SELECT lab2, CAST(count(*) AS BIGINT) n_vecs,
           list_sum(list(${r6sql("dt")}
             ORDER BY vec_id)) sd FROM d GROUP BY 1)
       SELECT lab2 AS label_id, n_vecs,
         ${r6sql("sd / n_vecs")}
           AS mean_dot_centroid
       FROM h ORDER BY 1""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("lab2"),
        graft.vector.VectorOps.toDouble(col("embedding")).as("vec"))
    val ca = emb
      .select(col("lab2").as("lab"),
        posexplode(col("vec")).as(Seq("dim", "val")))
      .groupBy(col("lab"), col("dim"))
      .agg((sum(micros(col("val")))
        .cast("double") / count(lit(1)) / 1000000.0).as("mv"))
      .groupBy(col("lab"))
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        col("mv")))), _.getField("mv")).as("cv"))
    val dt = aggregate(zip_with(col("vec"), col("cv"),
      (a, b) => a * b), lit(0.0), _ + _)
    emb.join(broadcast(ca), col("lab") === col("lab2"))
      .select(col("vec_id"), col("lab2"), dt.as("dt"))
      .groupBy(col("lab2"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        aggregate(transform(array_sort(collect_list(struct(
            col("vec_id"), r6(col("dt")).as("contrib")))),
            _.getField("contrib")), lit(0.0), _ + _).as("sd"))
      .select(col("lab2").as("label_id"), col("n_vecs"),
        r6(col("sd") / col("n_vecs")).as("mean_dot_centroid"))
      .orderBy(col("label_id"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q24_tumbling_window" -> tumblingWindow,
    "q25_sessionize" -> sessionize,
    "q257_xml_roundtrip" -> xmlRoundtrip,
    "q259_balanced_downsample" -> balancedDownsample,
    "q282_centroid_confusion" -> centroidConfusion,
    "q305_image_tile_stats" -> imageTileStats,
    "q306_image_lum_histogram" -> imageLumHistogram,
    "q318_class_cohesion" -> classCohesion,
    "q26_text_stats" -> textStats,
    "q27_lang_id" -> langId,
    "q28_fingerprint" -> fingerprint,
    "q29_dedup_exact" -> dedupExact,
    "q30_dedup_minhash" -> dedupMinhash,
    "q31_dedup_simhash" -> dedupSimhash,
    "q32_cosine_topk" -> cosineTopK,
    "q33_ann_lsh" -> annLsh,
    "q34_embedding_neardup" -> embeddingNearDup,
    "q35_multimodal_meta" -> multimodalMeta,
    "q37_multimodal_decode" -> multimodalDecode,
    "q181_binaryfile_ingest" -> binaryFileIngest,
    "q182_text_source" -> textSource,
    "q187_partition_pruning" -> partitionPruning,
    "q236_dynamic_partition_pruning" -> dynamicPartitionPruning,
    "q191_malformed_tolerance" -> malformedTolerance,
    "q192_schema_evolution" -> schemaEvolution,
    "q38_embedding_neardup_lsh" -> embeddingNearDupLsh,
    "q39_ngram_jaccard" -> ngramJaccard,
    "q177_editdist_neardup" -> editDistanceNearDup,
    "q179_fim_split" -> fimSplit,
    "q40_ann_ivf" -> annIvf,
    "q357_ann_ivf_per_group" -> annIvfPerGroup,
    "q41_winnow_pairs" -> winnowPairs,
    "q45_frame_sample" -> frameSample,
    "q46_event_gap_minutes" -> eventGapMinutes,
    "q47_stream_tumbling" -> streamTumbling,
    "q183_stream_dropdup" -> streamDropDup,
    "q48_dedup_clusters" -> dedupClusters,
    "q49_quantize_int8" -> quantizeError,
    "q50_token_frequency" -> tokenFrequency,
    "q51_hash_split" -> hashSplit,
    "q52_pii_scrub" -> piiScrub,
    "q53_pq_encode" -> pqEncodeDet,
    "q54_pq_adc_topk" -> pqAdc,
    "q116_ann_ivfpq" -> annIvfPq,
    "q117_quality_logit" -> qualityLogit,
    "q118_chunk_windows" -> chunkWindows,
    "q119_leakage_safe_split" -> leakageSafeSplit,
    "q120_stream_static_dedup" -> streamStaticDedup,
    "q144_stream_contamination" -> streamContamination,
    "q148_phash_neardup" -> phashNearDup,
    "q367_media_neardup_scale" -> mediaNearDupScale,
    "q368_crossmodal_dedup" -> crossmodalDedup,
    "q151_stream_sessionize" -> streamSessionize,
    "q152_audio_fingerprint" -> audioFingerprint,
    "q362_png_decode_phash" -> pngDecodePhash,
    "q363_jpeg_decode_meta" -> jpegDecodeMeta,
    "q364_ann_nsw" -> annNsw,
    "q366_gif_frame_stats" -> gifFrameStats,
    "q369_gif_decode_amortized" -> gifDecodeAmortized,
    "q370_media_dedup_incremental" -> mediaDedupIncremental,
    "q153_stream_interval_join" -> streamIntervalJoin,
    "q347_stream_interval_left" -> streamIntervalJoinLeft,
    "q355_stream_interval_full" -> streamIntervalJoinFull,
    "q154_session_window" -> sessionWindowNative,
    "q155_stream_session_window" -> streamSessionWindow,
    "q156_prefix_filter_jaccard" -> prefixFilterJaccard,
    "q157_filtered_topk" -> filteredTopK,
    "q159_sql_surface" -> sqlSurface,
    "q121_epoch_shuffle" -> epochShuffle,
    "q122_dedup_audit" -> dedupAudit,
    "q125_bpe_pair_counts" -> bpePairCounts,
    "q126_winsorize_embeddings" -> winsorizeEmbeddings,
    "q127_length_batching" -> lengthBatching,
    "q128_jsonl_roundtrip" -> jsonlRoundtrip,
    "q171_boilerplate_removal" -> boilerplateRemoval,
    "q172_csv_roundtrip" -> csvRoundtrip,
    "q130_pq_search_amortized" -> pqSearchAmortized,
    "q131_bloom_contamination" -> bloomContamination,
    "q134_pq_index_incremental" -> pqIndexIncremental,
    "q135_embedding_drift" -> embeddingDrift,
    "q136_semantic_contamination" -> semanticContamination,
    "q142_contamination_lsh" -> contaminationLsh,
    "q137_dataset_interleave" -> datasetInterleave,
    "q140_reservoir_sample" -> reservoirSample,
    "q185_systematic_resample" -> systematicResample,
    "q141_ngram_novelty" -> ngramNovelty,
    "q132_negative_sampling" -> negativeSampling,
    "q133_temperature_sampling" -> temperatureSampling,
    "q55_quality_repetition" -> qualityRepetition,
    "q56_contamination_check" -> contaminationCheck,
    "q57_tfidf_topk" -> tfidfTopK,
    "q58_stratified_sample" -> stratifiedSample,
    "q59_centroid_outliers" -> centroidOutliers,
    "q60_heavy_hitters" -> heavyHittersQ,
    "q61_audio_rms" -> audioRms,
    "q66_semantic_dedup" -> semanticDedup,
    "q67_feature_hashing" -> featureHashing,
    "q68_unigram_logprob" -> unigramLogprob,
    "q69_sequence_packing" -> sequencePacking,
    "q70_zorder_readback" -> zorderReadback,
    "q71_line_dedup" -> lineDedup,
    "q72_curation_pipeline" -> curationPipeline,
    "q73_incremental_dedup" -> incrementalDedup,
    "q361_bloom_incremental_dedup" -> bloomIncrementalDedup,
    "q74_bigram_logprob" -> bigramLogprob,
    "q75_compaction_readback" -> compactionReadback,
    "q76_domain_budget" -> domainBudget,
    "q77_snapshot_diff" -> snapshotDiff,
    "q78_bm25_score" -> bm25Score,
    "q197_rrf_fusion" -> rrfFusion,
    "q199_k_anonymity" -> kAnonymity,
    "q252_l_diversity" -> lDiversity,
    "q254_span_corruption" -> spanCorruption,
    "q256_stream_upsert" -> streamUpsert,
    "q341_stream_tws" -> streamTws,
    "q200_dynamic_partition_overwrite" -> dynamicPartitionOverwrite,
    "q327_merge_upsert" -> mergeUpsert,
    "q201_erasure_audit" -> erasureAudit,
    "q79_dup_spans" -> dupSpans,
    "q80_integrity_audit" -> integrityAudit,
    "q82_orc_roundtrip" -> orcRoundtrip,
    "q83_token_search" -> tokenSearch,
    "q84_random_projection" -> randomProjectionQ,
    "q85_label_centroids" -> labelCentroids,
    "q186_kmeans_assign" -> kmeansAssign,
    "q188_bpe_train" -> bpeTrain,
    "q86_quantile_binning" -> quantileBinning,
  )
}
