package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gates: the scale properties the engine
  * claims (broadcast star joins, per-partition top-k, bucketed
  * candidate joins instead of all-pairs, pushdown reaching scans)
  * asserted against the executed plans, so a refactor that silently
  * degrades a plan fails here rather than in the next bench. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("q10 star join broadcasts every dimension (no SMJ, no BNLJ)") {
    val plan = executedPlan("q10_star_join_revenue")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q123/q124 TPC-H shapes: dims broadcast, top-k heaped, " +
      "no nested-loop or cartesian joins") {
    val q3 = executedPlan("q123_shipping_priority")
    assert(q3.contains("TakeOrderedAndProject"),
      "q123's LIMIT 10 must ride per-partition heaps")
    assert(q3.contains("BroadcastHashJoin"))
    assert(!q3.contains("BroadcastNestedLoopJoin"))
    assert(!q3.contains("CartesianProduct"))
    val q5 = executedPlan("q124_local_supplier_volume")
    assert(q5.contains("BroadcastHashJoin"))
    assert(!q5.contains("BroadcastNestedLoopJoin"))
    assert(!q5.contains("CartesianProduct"))
    val q18 = executedPlan("q129_large_orders")
    assert(q18.contains("TakeOrderedAndProject"),
      "q129's LIMIT 100 must ride per-partition heaps")
    assert(q18.contains("BroadcastHashJoin"),
      "q129's customer dim must broadcast")
    assert(!q18.contains("BroadcastNestedLoopJoin"))
    assert(!q18.contains("CartesianProduct"))
  }

  test("q145/q146/q147 TPC-H shapes: dims broadcast, one fact-fact " +
      "shuffle at most, predicates pushed, top-k heaped") {
    val q7 = executedPlan("q145_nation_trade_flow")
    assert(q7.contains("BroadcastHashJoin"),
      "q145's supplier/customer/nation dim chains must broadcast")
    assert(!q7.contains("BroadcastNestedLoopJoin"))
    assert(!q7.contains("CartesianProduct"))
    assert(q7.contains("PushedFilters: [IsNotNull(l_shipdate), " +
        "GreaterThanOrEqual(l_shipdate") ||
        q7.contains("GreaterThanOrEqual(l_shipdate"),
      s"q145's shipdate window must reach the lineitem scan:\n$q7")
    val q14 = executedPlan("q146_promo_revenue")
    assert(q14.contains("BroadcastHashJoin"),
      "q146's (p_partkey, p_type) projection must broadcast")
    assert(!q14.contains("SortMergeJoin"),
      "q146 must not shuffle the fact side for the part join")
    val q14Read = q14.linesIterator
      .find(l => l.contains("ReadSchema") && l.contains("part."))
    assert(q14Read.exists(l => !l.contains("p_retailprice")
        && !l.contains("p_brand")),
      s"q146's part scan must prune to (p_partkey, p_type): $q14Read")
    val q10r = executedPlan("q147_returned_revenue")
    assert(q10r.contains("TakeOrderedAndProject"),
      "q147's LIMIT 20 must ride per-partition heaps")
    assert(q10r.contains("BroadcastHashJoin"),
      "q147's customer/nation dims must broadcast")
    assert(!q10r.contains("BroadcastNestedLoopJoin"))
    assert(!q10r.contains("CartesianProduct"))
    assert(q10r.contains("EqualTo(l_returnflag,R)"),
      s"q147's returnflag predicate must reach the lineitem scan:\n$q10r")
  }

  test("q149/q150 TPC-H shapes: thresholds and max broadcast back, " +
      "no partkey shuffle of the fact, no nested-loop joins") {
    val q17 = executedPlan("q149_small_qty_revenue")
    assert(q17.contains("BroadcastHashJoin"),
      "q149's brand filter and per-part thresholds must broadcast")
    assert(!q17.contains("SortMergeJoin"),
      "q149 must never shuffle the fact side on partkey")
    assert(!q17.contains("BroadcastNestedLoopJoin"))
    val q15 = executedPlan("q150_top_supplier")
    assert(q15.contains("BroadcastHashJoin"),
      "q150's max scalar and supplier dim must broadcast")
    assert(!q15.contains("BroadcastNestedLoopJoin"))
    assert(!q15.contains("CartesianProduct"))
    assert(q15.contains("InMemoryTableScan"),
      "q150's revenue relation must be cache-reused across its two " +
        "consumers, not recomputed from the lineitem scan")
    Caching.releaseAll()
  }

  test("q154 session_window plans the dedicated MergingSessions " +
      "operator with map-side partial aggregation, not a per-user " +
      "window sort") {
    val plan = executedPlan("q154_session_window")
    assert(plan.contains("MergingSessions"),
      s"q154 must use the native session-window aggregation:\n$plan")
    assert(!plan.contains("Window"),
      "q154 must not fall back to window functions")
    // partial aggregation must run below the exchange so session
    // fragments combine map-side before the one shuffle
    val exIdx = plan.indexOf("Exchange hashpartitioning(user_id")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(exIdx >= 0 && aggIdx > exIdx,
      s"q154 must partially aggregate before the grouping shuffle:\n$plan")
  }

  test("q158 bucketed join: SortMergeJoin with no Exchange on the " +
      "join key — the write-time shuffle is the only one") {
    val plan = executedPlan("q158_bucketed_join")
    assert(plan.contains("SortMergeJoin"),
      s"q158 must sort-merge the co-bucketed sides:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey")
        && !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"q158 must not re-shuffle bucketed sides on the join key:\n$plan")
  }

  test("round-5 tier shapes: q125 heaped top-k over a bounded key " +
      "space, q126 broadcasts the bounds relation, q127 sorts only " +
      "skinny rows") {
    val bpe = executedPlan("q125_bpe_pair_counts")
    assert(bpe.contains("TakeOrderedAndProject"),
      "q125's LIMIT 20 must ride per-partition heaps, not a full sort")
    assert(!bpe.contains("SortMergeJoin") && !bpe.contains("Join"),
      "q125 is scan+agg only — a join would mean a regression")
    val win = executedPlan("q126_winsorize_embeddings")
    assert(win.contains("BroadcastHashJoin"),
      "q126's d-row bounds relation must broadcast")
    assert(!win.contains("SortMergeJoin"))
    val bp = executedPlan("q127_length_batching")
    // the global ranking may sort, but only the skinny (doc_id,
    // n_tokens) projection: the exchange's direct child must be the
    // tokenize-and-drop Project, so `text` is consumed map-side and
    // never crosses the shuffle (AdaptiveSparkPlanExec hides the
    // exchange from a tree collect — assert on the rendered shape)
    val skinnyExchange =
      """Exchange SinglePartition[^\n]*\n\s*\+- \*?\(?\d*\)?\s*Project \[doc_id#\d+L, size\(""".r
    assert(skinnyExchange.findFirstIn(bp).isDefined,
      s"q127's exchange must be fed by the skinny tokenize Project:\n$bp")
  }

  test("q143 TPC-H Q1: shipdate pushes to the scan, aggregation is " +
      "partial (map-side combine), no join in the plan") {
    val df = SparkEntry.queries("q143_pricing_summary")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate"),
      s"q143's shipdate predicate must reach the parquet scan:\n$plan")
    assert("HashAggregate\\(keys=\\[l_returnflag".r
      .findAllIn(plan).size >= 2,
      "q143 must plan partial+final hash aggregation — the shuffle " +
        "moves |groups|×|partitions| rows, not the fact table")
    assert(!plan.contains("Join"), "q143 is scan+agg only")
    // the scan must carry only the 7 touched columns, not the scheme
    val read = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"),
      s"q143's scan must prune to the 7 touched columns: $read")
  }

  test("q16 global top-k plans TakeOrderedAndProject, not a full sort") {
    val plan = executedPlan("q16_global_topk")
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("rangepartitioning"),
      "top-k must use per-partition heaps, not a range-partitioned sort")
  }

  test("bucketed near-dup paths never plan all-pairs joins") {
    for (q <- Seq("q30_dedup_minhash", "q31_dedup_simhash", "q33_ann_lsh",
        "q38_embedding_neardup_lsh", "q41_winnow_pairs",
        "q48_dedup_clusters")) {
      val plan = executedPlan(q)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans BNLJ")
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
    }
  }

  test("q367 two-stage MIH: equi-join on (band, key), exact collapse " +
      "before banding, no all-pairs shape") {
    val plan = executedPlan("q367_media_neardup_scale")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q367 plans BNLJ")
    assert(!plan.contains("CartesianProduct"), "q367 plans a cross product")
    // stage-1 collapse is a real aggregate on the hash (partial_min/
    // partial_count ⇒ map-side combine before the one hash shuffle)
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      "stage-1 exact collapse lost its map-side combine")
    // the candidate join keys on (band, key) — an equi-join, so the
    // physical op is hash- or sort-merge-based, never nested-loop
    assert(plan.contains("band"), "candidate join lost its band key")
    // the probe side is a generator output whose sizeInBytes estimate
    // is ~137× too low — an unhinted plan statically broadcasts it
    // and OOMs at scale (the synthetic 10× tier, SURVEY §20.3).
    // The helper pins a shuffled hash join built on the sound-stats
    // exact side; a regression to broadcast fails here.
    assert(plan.contains("ShuffledHashJoin"),
      "MIH candidate join lost its shuffle_hash pin")
    assert(!plan.contains("BroadcastHashJoin"),
      "MIH probe side must never be broadcast")
  }

  test("q370 probe join: bucketed index scan, sort-merge stream, " +
      "no broadcast of the generator side") {
    val plan = executedPlan("q370_media_dedup_incremental")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q370 plans BNLJ")
    assert(!plan.contains("CartesianProduct"), "q370 plans a cross product")
    // the near tier streams the index's sorted buckets (no
    // corpus-sized hash-map build) — merge join pinned
    assert(plan.contains("SortMergeJoin"),
      "q370 near tier lost its merge pin")
    // the index side is the bucketed table: its scan carries bucket
    // metadata, the zero-exchange claim's physical witness
    assert(plan.contains("Bucketed: true"),
      "q370 index scan is not bucket-aware")
    // exactly ONE physical (band, key) exchange — the batch probe
    // side; the index side must come out of its buckets unshuffled.
    // Count by TREE traversal of the final adaptive plan: every
    // string form of an AQE plan (toString AND SimpleMode) prints
    // the same exchange again in its Initial Plan section.
    val df = SparkEntry.queries("q370_media_dedup_incremental")(
      spark, dir)
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def countBand(p: SparkPlan): Int = {
      val self = p match {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("band") => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self + kids.map(countBand).sum
    }
    val nBand = countBand(df.queryExecution.executedPlan)
    assert(nBand == 1,
      s"q370 must shuffle only the probe side on (band, key); " +
        s"found $nBand band exchanges")
  }

  test("curation tier joins broadcast their small sides (q56/q57/q60)") {
    // benchmark gram set, vocabulary df table, MG candidate set — all
    // bounded-small relations that must broadcast, never shuffle the
    // corpus side into a sort-merge join
    for (q <- Seq("q56_contamination_check", "q57_tfidf_topk",
        "q60_heavy_hitters")) {
      val plan = executedPlan(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q lost its broadcast")
      assert(!plan.contains("SortMergeJoin"), s"$q plans SMJ")
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
    }
  }

  test("q55/q59 are shuffle-minimal: no joins beyond the declared ones") {
    // q55 is fully row-local after the scan (one final sort only)
    val p55 = executedPlan("q55_quality_repetition")
    assert(!p55.contains("Join"), "q55 must stay row-local")
    // q59's only join is the broadcast of labels×dims centroids
    val p59 = executedPlan("q59_centroid_outliers")
    assert(p59.contains("BroadcastHashJoin"))
    assert(!p59.contains("SortMergeJoin"))
  }

  test("q62 bloom filter prunes BEFORE the join; q63/q66 plan no " +
      "cross products") {
    val p62 = executedPlan("q62_bloom_join")
    assert(p62.contains("might_contain") ||
      p62.contains("BloomFilterMightContain"),
      "q62 lost its bloom prefilter")
    assert(!p62.contains("CartesianProduct"))
    for (q <- Seq("q63_salted_join", "q66_semantic_dedup")) {
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans BNLJ")
    }
  }

  test("session-3 tier plan shapes: q74/q78 broadcast, q77 no BNLJ, " +
      "q79 broadcasts the dup-gram set") {
    // q78: the single stats row broadcasts; q79: the
    // duplicated-gram set broadcasts back onto the gram stream
    for (q <- Seq("q78_bm25_score", "q79_dup_spans")) {
      val plan = executedPlan(q)
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"), s"$q lost its broadcast")
      assert(!plan.contains("SortMergeJoin"), s"$q plans SMJ")
    }
    // q74: the bigram/unigram count relations grow with corpus
    // vocabulary, so their joins must carry NO pinned broadcast hint
    // (the r5 verdict's scale-killer). Evidence both ways: the
    // OPTIMIZED LOGICAL plan carries no broadcast hint (a pinned
    // hint survives optimization as `strategy=broadcast` on the Join
    // node), and the physical plan still broadcasts at this sf
    // because the planner/AQE MEASURED the sides as small — i.e. the
    // choice is size-based, not pinned. (The earlier form asserted
    // SMJ in AQE's initial plan, but that is fixture-size-dependent:
    // a small enough fixture legitimately broadcasts from the start.)
    // exactly ONE pinned broadcast is declared: the one-row vocab
    // scalar (bounded by construction — q03's pattern); the bigram/
    // unigram COUNT-TABLE joins must stay unhinted
    val q74df = SparkEntry.queries("q74_bigram_logprob")(spark, dir)
    val q74hints = "strategy=broadcast".r
      .findAllIn(q74df.queryExecution.optimizedPlan.toString).length
    assert(q74hints <= 1,
      s"q74's count-table joins must be unhinted (size-decided); " +
        s"found $q74hints pinned broadcasts, expected only the vocab scalar")
    val p74full = executedPlan("q74_bigram_logprob")
    val p74final = p74full.split("== Initial Plan ==").head
    assert(p74final.contains("BroadcastHashJoin"),
      "q74 final plan: the small count sides should broadcast here")
    // q77 full-outer diff: co-partitioned SMJ is the declared shape —
    // what must NOT appear is a nested-loop or cross product
    val p77 = executedPlan("q77_snapshot_diff")
    assert(!p77.contains("BroadcastNestedLoopJoin") &&
      !p77.contains("CartesianProduct"), "q77 degenerated")
    // q76 domain budget: exactly one hash exchange (the per-source
    // window) plus the final orderBy's range exchange — nothing else.
    // Count only the FINAL AQE plan (toString appends the initial
    // plan, which would double every node).
    val p76 = executedPlan("q76_domain_budget")
      .split("== Initial Plan ==").head
    val exchanges = p76.split("Exchange ").length - 1
    assert(exchanges <= 2, s"q76 shuffles too much ($exchanges):\n$p76")
  }

  test("q142's LSH prefilter survives in the executed plan: key join, " +
      "no cartesian corpus×benchmark") {
    // the whole point of q142 vs q136 is that the corpus NEVER
    // crosses the benchmark — candidates come from the band-key
    // equi-join (broadcast benchmark keys). A plan that degenerates
    // to CartesianProduct/BNLJ is q136 wearing q142's name.
    val plan = executedPlan("q142_contamination_lsh")
    assert(plan.contains("BroadcastHashJoin"),
      "q142 must join corpus keys to broadcast benchmark keys")
    assert(!plan.contains("CartesianProduct"),
      "q142 degenerated to a cartesian corpus×benchmark join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "q142 degenerated to a nested-loop corpus×benchmark join")
    assert(!plan.contains("SortMergeJoin"), "q142 lost its broadcasts")
  }

  test("ANN top-k rankings stay heap aggregates: no Window in " +
      "q32/q33/q40/q54/q116 (r4 migration gate)") {
    // the window formulation shuffles + sorts every scored candidate;
    // the bounded-heap TopK aggregate crosses the shuffle with k rows
    // per (query × task). A refactor that reintroduces row_number
    // ranking regresses exactly the r3→r4 fix and fails here.
    for (q <- Seq("q32_cosine_topk", "q33_ann_lsh", "q40_ann_ivf",
        "q54_pq_adc_topk", "q116_ann_ivfpq", "q132_negative_sampling")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Window"), s"$q ranks through a Window")
      assert(plan.contains("ObjectHashAggregate"),
        s"$q lost the TopK heap aggregate")
    }
  }

  test("round-9 tier shapes: q195 windowed skyline (no self-join), " +
      "q196 keyed expansion joins, q197 heap-ranked lanes, " +
      "q198 single hash exchange") {
    val q195 = executedPlan("q195_pareto_frontier")
    // the skyline must run as the window decomposition, never the
    // oracle's quadratic NOT EXISTS (which would plan a nested-loop
    // or cartesian anti-join of part against itself)
    assert(!q195.contains("CartesianProduct"))
    assert(!q195.contains("SortMergeJoin"),
      "q195's price-threshold join must broadcast at fixture scale")
    assert(q195.contains("Window"),
      "q195 lost the running-max window decomposition")
    val q196 = executedPlan("q196_khop_reach")
    assert(!q196.contains("CartesianProduct"))
    assert(!q196.contains("BroadcastNestedLoopJoin"),
      "q196's frontier expansion must stay an equi-join on the " +
        "middle node")
    val q197 = executedPlan("q197_rrf_fusion")
    assert(!q197.contains("Window"),
      "q197's lane rankings must ride the bounded-heap TopK " +
        "aggregate, not a global window sort")
    assert(q197.contains("ObjectHashAggregate"),
      "q197 lost the TopK heap aggregate")
    // count exchanges in the FINAL plan only (the AQE plan string
    // repeats the whole tree under "== Initial Plan ==")
    val q198 = executedPlan("q198_interval_coverage")
      .split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllMatchIn(q198).size == 1,
      "q198's window and aggregate must share ONE user_id exchange")
  }

  test("round-9 stats tier shapes: q205 single-scan statistics, " +
      "q207 zero-exchange bucketed SMJ, fact aggregates first") {
    // q205 computes all pairwise correlations from ONE full scan of
    // lineitem (sufficient statistics in a single aggregate); the
    // oracle's 4-scan UNION form re-read the fact four times
    val q205 = executedPlan("q205_feature_corr")
      .split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllMatchIn(q205).size == 1 ||
      "FileScan".r.findAllMatchIn(q205).size == 1,
      "q205 must scan lineitem exactly once")
    // q207: both sides read Bucketed and the join key needs NO
    // exchange — the write-time shuffle is the only one ever paid.
    // Post-join exchanges (5-group aggregate, final sort) are fine.
    val q207 = executedPlan("q207_bucketed_join")
    assert("Bucketed: true".r.findAllMatchIn(q207).size >= 2,
      "q207's scans are not bucket-aware")
    assert(q207.contains("SortMergeJoin"))
    assert(!q207.contains("Exchange hashpartitioning(o_orderkey") &&
      !q207.contains("Exchange hashpartitioning(l_orderkey"),
      "q207 re-shuffled a bucketed side on the join key")
    // drift/markov/autocorr reduce the fact to a bounded cell grid
    // in their FIRST aggregate; none may plan a cartesian
    for (q <- Seq("q202_psi_drift", "q203_markov_transitions",
        "q206_daily_autocorr")) {
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q went cartesian")
    }
  }

  test("q131's bloom screen filters grams BEFORE the benchmark join") {
    val plan = executedPlan("q131_bloom_contamination")
    // the might_contain filter must sit on the corpus gram stream
    // (map-side, pre-join); if it disappears, every gram joins and
    // the row silently degrades to q56's unscreened plan
    assert(plan.contains("might_contain") ||
      plan.contains("BloomFilterMightContain"),
      "bloom screen missing from the executed plan")
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q03's p99 threshold stays in-plan: construction runs no jobs") {
    // the reference's approxQuantile round-trips through the driver
    // (an aggregation job at build time); our form joins a one-row
    // threshold relation inside the same plan. Parquet schema
    // inference legitimately runs a footer-read job for any query,
    // so the gate is: q03 construction runs no MORE jobs than a
    // plain scan query's construction
    val tracker = spark.sparkContext.statusTracker
    // count NEW job ids, not list length: the status store evicts old
    // jobs under retention limits, so length deltas go negative when
    // the whole suite ran first — max job id is monotone and safe
    def jobsDuring(f: => Unit): Int = {
      def maxId = tracker.getJobIdsForGroup(null)
        .foldLeft(-1)(math.max)
      val before = maxId
      f
      maxId - before
    }
    val scanOnly = jobsDuring(
      SparkEntry.queries("q01_demand_heatmap")(spark, dir))
    val q03 = jobsDuring(
      SparkEntry.queries("q03_fare_anomalies")(spark, dir))
    assert(q03 <= scanOnly,
      s"q03 construction ran $q03 job(s) vs $scanOnly for a plain scan " +
        "— a driver-side quantile action would show up here")
    // q74's vocabulary scalar must ride in-plan the same way: its
    // r5 form ran uni.count() at composition time (a full scan+agg
    // job before the query even executed)
    val q74 = jobsDuring(
      SparkEntry.queries("q74_bigram_logprob")(spark, dir))
    assert(q74 <= scanOnly,
      s"q74 construction ran $q74 job(s) vs $scanOnly for a plain scan " +
        "— the vocab count must stay in-plan")
  }

  test("mean-cut edges aggregate the pair counts ONCE (q333)") {
    // q243/q267/q333's 2x-mean threshold and their filter both read
    // the pair counts; one aggregate over the pair-expansion shuffle
    // serves both (two showed up as two stages each reading the
    // whole shuffle back)
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString.split("== Initial Plan ==")(0))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val trace = QueryTrace.start(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q333_degree_histogram")(spark, dir).collect()
      // the execution listener shares the trace's event queue, so the
      // flush delivers every plan the query ran
      trace.flush()
    } finally {
      spark.listenerManager.unregister(listener)
      trace.close()
    }
    val pairCounts =
      """HashAggregate\(keys=\[u#\d+L, v#\d+L\], functions=\[count\(1\)\]""".r
    val n = plans.asScala.toSeq.map(pairCounts.findAllIn(_).length).sum
    assert(n == 1, s"the pair counts are aggregated $n times")
  }

  test("filter pushdown reaches the parquet scan in q03 and q09") {
    for (q <- Seq("q03_fare_anomalies", "q09_feature_matrix")) {
      val plan = executedPlan(q)
      val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(pushed.exists(_.trim.nonEmpty),
        s"$q: no non-empty PushedFilters in any scan")
    }
  }

  test("q82's read-back filter pushes down to the ORC scan") {
    val plan = executedPlan("q82_orc_roundtrip")
    assert(plan.contains("Format: orc") || plan.contains("orc"),
      "q82 lost its ORC scan")
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pushed.exists(_.contains("GreaterThan(value,100")),
      s"value>100 not pushed to the ORC scan:\n$plan")
  }

  test("session-4 tier shapes: q91 distributed ECDF, q93/q96 " +
      "broadcast-only joins, q98 top-k, q90 heap agg") {
    // q91's cumsums must ride the range-partitioned prefix sum: every
    // window operator partitions by the range-partition id (scalar
    // aggregates like the totals/max legitimately single-partition,
    // so the gate targets the Window nodes specifically)
    val p91 = executedPlan("q91_ks_drift")
    val windows91 = p91.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows91.nonEmpty, "q91 lost its ECDF windows")
    assert(windows91.forall(_.contains("__pid")),
      s"q91 has a window not partitioned by the prefix-sum pid:\n" +
        windows91.mkString("\n"))
    // kNN votes and MAD thresholds are tiny relations: broadcast,
    // never a corpus-sized SMJ
    for (q <- Seq("q93_knn_classify", "q96_mad_outliers")) {
      val p = executedPlan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast")
      assert(!p.contains("SortMergeJoin"), s"$q plans SMJ")
    }
    // global top-20 collocations: per-partition heaps, no full sort
    val p98 = executedPlan("q98_pmi_collocations")
    assert(p98.contains("TakeOrderedAndProject"),
      "q98 must plan TakeOrderedAndProject for its global top-k")
    // q90 aggregates through the bounded heap, not a window
    val p90 = executedPlan("q90_grouped_topk")
    assert(p90.contains("ObjectHashAggregate") && !p90.contains("Window"))
  }

  test("q160-q170 TPC-H shapes: EXISTS batteries plan as semi/anti " +
      "joins, scalar thresholds broadcast, envelopes reach the scans") {
    // Q4 shape: EXISTS → left-semi; the date window pushes to orders
    val q4 = executedPlan("q160_late_ship_priority")
    assert(q4.contains("LeftSemi"), s"q160 must plan a semi join:\n$q4")
    assert(q4.contains("GreaterThanOrEqual(o_orderdate"),
      s"q160's date window must reach the orders scan:\n$q4")
    assert(!q4.contains("CartesianProduct"))
    // Q13 shape: the priority filter lives in the join, so the outer
    // join survives (a WHERE would have made it inner)
    val q13 = executedPlan("q161_order_count_distribution")
    assert(q13.contains("LeftOuter"),
      s"q161 must keep the outer join (zero bucket):\n$q13")
    assert(q13.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"q161's priority filter must reach the orders scan:\n$q13")
    // Q19 shape: the hand-derived envelope pushes to both scans even
    // though the disjunction itself can't
    val q19 = executedPlan("q162_disjunctive_part_revenue")
    assert(q19.contains("GreaterThanOrEqual(l_quantity,1.0)")
        && q19.contains("LessThanOrEqual(l_quantity,40.0)"),
      s"q162's quantity envelope must reach the lineitem scan:\n$q19")
    assert(q19.contains("In(p_brand"),
      s"q162's brand envelope must reach the part scan:\n$q19")
    assert(q19.contains("BroadcastHashJoin")
        && !q19.contains("SortMergeJoin"),
      s"q162's part side must broadcast:\n$q19")
    // Q22/Q16/Q21 shapes: NOT EXISTS / NOT IN → left-anti
    for (q <- Seq("q163_dormant_premium_customers",
        "q164_supplier_breadth", "q170_waiting_supplier")) {
      val p = executedPlan(q)
      assert(p.contains("LeftAnti"), s"$q must plan an anti join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q plans a cross product")
    }
    // Q21's EXISTS battery: semi AND anti on the same self-join key
    val q21 = executedPlan("q170_waiting_supplier")
    assert(q21.contains("LeftSemi"),
      s"q170 must plan the EXISTS as a semi join:\n$q21")
    // Q6: every predicate reaches the scan; projection prunes to the
    // three touched columns; no join anywhere. The toString render
    // elides long PushedFilters lists, so assert on formatted explain
    // (per-scan detail blocks print the full list).
    val q6df = SparkEntry.queries("q175_forecast_revenue")(spark, dir)
    q6df.collect()
    val q6 = q6df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    for (p <- Seq("GreaterThanOrEqual(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)", "LessThan(l_quantity,24.0)"))
      assert(q6.contains(p), s"q175 must push $p to the scan:\n$q6")
    assert(!q6.contains("Join"), "q175 is scan+agg only")
    val q6Read = "ReadSchema: [^\n]*".r.findFirstIn(q6).getOrElse("")
    assert(!q6Read.contains("l_orderkey") && !q6Read.contains("l_tax"),
      s"q175's scan must prune to the touched columns: $q6Read")
    // Q11/Q22 scalar thresholds: a 1-row broadcast, never a shuffle
    // of the aggregated side against it
    val q11 = executedPlan("q165_top_value_parts")
    assert(q11.contains("BroadcastNestedLoopJoin")
        || q11.contains("BroadcastHashJoin"),
      s"q165's threshold must arrive by broadcast:\n$q11")
    assert(!q11.contains("CartesianProduct"),
      s"q165 must not plan a shuffled cross product:\n$q11")
  }

  test("session-4 closure shapes: q184 joins stay keyed (no cartesian/" +
      "BNLJ), q185's prefix-sum window rides the range pid and its " +
      "total arrives by broadcast") {
    // triangle counting: every join is equi-keyed (apex, far pair) —
    // a refactor that degrades the wedge or closing join to a
    // nested-loop/cartesian product would be quadratic in |V|
    val p184 = executedPlan("q184_triangle_cooccur")
    assert(!p184.contains("CartesianProduct"),
      s"q184 plans a cartesian product:\n$p184")
    assert(!p184.contains("BroadcastNestedLoopJoin"),
      s"q184 plans a nested-loop join:\n$p184")
    // systematic resampling: the cumulative-weight axis must be the
    // two-phase prefix sum (windows partitioned by the range pid,
    // never a single-partition global window), and the 1-row total
    // joins by broadcast, not a shuffle
    val p185 = executedPlan("q185_systematic_resample")
    val win185 = p185.linesIterator.filter(_.contains("Window ")).toSeq
    assert(win185.nonEmpty, "q185 lost its prefix-sum window")
    assert(win185.forall(_.contains("__pid")),
      s"q185 has a window not partitioned by the prefix-sum pid:\n" +
        win185.mkString("\n"))
    assert(p185.contains("BroadcastNestedLoopJoin")
        || p185.contains("BroadcastHashJoin"),
      s"q185's total-weight row must arrive by broadcast:\n$p185")
    assert(!p185.contains("CartesianProduct"),
      s"q185 must not shuffle a cross product:\n$p185")
  }

  test("q186 k-means: centroids arrive by broadcast each iteration, " +
      "never a shuffled cross product; centroid sums partial-agg") {
    val p = executedPlan("q186_kmeans_assign")
    assert(p.contains("BroadcastNestedLoopJoin")
        || p.contains("BroadcastHashJoin"),
      s"q186's 8-row centroid relation must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q186 plans a shuffled cross product:\n$p")
    // the (cluster, dim) integer sums must ride hash aggregation
    // (map-side combine) — an object/sort agg here means the exact-
    // sum design lost its scalable shape
    assert(p.contains("HashAggregate"),
      s"q186 centroid sums lost hash aggregation:\n$p")
  }

  test("q187's read-back filter resolves as partition pruning, not a " +
      "data filter") {
    val p = executedPlan("q187_partition_pruning")
    val scan = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("events_part"))
    assert(scan.isDefined, s"q187 lost its partitioned read-back:\n$p")
    assert(scan.get.contains("PartitionFilters")
        && scan.get.replaceAll(".*PartitionFilters", "")
          .contains("event_type"),
      s"q187's event_type predicate must prune partitions:\n${scan.get}")
  }

  test("q236 prunes fact partitions DYNAMICALLY from the hot-day dim " +
      "broadcast") {
    val p = executedPlan("q236_dynamic_partition_pruning")
    val scan = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("events_day"))
    assert(scan.isDefined, s"q236 lost its partitioned read-back:\n$p")
    assert(scan.get.contains("dynamicpruning")
        || p.contains("SubqueryBroadcast"),
      "q236's day filter must be a runtime (dynamicpruning) subquery " +
        s"on the fact scan, not a post-scan filter:\n${scan.get}")
  }

  test("round-9 tranche shapes: q226 one-pass bars (no window sort), " +
      "q227 broadcast semi-join, q231/q233 range-partitioned global " +
      "rank (no single-partition window)") {
    val bars = executedPlan("q226_ohlc_bars")
    assert(!bars.contains("RunningWindowFunction")
        && !bars.contains("Window "),
      s"q226 must be a pure aggregate — min_by/max_by, no window:\n$bars")
    val bl = executedPlan("q227_blocklist_filter")
    assert(bl.contains("BroadcastHashJoin"),
      s"q227's blocklist must broadcast:\n$bl")
    assert(bl.contains("LeftSemi"),
      s"q227's token-term join must stay a semi-join:\n$bl")
    val sn = executedPlan("q231_sorted_neighborhood")
    assert(sn.contains("rangepartitioning"),
      "q231's global order must ride repartitionByRange (the " +
        s"withGlobalOffsets recipe), not a single-partition sort:\n$sn")
    val qn = executedPlan("q233_quantile_normalize")
    assert(qn.contains("rangepartitioning"),
      s"q233's global rank must ride repartitionByRange:\n$qn")
  }

  test("round-9 tranches: bootstrap expansion stays map-side, " +
      "residue joins broadcast, no cartesian/nested-loop joins " +
      "anywhere a 1-row broadcast isn't intended") {
    // q248: the 200x replicate explosion must happen in the scan
    // stage (Generate before any Exchange) and be collapsed by a
    // PARTIAL aggregate before the (type, rb) shuffle — the whole
    // point of the multiplier bootstrap at 100 TB.
    val boot = executedPlan("q248_bootstrap_ci")
    assert(boot.contains("Generate explode"),
      s"q248 must expand replicates via explode:\n$boot")
    val genIdx = boot.indexOf("Generate explode")
    val exIdx = boot.indexOf("Exchange")
    assert(exIdx >= 0 && exIdx < genIdx,
      "q248's explode must sit BELOW the first exchange in the " +
        s"plan tree (map-side expansion, partial agg above it):\n$boot")
    assert(!boot.contains("SortMergeJoin")
      && !boot.contains("CartesianProduct"))
    // q251/q253/q263: dimension-sized side of each join broadcasts.
    for (q <- Seq("q251_wasserstein_drift", "q253_equiheight_histogram",
        "q263_markov_accuracy")) {
      val p = executedPlan(q)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"),
        s"$q's residue join must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not sort-merge a dimension-sized join:\n$p")
      assert(!p.contains("CartesianProduct"))
    }
    // q247/q244: the rolling windows run on the daily-grid residue,
    // AFTER the fact aggregate — partial agg below the exchange.
    val ham = executedPlan("q247_hampel_outliers")
    assert(ham.contains("Window"),
      s"q247 must plan a frame window:\n$ham")
    assert(ham.indexOf("HashAggregate") >= 0,
      s"q247's daily grid must be a hash aggregate:\n$ham")
  }

  test("round-9 late tranches: literal dim and residue joins " +
      "broadcast, centroid table broadcast to the fact pass, " +
      "global ranks range-partitioned, no cartesian products") {
    // q294: the in-code lookup dim must broadcast against the scan
    val dim = executedPlan("q294_literal_dim_decode")
    assert(dim.contains("BroadcastHashJoin"),
      s"q294's literal dim must broadcast:\n$dim")
    assert(!dim.contains("SortMergeJoin") &&
      !dim.contains("CartesianProduct"))
    // q290: all three dims broadcast; no fact-side sort-merge
    val sop = executedPlan("q290_share_of_parent")
    assert(sop.contains("BroadcastHashJoin"),
      s"q290's dim chain must broadcast:\n$sop")
    assert(!sop.contains("SortMergeJoin"))
    // q282: the 10-row centroid table reaches the corpus pass as a
    // broadcast (nested-loop on a 10-row build side is the intended
    // cross join), never a shuffled join of the fact
    val conf = executedPlan("q282_centroid_confusion")
    assert(conf.contains("BroadcastNestedLoopJoin") ||
      conf.contains("BroadcastHashJoin"),
      s"q282's centroids must broadcast:\n$conf")
    assert(!conf.contains("SortMergeJoin"),
      s"q282 must not shuffle the embedding fact for the " +
        s"centroid join:\n$conf")
    // q308: the global activity rank must ride range partitioning
    // (withGlobalOffsets), not a single-partition window
    val ms = executedPlan("q308_matrix_sparsity")
    assert(ms.contains("rangepartitioning"),
      s"q308's global rank must ride repartitionByRange:\n$ms")
    // q277: supplier exclusion stays a semi-join on a broadcast side
    val q16 = executedPlan("q277_supplier_part_counts")
    assert(q16.contains("LeftSemi"),
      s"q277's supplier exclusion must plan as a semi-join:\n$q16")
    assert(!q16.contains("CartesianProduct"))
  }

  test("round-10 tranche shapes: global ranks ride range shuffles, " +
      "reorder/switch joins never cartesian, SQL UDF inlines") {
    // (q327's merge join runs EAGERLY inside the query — the
    // returned plan is only the readback aggregate, so the
    // full-outer shape is covered by the oracle, not gated here;
    // the using-columns join is an equi-join by construction)
    // q328/q343: the global rank comes from withGlobalOffsets'
    // range shuffle, not a no-partition window over the fact
    for (q <- Seq("q328_decile_lift", "q343_vocab_coverage_tiers")) {
      val p = executedPlan(q)
      assert(p.contains("rangepartitioning"),
        s"$q's global rank must ride repartitionByRange:\n$p")
    }
    // q330/q335: (cust, part) joins stay keyed
    for (q <- Seq("q330_reorder_rate", "q335_supplier_switches")) {
      val p = executedPlan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
    // q340: the SQL UDF must be analyzer-inlined — no UDF/invoke
    // node survives into the physical plan
    val u = executedPlan("q340_sql_udf_taxed")
    assert(!u.toLowerCase.contains("batchevalpython")
      && !u.contains("ScalaUDF"),
      s"q340's SQL UDF must inline, not execute as a black box:\n$u")
  }

  test("q36's three aggregates share one cached relation") {
    val df = SparkEntry.queries("q36_cached_multi_agg")(spark, dir)
    df.collect()
    val rels = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder
    }
    assert(rels.size == 3 && rels.distinct.size == 1)
  }

  test("round-11 tranche shapes: q348 chunking is scan-shaped, q352 " +
      "rides range partitioning, q196/q346 stay hub-safe, q351 " +
      "keeps sketch algebra out of joins' build sides") {
    // q348: tokenize -> explode -> slice is row-local; the ONLY
    // exchange is the final output order (plus AQE reads) -- a
    // chunker that shuffles before fingerprinting would move the
    // whole corpus twice at 100 TB
    val ch = executedPlan("q348_rag_chunking")
    assert(ch.contains("Generate explode"),
      s"q348 must expand chunk indices via explode:\n$ch")
    assert(!ch.contains("SortMergeJoin") && !ch.contains("HashJoin"),
      s"q348 must be join-free:\n$ch")
    // q352: the global rank must come from repartitionByRange (the
    // withGlobalOffsets recipe: range shuffle + per-partition window
    // + driver prefix — its scalar residues legitimately pass through
    // 1-row SinglePartition exchanges, so only the range gate holds)
    val cu = executedPlan("q352_curriculum_phases")
    assert(cu.contains("rangepartitioning"),
      s"q352's global offsets must ride repartitionByRange:\n$cu")
    // q196 (bitmap reach, r16) and q346 (sketch+bitmap union): both
    // must pin the repartition-by-u between the payload-attach join
    // and the per-node aggregate with an EXPLICIT count (AQE sizes
    // the exchange read by compressed map-side bytes and coalesces
    // the KB-payload-per-row aggregation into coarse spill tasks),
    // and keep the attach join a shuffled HASH join (SMJ would sort
    // the KB-payload relation)
    val kh = executedPlan("q196_khop_reach")
    assert(kh.contains("REPARTITION_BY_NUM"),
      s"q196's bitmap OR aggregation must pin an explicit-count " +
        s"node repartition:\n$kh")
    assert(kh.contains("ShuffledHashJoin"),
      s"q196's bitmap-attach join must be a shuffled hash join:\n$kh")
    // r12 dense-sketch hardening: the node repartition carries an
    // EXPLICIT count (AQE otherwise coalesces the exchange read by
    // compressed map-side bytes into ~GB-spill coarse tasks at the
    // zipf probe's 100× tier) and the sketch-attach join is a
    // shuffled HASH join (SMJ would sort the KB-dense sketch
    // relation every round — 174 s max-task, 46% of wall, at 100×)
    val hll = executedPlan("q346_khop_reach_hll")
    assert(hll.contains("REPARTITION_BY_NUM"),
      s"q346's sketch union must pin an explicit-count node " +
        s"repartition before the union aggregate:\n$hll")
    assert(hll.contains("ShuffledHashJoin"),
      s"q346's sketch-attach join must be a shuffled hash join " +
        s"(SMJ sorts the dense sketch relation):\n$hll")
    // q230 (containment top-k, VERDICT r11 #1): the inverted-index
    // pair generation must ride the chunked machinery too -- a raw
    // g===g self-join puts a hot shingle's f^2 expansion in ONE
    // reducer task (measured 65-75% single-task share at sf0.1)
    val ct = executedPlan("q230_containment_topk")
    assert(ct.contains("REPARTITION_BY_NUM"),
      s"q230's shingle pair generation must pin explicit-count " +
        s"repartitions (chunked expansion, not a raw self-join):\n$ct")
  }

  test("q361 bloom screen rides the plan; q360 stays join-shaped " +
      "(no cartesian)") {
    // q361: the bloom probe must appear as a FILTER in the executed
    // plan — if a refactor drops it, the corpus-sized confirm join
    // silently receives the whole batch again (correct answers, dead
    // at scale).
    val bl = executedPlan("q361_bloom_incremental_dedup")
    assert(bl.contains("graft_bloom_might_contain")
        || bl.contains("might_contain"),
      s"q361 must screen batch rows through the bloom filter:\n$bl")
    // q360: every join is keyed (gram hash or doc_id+range residual);
    // a CartesianProduct would mean the span anti-join lost its
    // doc_id equi-key and went doc×span corpus-wide
    val sp = executedPlan("q360_dup_span_removal")
    assert(!sp.contains("CartesianProduct"),
      s"q360 must keep every join equi-keyed:\n$sp")
    // ...and carries NO pinned broadcast hint anywhere: the dup-gram
    // relation is corpus-scale in exactly the ExactSubstr regime the
    // query exists for (VERDICT r13 #1) — a pinned broadcast(dup)
    // dies at the 8 GB ceiling and forbids AQE's shuffle flip. Hints
    // surface as ResolvedHint nodes in the analyzed plan.
    val spDf = SparkEntry.queries("q360_dup_span_removal")(spark, dir)
    val spAnalyzed = spDf.queryExecution.analyzed.toString
    assert(!spAnalyzed.contains("ResolvedHint"),
      s"q360 must stay hint-free (AQE owns the join strategy):\n" +
        spAnalyzed.linesIterator.filter(_.contains("Hint"))
          .mkString("\n"))
  }

  test("r14 additions: q364's corpus never shuffles (index built " +
      "in place), q365's sketch rounds keep the hub-safety shape") {
    // q364 NSW: the corpus must be consumed by the per-partition
    // index build (MapPartitions over the scan) — the only exchange
    // is the queries·k·partitions candidate merge. A corpus-side
    // Exchange before the index build would mean the "corpus never
    // moves" claim silently broke.
    val nsw = executedPlan("q364_ann_nsw")
    assert(nsw.contains("MapPartitions"),
      s"q364 must build its index via mapPartitions:\n$nsw")
    assert(!nsw.contains("CartesianProduct")
        && !nsw.contains("BroadcastNestedLoopJoin"),
      s"q364 must not join the corpus pairwise:\n$nsw")
    // below the index build sits only the corpus scan: in the FINAL
    // plan (AQE's toString appends the Initial Plan afterwards), the
    // subtree under MapPartitions must carry no Exchange
    val nswFinal = nsw.split("== Initial Plan ==")(0)
    val nswBelow = nswFinal.substring(
      nswFinal.lastIndexOf("MapPartitions"))
    assert(!nswBelow.contains("Exchange"),
      s"q364's corpus must reach the index build unshuffled:\n$nsw")
    // q365 saturating ANF: every sketch round must keep the q346
    // hub-safety recipe — shuffled hash join on the dense-sketch
    // side + explicit-count repartition before the union aggregate.
    // The rounds execute inside localCheckpoint materializations
    // (invisible in the final plan), so inspect the COMPOSED round
    // plan via the operator's checkpointRounds=false knob.
    val ee = spark.range(64).selectExpr("id as u", "(id + 1) % 64 as v")
    val round = graft.ops.Graph.anfSketches(ee, 3, deltaFrom = 99,
      checkpointRounds = false)
    round.collect()
    val anfPlan = round.queryExecution.executedPlan.toString
    assert(anfPlan.contains("ShuffledHashJoin"),
      s"anfSketches rounds must use shuffled hash joins on the " +
        s"dense-sketch side:\n$anfPlan")
    assert(anfPlan.contains("REPARTITION_BY_NUM"),
      s"anfSketches rounds must pin explicit-count repartitions:\n" +
        anfPlan)
    // ...and the catalog query's final plan stays join-keyed
    val anf = executedPlan("q365_anf_saturating")
    assert(!anf.contains("CartesianProduct"),
      s"q365 must keep every join equi-keyed:\n$anf")
  }

  test("Spread is a no-op (zero exchanges) on a multi-split relation " +
      "and only repartitions a sub-parallelism scan") {
    // VERDICT r15 #6: the media/parser Spreads claim "stats >= target
    // × maxPartitionBytes => no repartition", i.e. at deployment
    // scale the exchange disappears and the helper is not a
    // local-mode constant. Build a relation that plans MORE splits
    // than the session parallelism (shrink maxPartitionBytes instead
    // of writing GBs) and pin the claim on object identity + plan.
    import org.apache.spark.sql.functions._
    val dirBig = java.nio.file.Files
      .createTempDirectory("graft_spread_big").toString
    spark.range(0, 50000)
      .select(col("id"), concat(lit("pad_pad_pad_pad_"),
        col("id").cast("string")).as("pad"))
      .write.mode("overwrite").parquet(dirBig)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try {
      val big = spark.read.parquet(dirBig)
      val spread = graft.ops.Spread(big)
      assert(spread eq big,
        "Spread must return the input unchanged when the scan " +
          "already plans >= session parallelism")
      spread.collect()
      val plan = spread.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"Spread inserted an exchange on a multi-split relation:\n$plan")
      assert(spread.rdd.getNumPartitions >=
        spark.sparkContext.defaultParallelism,
        "the multi-split premise itself must hold")
    } finally spark.conf.set(key, prev)
    // fixture regime: a one-split scan DOES get the repartition
    val dirSmall = java.nio.file.Files
      .createTempDirectory("graft_spread_small").toString
    spark.range(0, 100).write.mode("overwrite").parquet(dirSmall)
    val small = spark.read.parquet(dirSmall)
    val spreadSmall = graft.ops.Spread(small)
    assert(spreadSmall ne small)
    spreadSmall.collect()
    assert(spreadSmall.queryExecution.executedPlan.toString
        .contains("Exchange"),
      "Spread must repartition a sub-parallelism scan")
  }
}
