package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph computation on edge DataFrames — the second graph
  * operator family next to connected components
  * (`Dedup.nearDupComponents`).
  *
  * Weighted PageRank (Page et al. '99; the power-iteration form every
  * distributed engine ships): rank flows along out-edges proportional
  * to edge weight, damped toward the uniform distribution. Each
  * iteration is ONE shuffle (contribution groupBy on dst) plus one
  * left join back onto the node set — both keyed on the node id, so
  * the partitioning is reused across iterations; nothing ever
  * materializes beyond the node and edge relations. The node count is
  * the only driver-side scalar (same status as the vocabulary count
  * in the LM scorers).
  *
  * Iteration count is FIXED (caller-chosen), not convergence-tested —
  * that keeps the whole computation one declarative plan and makes
  * the result engine-portable (an epsilon test would couple output to
  * float drift). For web-scale graphs add a `localCheckpoint` every
  * few rounds to truncate lineage; at bounded iters the plan is fine.
  */
object Graph {

  /** @param edges (src, dst, w) with integral weight `w`; parallel
    *              edges should be pre-aggregated. Nodes with no
    *              out-edges receive damped rank but emit none
    *              (standard simplified dangling handling — document
    *              when it matters for the graph at hand).
    * @return (node, rank) for every node appearing as src or dst */
  def pageRank(edges: DataFrame, iters: Int = 5,
      damping: Double = 0.85): DataFrame = {
    // The edge subplan appears in every iteration's join, but it is
    // NOT cached deliberately: the repeated subtree shuffles on the
    // same key each round, so Spark plans ONE Exchange and reuses it
    // (ReusedExchange) — measured 2.1 s uncached vs 5.2 s persisted
    // at sf0.1 (InMemoryRelation blocks exchange reuse and pays a
    // materialization). If the edge DERIVATION ever became
    // nondeterministic, persist would be required for correctness.
    val e = edges
    val out = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    val n = nodes.count()
    val base = (1 - damping) / n
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val contribs = e.join(out, "src")
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst").as("node"),
          (col("rank") * col("w").cast("double") / col("outw").cast("double"))
            .as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("c"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + lit(damping) * coalesce(col("c"), lit(0.0)))
            .as("rank"))
    }
    ranks
  }

  /** Undirected co-occurrence edges (u < v) over a bucketed
    * projection: pair expansion as row-local array algebra over the
    * per-bucket SORTED user set (k² per bucket, k bounded by bucket
    * cardinality — one shuffle fewer than the equivalent bucket
    * self-join, and the sorted set gives u < v for free), kept when
    * the pair shares at least `minSupport` distinct buckets.
    *
    * @param p (bucketCol*, user) projection, pre-distinct */
  def cooccurEdges(p: DataFrame, bucketCols: Seq[String],
      userCol: String, minSupport: Int): DataFrame =
    cooccurPairCounts(p, bucketCols, userCol)
      .filter(col("w") >= minSupport)
      .select(col("u"), col("v"))

  /** The pair-count relation behind [[cooccurEdges]] — (u, v, w)
    * with w = shared-bucket count — exposed separately so callers
    * with a DATA-DERIVED support threshold (q243's 2×mean cut) can
    * filter in-plan instead of baking a constant in.
    *
    * Hot-bucket safety (the one-task k² problem): a naive
    * `collect_set` + row-local expansion puts a bucket's ENTIRE k²
    * pair generation inside one task — a 10⁵-member bucket at
    * 100 TB is 10¹⁰ pairs in one executor (straggler death). Here
    * each bucket's sorted member set is split row-locally into
    * `chunk`-sized rank slices, and the EXACT pair set is the
    * union of
    *   - intra-chunk pairs: the old row-local expansion, but per
    *     chunk row, so ≤ chunk²/2 emissions per group row (and
    *     streamed via posexplode+slice, never a flattened k²
    *     struct array), and
    *   - inter-chunk pairs: a chunk-pair join REPARTITIONED on
    *     (bucket, g1, g2) before the two-level explode, so a hot
    *     bucket's (k/chunk)² cross products spread across the
    *     cluster instead of streaming through the bucket-keyed
    *     join task.
    * Slices are rank slices of the SORTED member list, so every
    * member of chunk g1 < every member of g2 — u < v holds with no
    * per-pair comparison. Output is IDENTICAL to the unchunked
    * expansion (`GraphSpec` pins chunked == unchunked on a planted
    * hot bucket); a bucket smaller than `chunk` yields exactly one
    * slice, so the common case pays the same single bucket-keyed
    * shuffle as the naive shape plus a near-empty inter join.
    * Per-task memory is bounded by the largest bucket's id array
    * (8 B/member — 10⁵ members is 800 KB; a bucket big enough for
    * its ARRAY to matter implies an intractable k² output long
    * before the buffer does).
    *
    * @param p (bucketCol*, user) projection, pre-distinct (every
    *          caller derives it with `.distinct()`; duplicate
    *          members would double-count pairs here, exactly as
    *          they would in the oracle's self-join) */
  def cooccurPairCounts(p: DataFrame, bucketCols: Seq[String],
      userCol: String, chunk: Int = 1024,
      cacheGroups: Boolean = false): DataFrame =
    cooccurPairs(p, bucketCols, userCol, chunk, cacheGroups)
      .groupBy("u", "v").agg(count(lit(1)).as("w"))

  /** The raw chunked pair STREAM behind [[cooccurPairCounts]]:
    * (u, v) with u < v per shared bucket, possibly repeated across
    * buckets — no final (u, v) collapse. Callers that verify each
    * candidate row-locally before deduping (q148's hamming test,
    * q152's symbol-diff count) use this so the dedup shuffle moves
    * only the ~1% of candidates that pass, not every bucket
    * collision. `userCol` may be a STRUCT column carrying a payload
    * (e.g. (doc_id, phash)) — ordering, chunk slicing, and u < v are
    * then lexicographic on the struct, so narrow-payload members
    * ride the machinery without a join-back. */
  def cooccurPairs(p: DataFrame, bucketCols: Seq[String],
      userCol: String, chunk: Int = 1024,
      cacheGroups: Boolean = false): DataFrame = {
    val bc = bucketCols.map(col)
    // singleton buckets contribute no pairs — filter them BEFORE the
    // chunk machinery (free for every caller: a degree-1 node makes
    // no wedge, a 1-doc posting makes no pair)
    val raw = p.groupBy(bc: _*)
      .agg(sort_array(collect_set(col(userCol))).as("us"))
      .filter(size(col("us")) > 1)
      .select(bc :+ posexplode(expr(
        s"""transform(sequence(0, (size(us) - 1) div $chunk),
            g -> slice(us, g * $chunk + 1, $chunk))"""))
        .as(Seq("g", "us")): _*)
    // The stub relation has three consumers (intra + both inter join
    // sides); exchange reuse covers the groupBy SHUFFLE but the
    // post-shuffle collect_set/sort_array/slice aggregation re-runs
    // per consumer. Whether to cache it depends on the relation's
    // SHAPE, so the caller decides:
    //  - cacheGroups=true (singleton-dominated relations — LSH
    //    banding at ~1 bucket/row): the filter leaves almost
    //    nothing, the cache is KB-sized, and skipping two of the
    //    three agg passes over 1e7 buckets is the dominant win
    //    (measured 396 s → 65 s at the 10× text-skew tier);
    //  - cacheGroups=false (dense graph relations — every node a
    //    bucket): the InMemoryRelation hides size estimates from
    //    AQE (the q196 LogicalRDD lesson) and the eager
    //    materialization of every node's neighbor array costs more
    //    than the two repeated agg passes it saves (measured: q356
    //    10.8 s → 30.7 s, q346 7.2 s → 12.4 s when cached).
    val conf = p.sparkSession.sessionState.conf.numShufflePartitions
    // Expansion-stage parallelism. Uncached path: the session's
    // shuffle parallelism (graph relations have ~one stub per node,
    // so stub-count ≈ n already balances; extra bins were measured
    // as pure task-launch overhead — q230 2.9 → 7 s, q196 6.8 →
    // 10.3 s at a static 8× oversample). Cached path: the relation
    // is already materialized, so the TRUE pair volume is one cheap
    // agg away — size the exchange to ~1M expanded pairs per task.
    // Hash-distributing S mega-stubs (each exploding up to
    // chunk²-fold) over too-few bins leaves the worst bin
    // S/n + O(√(S/n·ln n)) stubs and a partial-agg map deep in
    // spill/GC territory: measured at the text-skew probe, 37 s
    // max-task at tier 1 (81 bins) and heap exhaustion at tier 10
    // under 32 concurrent multi-million-entry agg maps; at
    // volume-scaled bins the worst task is ~2 stubs and the maps
    // stay tens-of-MB. A 100 TB deployment gets the same effect
    // from conf sized to the data — this knob only ever ADDS bins.
    val groups = if (cacheGroups) {
      val g = graft.Caching.retain(raw.persist())
      g.count() // materialize before the three consumers fork
      g
    } else raw
    val expParts = if (cacheGroups) {
      val vol = groups.groupBy(bc: _*)
        .agg(sum(size(col("us"))).as("S"))
        .agg(coalesce(sum(col("S").cast("long") * (col("S") - 1) / 2),
          lit(0L)).cast("long"))
        .collect()(0).getLong(0)
      math.max(conf, math.min(4096L, vol / 1000000L).toInt)
    } else conf
    // explicit-count repartition for the SAME reason as the inter
    // branch below: group rows are kB-sized stubs that expand
    // chunk²-fold on explode, and AQE coalesces a stub-sized
    // exchange read to ONE task (measured: the coalesced intra task
    // absorbed every bucket's intra expansion)
    val intra = groups
      .repartition(expParts, bc :+ col("g"): _*)
      .select(col("us"), posexplode(col("us")).as(Seq("i", "u")))
      .select(col("u"),
        explode(slice(col("us"), col("i") + lit(2),
          size(col("us")))).as("v"))
    val l = groups.select(
      bc :+ col("g").as("g1") :+ col("us").as("us1"): _*)
    val r = groups.select(
      bc :+ col("g").as("g2") :+ col("us").as("us2"): _*)
    val inter = l.join(r, bucketCols)
      .filter(col("g1") < col("g2"))
      // the crux: without this, the explode below runs inside the
      // bucket-keyed join task and the hot bucket is one task
      // again. The partition count is EXPLICIT because the rows
      // here are chunk-pair stubs that each expand chunk²-fold
      // below — AQE sizes an un-counted repartition by its input
      // bytes (a few KB per stub) and coalesces the exchange to
      // one partition, re-serializing the straggler (measured:
      // 40.7 s max-task with AQE coalescing vs 2-3 s explicit)
      .repartition(expParts, bc :+ col("g1") :+ col("g2"): _*)
      .select(explode(col("us1")).as("u"), col("us2"))
      .select(col("u"), explode(col("us2")).as("v"))
    intra.unionByName(inter)
  }

  /** Iterated HLL-sketch neighborhood propagation — the ANF /
    * HyperBall loop (Palmer et al. KDD'02; Boldi-Vigna WWW'11) as a
    * reusable operator: round 1 sketches each node's direct
    * neighbors; round h unions every node's round-(h−1) sketch with
    * its neighbors'. Returns (u, sk) after `hops` rounds — estimate
    * with `graft_hll4_estimate`.
    *
    * Delta/frontier rounds (VERDICT r13 #7): from round `deltaFrom`
    * on, only sketches that CHANGED in the previous round ship
    * across edges — HLL union is an idempotent max-of-registers, so
    * an unchanged neighbor's sketch is already subsumed and the
    * output is byte-identical (the byte compare is conservative-
    * safe: an equal-state re-encoding re-ships, never under-ships).
    * Measured (graph-zipf probe): while neighborhoods are still
    * growing everywhere the frontier is full and delta is pure
    * overhead (+10% shuffle bytes at ≤4 hops, where the probe graph
    * saturates at 4); at the first post-saturation round the
    * frontier collapses and the round's dense-sketch volume — the
    * dominant ANF cost — collapses with it (5-hop rows). Hence the
    * default `deltaFrom = 4`: full propagation for the growth
    * rounds, delta for the saturation tail a deep ANF actually
    * runs. `localCheckpoint` between rounds truncates lineage (each
    * round's output has up to three consumers in the next).
    *
    * Plan shape per round (the q346/q356 hub-safety recipe):
    * shuffle_hash on the KB-dense sketch side (SMJ would sort it
    * every round), explicit-count repartition by node before the
    * union aggregate (AQE sizes the exchange read by compressed
    * map-side bytes and would coalesce to GB-spill tasks).
    *
    * @param ee symmetric edge list (u, v) — both directions present
    * @param hops rounds to run (≥1)
    * @param deltaFrom first round (2-based) to run frontier-delta
    * @param checkpointRounds false ONLY for plan inspection
    *        (`PlanAuditSpec` reads the composed round plan, which
    *        checkpointing would otherwise execute away) */
  def anfSketches(ee: DataFrame, hops: Int, deltaFrom: Int = 4,
      checkpointRounds: Boolean = true): DataFrame = {
    val spark = ee.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.SketchFunctions.{hll4Agg, hll4Union, hll4UnionAgg}
    val np = spark.sessionState.conf.numShufflePartitions
    var cur = ee.groupBy(col("u")).agg(hll4Agg(col("v")).as("sk"))
      .withColumn("skp", lit(null).cast("binary"))
    var h = 2
    while (h <= hops) {
      val carrier =
        if (h >= deltaFrom)
          cur.filter(col("skp").isNull || col("sk") =!= col("skp"))
            .select(col("u").as("v"), col("sk"))
        else cur.select(col("u").as("v"), col("sk"))
      val nb = ee.join(carrier.hint("shuffle_hash"), "v")
        .repartition(np, col("u"))
        .groupBy(col("u")).agg(hll4UnionAgg(col("sk")).as("__nb"))
      cur = cur.select(col("u"), col("sk"))
        .join(nb.hint("shuffle_hash"), Seq("u"), "left")
        .select(col("u"),
          when(col("__nb").isNull, col("sk"))
            .otherwise(hll4Union(col("sk"), col("__nb"))).as("sk"),
          col("sk").as("skp"))
      if (checkpointRounds) cur = cur.localCheckpoint(true)
      h += 1
    }
    cur.select(col("u"), col("sk"))
  }

  /** k-core decomposition PROFILE under a fixed peeling budget:
    * starting from the undirected edge set, each round removes
    * every node of degree < k and the edges touching it, emitting
    * (round, n_nodes, n_edges) for round 0 and after each of
    * `rounds` peels — the shrinking-core audit (how fast the graph
    * collapses under peeling measures its cohesion; a graph whose
    * profile flatlines early HAS a k-core). Each round is one
    * degree aggregate + two semi-joins on the node key.
    *
    * EAGER by design, with per-round `localCheckpoint` lineage
    * truncation: each round's profile row is a 1-row aggregate
    * (the bounded-driver-scalar class, q120 pattern) collected as
    * the round completes, and each round's edge residue is
    * checkpointed so the NEXT round plans against a flat LogicalRDD
    * instead of the full join tree. The truncation is what makes
    * the peel linear in rounds: every alternative was measured at
    * sf0.1 and grows — the round-r logical plan references round
    * r-1 three times (two semi-join probes + the degree build), so
    * an un-truncated tree grows 3^r and each action pays Catalyst
    * analysis on it regardless of caching (persist-per-round:
    * 0.9/2.5/3.8/10.6 s per round, AQE on or off; checkpoint:
    * ~0.9 s flat). The checkpoint blocks (tiny, shrinking edge
    * subsets) are explicitly released before returning through a
    * [[graft.LocalCheckpoints]], which unpersists exactly the RDDs
    * this call checkpointed (safe: the result is a LOCAL relation of
    * `rounds+1` rows, so nothing can ever recompute through the
    * released lineage). At web scale the same truncation is what a
    * 1000-round peel needs anyway — the driver never holds a plan
    * deeper than one round.
    *
    * @param edges undirected (u, v) with u < v, no parallel edges;
    *   a flat, materialized relation (q267 passes its checkpointed
    *   mean-cut edges), read in place, never copied */
  def kCoreProfile(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val ckpt = new graft.LocalCheckpoints
    // ONE degree aggregation per round serves BOTH the peel and the
    // profile row (r16; guide §1.2 "don't compute things twice"):
    // the old shape ran a separate count_distinct-over-union stats
    // scan per round NEXT TO the peel's degree aggregate over the
    // same union — but the stats ARE the degree relation's: n_nodes
    // = its row count (nodes with ≥1 edge), n_edges = Σdeg/2 (the
    // directed union has every edge twice). The degree relation is
    // nodes-sized, so its eager checkpoint is cheap, and the peel's
    // semi-join probes read the materialized blocks instead of
    // re-deriving the union+aggregate (measured at sf0.1: the two
    // stats scans were 22.7 s of q267's ~60 s total task time).
    def degOf(e: DataFrame): DataFrame = ckpt(
      e.select(col("u").as("n"))
        .unionByName(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg")))
    def statsOf(deg: DataFrame): (Long, Long) = {
      val r = deg.agg(count(lit(1)),
        coalesce(sum(col("deg")), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1) / 2)
    }
    var e = edges.select(col("u"), col("v"))
    var deg = degOf(e)
    val out = scala.collection.mutable.ArrayBuffer((0L, statsOf(deg)))
    for (r <- 1 to rounds) {
      val keep = deg.filter(col("deg") >= k).select(col("n"))
      e = ckpt(e
        .join(keep.select(col("n").as("ku")),
          col("u") === col("ku"), "left_semi")
        .join(keep.select(col("n").as("kv")),
          col("v") === col("kv"), "left_semi"))
      deg = degOf(e)
      out += ((r.toLong, statsOf(deg)))
    }
    ckpt.release()
    out.toSeq.map { case (r, (n, m)) => (r, n, m) }
      .toDF("round", "n_nodes", "n_edges")
      .orderBy(col("round"))
  }

  /** Min-label propagation with a FIXED iteration budget — the
    * deterministic community/component sweep (one node-keyed
    * shuffle per round; labels monotonically decrease, so k rounds
    * give every node the minimum label within k hops — exact
    * connected components once k reaches the diameter). Like
    * [[pageRank]], the edge subplan is deliberately NOT cached:
    * each round's neighbor-min join shuffles it on the same key, so
    * Spark plans one Exchange and reuses it. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val ed = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val nodes = ed.select(col("u").as("node")).distinct()
    var labels = nodes.withColumn("lbl", col("node"))
    for (_ <- 1 to iters) {
      val m = ed
        .join(labels.select(col("node").as("v"), col("lbl")), "v")
        .groupBy(col("u")).agg(min(col("lbl")).as("minl"))
      labels = labels
        .join(m.select(col("u").as("node"), col("minl")),
          Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("minl"), col("lbl")))
            .as("lbl"))
    }
    labels
  }

  /** Per-node triangle counts by degree-ordered edge orientation
    * (Schank/Wagner; the node-iterator++ every distributed engine
    * uses): each undirected edge is directed from its lower-degree
    * endpoint to its higher-degree one (ties by id), wedges are
    * generated only from a node's OUT-edges, and a wedge closes iff
    * its far pair exists in the (undirected) edge set. The total
    * order makes every triangle a wedge at exactly one apex, so no
    * dedup pass; the orientation bounds per-node wedge fan-out by
    * O(sqrt(m)) regardless of raw degree skew — the difference
    * between a web-scale graph finishing and its highest-degree hub
    * generating deg² wedges in one task. Three shuffles total (degree
    * agg, wedge self-join on apex, closing join on the far pair),
    * all on node/pair keys. Edge derivation shared with the scale
    * probe via [[cooccurEdges]] so the two cannot drift apart.
    *
    * Orientation is computed JOIN-FREE (measured 1.6× end-to-end vs
    * the degree-relation double-join at sf0.1): each edge explodes
    * into its two directed forms (row-local), deg(x) is a COUNT
    * window over the source partition, and the partner's degree
    * needs no second join — the reversed row carries it, so within
    * the unordered-pair partition (exactly two rows)
    * dy = sum(dx) − dx. Two window shuffles replace a union-agg plus
    * two joins (and their broadcast-build jobs); the edge subtree
    * feeding both the orientation and the closing join is planned
    * once via exchange reuse, so callers need not persist it.
    *
    * @param edges undirected edge list as (u, v) with u < v, no
    *              parallel edges
    * @return (user_id, n_tri): triangle participation count per
    *         node, nodes in no triangle omitted */
  def triangleCounts(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = edges.select(explode(array(
        struct(col("u").as("x"), col("v").as("y")),
        struct(col("v").as("x"), col("u").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
    val oriented = ex
      .withColumn("dx", count(lit(1)).over(Window.partitionBy("x")))
      .withColumn("dy",
        sum(col("dx")).over(Window.partitionBy(
          least(col("x"), col("y")), greatest(col("x"), col("y"))))
          - col("dx"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("x").as("s"), col("y").as("t"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    val tri = wedges.join(
      edges.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("n_tri"))
  }
}
