package graft.vector

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (ArrayType(FloatType)).
  *
  * Two tiers, per the engine brief:
  *  - brute-force cosine top-k: broadcast the (small) query set,
  *    score map-side against the corpus — zero shuffle of the corpus
  *    except the final per-query top-k heap aggregate (k rows per
  *    query and task). The exact baseline.
  *  - LSH-bucketed ANN (cross-polytope family): band keys are
  *    row-local; candidate generation is a bucket equi-join, so the
  *    corpus is never all-paired. The 100 TB path.
  *
  * Pair-time math runs through the codegen'd `graft_dot` expression
  * (graft.functions.DotProduct), and vector norms are computed ONCE
  * per row in a projection before any join — the per-pair work is a
  * single tight-loop dot product plus one divide. The interpreted
  * `zip_with`+`aggregate` fold is kept as `dotInterpreted` for
  * eval==codegen cross-checks. All math is double-precision with
  * in-order accumulation — deterministic, reproducible across
  * engines for the oracle (DuckDB's list_dot_product sums in the
  * same element order).
  */
object VectorOps {

  /** Cast a float array to double (all math in double — float
    * accumulation drifts and is not oracle-stable). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Codegen'd dot product. GraftFunctions.register must have run on
    * the session — every DataFrame entry point here registers. */
  def dot(a: Column, b: Column): Column = GraftFunctions.dot(a, b)

  /** Interpreted reference fold — identical in-order double math to
    * the codegen'd expression; used by tests to cross-check. */
  def dotInterpreted(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine from raw vectors — O(3 dots); inside joins prefer
    * precomputed per-row norm columns (see bruteForceTopK). */
  def cosine(a: Column, b: Column): Column =
    // try_divide, not `/`: Spark 4 runs ANSI mode by default, where a
    // zero-norm operand would make x/0 THROW mid-query instead of
    // yielding the NULL the ranking paths filter out
    try_divide(dot(a, b), norm(a) * norm(b))

  /** See [[graft.ops.Spread]] — shared session-parallelism guard. */
  private def spread(df: DataFrame): DataFrame = graft.ops.Spread(df)

  /** id + double vector (+ `extra` columns) + precomputed norm, under
    * prefixed names — the projection both join sides share so per-pair
    * work is one dot product (norms are per-row, computed once before
    * the join). */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
      prefix: String, extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as(s"${prefix}_id"),
        toDouble(col(vecCol)).as(s"${prefix}_v")) ++ extra: _*)
      .withColumn(s"${prefix}_norm", norm(col(s"${prefix}_v")))

  /** graft.Rounding.r6 cosine between two [[withNorm]] projections
    * (`a`/`b` are their prefixes): one dot product and one divide per
    * pair. A zero norm yields NULL (try_divide — Spark 4's ANSI mode
    * would THROW on x/0), and NULL scores drop out of every ranking. */
  private def cosR6(a: String, b: String): Column =
    graft.Rounding.r6(try_divide(dot(col(s"${a}_v"), col(s"${b}_v")),
      col(s"${a}_norm") * col(s"${b}_norm")))

  /** The ranking tail every search shares: scored (q_id, n_id, cos)
    * rows → (q_id, n_id, cos, rank), the k best per query by (cos
    * desc, n_id asc). Ranking runs through the bounded-heap TopK
    * AGGREGATE — identical ordering to `row_number() OVER (PARTITION
    * BY q_id ORDER BY cos DESC, n_id)` (gated by TopKSpec), but each
    * task folds its rows into a k-entry buffer map-side, so only k
    * rows per (query × task) cross the shuffle, where the window form
    * shuffles and sorts ALL scored rows. NULL scores (a zero-norm
    * vector) are dropped first: the heap's encoder requires a non-null
    * primitive ord. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = graft.ops.TopK.topk(k)
    scored.filter(col("cos").isNotNull)
      .groupBy(col("q_id"))
      .agg(topk(col("cos"), col("n_id")).as("__top"))
      .select(col("q_id"), posexplode(col("__top")).as(Seq("__i", "__s")))
      .select(col("q_id"), col("__s").getField("id").as("n_id"),
        col("__s").getField("ord").as("cos"),
        (col("__i") + 1).cast("int").as("rank"))
  }

  /** Exact top-k cosine neighbors for each query vector.
    * Queries are broadcast (small side); scores are computed in the
    * corpus scan stage and ranked through [[rankTopK]] on
    * graft.Rounding.r6(cos) with an id tie-break, so results are
    * stable across engines and runs. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val c = withNorm(spread(corpus), idCol, vecCol, "n")
    val q = withNorm(queries, idCol, vecCol, "q")
    rankTopK(c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), cosR6("q", "n").as("cos"), col("n_id")), k)
  }

  /** FILTERED exact top-k: neighbors restricted to the query's own
    * label — the "search within category" composition every
    * metadata-aware vector store runs (filtered ANN). The filter is
    * an EQUI-join key, not a post-filter: scoring only ever touches
    * same-label pairs, so a balanced L-label corpus does 1/L the
    * dot products of [[bruteForceTopK]] + post-filter, and at scale
    * the label can also become the partition key. Queries broadcast;
    * ranking through [[rankTopK]]. */
  def labelFilteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val c = withNorm(spread(corpus), idCol, vecCol, "n",
      col(labelCol).as("n_label"))
    val q = withNorm(queries, idCol, vecCol, "q", col(labelCol).as("q_label"))
    rankTopK(c.join(broadcast(q), col("q_label") === col("n_label")
        && col("q_id") =!= col("n_id"))
      .select(col("q_id"), cosR6("q", "n").as("cos"), col("n_id")), k)
  }

  /** ANN via cross-polytope LSH (NIPS'15) banding: a vector's band
    * keys come from signed-argmax outcomes of `cpHashes`
    * pseudo-rotations per band (graft_cp_keys, one fused codegen
    * expression); the query side emits `probes`-way multi-probe keys.
    * Corpus vectors sharing any band key with a query's probe keys
    * are candidates, then exact-cosine scored and top-k'd per query —
    * so the approximation affects only recall, never a reported
    * score.
    *
    * Defaults (k=1, 32 bands, 2 probes) measure recall@3 = 0.93/0.97
    * (sf0.001/sf0.1) at a ~35% candidate scan fraction against the
    * exact [[bruteForceTopK]] — gated in AnnRecallSpec. The fraction
    * is honest for this fixture: its "neighbors" sit at cos 0.29-0.39
    * against a cos 0±0.125 bulk, barely outside the noise floor,
    * where LSH theory (ρ = ln(1/p1)/ln(1/p2) → 0.84) caps pruning at
    * ~n^0.84 candidates per query. On clustered real-world embeddings
    * (neighbors at cos ≥ 0.7) the same operator prunes to a few
    * percent — see the banding analysis in
    * [[graft.functions.CrossPolytopeKeys]].
    *
    * Scale shape: keys are row-local; the candidate join streams the
    * corpus-side key table against broadcast query keys (map-side);
    * the only corpus shuffles are the candidate-id distinct and the
    * per-query top-k (bounded-heap aggregate — only k rows per
    * (query × task) cross it), both bounded by the candidate set. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      cpHashes: Int = 1, bands: Int = 32, probes: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val c = withNorm(spread(corpus), idCol, vecCol, "n")
    val q = withNorm(queries, idCol, vecCol, "q")
    val cKeys = c.select(col("n_id"),
      explode(GraftFunctions.cpKeys(col("n_v"), cpHashes, bands, 1))
        .as("key"))
    val qKeys = q.select(col("q_id"),
      explode(GraftFunctions.cpKeys(col("q_v"), cpHashes, bands, probes))
        .as("key"))
    val cand = cKeys.join(broadcast(qKeys), "key")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id")).distinct()
    rankTopK(cand.join(c, "n_id").join(broadcast(q), "q_id")
      .select(col("q_id"), cosR6("q", "n").as("cos"), col("n_id")), k)
  }

  /** Candidate pairs from cross-polytope band keys: (a_id, b_id),
    * a < b, for all pairs where one side's base band key equals any
    * of the other side's probe keys. The shared candidate-generation
    * stage of [[nearDupPairsLsh]], package-private so AnnRecallSpec
    * can gate the measured candidate RATIO (candidates / all-pairs) — the
    * property whose silent failure made the round-2 banding an
    * all-pairs join in disguise. */
  private[graft] def cpCandidatePairs(df: DataFrame, cpHashes: Int = 2, bands: Int = 128,
      probes: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // keys persisted so base and probe sides read ONE evaluation of
    // the rotation expression per row (released by the caller)
    val keyed = graft.Caching.retain(spread(df)
      .select(col(idCol).as("a_id"),
        GraftFunctions.cpKeys(toDouble(col(vecCol)), cpHashes, bands, probes)
          .as("__keys"))
      .persist())
    keyed.count()
    cpRawMatches(keyed, combosOf(cpHashes, probes)).distinct()
  }

  private def combosOf(cpHashes: Int, probes: Int): Int = {
    var c = 1; var i = 0
    while (i < cpHashes) { c *= probes; i += 1 }
    c
  }

  /** Raw key matches over a persisted (a_id, __keys) relation —
    * canonical a < b pairs, WITH band/orientation duplicates (a pair
    * appears once per matching band side). Callers either `distinct`
    * (candidate counting) or verify first and dedup the few
    * survivors ([[nearDupPairsLsh]] — cheaper: the dot product per
    * raw match costs less than shuffling the full candidate set for
    * a distinct, and the duplicate factor is bounded by the band
    * count, measured ~3× on the fixtures).
    *
    * The probe-side array contains every probes^k outcome
    * combination per band, combo 0 being the base key — so the base
    * side is the stride-combos slice of the SAME persisted column
    * (one rotation evaluation per row total, not one per side). */
  private def cpRawMatches(keyed: DataFrame, combos: Int): DataFrame = {
    val base = keyed
      .select(col("a_id"), posexplode(col("__keys")).as(Seq("__pos", "key")))
      .filter(col("__pos") % combos === 0).drop("__pos")
    val probe = keyed.select(col("a_id").as("p_id"),
      explode(col("__keys")).as("key"))
    // hash join on the 64-bit band key (band index is encoded in the
    // key, so one column carries the whole (band, bucket) identity);
    // least/greatest folds the two probe orientations together
    base.join(probe, "key")
      .filter(col("a_id") =!= col("p_id"))
      .select(least(col("a_id"), col("p_id")).as("a_id"),
        greatest(col("a_id"), col("p_id")).as("b_id"))
  }

  /** IVF-style ANN: partition the corpus into `nlist` cells around
    * deterministically-sampled centroid vectors (smallest
    * xxhash64(id) — no fitted model, reproducible on any executor),
    * then answer each query by probing its `nprobe` nearest cells
    * and exact-scoring only those cells' members. The coarse
    * quantizer is one broadcast crossJoin of nlist dot products per
    * row; search cost scales with nprobe/nlist of the corpus instead
    * of all of it. Complements [[lshTopK]] (hash buckets) with the
    * inverted-file structure real vector stores use; recall is
    * data-dependent → rows-only in the catalog, gated by
    * AnnRecallSpec against [[bruteForceTopK]].
    *
    * Pass nlist/nprobe <= 0 to derive them from the corpus size:
    * nlist = max(8, ceil(sqrt(n))) (the standard IVF sizing — cell
    * occupancy ~sqrt(n)), nprobe = max(2, ceil(0.4·nlist)). The probe
    * fraction is data-measured, not the textbook nlist/8: on the
    * harness's near-isotropic embeddings (true neighbors at cos
    * 0.29-0.39, statistically barely separable from the bulk) the
    * recall curve is recall@3 {25%: 0.70, 32%: 0.77, 40%: 0.83, 50%:
    * 0.87} (tools/lsh_tune.py, medians over 10 seed draws) — nlist/8
    * would measure ~0.4 and fail the 0.7 gate. Clustered real-world
    * embeddings sit far above this curve; the 0.4 default is the
    * honest floor for the hardest data.
    *
    * The probed candidates are exact-scored and ranked through
    * [[rankTopK]] — the shortlist-then-exact-re-rank shape (VERDICT
    * r3 #3), with the re-rank fused into the heap because the exact
    * cosine is already computed per candidate. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 0, nprobe: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfSearch(corpus, queries, k, None, nlist, nprobe, idCol, vecCol)

  /** Sharded ANN: an independent IVF index PER GROUP — the
    * language/domain-partitioned layout real corpora deploy (one
    * index per shard key, each query routed to its own shard's
    * index, never across). The same build and search as [[ivfTopK]]
    * (which is the one-shard case), with the group key riding the
    * seed pick, the centroid refinement and the cell/probe joins; nlist
    * is per-shard (sized from the mean shard population when
    * defaulted), so the centroid broadcast is `groups × nlist` skinny
    * rows — still KB-scale. */
  def ivfTopKPerGroup(corpus: DataFrame, queries: DataFrame, k: Int,
      groupCol: String, nlist: Int = 0, nprobe: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfSearch(corpus, queries, k, Some(groupCol), nlist, nprobe, idCol,
      vecCol)

  /** IVF search: exact cosine over every (query, member of a probed
    * cell) pair, ranked by [[rankTopK]]. Cell ids are the seed vector
    * ids, unique across shards, so the cell equi-join alone keeps a
    * query inside its own shard. */
  private def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int,
      groupCol: Option[String], nlist: Int, nprobe: Int,
      idCol: String, vecCol: String): DataFrame = {
    val (assigned, probes) = ivfAssignAndProbes(corpus, queries, nlist,
      nprobe, idCol, vecCol, groupCol)
    rankTopK(assigned.join(broadcast(probes),
        assigned("cell") === probes("cell") && col("q_id") =!= col("n_id"))
      .select(col("q_id"), cosR6("q", "n").as("cos"), col("n_id")), k)
  }

  /** The IVF index build (ivfTopK, ivfTopKPerGroup, ivfPqTopK): returns
    * (assigned, probes) — `assigned` is the persisted normed corpus
    * plus its `cell` id, `probes` is one row per (query, probed cell)
    * carrying the query vector+norm. With `groupCol` every shard gets
    * its own cells and a query probes only its own shard's; without
    * it the corpus is one shard. `centroidsHook` receives the
    * persisted (c_id, c_v, c_norm) centroid relation and returns the
    * one that assignment and probes consume (ivfPqTopK freezes it for
    * its oracle, so plan and oracle read the same centroids). */
  private def ivfAssignAndProbes(corpus: DataFrame, queries: DataFrame,
      nlist: Int, nprobe: Int, idCol: String, vecCol: String,
      groupCol: Option[String] = None,
      centroidsHook: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame) = {
    GraftFunctions.register(corpus.sparkSession)
    // the shard key rides every relation as `__g`; the one-shard case
    // carries no key, and its joins with the centroids are crossJoins
    val shardKey = groupCol.map(g => col(g).as("__g")).toSeq
    val g = groupCol.map(_ => col("__g")).toSeq
    def shardJoin(df: DataFrame, cents: DataFrame): DataFrame =
      if (groupCol.isEmpty) df.crossJoin(broadcast(cents))
      else df.join(broadcast(cents), "__g")
    // no spread(): per-row work here is nlist dot products, light
    // enough that forcing a repartition shuffle costs more than the
    // parallelism buys at any corpus size where it would matter
    val c = graft.Caching.retain(
      withNorm(corpus, idCol, vecCol, "n", shardKey: _*).persist())
    // sizing counts run on the RAW corpus, not the normed projection:
    // over a parquet scan the one-shard count folds to a metadata-only
    // count (no vector decode, no cache fill — measured ~0.3 s cheaper
    // than counting through the persist at sf0.1). The persist of `c`
    // materializes lazily under its first consumer (`seeds`, next
    // job) — every later consumer is strictly after that job, so
    // nothing computes twice.
    val (n, shards) = groupCol match {
      case None => (corpus.count(), 1L)
      case Some(gc) =>
        val r = corpus.agg(count(lit(1)), count_distinct(col(gc))).collect()(0)
        (r.getLong(0), r.getLong(1))
    }
    val nl = if (nlist > 0) nlist
      else math.max(8, math.ceil(math.sqrt(
        n.toDouble / math.max(1L, shards))).toInt)
    val np = if (nprobe > 0) nprobe
      else math.max(2, math.ceil(nl * 0.4).toInt)
    // deterministic seed sample: the nl smallest xxhash64(id) of each
    // shard. One shard plans TakeOrderedAndProject (per-partition
    // heaps, no full sort, no job of its own). Several shards pick in
    // ONE scan through the bounded-heap TopK aggregate keyed by shard
    // (ord = −hash, so the smallest hash wins; the 53-bit rounding only
    // creates ties, broken by id) and re-attach the vectors by id — a
    // TakeOrderedAndProject per shard would scan the cached corpus once
    // per shard (q357 at sf0.1 on local[4], one Profile run each: 5.8 s
    // that way, 4.9 s this way)
    val hashed = c.select(g ++ Seq(col("n_id").as("c_id"),
        col("n_v").as("c_v"), col("n_norm").as("c_norm"),
        xxhash64(col("n_id")).as("__h")): _*)
    val seeds = if (groupCol.isEmpty)
        hashed.orderBy(col("__h")).limit(nl).drop("__h")
      else {
        val top = graft.ops.TopK.topk(nl)
        hashed.join(hashed.groupBy(col("__g"))
            .agg(top(-col("__h").cast("double"), col("c_id")).as("__top"))
            .select(explode(transform(col("__top"), s => s.getField("id")))
              .as("c_id")), "c_id")
          .drop("__h")
      }
    // nearest cell per row: max_by over the nlist-way crossJoin —
    // partial aggregation folds each row's nlist scores map-side, so
    // the shuffle carries one row per id and nothing is sorted. The
    // aggregate is SKINNY on purpose (id, cell-id, score only): the
    // r3 form carried the full d-double vector in the max_by struct,
    // so every one of the n×nlist comparison rows copied the vector
    // through the agg buffer — measured 27× cost at 10× corpus
    // (O(n^1.5) comparison rows × O(d) payload). The vector instead
    // rejoins by id afterwards (id→cell is n skinny rows; AQE picks
    // broadcast at fixture scale, co-partitioned hash at 100 TB).
    def assignCells(df: DataFrame, cents: DataFrame): DataFrame = {
      val cells = shardJoin(
          df.select(g ++ Seq(col("n_id"), col("n_v"), col("n_norm")): _*),
          cents)
        .select(col("n_id"), try_divide(dot(col("n_v"), col("c_v")),
          col("n_norm") * col("c_norm")).as("__ccos"), col("c_id"))
        .groupBy(col("n_id"))
        .agg(max_by(col("c_id"),
          struct(col("__ccos"), (-col("c_id")).as("__tb"))).as("cell"))
      df.join(cells, "n_id")
    }
    // one Lloyd refinement: replace sampled seeds with their cells'
    // mean vectors (element-wise avg via posexplode — deterministic,
    // one extra pass) — measurably better-shaped cells than raw
    // samples, without a full iterative k-means fit.
    // PERSISTED (VERDICT r3 #3): two consumers read the centroid
    // relation (corpus assignment below + query probes), and each is
    // fed by a corpus-wide crossJoin+agg chain — unpersisted, the
    // whole index build ran twice (measured ~2× of q40's cost; nl
    // rows of d doubles is a trivial cache footprint at any scale)
    val refined = graft.Caching.retain(assignCells(c, seeds)
      .select(g ++ Seq(col("cell"),
        posexplode(col("n_v")).as(Seq("pos", "x"))): _*)
      .groupBy(g ++ Seq(col("cell"), col("pos")): _*)
      .agg(avg(col("x")).as("x"))
      .groupBy(g :+ col("cell"): _*)
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("x")))),
        s => s.getField("x")).as("c_v"))
      .select(g ++ Seq(col("cell").as("c_id"), col("c_v"),
        norm(col("c_v")).as("c_norm")): _*)
      .persist())
    refined.count() // materialize before the two consumers fork
    val centroids = centroidsHook(refined)
    val assigned = assignCells(c, centroids)
    // queries probe their np nearest cells: a collect_list + sorted
    // slice per query id (tiny groups — one per query), no window
    val probes = shardJoin(
        withNorm(queries, idCol, vecCol, "q", shardKey: _*), centroids)
      .withColumn("__ccos", try_divide(dot(col("q_v"), col("c_v")),
        col("q_norm") * col("c_norm")))
      .groupBy(col("q_id"))
      .agg(first(col("q_v")).as("q_v"), first(col("q_norm")).as("q_norm"),
        slice(sort_array(collect_list(
          struct((-col("__ccos")).as("__nc"), col("c_id")))), 1, np)
          .as("__cells"))
      .select(col("q_id"), col("q_v"), col("q_norm"),
        explode(transform(col("__cells"), s => s.getField("c_id")))
          .as("cell"))
    (assigned, probes)
  }

  /** IVF-PQ: the FAISS-style composition of the two scale structures.
    * IVF cells bound WHERE to look ([[ivfTopK]]'s probe structure);
    * PQ codes bound WHAT is read there (ADC scoring over the m-byte
    * code relation, [[pqAdcTopKFromCodes]]'s scan); an exact-cosine
    * re-rank of the k·rerank shortlist restores full-precision
    * ranking. A search touches: centroids (tiny, broadcast), the
    * probed cells' (id, codes) rows — nprobe/nlist of a 16×-
    * compressed relation, the only corpus-sized read — and raw
    * vectors for |Q|·k·rerank ids only. This is the first plan here
    * whose per-query cost shrinks on BOTH axes at 100 TB: rows
    * scanned (cells) and bytes per row (codes). Approximate on two
    * axes (cell recall × ADC shortlist recall) → rows-only in the
    * catalog; AnnRecallSpec gates measured recall against
    * [[bruteForceTopK]].
    *
    * `centroidsHook` maps the built centroid table (c_id, c_v, c_norm)
    * to the one that cell assignment and probes use (identity by
    * default); q116 freezes it for its oracle
    * (graft.sources.OracleAux) and searches with what it read back. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      codebook: DataFrame, m: Int, dsub: Int,
      nlist: Int = 0, nprobe: Int = 0, rerank: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidsHook: DataFrame => DataFrame = identity): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (assigned, probes) = ivfAssignAndProbes(corpus, queries, nlist,
      nprobe, idCol, vecCol, centroidsHook = centroidsHook)
    // candidate code rows: (q_id, n_id, codes) for members of probed
    // cells — the cell mapping rides `assigned` (skinny join), the
    // probe list is broadcast, and only then do codes attach, so the
    // un-probed corpus majority is never ADC-scored
    val codes = pqCodes(corpus, codebook, m, dsub, idCol, vecCol)
    val cand = assigned.select(col("n_id"), col("cell"))
      .join(broadcast(probes.select(col("q_id"), col("cell"))), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .join(codes.withColumnRenamed("pq_id", "n_id"), "n_id")
      .select(col("q_id"), col("n_id"), col("codes"))
    // luts come from normalize(queries), which DROPS zero-norm
    // queries; the probe relation (withNorm) still carries them, so
    // the lookup must be total — a missing LUT means "query fell out
    // of the rankings", not NoSuchElementException
    val luts = adcLuts(queries, collectCodebook(codebook, m), m, dsub,
      idCol, vecCol).toMap
    val scored = cand
      .select(col("q_id").cast("long"), col("n_id").cast("long"),
        col("codes"))
      .as[(Long, Long, Seq[Int])]
      .mapPartitions(_.flatMap { case (qid, nid, cs) =>
        luts.get(qid).map(lut => (qid, nid, adc(lut, cs.toArray)))
      })
      .toDF("q_id", "n_id", "adc")
    adcShortlistRerank(scored, corpus, queries, k, rerank, idCol, vecCol)
  }

  /** Scale-path embedding near-dup: cross-polytope LSH candidate
    * prefilter + exact-cosine verify at tau — the same
    * bucket-join-then-verify structure as MinHash text dedup, applied
    * to vectors. Candidates are pairs sharing any band key (one side
    * multi-probed); each candidate costs one codegen'd dot product,
    * and the exact verify makes the output ⊆ [[nearDupPairs]] by
    * construction — the approximation affects only recall.
    *
    * Defaults (k=2 hashes/band, 128 bands, 2 probes) on the harness
    * embeddings measure recall 1.00 (sf0.001, 7/7 pairs) and 0.97
    * (sf0.1, 140/144) at candidate ratio 0.077 of all pairs — vs the
    * round-2 hyperplane banding whose 4-bit buckets emitted ~64% of
    * all pairs (an all-pairs join in disguise; BENCH_r02 measured it
    * 23× slower than the brute-force baseline). Both recall and the
    * candidate ratio are spec-gated (AnnRecallSpec). At 100 TB the
    * shape holds: keys are row-local, bucket occupancy is corpus/2^14
    * per band, and candidate volume grows as n·(bulk collision rate)
    * — never n². See [[graft.functions.CrossPolytopeKeys]] for the
    * family choice and the measured comparison. */
  def nearDupPairsLsh(df: DataFrame, tau: Double,
      cpHashes: Int = 2, bands: Int = 128, probes: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // persisted because four consumers read it (both key sides +
    // both verify sides); released by the caller via Caching. The
    // keys column rides the cache so the rotation expression runs
    // once per row total.
    val vecs = graft.Caching.retain(
      withNorm(spread(df), idCol, vecCol, "a")
        .withColumn("__keys",
          GraftFunctions.cpKeys(col("a_v"), cpHashes, bands, probes))
        .persist())
    vecs.count() // materialize before the consumers fan out
    val sides = vecs.drop("__keys")
    // verify RAW matches and dedup the survivors: a dot product per
    // duplicate (~3× factor) is cheaper than a distinct shuffle of
    // the whole candidate set, and the post-verify distinct touches
    // only the near-dup pairs themselves
    cpRawMatches(vecs.select(col("a_id"), col("__keys")),
        combosOf(cpHashes, probes))
      .join(sides, "a_id")
      .join(sides.select(col("a_id").as("b_id"), col("a_v").as("b_v"),
        col("a_norm").as("b_norm")), "b_id")
      .withColumn("cos", cosR6("a", "b"))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), col("cos"))
      .distinct()
  }

  /** Corpus-size-adaptive cross-polytope banding (VERDICT r7 #8):
    * (cpHashes, bands, probes) for [[nearDupPairsLsh]] chosen from
    * the corpus row count instead of a constant. SURVEY §9.2 measured
    * that FIXED banding has a scale-INVARIANT candidate ratio (0.077
    * at both n=2k and n=20k for k=2 L=128), i.e. absolute candidate
    * volume grows quadratically; sub-quadratic totals require the
    * band key to LENGTHEN as the corpus grows — each extra hash
    * multiplies the bulk collision rate by the per-hash rate while
    * extra bands buy the lost recall back linearly. Tiers are
    * measured, not derived (SURVEY §13.3, iid-gaussian corpora
    * at d=64, tau=0.45): n≤10k keeps the q38 default (recall 0.97,
    * ratio 0.077 at n=2k); above it the band key flips k=2→3 with
    * bands scaled 128→640, measured at BOTH n=20k (recall 0.936,
    * ratio 0.0169) and n=200k (recall 0.938, ratio 0.0169) — per-pair
    * collision probability depends only on the pair's cosine and the
    * ratio only on the banding, so one tier serves every n above the
    * flip and both AnnRecallSpec gates (recall ≥0.9, ratio ≤0.02)
    * hold scale-invariantly. The k=2→3 boundary sits at n ≈ k·L·d
    * where LSH key work starts beating broadcast-exact flops (§9.2
    * point 2). ABSOLUTE candidate volume still grows as 0.017·n²/2 —
    * the standard n^(1+ρ) LSH reality; at corpus sizes where that
    * bites (n ≥ 10⁶), tau is the dominant lever (realistic near-dup
    * thresholds cos ≥ 0.7 prune orders of magnitude harder than the
    * fixture's adversarial 0.45). k=4 was MEASURED (n=20k, d=64,
    * tau=0.45: L=640 → recall 0.354 / ratio 0.0010, L=1280 → 0.571 /
    * 0.0019, L=2560 → 0.801 / 0.0037; extrapolated recall ≈ 0.93 at
    * L ≈ 5120, ratio ≈ 0.007) and REJECTED as a tier: the ~2.3×
    * candidate-ratio gain at matched recall costs ~16× the key
    * volume (L×probes^k per row), so at every n where key work is
    * measurable the k=3 tier dominates — the crossover sits beyond
    * the corpus sizes where tau tightening hasn't already pruned
    * harder. */
  def autoBanding(n: Long): (Int, Int, Int) =
    if (n <= 10000L) (2, 128, 2)
    else (3, 640, 2)

  /** [[nearDupPairsLsh]] with [[autoBanding]] from the corpus count —
    * the entry point a caller who knows only the data should use. The
    * count is one columnar-metadata job against the scan (parquet row
    * counts come from footers), negligible next to the LSH stages it
    * parameterizes. */
  def nearDupPairsLshAuto(df: DataFrame, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (k, l, p) = autoBanding(df.count())
    nearDupPairsLsh(df, tau, k, l, p, idCol, vecCol)
  }

  /** Benchmark-contamination pairs behind the cross-polytope
    * prefilter — the 100 TB decontamination shape (q136 computes the
    * same semantics by brute force; this is what actually runs when
    * the corpus is 10^10 documents and the benchmark suite 10^6
    * vectors). Bipartite: corpus band keys join the BROADCAST
    * benchmark probe keys (benchmark is orders smaller by
    * construction — it's the eval suite), candidates get an exact
    * cosine verify at `tau`, so the prefilter affects only recall,
    * never a reported score, and the corpus is never crossed with
    * the benchmark. Defaults measured on sf0.1 (Tune142 sweep):
    * bands=256 is the cheapest full-recall configuration — 10/10
    * exact pairs at candidate ratio 0.087 (q38's 128 bands measure
    * 8/10; cpHashes=1 reaches recall 1 only by admitting 72% of all
    * pairs, i.e. no prefilter at all). */
  def contaminationPairsLsh(corpus: DataFrame, bench: DataFrame,
      tau: Double, cpHashes: Int = 2, bands: Int = 256, probes: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val c = withNorm(spread(corpus), idCol, vecCol, "a")
    val b = withNorm(bench, idCol, vecCol, "b")
    contaminationCands(c, b, cpHashes, bands, probes)
      .join(c, "a_id")
      .join(broadcast(b), "b_id")
      .withColumn("cos", cosR6("a", "b"))
      .filter(col("cos") >= tau)
      .select(col("a_id").as("vec_id"), col("b_id"), col("cos"))
  }

  /** The candidate stage of [[contaminationPairsLsh]]: distinct
    * (a_id, b_id) pairs whose corpus base band key equals one of the
    * broadcast benchmark's probe keys. */
  private def contaminationCands(c: DataFrame, b: DataFrame, cpHashes: Int,
      bands: Int, probes: Int): DataFrame = {
    val cKeys = c.select(col("a_id"),
      explode(GraftFunctions.cpKeys(col("a_v"), cpHashes, bands, 1))
        .as("key"))
    val bKeys = b.select(col("b_id"),
      explode(GraftFunctions.cpKeys(col("b_v"), cpHashes, bands, probes))
        .as("key"))
    cKeys.join(broadcast(bKeys), "key")
      .select(col("a_id"), col("b_id")).distinct()
  }

  /** Distinct candidate-pair count of [[contaminationPairsLsh]]'s
    * prefilter (the same candidate stage) — public so
    * AnnRecallSpec/tuning can gate the candidate RATIO (the
    * sub-quadratic property) alongside recall. */
  def contaminationCandidates(corpus: DataFrame, bench: DataFrame,
      cpHashes: Int = 2, bands: Int = 256, probes: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    GraftFunctions.register(corpus.sparkSession)
    contaminationCands(withNorm(spread(corpus), idCol, vecCol, "a"),
      withNorm(bench, idCol, vecCol, "b"), cpHashes, bands, probes).count()
  }

  /** Per-vector symmetric int8 scalar quantization: scale =
    * max|x_i| / 127, codes = round(x_i / scale) — 4× smaller than
    * float32 (the first memory lever real vector stores pull at
    * scale; at 100 TB the quantized corpus rides the same scans,
    * joins and LSH keys at a quarter of the IO/cache footprint).
    * Row-local, no shuffle; scale rides along for dequantization.
    * Cosine on dequantized vectors is approximate — QuantizeSpec
    * gates reconstruction error and top-k recall vs float exact. */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = toDouble(col(vecCol))
    // code = floor(x/scale + 0.5), NOT round(): Spark rounds doubles
    // HALF_UP, DuckDB half-to-even — the floor idiom is the same IEEE
    // op sequence on both engines (graft.Rounding rationale), and it
    // is the quantizer's DEFINITION so exact-tie codes are portable
    val scale = greatest(
      aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x))),
      lit(Double.MinPositiveValue)) / lit(127.0)
    df.select(col(idCol), col(vecCol),
        scale.as("q_scale"))
      .select(col(idCol), col("q_scale"),
        transform(toDouble(col(vecCol)),
          x => floor(x / col("q_scale") + lit(0.5)).cast("byte"))
          .as("q_codes"))
  }

  /** Inverse of [[quantizeInt8]]: codes × scale, as array<double>
    * under the original column name — drop-in for the float path. */
  def dequantize(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol),
      transform(col("q_codes"), c => c.cast("double") * col("q_scale"))
        .as(vecCol))

  // ---------------------------------------------------------------
  // Product quantization (Jégou et al., TPAMI'11): split d dims into
  // m subspaces, code each subvector against a k-entry per-subspace
  // codebook → m small codes per vector (m·log2(k) bits, vs 32d for
  // float32). The second memory lever after int8 (quantizeInt8):
  // at m=16, k=16 a d=64 corpus compresses 32× and ADC search scans
  // codes + a per-query lookup table instead of raw vectors.
  // ---------------------------------------------------------------

  /** Unit-normalize the vector column in place (row-local). PQ-for-
    * cosine encodes the normalized corpus so summed subspace inner
    * products approximate the cosine directly. A zero-norm vector
    * has no direction to encode — it is DROPPED here (same "zero
    * vectors fall out of rankings" convention as the try_divide
    * paths; a raw division would THROW under ANSI mode and poison
    * every PQ consumer: q54/q116/q130, pqCodes, pqAdcTopK). */
  def normalize(df: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol), toDouble(col(vecCol)).as(vecCol))
      .withColumn("__n", sqrt(aggregate(col(vecCol), lit(0.0),
        (acc, x) => acc + x * x)))
      .filter(col("__n") > 0.0)
      .select(col(idCol),
        transform(col(vecCol), x => x / col("__n")).as(vecCol))

  /** (id, sub, sv): the m per-subspace views of each vector —
    * row-local explode, no shuffle. dsub = d / m. */
  private def subvectors(df: DataFrame, m: Int, dsub: Int,
      idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("pq_id"), toDouble(col(vecCol)).as("__v"))
      .select(col("pq_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("__v"))
      .select(col("pq_id"), col("sub"),
        slice(col("__v"), col("sub") * dsub + 1, lit(dsub)).as("sv"))

  /** Deterministic pseudo-random codebook: entry (sub, code, dim) =
    * (md5-prefix mod 2001 − 1000)/1000 ∈ [−1, 1]. Not trained — it
    * exists because both engines can derive it bit-identically (md5 is
    * the portable hash), making the PQ ENCODE path oracle-checkable;
    * [[pqTrain]] is the quality path, spec-gated against this one. */
  def pqCodebookDeterministic(spark: org.apache.spark.sql.SparkSession,
      m: Int, k: Int, dsub: Int): DataFrame =
    spark.range(m.toLong).select(col("id").cast("int").as("sub"))
      .crossJoin(spark.range(k.toLong).select(col("id").cast("int").as("code")))
      .crossJoin(spark.range(dsub.toLong).select(col("id").cast("int").as("dim")))
      .withColumn("x",
        (conv(substring(md5(concat_ws("_", col("sub"), col("code"),
          col("dim"))), 1, 8), 16, 10).cast("long") % 2001 - 1000) / 1000.0)
      .groupBy(col("sub"), col("code"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("x")))),
        s => s.getField("x")).as("c_v"))

  /** Encode each vector against `codebook` (sub, code, c_v): per
    * (id, sub), code = argmin_code ‖sv − c_v‖² (ties → smallest code,
    * via lexicographic struct-min). One broadcast join + one
    * partial-agg groupBy of n·m rows — scan-shaped, no all-pairs.
    *
    * The distance is the expanded form ‖sv‖² + ‖c‖² − 2⟨sv,c⟩ with
    * every term a codegen'd in-order dot (graft_dot): the naive
    * (a−b)² zip_with/aggregate lambda is a higher-order function
    * Spark evaluates INTERPRETED per row — measured seconds over the
    * n·m·k encode relation. The oracle (q53) computes the identical
    * term-by-term IEEE expression, so codes and err2 still agree
    * exactly. Output: (pq_id, sub, code, err2). */
  def pqEncode(df: DataFrame, codebook: DataFrame, m: Int, dsub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    subvectors(df, m, dsub, idCol, vecCol)
      .withColumn("__sv2", dot(col("sv"), col("sv")))
      .join(broadcast(codebook.withColumn("__c2",
        dot(col("c_v"), col("c_v")))), "sub")
      .withColumn("__d2", col("__sv2") + col("__c2")
        - lit(2.0) * dot(col("sv"), col("c_v")))
      .groupBy(col("pq_id"), col("sub"))
      .agg(min(struct(col("__d2"), col("code"))).as("__best"))
      .select(col("pq_id"), col("sub"),
        col("__best").getField("code").as("code"),
        col("__best").getField("__d2").as("err2"))
  }

  /** Train a PQ codebook: per subspace, k-means with deterministic
    * seeding (the k corpus rows with smallest xxhash64(id), ranked —
    * reproducible on any executor) and `iters` Lloyd rounds. Each
    * round is one broadcast-join argmin + one partial-agg mean over
    * the sampled subvector rows — linear scans, cluster-safe. A code
    * whose cell empties simply drops out (standard small-k behavior);
    * callers see it as a codebook with fewer live entries.
    *
    * Training reads a deterministic hash-mod SAMPLE of ~trainTarget
    * vectors, the way production PQ fits codebooks (a few thousand
    * samples per 16-256 centroids, independent of corpus size) — at
    * 100 TB the Lloyd rounds cost O(sample), only the one-pass ENCODE
    * is O(corpus). Pass trainTarget <= 0 to train on everything. */
  def pqTrain(df: DataFrame, m: Int, k: Int, dsub: Int, iters: Int = 2,
      trainTarget: Int = 1024,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val base = df.select(col(idCol), col(vecCol))
    val mod =
      if (trainTarget <= 0) 1L
      else math.max(1L, base.count() / trainTarget)
    val sampled = if (mod > 1)
      base.filter(pmod(xxhash64(col(idCol)), lit(mod)) === 0) else base
    // Sampled training fits ONE task (≈trainTarget rows): run the
    // whole Lloyd fit in a single executor-side pass — the same
    // contraction-endgame reasoning as Dedup.nearDupComponents
    // (per-round joins over ~1k rows are pure scheduler overhead,
    // measured ~1.5 s of the q54 total). The distributed loop below
    // remains the full-corpus path (trainTarget <= 0).
    if (trainTarget > 0) return trainLocal(sampled, m, k, dsub, iters,
      idCol, vecCol)
    val sv = graft.Caching.retain(
      subvectors(spread(sampled), m, dsub, idCol, vecCol)
        .withColumn("__sv2", dot(col("sv"), col("sv")))
        .persist())
    sv.count() // one materialization; every Lloyd round re-reads it
    val seedIds = sampled.select(col(idCol).as("pq_id"),
        xxhash64(col(idCol)).as("__h"))
      .orderBy(col("__h")).limit(k)
      .select(col("pq_id"),
        (row_number().over(Window.orderBy(col("__h"), col("pq_id"))) - 1)
          .as("code"))
    var cb = sv.join(broadcast(seedIds), "pq_id")
      .select(col("sub"), col("code"), col("sv").as("c_v"))
    for (_ <- 1 to iters) {
      // two shuffles per round: argmin per (id, sub), then mean per
      // (sub, code). The element-wise mean folds collect_list'd cell
      // members in-select (cells hold ~sample/k small arrays — an
      // interpreted lambda over 256 tiny groups, not a shuffle of
      // n·dsub exploded rows like a posexplode/avg/re-collect chain)
      cb = sv.join(broadcast(cb.withColumn("__c2",
          dot(col("c_v"), col("c_v")))), "sub")
        .withColumn("__d2", col("__sv2") + col("__c2")
          - lit(2.0) * dot(col("sv"), col("c_v")))
        .groupBy(col("pq_id"), col("sub"))
        .agg(min(struct(col("__d2"), col("code"))).as("__best"),
          first(col("sv")).as("sv"))
        .select(col("sub"), col("__best").getField("code").as("code"),
          col("sv"))
        .groupBy(col("sub"), col("code"))
        .agg(collect_list(col("sv")).as("__cell"))
        .select(col("sub"), col("code"),
          transform(sequence(lit(0), lit(dsub - 1)), i =>
            aggregate(col("__cell"), lit(0.0),
              (acc, a) => acc + element_at(a, i + 1))
              / size(col("__cell"))).as("c_v"))
    }
    // re-densify codes: an emptied cell leaves a gap in the id space,
    // and downstream positional indexing (ADC LUT rows) requires
    // codes contiguous 0..k'-1 per subspace
    cb.withColumn("code",
      (row_number().over(Window.partitionBy(col("sub"))
        .orderBy(col("code"))) - 1).as("code"))
  }

  /** Single-task Lloyd fit over a collected-in-one-partition sample:
    * deterministic seed order (xxhash64 of id, then id), ascending-
    * index argmin ties, empty cells dropped and codes re-densified.
    * One Spark job, no per-round scheduling. */
  private def trainLocal(sampled: DataFrame, m: Int, k: Int, dsub: Int,
      iters: Int, idCol: String, vecCol: String): DataFrame = {
    val spark = sampled.sparkSession
    import spark.implicits._
    sampled.select(col(idCol).cast("long").as("id"),
        xxhash64(col(idCol)).as("h"),
        toDouble(col(vecCol)).as("v"))
      .as[(Long, Long, Seq[Double])]
      .coalesce(1)
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(r => (r._2, r._1))
        val vecs = rows.map(_._3.toArray)
        val out = Seq.newBuilder[(Int, Int, Seq[Double])]
        var sub = 0
        while (sub < m && vecs.nonEmpty) {
          val svs = vecs.map(v =>
            java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
          var cents = svs.take(k).map(_.clone())
          for (_ <- 1 to iters) {
            val sums = Array.fill(cents.length)(new Array[Double](dsub))
            val cnts = new Array[Long](cents.length)
            svs.foreach { s =>
              var best = 0; var bd = Double.MaxValue; var j = 0
              while (j < cents.length) {
                var d = 0.0; var i = 0
                while (i < dsub) {
                  val t = s(i) - cents(j)(i); d += t * t; i += 1 }
                if (d < bd) { bd = d; best = j }
                j += 1
              }
              cnts(best) += 1
              var i = 0
              while (i < dsub) { sums(best)(i) += s(i); i += 1 }
            }
            cents = cents.indices.iterator.filter(cnts(_) > 0).map { j =>
              val a = new Array[Double](dsub)
              var i = 0
              while (i < dsub) { a(i) = sums(j)(i) / cnts(j); i += 1 }
              a
            }.toArray
          }
          cents.zipWithIndex.foreach { case (c, j) =>
            out += ((sub, j, c.toSeq)) }
          sub += 1
        }
        out.result().iterator
      }
      .toDF("sub", "code", "c_v")
  }

  /** Executor-side PQ encode with the codebook as a closure: the
    * SAME expanded-form IEEE terms, in the SAME order, as the
    * declarative [[pqEncode]] (PqSpec asserts exact row equality) —
    * but one tight-loop scan instead of an n·m×k broadcast join +
    * struct-min groupBy (the join shape measured 0.9 s at sf0.1 and
    * dominated the 10× scale run). Requires contiguous codes. */
  def pqEncodeLocal(df: DataFrame, codebook: DataFrame, m: Int, dsub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val enc = new PqEncoder(collectCodebook(codebook, m), dsub)
    df.select(col(idCol).cast("long").as("id"),
        toDouble(col(vecCol)).as("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val codes = new Array[Int](m); val err2 = new Array[Double](m)
        it.flatMap { case (id, vseq) =>
          enc.encode(vseq.toArray, codes, err2)
          (0 until m).iterator.map(sub => (id, sub, codes(sub), err2(sub)))
        }
      }
      .toDF("pq_id", "sub", "code", "err2")
  }

  /** The one PQ encoder behind [[pqEncodeLocal]] and [[pqAdcTopK]]'s
    * fused scan: per sub-vector, the code minimizing the expanded
    * form ‖v‖² + ‖c‖² − 2⟨v, c⟩ (‖c‖² tabled once per codebook).
    * Ties and non-finite distances resolve as [[pqEncode]]'s
    * min(struct(d2, code)) does — the lowest code among the smallest
    * distances, NaN ordered above every number — so a sub-vector
    * with no finite distance gets code 0 and never an invalid one. */
  private final class PqEncoder(cb: Array[Array[Array[Double]]],
      dsub: Int) extends Serializable {
    private val c2 = cb.map(_.map { cv =>
      var acc = 0.0; var i = 0
      while (i < cv.length) { acc += cv(i) * cv(i); i += 1 }
      acc
    })

    /** Encode every sub-vector of `v` into `codes`, with its squared
      * distance in `err2`. */
    def encode(v: Array[Double], codes: Array[Int],
        err2: Array[Double]): Unit = {
      var sub = 0
      while (sub < cb.length) {
        val off = sub * dsub
        var sv2 = 0.0; var i = 0
        while (i < dsub) { val x = v(off + i); sv2 += x * x; i += 1 }
        var bestCode = 0; var bestD2 = Double.NaN
        val cs = cb(sub); var j = 0
        while (j < cs.length) {
          val cv = cs(j)
          var ip = 0.0; i = 0
          while (i < dsub) { ip += v(off + i) * cv(i); i += 1 }
          val d2 = sv2 + c2(sub)(j) - 2.0 * ip
          if (j == 0 || d2 < bestD2 || (bestD2.isNaN && !d2.isNaN)) {
            bestD2 = d2; bestCode = j
          }
          j += 1
        }
        codes(sub) = bestCode; err2(sub) = bestD2
        sub += 1
      }
    }
  }

  /** Collect a (sub, code, c_v) codebook into cb(sub)(code) arrays —
    * requires contiguous codes per sub (both train paths densify). */
  private def collectCodebook(codebook: DataFrame,
      m: Int): Array[Array[Array[Double]]] = {
    val rows = codebook.collect()
    val bySub = rows.groupBy(_.getInt(0))
    Array.tabulate(m) { sub =>
      bySub.getOrElse(sub, Array.empty)
        .sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray)
    }
  }

  /** Per-query ADC lookup tables, lut(sub)(code) = ⟨q_sub, c_v⟩, over
    * the normalized queries: |Q|·m·k inner products, independent of
    * n — collected once and shipped in the task closure, like a
    * broadcast build. [[normalize]] drops a zero-norm query, so it
    * has no table and falls out of the rankings. */
  private def adcLuts(queries: DataFrame, cb: Array[Array[Array[Double]]],
      m: Int, dsub: Int, idCol: String,
      vecCol: String): Array[(Long, Array[Array[Double]])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    normalize(queries, idCol, vecCol)
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Double])].collect()
      .map { case (qid, qv) =>
        val q = qv.toArray
        qid -> Array.tabulate(m) { sub =>
          cb(sub).map { cv =>
            var ip = 0.0; var i = 0
            while (i < dsub) { ip += q(sub * dsub + i) * cv(i); i += 1 }
            ip
          }
        }
      }
  }

  /** ADC score of one code row: the sum of its m table entries. */
  private def adc(lut: Array[Array[Double]], codes: Array[Int]): Double = {
    var a = 0.0; var s = 0
    while (s < lut.length) { a += lut(s)(codes(s)); s += 1 }
    a
  }

  /** ADC (asymmetric distance) top-k with exact re-ranking: corpus
    * vectors are pre-normalized and PQ-coded ONCE; each query builds
    * an m×k inner-product lookup table against the codebook (m·k
    * dots — independent of n) and scores a corpus row by summing m
    * table entries selected by its codes. The ADC scan keeps the top
    * k·rerank shortlist per query, which is then scored with EXACT
    * cosine and cut to k — the standard two-stage compressed-search
    * architecture: at 100 TB the full scan touches only the (id,
    * codes) relation (16× smaller), and raw vectors are fetched for
    * |Q|·k·rerank rows, not n. Approximate by construction (a true
    * neighbor outside the ADC shortlist is lost) → rows-only in the
    * catalog, recall-gated by PqSpec against [[bruteForceTopK]]. */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      codebook: DataFrame, m: Int, dsub: Int, rerank: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the codebook and the per-query LUTs are bounded-small (m·k·dsub
    // and |Q|·m·k doubles) — collect both and ship them as task
    // closures, exactly like a broadcast build. The whole ADC stage
    // is then ONE fused corpus scan: normalize → encode → LUT-sum per
    // query, emitting |Q| scored rows per corpus row. No encode join,
    // no nested-array lambdas, no intermediate relations.
    val cb = collectCodebook(codebook, m)
    val enc = new PqEncoder(cb, dsub)
    val luts = adcLuts(queries, cb, m, dsub, idCol, vecCol)
    val scored = normalize(corpus, idCol, vecCol)
      .select(col(idCol).cast("long").as("id"), col(vecCol))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val codeBuf = new Array[Int](m); val errBuf = new Array[Double](m)
        it.flatMap { case (id, vseq) =>
          enc.encode(vseq.toArray, codeBuf, errBuf)
          luts.iterator.collect {
            case (qid, lut) if qid != id => (qid, id, adc(lut, codeBuf))
          }
        }
      }
      .toDF("q_id", "n_id", "adc")
    adcShortlistRerank(scored, corpus, queries, k, rerank, idCol, vecCol)
  }

  /** Search over a PREBUILT code relation (pq_id, codes array<int>) —
    * the deployed regime: the 16×-compressed index is encoded once
    * ([[pqCodes]]) and amortized over every query; a search touches
    * only codes + the shortlist's raw vectors. */
  def pqAdcTopKFromCodes(codes: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, codebook: DataFrame, m: Int, dsub: Int,
      rerank: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val luts = adcLuts(queries, collectCodebook(codebook, m), m, dsub,
      idCol, vecCol)
    val scored = codes.select(col("pq_id").cast("long"), col("codes"))
      .as[(Long, Seq[Int])]
      .mapPartitions(_.flatMap { case (id, cs) =>
        val c = cs.toArray
        luts.iterator.collect {
          case (qid, lut) if qid != id => (qid, id, adc(lut, c))
        }
      })
      .toDF("q_id", "n_id", "adc")
    adcShortlistRerank(scored, corpus, queries, k, rerank, idCol, vecCol)
  }

  /** (pq_id, codes array<int>) index relation from the local encode —
    * the artifact a vector store persists next to the raw corpus. */
  def pqCodes(df: DataFrame, codebook: DataFrame, m: Int, dsub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqEncodeLocal(normalize(df, idCol, vecCol), codebook, m, dsub,
        idCol, vecCol)
      .groupBy(col("pq_id"))
      .agg(transform(sort_array(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** Shared tail of the ADC searches: per-query shortlist of the top
    * k·rerank ADC scores, then exact-cosine re-rank of only those
    * rows (raw vectors broadcast-joined for |Q|·k·rerank ids). Both
    * rankings run through the bounded-heap TopK aggregate — the
    * window forms shuffled and SORTED all |Q|×n ADC rows to keep
    * k·rerank (ordering identical: desc score, id tie-break). */
  private def adcShortlistRerank(scored: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, rerank: Int,
      idCol: String, vecCol: String): DataFrame = {
    val topSl = graft.ops.TopK.topk(k * rerank)
    val shortlist = scored
      .filter(col("adc").isNotNull) // NULL score would crash the heap's encoder
      .groupBy(col("q_id"))
      .agg(topSl(col("adc"), col("n_id")).as("__sl"))
      .select(col("q_id"),
        explode(transform(col("__sl"), s => s.getField("id"))).as("n_id"))
    val cwn = withNorm(corpus, idCol, vecCol, "b")
    val qwn = withNorm(queries, idCol, vecCol, "q")
    rankTopK(cwn.join(broadcast(shortlist), col("b_id") === col("n_id"))
      .join(broadcast(qwn), "q_id")
      .select(col("q_id"), cosR6("q", "b").as("cos"), col("n_id")), k)
  }

  /** Exact embedding near-dup pairs: all pairs with cosine >= tau.
    * Brute-force block self-join — the exactness baseline the LSH
    * path approximates. Norms are precomputed per row, so pair-time
    * work is one codegen'd dot product; at cluster scale prefer an
    * lshTopK-style bucketed prefilter before this verify. */
  def nearDupPairs(df: DataFrame, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // stream the spread side, broadcast the compact side — without
    // the explicit hint Spark broadcast the repartitioned side and
    // ran the O(pairs) loop on the single-partition side (1 task)
    val a = withNorm(spread(df), idCol, vecCol, "a")
    val b = withNorm(df, idCol, vecCol, "b")
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .withColumn("cos", cosR6("a", "b"))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Graph ANN: per-partition navigable-small-world index (an
    * HNSW-lite — one layer, greedy-beam insert and search; Malkov &
    * Yashunin '16 without the level hierarchy) built inside
    * `mapPartitions`, probed by a bounded broadcast query set, with
    * a cross-partition exact top-k merge — the shape modern vector
    * stores run sharded, rounding out the ANN tier beyond
    * LSH/IVF/PQ (VERDICT r13 #8).
    *
    * Scale shape: the corpus never moves — each partition builds its
    * own in-memory graph over ITS rows (O(rows·m) memory, O(rows·ef·
    * deg) build dot-products) and emits ≤ |queries|·k candidate rows;
    * the only shuffle is the candidate merge, queries·k·partitions
    * rows of three scalars. Queries are a bounded driver collect
    * (the PQ-codebook/q54 class). Graph search is approximate by
    * construction, so there is NO SQL oracle — the gate is
    * `AnnRecallSpec`: recall@k versus [[bruteForceTopK]] on the same
    * fixture, plus the deterministic-output property (fixed input
    * splits ⇒ fixed insert order ⇒ fixed graph). */
  def nswTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ef: Int = 48,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val qb = spark.sparkContext.broadcast(qs)
    val cand = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val pts = it.toArray
        if (pts.isEmpty) Iterator.empty
        else {
          val n = pts.length
          val vecs = pts.map(_._2)
          val norms = vecs.map { v =>
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i) * v(i); i += 1 }
            math.sqrt(s)
          }
          def cosTo(qv: Array[Double], qn: Double, j: Int): Double = {
            val v = vecs(j)
            var s = 0.0; var i = 0
            while (i < v.length) { s += qv(i) * v(i); i += 1 }
            val d = qn * norms(j)
            if (d == 0.0) -1.0 else s / d
          }
          val nbrs = Array.fill(n)(
            scala.collection.mutable.ArrayBuffer.empty[Int])
          // greedy beam search over the first `limit` inserted nodes
          def beam(qv: Array[Double], qn: Double, limit: Int,
              width: Int): Array[Int] = {
            val visited = new java.util.BitSet(limit)
            // max-heap by similarity for expansion; bounded min-heap
            // of the `width` best seen
            val expand = new scala.collection.mutable.PriorityQueue[
              (Double, Int)]()(Ordering.by(_._1))
            val best = new scala.collection.mutable.PriorityQueue[
              (Double, Int)]()(Ordering.by(t => (-t._1, t._2)))
            val s0 = cosTo(qv, qn, 0)
            visited.set(0); expand.enqueue((s0, 0)); best.enqueue((s0, 0))
            while (expand.nonEmpty) {
              val (s, u) = expand.dequeue()
              // the classic NSW stop rule: the best frontier node is
              // worse than the worst kept result and the beam is full
              if (best.size >= width && s < best.head._1) {
                expand.clear()
              } else {
                nbrs(u).foreach { w =>
                  if (w < limit && !visited.get(w)) {
                    visited.set(w)
                    val sw = cosTo(qv, qn, w)
                    if (best.size < width || sw > best.head._1) {
                      expand.enqueue((sw, w))
                      best.enqueue((sw, w))
                      if (best.size > width) best.dequeue()
                    }
                  }
                }
              }
            }
            best.dequeueAll.reverseIterator
              .map((t: (Double, Int)) => t._2).toArray
          }
          var i = 1
          while (i < n) {
            val found = beam(vecs(i), norms(i), i, ef).take(m)
            found.foreach { j =>
              nbrs(i) += j
              nbrs(j) += i
              if (nbrs(j).length > 2 * m) {
                // trim the over-linked node back to its 2m most
                // similar neighbors (keeps degree — and per-node
                // memory — bounded as the graph grows)
                val kept = nbrs(j).toArray
                  .map(x => (cosTo(vecs(j), norms(j), x), x))
                  .sortBy(t => (-t._1, t._2)).take(2 * m).map(_._2)
                nbrs(j).clear(); nbrs(j) ++= kept
              }
            }
            i += 1
          }
          qb.value.iterator.flatMap { case (qid, qv) =>
            var s = 0.0; var d = 0
            while (d < qv.length) { s += qv(d) * qv(d); d += 1 }
            val qn = math.sqrt(s)
            beam(qv, qn, n, ef).iterator
              .filter(j => pts(j)._1 != qid)
              .map(j => (qid, pts(j)._1,
                graft.Rounding.r6(cosTo(qv, qn, j))))
              .take(k)
          }
        }
      }
      .toDF("q_id", "n_id", "cos")
    // cross-partition merge: exact top-k over ≤ queries·k·partitions
    // candidate rows — one tiny shuffle
    rankTopK(cand, k)
  }
}
