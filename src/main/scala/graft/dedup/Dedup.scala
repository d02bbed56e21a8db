package graft.dedup

import graft.functions.GraftFunctions
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators for training-data pipelines:
  * exact (hash groupBy), MinHash+LSH, SimHash — each designed so the
  * expensive part is row-local (signatures computed map-side) and the
  * only shuffles are (a) the group-by on hash buckets, whose
  * cardinality is bounded by the banding scheme, and (b) the final
  * candidate-pair join. That structure is what keeps the operator
  * viable at 100 TB: no all-pairs comparison ever materializes;
  * candidates come out of O(rows × bands) bucket entries.
  *
  * Signatures run through codegen'd expressions (graft_minhash /
  * graft_simhash): each shingle/token is hashed ONCE with the
  * built-in xxhash64, then the per-permutation work is a tight JVM
  * mul-add loop instead of numHashes re-hashes of the string
  * (BENCH_r01 measured the interpreted re-hash form at 57 s for q30;
  * the arithmetic family keeps the same LSH guarantees and the exact
  * verify stage makes the final output hash-family-independent).
  *
  * No reference counterpart (SURVEY.md §2.7) — extension tier per
  * BASELINE.json north star.
  */
object Dedup {

  /** See [[graft.ops.Spread]] — shared session-parallelism guard. */
  private def spread(df: DataFrame): DataFrame = graft.ops.Spread(df)

  /** Exact dedup: group rows by a content fingerprint; emit one
    * surviving id (min) + duplicate count per group. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", TextOps.fingerprint(col(textCol)))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct ordered candidate pairs (u < v) from a bucketed
    * (bucketCols, member) projection — every banded/inverted-index
    * candidate generator in this family routes here, which routes to
    * [[graft.ops.Graph.cooccurPairCounts]] (VERDICT r11 #2, the
    * text-family skew fix): one groupBy shuffle still replaces a
    * bucket self-join (the signature pipeline upstream is consumed
    * ONCE), but a hot bucket's k² expansion is chunk-distributed
    * across explicit-count repartitions instead of flattened into a
    * single group row — the flatten shape both concentrated the k²
    * work in ONE task and materialized the full k² struct array in
    * that row's memory (a 10⁵-member boilerplate bucket is 10¹⁰
    * structs — straggler death, then OOM). The (u,v) aggregation
    * also collapses cross-bucket multiplicity map-side, replacing
    * the old explode→distinct. `w` = number of shared buckets rides
    * along for callers with a min-support semantic (winnowing). */
  private def bucketPairCounts(p: DataFrame, bucketCols: Seq[String],
      memberCol: String): DataFrame =
    // cacheGroups=true: banding/fingerprint relations are singleton-
    // dominated (~1 bucket per row), the filtered stub cache is tiny,
    // and skipping the repeated post-shuffle agg passes dominates
    graft.ops.Graph.cooccurPairCounts(p, bucketCols, memberCol,
      cacheGroups = true)

  /** Candidate near-dup pairs via MinHash+LSH over word n-gram
    * shingles, then EXACT Jaccard verification at `threshold`.
    * The verify step makes the output independent of the hash family
    * (LSH only affects recall). Banding default is 128 hashes in 64
    * bands of 2, chosen so recall at the default 0.6 threshold is
    * ~1 - 1e-12 (P(miss) = (1 - j^2)^64 = 0.64^64 at j=0.6) — a pair
    * just above the threshold is not left to fixture luck. Band-of-2
    * false positives cost only candidate checks, and the exact
    * verify removes them from the output. */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 128, bands: Int = 64,
      ngram: Int = 3): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    require(numHashes % bands == 0, "bands must divide numHashes")
    // (id, hashed shingle set) — the one expensive map-side pass,
    // fused into a single codegen expression (tokenize → windowed
    // FNV-1a shingle hash → dedup, graft_shingle_hashes). Persisted
    // because three consumers read it (banding + both verify sides);
    // it is ~1% the size of the text (8 bytes per shingle), the
    // shape real pipelines checkpoint. Verification intersects the
    // HASHED shingle sets: same set sizes as the string sets barring
    // a 64-bit collision inside one pair (~n²/2^64 ≈ 1e-15).
    val hashed = graft.Caching.retain(spread(df)
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .filter(size(col("__toks")) >= ngram)
      .select(col(idCol).as("__id"),
        GraftFunctions.shingleHashes(col("__toks"), ngram).as("__hs"))
      .persist())
    // Materialize the cache NOW: the three consumers below (candidate
    // pipeline + both verify-side broadcast builds) otherwise launch
    // concurrently against a cold cache and each recompute the full
    // shingle pipeline (measured 3× redundant work at sf0.1).
    hashed.count()
    // fused signature+banding expression — a projected __sig column
    // would be inlined by CollapseProject into the banding lambda and
    // re-evaluated once per band (measured 64× redundant CPU)
    val banded = hashed
      .select(col("__id"),
        posexplode(GraftFunctions.minhashBuckets(col("__hs"), numHashes,
          bands)).as(Seq("band", "bucket")))
    val candidates = bucketPairCounts(banded, Seq("band", "bucket"),
        "__id")
      .select(col("u").as("a_id"), col("v").as("b_id"))
    candidates
      .join(hashed.select(col("__id").as("a_id"), col("__hs").as("a_hs")),
        "a_id")
      .join(hashed.select(col("__id").as("b_id"), col("__hs").as("b_hs")),
        "b_id")
      .withColumn("jaccard",
        GraftFunctions.jaccard(col("a_hs"), col("b_hs")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), graft.Rounding.r6(col("jaccard")).as("jaccard"))
  }

  /** Exact n-gram Jaccard near-dup pairs: all-pairs verification at
    * `threshold` over hashed shingle sets — the exactness baseline
    * for [[minhashNearDupPairs]] (identical verify stage; MinHash
    * only prefilters candidates, so wherever banding recall is 1 the
    * two agree — DedupSpec asserts it). All-pairs is O(n²): run this
    * on samples/partitions for auditing; the LSH form is the scale
    * path. */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, ngram: Int = 3): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val hashed = graft.Caching.retain(spread(df)
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .filter(size(col("__toks")) >= ngram)
      .select(col(idCol).as("a_id"),
        GraftFunctions.shingleHashes(col("__toks"), ngram).as("a_hs"))
      .persist())
    hashed.count() // one compute; both join sides read the cache
    val b = hashed.select(col("a_id").as("b_id"), col("a_hs").as("b_hs"))
    hashed.join(broadcast(b), col("a_id") < col("b_id"))
      .withColumn("jaccard",
        GraftFunctions.jaccard(col("a_hs"), col("b_hs")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), graft.Rounding.r6(col("jaccard")).as("jaccard"))
  }

  /** EXACT sub-quadratic Jaccard join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al., "Scaling Up All Pairs
    * Similarity Search"): the third point of the dedup-design
    * triangle next to [[exactJaccardPairs]] (exact, O(n²)) and
    * [[minhashNearDupPairs]] (sub-quadratic, approximate recall).
    * This one is BOTH exact and sub-quadratic: sort each document's
    * shingle set by ascending global document frequency (rarest
    * first, ties broken by hash — one total order for the corpus),
    * index only the first |S| − ⌈t·|S|⌉ + 1 shingles, and generate
    * candidates from shared PREFIX shingles. Any pair with
    * J(A,B) ≥ t has |A∩B| ≥ t·max(|A|,|B|), and two sorted sets
    * with an intersection that large must collide inside those
    * prefixes — recall 1 by the prefix-filtering lemma, no hash
    * family involved. The exact-Jaccard verify then makes precision
    * 1, so the output RELATION equals exactJaccardPairs' at the
    * same threshold (DedupSpec asserts it), while the candidate set
    * is driven by rare-token collisions instead of n²/2.
    *
    * Shuffles: one groupBy for global shingle frequency, one join
    * to attach frequencies, one groupBy per doc to sort, one
    * bucket-groupBy on prefix shingles, and the verify join — all
    * key-partitioned, no all-pairs product anywhere. At 100 TB the
    * frequency relation is the standard two-pass global-df
    * computation every similarity-join system runs.
    *
    * Crossover, measured honestly: at fixture scale the broadcast
    * all-pairs baseline still wins on wall-clock (n=5000 at sf0.1:
    * 2.5 s all-pairs vs 3.4 s here) because 12.5M codegen'd
    * early-exit jaccard evals are cheaper than five shuffles over
    * the exploded shingle relation. The candidate RATIO is what
    * scales (≤ 0.25 of n²/2 gated in DedupSpec at 500 docs, and it
    * falls with corpus diversity): at n where all-pairs is 10⁹⁺
    * evals the shuffle costs are linear-ish noise and this plan is
    * the only exact one that finishes. */
  /** The candidate stage of [[prefixFilterJaccardPairs]] over a
    * pre-hashed (__id, __hs) relation — exposed so DedupSpec can
    * assert the candidate count is sub-quadratic, not just that the
    * verified output matches the exact baseline. */
  private[graft] def prefixCandidatesOf(hashed: DataFrame,
      threshold: Double): DataFrame = {
    val exploded = hashed.select(col("__id"), explode(col("__hs")).as("h"))
    val freq = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // per-doc shingles ranked by (df, h) ascending — rarest first.
    // row_number over a doc-keyed window, NOT collect_list + slice:
    // the list form builds per-doc shingle ARRAYS inside the partial
    // ObjectHashAggregate map, whose fallback threshold counts
    // ENTRIES, not bytes — at the text-skew 100× tier (2M docs × 38
    // shingles, AQE-coalesced read) the just-under-threshold maps of
    // wide lists were multi-GB and died in GC overhead. WindowExec
    // sorts through UnsafeExternalSorter, which spills honestly at
    // any scale; (df, h) is a total order per doc (h distinct), so
    // the prefix relation is IDENTICAL.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("df"), col("h"))
    val sized = hashed.select(col("__id"), size(col("__hs")).as("__n"))
    // prefix length |S| - ceil(t*|S|) + 1
    val prefixLen = (col("__n")
      - ceil(lit(threshold) * col("__n")) + 1).cast("int")
    val prefixRel = exploded
      .join(freq, "h")
      .withColumn("__rn", row_number().over(w))
      .join(sized, "__id")
      .filter(col("__rn") <= prefixLen)
      .select(col("__id"), col("h"))
    bucketPairCounts(prefixRel, Seq("h"), "__id")
      .select(col("u").as("a_id"), col("v").as("b_id"))
  }

  /** Hash the shingle sets of `df` the way the prefix-filter join
    * consumes them (shared by the spec's candidate-ratio gate). */
  private[graft] def hashedShingles(df: DataFrame, idCol: String,
      textCol: String, ngram: Int): DataFrame =
    spread(df)
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .filter(size(col("__toks")) >= ngram)
      .select(col(idCol).as("__id"),
        GraftFunctions.shingleHashes(col("__toks"), ngram).as("__hs"))

  def prefixFilterJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, ngram: Int = 3): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val hashed = graft.Caching.retain(
      hashedShingles(df, idCol, textCol, ngram).persist())
    hashed.count() // materialize once; freq + rank + verify all read it
    prefixCandidatesOf(hashed, threshold)
      .join(hashed.select(col("__id").as("a_id"), col("__hs").as("a_hs")),
        "a_id")
      .join(hashed.select(col("__id").as("b_id"), col("__hs").as("b_hs")),
        "b_id")
      .withColumn("jaccard",
        GraftFunctions.jaccard(col("a_hs"), col("b_hs")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"),
        graft.Rounding.r6(col("jaccard")).as("jaccard"))
  }

  /** Row-local 64-bit SimHash over token hashes: bit b is set when
    * at least half the token hashes have bit b set. Codegen'd tight
    * loop (graft_simhash). */
  def simhash64(tokenHashes: Column): Column =
    GraftFunctions.simhash(tokenHashes)

  /** Near-dup pairs by SimHash: candidates share one of `chunks`
    * equal-width signature chunks, verified by exact popcount of the
    * XOR at `maxHamming`.
    *
    * Recall guarantee (pigeonhole): a pair with hamming distance d
    * touches at most d chunks, so with `chunks` > d some chunk is
    * identical and the pair IS a candidate. The defaults (4 chunks
    * of 16 bits, maxHamming = 3 — the classic Manku/Jain/Sarma
    * WWW'07 configuration) therefore have recall exactly 1. Raising
    * maxHamming above `chunks` - 1 makes the band filter lossy
    * (a pair whose differing bits spread across every chunk is
    * missed); narrowing chunks to cover larger distances (e.g. 8×8
    * bits for d <= 7) collapses the value space to 2^8 per chunk and
    * the bucket pair count explodes quadratically — measured 5×
    * slower at sf0.1. Tune chunks to the distance you need, never
    * below ~12 bits of width. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    require(64 % chunks == 0, s"chunks must divide 64, got $chunks")
    val width = 64 / chunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    // persist + materialize the (id, signature) relation: the chunk
    // explode below references __sim once per chunk plus once in the
    // member struct, and CollapseProject would otherwise inline the
    // full simhash pipeline into every reference (5× recompute);
    // behind the cache each reference is a cached-column read
    val sigs = graft.Caching.retain(spread(df)
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .filter(size(col("__toks")) > 0)
      .withColumn("__th", transform(col("__toks"), t => xxhash64(t)))
      .select(col(idCol).as("__id"), simhash64(col("__th")).as("__sim"))
      .persist())
    sigs.count()
    // the signature is one long, so it rides the groupBy shuffle
    // inside the bucket-member struct — no join-back, and the
    // signature pipeline is consumed exactly once (a self-join here
    // would recompute it per side).
    val chunked = sigs.select(
        struct(col("__id"), col("__sim")).as("__r"),
        explode(array((0 until chunks).map(c => struct(
          lit(c).as("chunk"),
          shiftright(col("__sim"), c * width)
            .bitwiseAND(lit(mask)).as("value"))): _*)).as("__c"))
      .select(col("__r"), col("__c.chunk"), col("__c.value"))
    // the (u,v) pair aggregation inside bucketPairCounts collapses
    // cross-chunk multiplicity (≤ `chunks`-fold) map-side; hamming
    // is functionally determined by the pair, so verifying after
    // that collapse is semantically identical to the old
    // verify-before-distinct while gaining hot-bucket chunking
    bucketPairCounts(chunked, Seq("chunk", "value"), "__r")
      .select(col("u.__id").as("a_id"), col("v.__id").as("b_id"),
        bit_count(col("u.__sim").bitwiseXOR(col("v.__sim")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Distinct doc pairs sharing at least one verbatim run of
    * `runLen` consecutive tokens — EXACT and portable (re-expressible
    * in ANSI SQL), unlike the hash-family-dependent candidate sets.
    * With runLen = window + ngram - 1 this is precisely the
    * precondition of the winnowing guarantee (Schleimer SIGMOD'03:
    * any match at least that long shares a selected fingerprint), so
    * [[winnowNearDupPairs]] with minShared=1 must contain every pair
    * this emits — the driver-checked containment row set for q41.
    * Same bucketed groupBy shape as the other pair generators (gram
    * explode → groupBy(gram) → bucket pairs), never a self-join. */
  def sharedRunPairs(df: DataFrame, idCol: String, textCol: String,
      runLen: Int): DataFrame = {
    val grams = spread(df)
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .filter(size(col("__toks")) >= runLen)
      .select(col(idCol).as("__id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("__toks")) - (runLen - 1)),
          i => concat_ws(" ", slice(col("__toks"), i, lit(runLen)))))).as("__g"))
    bucketPairCounts(grams, Seq("__g"), "__id")
      .select(col("u").as("a_id"), col("v").as("b_id"))
  }

  /** Near-dup candidate pairs by winnowing fingerprints (rolling
    * n-gram hashes → window minima, Schleimer SIGMOD'03): documents
    * sharing >= `minShared` fingerprints. Same bucketed structure as
    * the other near-dup operators — fingerprints are row-local,
    * candidates come from a groupBy on the fingerprint value — with
    * winnowing's guarantee that any shared token run of length >=
    * window + n - 1 produces a shared fingerprint. The
    * plagiarism-detection shape: catches long verbatim passages that
    * whole-document Jaccard dilutes away. */
  def winnowNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      minShared: Int = 2, ngram: Int = 3, window: Int = 4): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val fps = spread(df)
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .filter(size(col("__toks")) >= ngram)
      .select(col(idCol).as("__id"),
        explode(GraftFunctions.winnow(col("__toks"), ngram, window))
          .as("fp"))
    // .distinct() mirrors the old collect_set semantics (winnowing
    // can select the same fingerprint from overlapping windows); the
    // shared-bucket count `w` IS n_shared, so the old explode →
    // re-groupBy disappears entirely
    bucketPairCounts(fps.distinct(), Seq("fp"), "__id")
      .select(col("u").as("a_id"), col("v").as("b_id"),
        col("w").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Connected components over near-dup pairs by iterative min-label
    * propagation: every node starts labeled with its own id; each
    * round joins labels to the symmetric edge list and keeps the
    * per-node minimum; convergence in O(component diameter) rounds
    * (near-dup clusters are shallow — chains longer than a few hops
    * are rare in practice, and `maxIter` bounds the worst case).
    *
    * This is the step a real dedup pipeline runs AFTER pair
    * generation: pairs only say "these two match"; keeping one doc
    * per transitive cluster needs the component id. Output:
    * (id, cluster_id = min reachable id, cluster_size) for every
    * node that appears in a pair.
    *
    * Scale shape: each round is one equi-join + one partial-agg
    * groupBy on the node id — the standard DataFrame connected
    * components (what GraphX/GraphFrames do under the hood), with
    * the edge list reused across rounds from the cache. The
    * convergence check is a driver-side scalar (the exact label sum,
    * strictly monotone under min-propagation) — one action per
    * round. Intermediate labels persist per round and the previous
    * round is released immediately; at very large scale add a
    * localCheckpoint every few rounds to truncate lineage. */
  def nearDupComponents(pairs: DataFrame, maxIter: Int = 20,
      aCol: String = "a_id", bCol: String = "b_id",
      localEdgeLimit: Long = 4000000L): DataFrame = {
    // materialize the (possibly expensive) pair pipeline exactly once:
    // downstream reads it twice (both symmetrization branches), and
    // without the cache the full upstream — e.g. the whole LSH
    // candidate+verify pipeline — would execute once per branch
    // (measured ~1.5 s extra at sf0.1)
    val p0 = graft.Caching.retain(pairs.persist())
    val edgeCount = p0.count()
    // Contraction endgame: every distributed CC implementation stops
    // iterating once the (residual) graph fits one core — per-round
    // joins on a small edge list are pure scheduler overhead (measured
    // 1.6 s for ~50 edges at sf0.1 vs 0.3 s single-task). Union-find
    // runs in ONE executor task via mapPartitions — no driver collect,
    // no per-round jobs — and is exact. Memory bound: ~48 bytes/node
    // in the hash maps, so 4M edges ≲ 400 MB worst case. Above the
    // limit (or for non-integral ids) the iterative min-label loop
    // below is the scale path.
    val integralIds = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      Seq(aCol, bCol).forall(c => p0.schema(c).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      })
    }
    if (edgeCount <= localEdgeLimit && integralIds)
      return localComponents(p0, aCol, bCol)
    val sym = graft.Caching.retain(
      p0.select(col(aCol).as("u"), col(bCol).as("v"))
        .unionByName(p0.select(col(bCol).as("u"), col(aCol).as("v")))
        .persist())
    // init already folds one propagation round in (l = min of self and
    // direct neighbors) — plain pair clusters, the common case, are
    // converged before the loop starts
    var labels = sym.groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("l")).persist()
    // convergence watch: min-propagation only ever DECREASES labels,
    // so the exact label sum is strictly monotone until fixpoint — a
    // scalar aggregate per round instead of a changed-rows join
    // (decimal: id sums at data scale overflow a long)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("l").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
    var sumPrev = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxIter) {
      val next = sym.join(labels, "u")
        .select(col("v").as("u"), col("l"))
        .unionByName(labels)
        .groupBy(col("u")).agg(min(col("l")).as("l"))
        .persist()
      val sumNext = labelSum(next)
      labels.unpersist(blocking = false)
      labels = next
      converged = sumNext.compareTo(sumPrev) == 0
      sumPrev = sumNext
      round += 1
    }
    graft.Caching.retain(labels)
    val size = Window.partitionBy(col("cluster_id"))
    labels.select(col("u").as("id"), col("l").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(size))
  }

  /** Single-task union-find over an edge list that fits one core:
    * path-halving find + union-by-min (the root of every tree is the
    * smallest id in it, so root == the min-label the iterative path
    * computes). Runs executor-side via mapPartitions over coalesce(1)
    * — one job, zero shuffles beyond the coalesce read. */
  private def localComponents(p0: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val spark = p0.sparkSession
    import spark.implicits._
    p0.select(col(aCol).cast("long"), col(bCol).cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrElseUpdate(x, x)
          while (p != x) {
            val gp = parent.getOrElse(p, p)
            parent(x) = gp // path halving
            x = gp
            p = parent.getOrElse(x, x)
          }
          x
        }
        it.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        val size = scala.collection.mutable.HashMap.empty[Long, Long]
        val nodes = parent.keys.toArray
        nodes.foreach { x =>
          val r = find(x)
          size.update(r, size.getOrElse(r, 0L) + 1L)
        }
        nodes.iterator.map(x => (x, find(x), size(find(x))))
      }
      .toDF("id", "cluster_id", "cluster_size")
  }

  /** Radius-r XOR-mask neighborhood of a (64/bands)-bit band value:
    * all Σ C(width,≤radius) masks, a pure constant. */
  private def mihMasks(bands: Int, threshold: Int): Seq[Long] = {
    require(bands > 0 && 64 % bands == 0,
      s"bands must divide 64, got $bands")
    val width = 64 / bands
    val radius = threshold / bands
    require(radius <= 3,
      s"radius $radius explodes the probe set; raise bands")
    (0 to radius).flatMap(r =>
      (0 until width).combinations(r)
        .map(_.foldLeft(0L)((m, i) => m | (1L << i))).toSeq)
  }

  /** The `bands` disjoint substring values of a 64-bit code, as an
    * array column (band i = bits [64-width·(i+1), 64-width·i)). */
  private def mihBandVals(hashCol: String, bands: Int): Column = {
    val width = 64 / bands
    val widthMask = if (width == 64) -1L else (1L << width) - 1L
    array((0 until bands).map(i =>
      shiftrightunsigned(col(hashCol), 64 - width * (i + 1))
        .bitwiseAND(lit(widthMask))): _*)
  }

  /** Explode `df` into its MIH index rows: one (band, key) per band,
    * all other columns carried. This is the PERSISTED-INDEX form —
    * write it bucketed+sorted by (band, key) once at index-build
    * time and every later [[hammingProbeJoin]] reads it with zero
    * exchange (the q207 bucketing discipline applied to a media
    * index). */
  def mihKeys(df: DataFrame, hashCol: String,
      bands: Int = 4): DataFrame =
    df.select(df.columns.map(col) :+
      posexplode(mihBandVals(hashCol, bands)).as(Seq("band", "key")): _*)

  /** Multi-index Hamming near-dup pairs over 64-bit codes (Norouzi,
    * Punjani & Fleet, "Fast Search in Hamming Space with Multi-Index
    * Hashing", CVPR 2012) — the scale-path banding for perceptual
    * hashes: `bands` disjoint (64/bands)-bit substrings; by
    * pigeonhole a pair within `threshold` differing bits is within
    * radius ⌊threshold/bands⌋ in SOME band, so probing each band
    * key's full radius-r neighborhood (a constant XOR-mask array,
    * row-local explode) preserves RECALL 1 while the per-band bucket
    * space is 2^(64/bands). Honest constants (hash-uniform inputs,
    * threshold 8): ANY fixed-parameter exact-recall scheme is Θ(n²)
    * in candidates; per band a pair collides with prob Σ C(w,≤r)/2^w,
    * so q148's 9-narrow-band radius-0 scheme generates ≈ n²/30
    * unordered candidates where 4×16-bit radius-2 MIH generates
    * ≈ n²·4·137/2¹⁶/2 ≈ n²/239 — the 512× bucket-space gain
    * re-multiplied by the 137-probe expansion nets ≈ 8×
    * (SURVEY §20.3 has both measured). The real scale levers
    * are (a) exact collapse FIRST (the caller contract below — it
    * removes duplicate-mass bucket concentration entirely) and
    * (b) the paper's design rule: substring width ≈ log₂ n, i.e.
    * fewer, wider bands as the corpus grows, which keeps the
    * constant at the probe-budget floor. The candidate join is a
    * plain equi-join on (band, key): streaming, spillable,
    * AQE-splittable — never a per-bucket collect.
    *
    * Caller contract: `df` should already be EXACT-COLLAPSED (one
    * row per distinct code — group identical codes first, the q29
    * discipline; identical-image mass otherwise concentrates
    * buckets). `payloadCols` ride both join sides as a_/b_ columns
    * so downstream needs no join-back. Output: (a_id, b_id, hamming
    * ≤ threshold, a_*, b_*) with a_id < b_id, distinct. */
  def hammingNearDupPairs(df: DataFrame, idCol: String,
      hashCol: String, threshold: Int = 8, bands: Int = 4,
      payloadCols: Seq[String] = Nil): DataFrame = {
    val masks = mihMasks(bands, threshold)
    val bandVals = mihBandVals(hashCol, bands)
    val keyed = df.select(
      (col(idCol) +: col(hashCol) +: payloadCols.map(col)) :+
        posexplode(bandVals).as(Seq("band", "key")): _*)
    def side(p: String) = keyed.select(
      (col(idCol).as(p + idCol) +: col(hashCol).as(p + hashCol) +:
        payloadCols.map(c => col(c).as(p + c))) ++
        Seq(col("band"), col("key")): _*)
    val probes = side("a_").select(
      (col("a_" + idCol) +: col("a_" + hashCol) +:
        payloadCols.map(c => col("a_" + c))) ++ Seq(col("band"),
        explode(typedLit(masks)).as("mask"), col("key")): _*)
      .withColumn("key", col("key").bitwiseXOR(col("mask")))
      .drop("mask")
    // the probe side is a generator output: Catalyst's sizeInBytes
    // estimate for Generate is ~the child's, i.e. ~|masks|× too low,
    // so an unhinted plan statically picks the PROBE side as a
    // broadcast build and OOMs once n·bands·|masks| is real (measured:
    // the synthetic 10× tier of SURVEY §20.3 died in
    // notEnoughMemoryToBuildAndBroadcastTable; AQE cannot demote a
    // statically-planned broadcast because no shuffle stage precedes
    // it). The hint pins a shuffled hash join BUILT ON THE EXACT
    // side — the relation whose stats are sound and which is always
    // the |masks|×-smaller side; both sides then shuffle on
    // (band, key), the partitioning every scale tier can carry.
    probes.join(side("b_").hint("shuffle_hash"), Seq("band", "key"))
      .filter(col("a_" + idCol) < col("b_" + idCol))
      .select((col("a_" + idCol).as("a_id") +:
        col("b_" + idCol).as("b_id") +:
        bit_count(col("a_" + hashCol).bitwiseXOR(col("b_" + hashCol)))
          .cast("int").as("hamming") +:
        payloadCols.flatMap(c => Seq(col("a_" + c), col("b_" + c)))): _*)
      // verify BEFORE the dedup shuffle: the hamming test is a
      // codegen'd row-local filter, so the distinct moves only true
      // near-dup pairs, not every probe collision
      .filter(col("hamming") <= threshold)
      .distinct()
  }

  /** Cross-relation MIH probe join — the INCREMENTAL form of
    * [[hammingNearDupPairs]]: probe rows come from `probe` (the
    * daily batch, radius-r mask expansion), exact rows from
    * `keyedIndex` — a relation ALREADY in [[mihKeys]] form, i.e. the
    * persisted media index. Join semantics: every (probe id, index
    * id) pair within `threshold` Hamming bits, recall 1 by the same
    * pigeonhole as the self-join form.
    *
    * Scale shape: only the batch side pays a shuffle per run — the
    * probe expansion is batch·bands·|masks| rows, small because the
    * batch is small; the index side should be a bucketed+sorted
    * (band, key) table so its scan satisfies the join's
    * distribution with ZERO exchange (bucketBy at index-build time,
    * the q207 amortization). The `merge` hint pins sort-merge: the
    * index side streams its sorted buckets without building hash
    * maps (an SHJ build of a corpus-sized index partition would
    * OOM), and — the [[hammingNearDupPairs]] lesson — the hint also
    * forbids the statically-misestimated broadcast of the
    * generator-expanded probe side. Output: (a_id = probe id,
    * b_id = index id, hamming), distinct. */
  def hammingProbeJoin(probe: DataFrame, probeId: String,
      hashCol: String, keyedIndex: DataFrame, indexId: String,
      threshold: Int = 8, bands: Int = 4): DataFrame = {
    val masks = mihMasks(bands, threshold)
    val bandVals = mihBandVals(hashCol, bands)
    val probes = probe.select(col(probeId).as("a_id"),
        col(hashCol).as("a_hash"),
        posexplode(bandVals).as(Seq("band", "key")))
      .select(col("a_id"), col("a_hash"), col("band"),
        explode(typedLit(masks)).as("mask"), col("key"))
      .withColumn("key", col("key").bitwiseXOR(col("mask")))
      .drop("mask")
    val exacts = keyedIndex.select(col(indexId).as("b_id"),
      col(hashCol).as("b_hash"), col("band"), col("key"))
    probes.join(exacts.hint("merge"), Seq("band", "key"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_hash").bitwiseXOR(col("b_hash")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= threshold)
      .distinct()
  }

  /** Keep-first dedup by arbitrary key: survivor = lowest id per key
    * (row_number window — one shuffle on the key).
    *
    * `tieCols` break exact `orderCol` ties; WITHOUT a unique
    * (orderCol ++ tieCols) prefix the survivor among tied rows is
    * whatever order the shuffle delivered — a different row per run
    * or layout. Callers passing a unique orderCol (ids) need
    * nothing; callers ordering by a non-unique column (timestamps)
    * must name a disambiguator. */
  def keepFirstByKey(df: DataFrame, keyCols: Seq[String],
      orderCol: String, tieCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((orderCol +: tieCols).map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
