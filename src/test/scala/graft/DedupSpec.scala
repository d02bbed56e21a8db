package graft

import graft.dedup.Dedup
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // doc 1 & 2 near-identical (one word changed), 3 & 4 unrelated,
  // 5 an exact copy of 1
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the crazy dog again and again"),
    (3L, "completely different text about spark query engines at scale"),
    (4L, "nothing in common with any other document in this tiny corpus"),
    (5L, "the quick brown fox jumps over the lazy dog again and again")
  ).toDF("doc_id", "text")

  test("exactGroups: exact copy collapses to one group, min id kept") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .where($"n_dups" > 1).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("keep_id") == 1L)
    assert(g(0).getAs[Long]("n_dups") == 2L)
  }

  test("minhash near-dup pairs: finds the planted near-dup + copy") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L))) // exact copy: jaccard 1.0
    assert(pairs.contains((1L, 2L))) // near dup: 1 word of 12 changed
    assert(pairs.contains((2L, 5L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical docs at hamming 0, near-dups small") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 5L)) == 0)
    assert(m.get((1L, 2L)).exists(_ <= 8))
  }

  test("simhash pairs are a superset of exact-dup pairs and overlap " +
      "minhash high-jaccard pairs (recall gate, VERDICT r1 #5)") {
    val dir = "/root/testdata/sf0.001"
    val real = Tables.documents(spark, dir).select($"doc_id", $"text")
    // plant exact duplicates: doubled corpus with offset ids
    val doubled = real.unionByName(
      real.select(($"doc_id" + 100000).as("doc_id"), $"text"))
    val simPairs = Dedup.simhashNearDupPairs(doubled, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted exact dup (id, id+100000) must be found: identical
    // text → hamming 0 → guaranteed candidate + kept by the filter
    val ids = real.collect().map(_.getLong(0))
    ids.foreach { id =>
      assert(simPairs.contains((id, id + 100000)),
        s"exact dup pair ($id, ${id + 100000}) missed by simhash")
    }
    // high-Jaccard (>= 0.9) minhash pairs should mostly be simhash
    // pairs too; hamming <= 3 is a TIGHTER near-dup notion than
    // jaccard 0.9 (a 0.9-jaccard pair can sit at hamming 4-6), so
    // the gate is majority overlap, not superset
    val mh = Dedup.minhashNearDupPairs(real, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = mh & simPairs
    info(s"simhash(h<=3) covers ${overlap.size}/${mh.size} of j>=0.9 pairs")
    assert(mh.isEmpty || overlap.size.toDouble / mh.size >= 0.5,
      s"simhash found ${overlap.size}/${mh.size} of minhash j>=0.9 pairs")
  }

  test("minhash+LSH agrees with exact all-pairs Jaccard at 0.6") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.exactJaccardPairs(real, "doc_id", "text", 0.6))
    val lsh = pairSet(Dedup.minhashNearDupPairs(real, "doc_id", "text", 0.6))
    assert(lsh == exact,
      s"missing=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
  }

  test("prefix-filter join equals exact all-pairs Jaccard AND its " +
      "candidate set is sub-quadratic") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (t <- Seq(0.5, 0.7)) {
      val exact = pairSet(Dedup.exactJaccardPairs(real, "doc_id", "text", t))
      Caching.releaseAll()
      val pf = pairSet(
        Dedup.prefixFilterJaccardPairs(real, "doc_id", "text", t))
      Caching.releaseAll()
      assert(pf == exact, s"t=$t: missing=${(exact -- pf).take(5)} " +
        s"extra=${(pf -- exact).take(5)}")
    }
    // the point of prefix filtering: candidates driven by rare-token
    // collisions, not n²/2 — assert a hard sub-quadratic margin
    val hashed = Dedup.hashedShingles(real, "doc_id", "text", 3)
    val n = hashed.count()
    val cand = Dedup.prefixCandidatesOf(hashed, 0.5).count()
    val allPairs = n * (n - 1) / 2
    assert(cand.toDouble / allPairs <= 0.25,
      s"candidate ratio ${cand.toDouble / allPairs} ($cand of $allPairs) " +
        "should be far below all-pairs")
  }

  test("winnow pairs: finds docs sharing a long passage, skips unrelated") {
    val pairs = Dedup.winnowNearDupPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L))) // exact copy shares everything
    assert(pairs.contains((1L, 2L))) // long shared prefix/suffix runs
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash over shingle hashes: signature shape and determinism") {
    import graft.functions.GraftFunctions
    import org.apache.spark.sql.functions.col
    val rows = docs
      .select(col("doc_id"),
        GraftFunctions.shingleHashes(
          graft.text.TextOps.tokens(col("text")), 3).as("hs"))
      .select(col("doc_id"), GraftFunctions.minhash(col("hs"), 32).as("sig"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1).size == 32) // numHashes signature
    }
    // docs 1 and 5 are identical → identical signatures
    val byId = rows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(byId(1L) == byId(5L))
    assert(byId(1L) != byId(3L)) // unrelated docs differ
  }

  test("keepFirstByKey: lowest order key survives per group") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "k")
    val kept = Dedup.keepFirstByKey(df, Seq("k"), "id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("nearDupComponents: transitive chain collapses, islands stay") {
    // chain 1-2-3-4 (diameter 3 → needs several propagation rounds),
    // isolated pair 10-11, pair 20-21 joined to 22 through 21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("a_id", "b_id")
    val got = Dedup.nearDupComponents(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> (1L, 4L), 2L -> (1L, 4L), 3L -> (1L, 4L), 4L -> (1L, 4L),
      10L -> (10L, 2L), 11L -> (10L, 2L),
      20L -> (20L, 3L), 21L -> (20L, 3L), 22L -> (20L, 3L)))
    Caching.releaseAll()
  }

  test("nearDupComponents: iterative path (localEdgeLimit=0) matches " +
      "the single-task union-find endgame") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("a_id", "b_id")
    val expect = Dedup.nearDupComponents(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val iter = Dedup.nearDupComponents(pairs, localEdgeLimit = 0L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(iter == expect)
    assert(expect(4L) == ((1L, 4L))) // both paths found the chain
    Caching.releaseAll()
  }

  test("nearDupComponents agrees with brute-force closure on the corpus") {
    // at 0.5 the one-word-changed pairs qualify (J = 7/13 ≈ 0.538):
    // 1-2, 2-5, 1-5 collapse to one cluster; 3 and 4 stay absent
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.5)
    val comp = Dedup.nearDupComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
    Caching.releaseAll()
  }
}
