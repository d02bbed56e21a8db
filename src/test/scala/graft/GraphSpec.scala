package graft

import graft.ops.Graph
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** PageRank invariants on hand-computable graphs: symmetric cycles
  * stay uniform, weights split contributions proportionally, total
  * rank is conserved when no node dangles, and the Spark result
  * matches a driver-side reference power iteration exactly. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ranks(edges: Seq[(String, String, Long)], iters: Int)
      : Map[String, Double] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  /** Reference implementation: same arithmetic, driver-side. */
  private def refRanks(edges: Seq[(String, String, Long)], iters: Int)
      : Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).view.mapValues(_.map { case (s, _, w) =>
        r(s) * w.toDouble / outw(s).toDouble
      }.sum).toMap
      r = nodes.map(v =>
        v -> ((1 - 0.85) / n + 0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    r
  }

  test("symmetric cycle stays uniform") {
    val cycle = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
    val got = ranks(cycle, 5)
    got.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
    // no dangling nodes → total rank conserved
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
  }

  test("weights split contributions proportionally") {
    // a sends 3:1 to b vs c; b and c return to a (no dangling)
    val g = Seq(("a", "b", 3L), ("a", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L))
    val got = ranks(g, 1)
    // after one iteration from uniform: rb - rc = 0.85 * (0.75-0.25)/3
    assert(math.abs((got("b") - got("c")) - 0.85 * 0.5 / 3) < 1e-12)
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
  }

  test("cooccurPairCounts: chunked expansion is exact on a planted " +
      "hot bucket (chunk boundaries, multi-bucket overlap)") {
    import spark.implicits._
    // one hot bucket of 25 members with chunk=8 (4 slices, one
    // partial), plus two small buckets whose members overlap the hot
    // bucket so some pairs span w>1; a reference count from the
    // driver-side quadratic expansion pins exactness
    val hot = (1 to 25).map(u => ("hot", u.toLong))
    val b2 = Seq(3L, 9L, 17L, 25L).map(u => ("b2", u)) // spans slices
    val b3 = Seq(3L, 9L).map(u => ("b3", u))
    val p = (hot ++ b2 ++ b3).toDF("bkt", "user")
    def ref(rows: Seq[(String, Long)]): Map[(Long, Long), Long] =
      rows.groupBy(_._1).values.flatMap { bucket =>
        val us = bucket.map(_._2).distinct.sorted
        for (i <- us.indices; j <- (i + 1) until us.size)
          yield (us(i), us(j))
      }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = ref(hot ++ b2 ++ b3)
    for (chunk <- Seq(8, 3, 1000)) {
      val got = Graph.cooccurPairCounts(p, Seq("bkt"), "user", chunk)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got == expect, s"chunk=$chunk")
      // ordering invariant: u < v everywhere
      got.keys.foreach { case (u, v) => assert(u < v, s"chunk=$chunk") }
    }
  }

  test("cooccurPairCounts pins BOTH explode inputs behind " +
      "explicit-count repartitions (AQE must not coalesce them)") {
    import spark.implicits._
    // the cap's plan gate (VERDICT r9 #1 done-criterion): the intra
    // and inter branches each expand chunk²-fold AFTER their
    // exchange, so both exchanges carry an explicit partition count
    // — an uncounted one is AQE-coalesced to a single partition by
    // its stub-sized input bytes, re-serializing the hot-bucket
    // straggler (measured 40.7 s vs 8 s max-task, SURVEY §15.2)
    val p = (1 to 50).map(u => ("b", u.toLong)).toDF("bkt", "user")
    val plan = Graph.cooccurPairCounts(p, Seq("bkt"), "user", 8)
      .queryExecution.executedPlan.toString
    val n = "REPARTITION_BY_NUM".r.findAllIn(plan).length
    assert(n >= 2,
      s"expected >= 2 explicit-count repartitions in the pair plan, " +
        s"found $n:\n$plan")
  }

  test("kCoreProfile releases every block it persists/checkpoints") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (1L, 4L),
      (2L, 4L), (4L, 5L)).toDF("u", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val prof = Graph.kCoreProfile(edges, 3, 2).collect()
    // round 0: 5 nodes 7 edges; peeling deg<3 drops node 5 → the
    // 4-clique (4 nodes, 6 edges) is stable at round 2
    assert(prof.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((0L, 5L, 7L), (1L, 4L, 6L), (2L, 4L, 6L)))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "kCoreProfile leaked persistent RDD blocks")
  }

  test("kCoreProfile reads its input edges in place, never copying them") {
    import spark.implicits._
    // flat, stored input edges, the shape q267's mean-cut edges have
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (1L, 4L),
      (2L, 4L), (4L, 5L)).toDF("u", "v").localCheckpoint()
    val trace = QueryTrace.start(spark.sparkContext)
    val (rows, jobs) = try {
      trace.reset()
      val rows = Graph.kCoreProfile(edges, 3, 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      trace.flush()
      (rows, trace.window.jobs)
    } finally trace.close()
    assert(rows == Seq((0L, 5L, 7L), (1L, 4L, 6L), (2L, 4L, 6L)))
    // round 0's degree checkpoint and stats (4 jobs), 6 per peel
    // round, 3 for the sorted profile: a checkpointed copy of the
    // input would be a 20th
    assert(jobs == 19, s"kCoreProfile ran $jobs jobs, expected 19")
  }

  test("q346 HLL 2-hop reach: measured relative error vs exact q196 " +
      "at sf0.001 and sf0.01") {
    // the catalog row's in-plan `ok` gate asserts err <= max(1, 5%);
    // this test MEASURES the error (expected 0: Datasketches HLL is
    // list/set-mode exact below ~3/4·2^lgK distincts, far above the
    // fixture reach sizes) and pins the approx row set == exact's
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = SparkEntry.queries("q346_khop_reach_hll")(spark, sf)
        .collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getBoolean(3)),
        s"HLL estimate outside max(1, 5%) of exact at $sf")
      val exact = SparkEntry.queries("q196_khop_reach")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val got = rows.map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == exact, s"q346's exact tier diverged from q196 at $sf")
      // q356's sampled audit chain reaches the same 2-hop sets
      val sampled = SparkEntry.queries("q356_anf_reach3")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(sampled.nonEmpty)
      assert(sampled == exact.view.filterKeys(sampled.contains).toMap,
        s"q356's sampled n_reach2 diverged from q196 at $sf")
      Caching.releaseAll()
    }
  }

  test("matches the reference power iteration bit-for-bit, " +
      "including dangling nodes") {
    val g = Seq(("a", "b", 2L), ("c", "b", 1L), ("b", "a", 1L),
      ("a", "d", 1L)) // d has no out-edges → dangles
    for (iters <- Seq(1, 3, 5)) {
      val got = ranks(g, iters)
      val exp = refRanks(g, iters)
      assert(got.keySet == exp.keySet)
      exp.foreach { case (k, v) =>
        assert(math.abs(got(k) - v) < 1e-14, s"node $k at iters=$iters")
      }
      // d leaks rank each round → total strictly below 1
      assert(got.values.sum < 1.0)
    }
  }

  test("anfSketches: delta rounds are byte-identical to full " +
      "propagation (HLL union idempotence)") {
    // a path graph (diameter 5) plus a triangle: frontiers collapse
    // at different rounds per component, so the delta filter is
    // actually exercised (some nodes stop changing early)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val e = spark.createDataFrame(edges).toDF("u", "v")
    val ee = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    for (hops <- Seq(2, 4, 6)) {
      val full = graft.ops.Graph.anfSketches(ee, hops, deltaFrom = 99)
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq)
        .toMap
      val delta = graft.ops.Graph.anfSketches(ee, hops, deltaFrom = 2)
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq)
        .toMap
      assert(full.keySet == delta.keySet)
      full.foreach { case (u, sk) =>
        assert(delta(u) == sk, s"node $u sketch differs at hops=$hops")
      }
    }
    // and at full depth the path graph's estimates equal exact reach
    import graft.functions.SketchFunctions.hll4Estimate
    val est = graft.ops.Graph.anfSketches(ee, 6, deltaFrom = 3)
      .select(col("u"), (hll4Estimate(col("sk")) - 1).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path component: every node reaches the other 5; triangle: 2
    (1L to 6L).foreach(u => assert(est(u) == 5L, s"path node $u"))
    Seq(10L, 11L, 12L).foreach(u => assert(est(u) == 2L, s"tri $u"))
  }

  test("sampledReach: the exact bitmap reach chain at hops 2..5 " +
      "equals a driver-side BFS") {
    // the same path (diameter 5) plus triangle graph as the
    // anfSketches case: path reach keeps growing through hop 5 while
    // the triangle saturates at hop 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val e = spark.createDataFrame(edges).toDF("u", "v")
    val ee = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def bfs(src: Long, hops: Int): Set[Long] = {
      var seen = Set(src); var frontier = Set(src)
      for (_ <- 1 to hops) {
        frontier = frontier.flatMap(adj) -- seen; seen ++= frontier
      }
      seen - src
    }
    import graft.functions.BitmapFunctions.bitmap64Explode
    for (mod <- Seq(1, 2)) {
      val chain = graft.queries.Advanced.sampledReach(ee, mod, 5)
      assert(chain.size == 4, s"mod=$mod")
      for ((rel, hop) <- chain.zip(2 to 5)) {
        val expect = adj.keys.filter(_ % mod == 0)
          .map(u => u -> bfs(u, hop)).toMap
        val sets = rel
          .select(col("src"), bitmap64Explode(col("bm")).as("d"))
          .filter(col("d") =!= col("src")).collect()
          .groupBy(_.getLong(0))
          .map { case (u, rs) => u -> rs.map(_.getLong(1)).toSet }
        assert(sets == expect, s"reach sets at hop $hop, mod=$mod")
        val counts = rel.select(col("src"), col("n_reach")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(counts == expect.view.mapValues(_.size.toLong).toMap,
          s"n_reach at hop $hop, mod=$mod")
      }
    }
  }
}
