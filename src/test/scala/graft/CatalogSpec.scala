package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog-level invariants: every query runs on sf0.001 and returns
  * rows; every oracle key exists in the query map; the flagship entry
  * is non-empty (the driver's t1 smoke). */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  test("no two query modules define the same query name") {
    // the catalog merges the modules with `++`, which would silently
    // keep only the last of two equal names
    val names = SparkEntry.modules.flatMap(_.keys)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"defined in two modules: $dups")
  }

  test("entry (driver t1 smoke) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Queries whose CORRECT sf0.001 answer is the empty relation:
  // q142's tau=0.45 contamination screen has zero true pairs at this
  // SF (verified against the DuckDB oracle — 0 at sf0.001, 2 at
  // sf0.01, 10 at sf0.1), so "runs and matches the oracle" is the
  // gate, not rows>0. The driver's correctness pass runs at sf0.01
  // where the pair set is non-empty.
  private val emptyOkOnTiny = Set("q142_contamination_lsh")

  // the queries whose run in the sweep below started a stream drain
  private val drained = scala.collection.mutable.Set.empty[String]
  private def sweep(name: String)(run: => Unit): Unit = {
    val before = graft.streaming.StreamOps.drainCount
    run
    if (graft.streaming.StreamOps.drainCount > before) drained += name
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    if (emptyOkOnTiny(name))
      test(s"$name runs on sf0.001 (empty result is the oracle answer)") {
        sweep(name)(assert(fn(spark, dir).count() >= 0))
      }
    else
      test(s"$name runs and returns rows on sf0.001") {
        sweep(name)(assert(fn(spark, dir).count() > 0))
      }
  }

  test("Bench's streaming lane is exactly the queries that drain a stream") {
    // a drain query left out of the lane is timed, pre-warmed and
    // re-timed as a batch query
    assert(drained.nonEmpty, "the sweep above ran no stream drain")
    assert(drained.toSet == Bench.streamingLane,
      s"drain only: ${drained.toSet -- Bench.streamingLane}; " +
        s"lane only: ${Bench.streamingLane -- drained}")
  }

  test("SQL-surface queries leave the session's temp views as they were") {
    // q42 reads a relation it calls `orders`; q159 and q339 query
    // views of their own. None may replace a caller's view or leave
    // one behind.
    import spark.implicits._
    def tempViews = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val mine = Seq((1L, "mine"), (2L, "also mine"))
    mine.toDF("o_orderkey", "note").createOrReplaceTempView("orders")
    try {
      val before = tempViews
      for (q <- Seq("q42_correlated_subquery", "q159_sql_surface",
          "q339_recursive_reach"))
        assert(SparkEntry.queries(q)(spark, dir).count() > 0, q)
      assert(spark.table("orders").as[(Long, String)].collect().toSeq
        .sorted == mine)
      assert(tempViews == before, s"added: ${tempViews -- before}")
    } finally spark.catalog.dropTempView("orders")
  }

  test("persisting queries leave no cached relations after release") {
    // q30 (minhash dedup) persists its shingle-hash intermediate; the
    // Caching contract is: handles are retained during execution and
    // released by the harness once the terminal action completes —
    // after which the session's cache is empty (no InMemoryRelation
    // leaks into Bench min-of-2 or a long-lived session), and the
    // released plan still recomputes correctly.
    spark.catalog.clearCache()
    Caching.releaseAll()
    val df = SparkEntry.queries("q30_dedup_minhash")(spark, dir)
    val n1 = df.count()
    assert(Caching.retainedCount > 0, "q30 should retain a persist handle")
    assert(!spark.sharedState.cacheManager.isEmpty,
      "the retained handle should be materialized in the cache")
    Caching.releaseAll()
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseAll must leave the CacheManager empty")
    // the plan survives release: rebuild + rerun recomputes the result
    val n2 = SparkEntry.queries("q30_dedup_minhash")(spark, dir).count()
    assert(n1 == n2)
    Caching.releaseAll()
  }

  test("no silent codegen fallback fired across the catalog sweep") {
    // every catalog query above ran through the shared session — a
    // janino 64 KB overflow anywhere (the wide single-aggregate
    // queries q94/q205/q223 are the design-risk class) would have
    // logged one CodeGenerator ERROR and silently run interpreted;
    // this turns that into a red test (VERDICT r9 #3)
    CodegenErrorWatch.assertClean()
  }

  test("every per-process query scratch dir the sweep left is registered") {
    // a graft_q<N>_<fixture>_<pid> dir outlives its JVM unless
    // ScratchDirs deletes it at exit; the sweep above ran every query
    // in this JVM, so each such dir of this pid must be registered
    import java.nio.file.Paths
    val pid = ProcessHandle.current().pid()
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val mine = Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.getName.matches(s"graft_q[0-9]+_.*_$pid"))
      .map(f => Paths.get(f.getPath).toString)
    assert(mine.nonEmpty, s"no per-process dir of pid $pid under $tmp")
    val registered = graft.sources.ScratchDirs.registeredDirs
      .map(p => Paths.get(p).toString)
    val leaked = mine.filterNot(registered)
    assert(leaked.isEmpty, s"${leaked.size} unregistered: ${leaked.sorted}")
  }
}
