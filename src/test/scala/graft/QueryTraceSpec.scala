package graft

import org.scalatest.funsuite.AnyFunSuite

/** QueryTrace's window over a job of known shape: one job whose map
  * stage runs 3 tasks and whose reduce stage runs 4, read right after
  * a flush; then an empty window after reset, and nothing after close;
  * and the codegen count of a window that compiles a new projection. */
class QueryTraceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def shuffleJob(): Unit = {
    val n = spark.sparkContext.parallelize(1 to 1000, 3)
      .map(i => (i % 4, i.toLong)).reduceByKey(_ + _, 4).collect().length
    assert(n == 4)
  }

  test("flush completes the window: jobs, stages, tasks, driver gap") {
    val trace = QueryTrace.start(spark.sparkContext)
    try {
      trace.reset()
      shuffleJob()
      Thread.sleep(200) // driver-side time with no job running
      trace.flush()
      val w = trace.window
      assert(w.jobs == 1)
      assert(w.stages.map(_.tasks).sorted == Seq(3, 4), w.stages)
      val Seq(map, reduce) = w.stages.sortBy(_.tasks)
      assert(map.shuffleWriteBytes > 0 && map.shuffleReadBytes == 0)
      assert(reduce.shuffleReadBytes > 0 && reduce.shuffleWriteBytes == 0)
      assert(w.stages.forall(s => s.maxTaskMs <= s.taskMs))
      assert(w.maxTaskMs <= w.taskMs)
      assert(w.taskMs == w.stages.map(_.taskMs).sum)
      assert(w.jobWallMs >= 0 && w.jobWallMs <= w.wallMs)
      assert(w.driverGapMs >= 190 && w.driverGapMs <= w.wallMs, w)

      trace.reset()
      trace.flush()
      val empty = trace.window
      assert(empty.jobs == 0 && empty.stages.isEmpty && empty.taskMs == 0)
      assert(empty.jobWallMs == 0 && empty.driverGapMs == empty.wallMs)
    } finally trace.close()
  }

  test("codegenCompiles counts the window's new classes and ends at flush") {
    // a constant no earlier plan used: its projection is a new source
    val k = System.nanoTime() % 1000000007L
    def project() = spark.range(8).selectExpr(s"id * $k + 1 AS x")
      .agg(org.apache.spark.sql.functions.sum("x")).collect()
    val trace = QueryTrace.start(spark.sparkContext)
    try {
      trace.reset()
      project()
      trace.flush()
      val first = trace.window.codegenCompiles
      assert(first >= 1, "a new projection compiled no class")
      project() // after the flush: not in the window
      assert(trace.window.codegenCompiles == first)
    } finally trace.close()
  }

  test("two jobs in one window, and no event is recorded after close") {
    val trace = QueryTrace.start(spark.sparkContext)
    trace.reset()
    shuffleJob(); shuffleJob()
    trace.flush()
    val w = trace.window
    assert(w.jobs == 2)
    assert(w.stages.map(_.tasks).sum == 14, w.stages)
    trace.close()
    shuffleJob()
    // the closed trace's listener is gone: a flush from a live trace
    // delivers every event the job posted, none reaches the closed one
    val live = QueryTrace.start(spark.sparkContext)
    try live.flush() finally live.close()
    assert(trace.window == w)
  }
}
