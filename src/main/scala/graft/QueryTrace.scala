package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** The engine's one run-statistics listener. For the window since its
  * last [[reset]] it records every job's span and, for each stage of
  * those jobs, the task count, task ms, max task, shuffle read and
  * write bytes and the stage's RDD scope names (the SQL operators that
  * feed it; AQE submits stages from a thread pool, so the callsite
  * says nothing). [[window]] turns that into a [[QueryTrace.Window]]:
  * job count, the wall covered by the union of the job spans, the
  * driver gap (window wall minus that union), the stage table and the
  * classes codegen compiled.
  *
  * Listener events arrive asynchronously; call [[flush]] after a pass
  * so the window holds every event the pass posted. Bench and Profile
  * read their per-pass max task, task ms and stage tables from here. */
final class QueryTrace private (sc: SparkContext) extends SparkListener {
  import QueryTrace._

  private val token = s"${getClass.getName}@${System.identityHashCode(this)}"
  private var t0 = System.currentTimeMillis()
  private var t1 = -1L
  private var c0 = compiles
  private var c1 = -1L
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val spans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val flushJobs = mutable.Set.empty[Int]
  private var flushLatch = new CountDownLatch(0)
  private var closed = false

  /** Start a new, empty window. */
  def reset(): Unit = synchronized {
    t0 = System.currentTimeMillis(); t1 = -1L
    c0 = compiles; c1 = -1L
    jobStart.clear(); spans.clear(); stages.clear()
  }

  /** Wait until every event posted so far has been delivered: a job
    * over zero partitions posts its start and end events at once and
    * runs no task, so when its end reaches this listener every earlier
    * event on the same queue has too. The window's wall ends here. */
  def flush(): Unit = {
    val latch = synchronized {
      if (t1 < 0) { t1 = System.currentTimeMillis(); c1 = compiles }
      flushLatch = new CountDownLatch(1); flushLatch
    }
    val prev = sc.getLocalProperty(FlushKey)
    sc.setLocalProperty(FlushKey, token)
    try sc.emptyRDD[Int].collect() finally sc.setLocalProperty(FlushKey, prev)
    latch.await(10, TimeUnit.SECONDS)
  }

  /** Flush, then stop listening: later events are not recorded. */
  def close(): Unit = {
    flush()
    synchronized { closed = true }
    sc.removeSparkListener(this)
  }

  /** The window so far: its finished jobs and the stages of those
    * jobs that ran tasks. Its wall runs from [[reset]] to the first
    * [[flush]] after it (or to now, before any); job spans are clipped
    * to it, so 0 ≤ driver gap ≤ wall. Its codegen count ends there
    * too. */
  def window: Window = synchronized {
    val end = if (t1 >= 0) t1 else System.currentTimeMillis()
    var covered, hi = 0L
    spans.map { case (s, e) => (math.max(s, t0), math.min(e, end)) }
      .sortBy(_._1).foreach { case (s, e) =>
        val from = math.max(s, hi)
        if (e > from) { covered += e - from; hi = e }
      }
    Window(end - t0, spans.size, covered,
      stages.values.map(_.stage).filter(_.tasks > 0).toSeq,
      (if (c1 >= 0) c1 else compiles) - c0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (!closed) {
      val tag = Option(e.properties).map(_.getProperty(FlushKey)).orNull
      if (tag == token) flushJobs += e.jobId
      else if (tag == null) {
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(id => stages.getOrElseUpdate(id, new StageAgg(id)))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (flushJobs.remove(e.jobId)) flushLatch.countDown()
    else if (!closed) jobStart.remove(e.jobId).foreach(s => spans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!closed) stages.get(e.stageInfo.stageId).foreach { s =>
      s.scopes = e.stageInfo.rddInfos.flatMap(_.scope.map(_.name)).distinct
        .mkString("|")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!closed) stages.get(e.stageId).foreach(_.add(e))
  }
}

object QueryTrace {
  /** Local property that marks [[QueryTrace.flush]]'s own job. */
  private val FlushKey = "graft.trace.flush"

  /** A trace listening on `sc`, its window starting now. */
  def start(sc: SparkContext): QueryTrace = {
    val t = new QueryTrace(sc)
    sc.addSparkListener(t)
    t
  }

  /** Task totals of one stage. */
  final case class Stage(id: Int, tasks: Int, taskMs: Long, maxTaskMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, scopes: String)

  /** Classes compiled by codegen in this JVM so far. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One window's reading; times in ms. `codegenCompiles` is the
    * number of classes codegen compiled in the window. The counter
    * behind it is JVM-wide: it also counts compiles of other sessions
    * and of work outside the window's jobs (planning, a drain's
    * micro-batches), and a class served from the compiled-class cache
    * counts nothing. */
  final case class Window(wallMs: Long, jobs: Int, jobWallMs: Long,
      stages: Seq[Stage], codegenCompiles: Long) {
    def driverGapMs: Long = wallMs - jobWallMs
    def taskMs: Long = stages.map(_.taskMs).sum
    def maxTaskMs: Long = stages.map(_.maxTaskMs).maxOption.getOrElse(0L)
  }

  private final class StageAgg(id: Int) {
    var scopes = ""
    private var tasks = 0
    private var taskMs, maxTaskMs, readB, writeB = 0L

    def add(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      taskMs += e.taskInfo.duration
      maxTaskMs = math.max(maxTaskMs, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        readB += m.shuffleReadMetrics.totalBytesRead
        writeB += m.shuffleWriteMetrics.bytesWritten
      }
    }

    def stage: Stage = Stage(id, tasks, taskMs, maxTaskMs, readB, writeB, scopes)
  }
}
