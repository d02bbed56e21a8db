package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects raw per-op records from Spark's public listeners during a
  * traced pass: jobs (tagged with the span that submitted them through
  * the [[Tracer.SpanKey]] local property), per-stage task aggregates,
  * Catalyst phase times from each `QueryExecution`'s planning tracker,
  * and streaming progress. Records are kept in memory and written out
  * when the run ends; derived metrics (self time, interval unions) are
  * computed from them by `perfbench/metrics.py`. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  @volatile var currentOp: Int = -1

  private val jobs = ArrayBuffer.empty[Harness.Record]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageAgg]
  private val plans = ArrayBuffer.empty[Harness.Record]
  private val seenScans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
  private val streams = ArrayBuffer.empty[Harness.Record]
  private val flushJobs = scala.collection.mutable.Set.empty[Int]
  private var flushLatch = new CountDownLatch(0)
  private var streamsStarted = 0
  private var streamsTerminated = 0

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
      if (span == Flush) flushJobs += e.jobId
      else {
        e.stageIds.foreach(id => stages.getOrElseUpdate(id, new StageAgg(id)))
        jobs += Map("job" -> e.jobId, "span" -> span, "op" -> currentOp,
          "start_ms" -> e.time, "stages" -> e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val i = jobs.lastIndexWhere(_("job") == e.jobId)
      if (i >= 0) jobs(i) = jobs(i) ++ Map("end_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
      else if (flushJobs.remove(e.jobId)) flushLatch.countDown()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stages.get(e.stageInfo.stageId).filter(_.submitted == 0).foreach { s =>
          s.submitted = e.stageInfo.submissionTime.getOrElse(0L)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stages.get(e.stageInfo.stageId).foreach { s =>
          s.completed = e.stageInfo.completionTime.getOrElse(0L)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stages.get(e.stageId).foreach(_.add(e))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      Tracer.this.synchronized {
        // file bytes of the scans this execution ran: a scan inside a
        // cached plan runs once, in the first execution that fills
        // the cache, so each scan node is counted once
        val scanned = Scans.of(qe.executedPlan)
          .filter(s => seenScans.add(s))
          .flatMap(_.metrics.get("filesSize")).map(_.value).sum
        plans += Map("op" -> currentOp, "func" -> func, "ok" -> ok,
          "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"), "scan_bytes" -> scanned)
      }
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = Tracer.this.synchronized {
      streamsStarted += 1
      streams += Map("op" -> currentOp, "event" -> "started")
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      Tracer.this.synchronized {
        streams += Map("op" -> currentOp, "event" -> "progress",
          "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
          "planning_ms" -> d("queryPlanning"),
          "log_commit_ms" -> (d("walCommit") + d("commitOffsets")),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
          "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Tracer.this.synchronized { streamsTerminated += 1 }
  }

  def start(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    flush()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has been delivered: a job
    * over zero partitions posts its start and end events at once and
    * runs no task, so when its end reaches this listener every earlier
    * event on the same queue has too. Stream events travel on their own
    * queue; for those, wait until every started query has terminated. */
  def flush(): Unit = {
    val latch = synchronized { flushLatch = new CountDownLatch(1); flushLatch }
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, Flush)
    try sc.emptyRDD[Int].collect() finally sc.setLocalProperty(SpanKey, prev)
    latch.await(10, TimeUnit.SECONDS)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (synchronized(streamsTerminated < streamsStarted) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  def records: Harness.Record = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.values.map(_.json).toList,
      "plans" -> plans.toList, "streams" -> streams.toList)
  }
}

/** File scans in an executed plan, through adaptive query stages and
  * into the plans of cached relations. */
private object Scans extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Seq[FileSourceScanExec] = flatMap(plan) {
    case s: FileSourceScanExec => Seq(s)
    case m: InMemoryTableScanExec => of(m.relation.cachedPlan)
    case _ => Nil
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val Flush = "flush"

  /** Task totals of one stage. */
  final class StageAgg(val id: Int) {
    var submitted = 0L
    var completed = 0L
    private var tasks, failures = 0L
    private var taskMs, cpuNs, maxTaskMs, waitMs, gcMs = 0L
    private var inputB, shReadB, shWriteB, spillB, outputB = 0L

    def add(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      tasks += 1
      if (!info.successful) failures += 1
      taskMs += info.duration
      maxTaskMs = math.max(maxTaskMs, info.duration)
      if (submitted > 0) waitMs += math.max(0L, info.launchTime - submitted)
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        inputB += m.inputMetrics.bytesRead
        shReadB += m.shuffleReadMetrics.totalBytesRead
        shWriteB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        outputB += m.outputMetrics.bytesWritten
      }
    }

    def json: Harness.Record = Map("stage" -> id, "submitted_ms" -> submitted,
      "completed_ms" -> completed, "tasks" -> tasks, "failures" -> failures,
      "task_ms" -> taskMs, "cpu_ms" -> cpuNs / 1000000L, "max_task_ms" -> maxTaskMs,
      "wait_ms" -> waitMs, "gc_ms" -> gcMs, "input_bytes" -> inputB,
      "shuffle_read_bytes" -> shReadB, "shuffle_write_bytes" -> shWriteB,
      "spill_bytes" -> spillB, "output_bytes" -> outputB)
  }
}
