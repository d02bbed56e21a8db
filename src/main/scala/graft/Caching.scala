package graft

import org.apache.spark.sql.DataFrame
import scala.collection.mutable.ArrayBuffer

/** Ownership registry for persisted intermediates (VERDICT r2 #2).
  *
  * Several operators persist an expensive intermediate (e.g. the
  * shingle-hash relation in MinHash dedup) because the RETURNED
  * DataFrame consumes it from multiple subtrees. The operator cannot
  * unpersist before returning — the result is lazy, and dropping the
  * cache at construction time would reintroduce the N-consumer
  * recompute pathology the persist exists to fix. So lifetime is
  * handed to the caller through this registry: operators `retain`
  * each handle; the harness (Verify after each query's write, Bench
  * between timed passes, specs after collecting) calls `releaseAll`
  * once the terminal action has consumed the plan.
  *
  * Without the release step a long-lived session accumulates dead
  * InMemoryRelations, and — because Spark's CacheManager matches
  * canonicalized plans — a second run of the same query silently
  * reads the first run's cache, flattering any min-of-N benchmark.
  */
object Caching {

  private val handles = ArrayBuffer.empty[DataFrame]

  /** Register a persisted DataFrame for later release; returns it. */
  def retain(df: DataFrame): DataFrame = synchronized {
    handles += df
    df
  }

  /** Unpersist every retained handle (non-blocking) and clear the
    * registry. Safe to call repeatedly; a released plan stays
    * runnable — it just recomputes instead of reading the cache. */
  def releaseAll(): Unit = synchronized {
    handles.foreach(_.unpersist(blocking = false))
    handles.clear()
  }

  /** Number of currently retained handles (test observability). */
  def retainedCount: Int = synchronized(handles.size)
}

/** Local checkpoints owned by one query body: [[apply]]
  * checkpoints a DataFrame (eagerly unless told otherwise; a lazy one
  * stores its blocks in the first job that reads it) and records the
  * RDD behind it, read off the checkpoint's LogicalRDD leaf (a
  * before/after diff of the GLOBAL persistent-RDD registry would also
  * catch what a concurrent thread cached; ADVICE r10), and [[release]]
  * unpersists exactly those blocks once the body has collected what
  * it needs. */
final class LocalCheckpoints {
  private val rdds = ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

  def apply(df: DataFrame, eager: Boolean = true): DataFrame = {
    val out = df.localCheckpoint(eager)
    out.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => rdds += r.rdd
    }
    out
  }

  def release(): Unit = rdds.foreach(_.unpersist(blocking = false))
}
