package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.streaming.state.StateStore

/** Access bridge to Spark's package-private state-store lifecycle.
  *
  * `StateStore.unloadAll()` is `private[sql]`: a terminated
  * availableNow drain leaves its providers registered on the
  * executor, and the 60 s maintenance tick then snapshots/compacts
  * those dead stores forever after — across a many-stream run the
  * tick's work grows with every drain (graft measured q153 bimodal
  * 3.6 s vs 10-15 s in full-catalog runs from exactly this).
  * graft.streaming.StreamOps.drain calls this after each
  * sequential drain — GUARDED to local mode, where this JVM is the
  * executor and holds the providers; on a cluster a driver-side
  * call would be a no-op for executor-held providers and would
  * unload providers of any co-resident live query (use the
  * streaming runtime's own lifecycle there). This object exists
  * ONLY to cross the access boundary, carries no logic, and is the
  * single foreign-package file in the library.
  */
object StateStoreHygiene {
  def unloadAll(): Unit = StateStore.unloadAll()
}
