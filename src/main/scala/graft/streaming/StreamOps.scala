package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface of the engine: the same windowed
  * aggregation shapes as the batch catalog (q24_tumbling_window),
  * run incrementally with watermarked event-time state, plus the
  * arbitrary-state operators (last-write-wins upsert, sessionization,
  * transformWithState running totals) and one bounded run, [[drain]].
  *
  * The reference is batch-only (SURVEY.md §2.7 — no streaming
  * anywhere in its 373 lines); this module is the extension the
  * engine brief requires. At scale: state is partitioned by group
  * key across executors, watermark bounds state size, and the sink
  * contract is append/update per Spark's semantics.
  */
object StreamOps {

  /** Open the events table as a file stream (one-file-per-trigger
    * friendly) and normalize `ts` to a proper event-time column.
    *
    * File streams require a user-supplied schema, and a hardcoded one
    * silently corrupts data when the lake's physical encoding differs
    * (an INT64-micros file read as LongType then re-divided lands in
    * 1970 — a wrong ANSWER, not an error). So the schema comes from
    * the table's own parquet footer (one batch-planning read at
    * stream construction — driver-side, O(footer), never a data
    * scan), and ts normalization is the SAME dtype-adaptive rule as
    * the batch path ([[graft.Tables.normalizeEventTs]]) — streaming
    * and batch cannot drift apart again. Requires a GraftSession-
    * built session (`nanosAsLong` set at construction, so a
    * TIMESTAMP(NANOS) footer infers as LongType here too). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // the file-stream source only accepts directories; point it at
    // the sf dir and glob-filter to the events table
    // footer schema via the shared base-table relation (Tables memo) —
    // a fresh read.parquet here costs a schema-inference job per
    // stream construction for the same bytes
    val footerSchema = graft.Tables.table(spark, dir, "events").schema
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(footerSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Open the documents table as a file stream — the ingest shape of
    * a continuously-arriving corpus (one file per trigger ≈ one
    * upstream drop per micro-batch). Schema comes from the table's
    * own parquet footer, same rationale as [[eventsStream]]: a
    * hardcoded struct silently diverges from the batch path the day
    * the lake's integer widths or column order drift (the r7 events
    * regeneration, applied to the next table). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(graft.Tables.table(spark, dir, "documents").schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** Tumbling-window counts with a watermark: the streaming form of
    * q24. Late data beyond the watermark is dropped; state for
    * closed windows is evicted — bounded memory at any scale. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming exactly-once restoration via
    * `dropDuplicatesWithinWatermark`: upstream at-least-once delivery
    * is simulated by re-emitting every other event twice (row-local
    * explode — no shuffle), then the state-store dedup on event_id
    * collapses redelivery back to exactly-once before the keyed
    * aggregation. WithinWatermark (not plain dropDuplicates on a
    * stream) is the 100 TB form: per-key dedup state is EVICTED once
    * the watermark passes, so state stays bounded by the redelivery
    * horizon instead of growing with the stream's lifetime. */
  def dedupedCounts(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("copy",
        explode(sequence(lit(0), pmod(col("event_id"), lit(2)).cast("int"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Running per-user totals via `transformWithState` — Spark 4's
    * arbitrary-state API (StatefulProcessor over typed state
    * handles; the successor to mapGroupsWithState, and the one that
    * composes multiple state variables, timers and TTL). Requires
    * the RocksDB state-store provider — the caller sets it (q341
    * passes [[RocksDbProvider]] to [[drain]]). Values are
    * micro-quantized to LONGS before they reach state, so the
    * running total is exact and independent of per-batch row order
    * — a double accumulator here would make the output depend on
    * shuffle arrival order. */
  def runningTotalsTws(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").as[Long],
        graft.Rounding.micros(col("value")).as[Long])
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("user_id", "n_events", "total_micro")
  }

  /** Last-write-wins upsert state op: keep exactly ONE
    * (ts_us, event_id, value) triple per user, replaced whenever a
    * strictly later (ts, event_id) arrives — the streaming form of
    * CDC compaction (batch twin: q139's row_number window). State is
    * one fixed-size row per live key, partitioned by key across
    * executors; no watermark needed because the state never grows
    * with input, only with key cardinality. Emits the current best
    * per key each micro-batch (update mode). */
  def lwwUpsert(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Double)],
         state: GroupState[(Long, Long, Double)]) =>
          var best = state.getOption
            .getOrElse((Long.MinValue, Long.MinValue, 0.0))
          rows.foreach { r =>
            if (r._2 > best._1 || (r._2 == best._1 && r._3 > best._2))
              best = (r._2, r._3, r._4)
          }
          state.update(best)
          (user, best._1, best._2, best._3)
      }.toDF("user_id", "ts_us", "last_event_id", "last_value")
  }

  /** Streaming sessionization via flatMapGroupsWithState: per-user
    * sessions close after `gapMinutes` of event-time silence
    * (EventTimeTimeout — state is dropped when the watermark passes
    * the gap, so open sessions cost bounded memory). Emits one row
    * per COMPLETED session: the streaming form of the batch q25
    * sessionize. flatMap (not map) because a timeout may flush a
    * session while new events open the next one — zero or one output
    * rows per invocation.
    *
    * State is MICROSECOND-exact, so the output can sit under a
    * hash-compared oracle: the fixture's event times carry
    * sub-millisecond digits, so state tracks epoch-micros rebuilt
    * from (getTime, getNanos), durations divide in µs, and only the
    * TIMEOUT registration truncates to ms (the engine's native
    * timeout resolution — truncation there can only make a timeout
    * fire marginally earlier, it never corrupts an emitted value).
    * Inline-closed sessions always emit; each user's final open
    * session emits iff the terminal watermark passes its gap timeout
    * (the q151 oracle encodes the same rule). Output carries
    * session_start_us so the row set totally orders. */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "2 hours"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    def micros(t: java.sql.Timestamp): Long =
      (t.getTime / 1000) * 1000000L + t.getNanos / 1000
    // keep `ts` as the raw timestamp column: a cast would mint a new
    // column without the event-time/watermark tag the timeout needs
    events.withWatermark("ts", watermark)
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        // state: (sessionStartUs, lastEventUs, nEvents)
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (start, last, n) = state.get
            state.remove()
            Iterator((user, start, n, (last - start) / 60000000.0))
          } else {
            val sorted = rows.map(r => micros(r._2)).toSeq.sorted
            var closed = List.empty[(Long, Long, Long, Double)]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                // rows sort only WITHIN a batch; a later batch can
                // deliver an event older than the session's last (or
                // even start). Fold such a late row into the open
                // session with min/max bounds — never move `last`
                // backward, which would emit negative durations and
                // (worse) set a timeout behind the watermark, an
                // IllegalArgumentException that kills the query.
                case Some((start, last, n)) if t - last <= gapUs =>
                  cur = Some((math.min(start, t), math.max(last, t), n + 1))
                case Some((start, last, n)) =>
                  closed ::= ((user, start, n, (last - start) / 60000000.0))
                  cur = Some((t, t, 1L))
                case None =>
                  cur = Some((t, t, 1L))
              }
            }
            cur.foreach { c =>
              state.update(c)
              // timeout must never be at/behind the current watermark
              // (Spark rejects it); a session whose gap already
              // elapsed in event time flushes on the next tick instead
              state.setTimeoutTimestamp(math.max((c._2 + gapUs) / 1000,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
      .toDF("user_id", "session_start_us", "n_events", "duration_min")
  }

  /** Stream-stream interval join: pair every left event with the
    * right-side events of the same user that occur within
    * `withinMinutes` AFTER it. Both sides carry watermarks and the
    * join predicate bounds right.ts to [left.ts, left.ts + within] —
    * the time-range condition is what lets Spark's streaming join
    * evict state: buffered rows age out once the watermark passes
    * their join window (unbounded-state joins are rejected in
    * append mode). The micro-batch incremental form of the batch
    * range join (q23).
    *
    * `joinType` picks the family member: "inner" (q153),
    * "leftOuter" (q347) or "fullOuter" (q355). An outer side's
    * UNMATCHED row emits once, with nulls on the other side, when
    * the watermark passes the point where the engine can prove no
    * match can still arrive. Outer results are never emitted
    * speculatively, so there are no retractions in append mode, and
    * state stays watermark-bounded exactly as in the inner join.
    * The two null horizons differ because the time-range condition
    * is asymmetric: a LEFT row can match rights up to l.ts+window,
    * so its null emission waits for the watermark to pass that
    * window end; a RIGHT row only matches lefts with l.ts ≤ r.ts,
    * so its null emits once the watermark passes r.ts itself. Rows
    * younger than their horizon at end-of-input remain unemitted —
    * not wrong, just not yet provable; the q347/q355 oracles encode
    * those horizons explicitly. `user_id` is the left user, or the
    * right user on a full-outer right-null row. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      withinMinutes: Int = 5, watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id").as("l_user"), col("event_id").as("l_id"),
        col("ts").as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"),
        col("ts").as("r_ts"))
    l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $withinMinutes MINUTES") &&
        col("l_id") =!= col("r_id"),
      joinType)
      .select(coalesce(col("l_user"), col("r_user")).as("user_id"),
        col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  /** State-partition count sized to a bounded replay's input volume
    * (VERDICT r11 #4): stateful streaming operators freeze the
    * session's shuffle-partition count into the checkpoint as their
    * state-partition count at first-batch planning — and every state
    * partition then pays per-micro-batch store open/commit/delta-file
    * I/O REGARDLESS of how little data it holds. For an availableNow
    * replay of a fixture-sized input, 32 state stores are pure fixed
    * cost: measured 3.0 s → 1.7 s per stream at sf0.1 going 32 → 8.
    * Sized like a deployment would size it — one partition per
    * ~32 MB of replayed input, floored per operator shape (see
    * `floor` below), capped at the session's
    * shuffle parallelism (a 100 TB backlog hits the cap and the
    * deployment raises the session setting; the knob only ever
    * SHRINKS state-store count below the batch default, never
    * schedules more).
    *
    * @param floor minimum partition count — OPERATOR-SHAPE-derived
    *   (r16): single-store stateful ops keep 4 (r15's measurement:
    *   per-partition store open/commit dominates a near-empty
    *   replay — the simple-agg stream read 1.7 s at 8 vs 1.3 s at
    *   4, and the RocksDB tws stream 1.6-2.0 s at 4 vs 1.8-2.3 s
    *   at 8); stream-stream JOINS pass 8 — their per-partition work
    *   is the state×window probe COMPUTE across FOUR store
    *   instances (~1.7 s/task at floor 4), and min-of-2 at sf0.1
    *   read q153 4.48/3.39/5.48+ s and q355 5.36/4.62/5.78 s at
    *   floors 4/8/16. NOTE (ADVICE r15): a reused stateful
    *   checkpoint pins its partition count from the checkpoint —
    *   fresh runs get the floor, resumed ones keep their old one;
    *   benign for results. Real backlogs size by the bytes/32MB
    *   term and the session cap exactly as before. */
  def statePartitionsFor(spark: SparkSession, dir: String,
      floor: Int = 4): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val sess = spark.sessionState.conf.numShufflePartitions
    math.max(floor, math.min(sess, (bytes / (32L << 20)).toInt))
  }

  /** Fully-qualified class of Spark's spillable state store. The
    * default HDFSBackedStateStoreProvider keeps every state
    * partition's map ON HEAP — fine for watermark-bounded fixture
    * state, but at the 100 TB design point a stream-stream join's
    * buffered rows (two watermark windows of a hot key's traffic)
    * want RocksDB's off-heap + disk-spill tier. Results are
    * provider-independent (StreamingSpec pins this). A query passes
    * it to [[drain]] when its operator needs it (q341's
    * transformWithState); a deployment whose per-partition state
    * exceeds executor heap sets Spark's own
    * `spark.sql.streaming.stateStore.providerClass` on the session,
    * which every drain inherits — the provider trades per-batch
    * commit latency (RocksDB checkpoint/compaction) for bounded
    * memory. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val drainIds = new java.util.concurrent.atomic.AtomicLong

  /** How many [[drain]] calls this JVM has started. */
  def drainCount: Long = drainIds.get()

  /** Run `stream` as an availableNow query into a memory sink, wait
    * for it to drain all available input, and return the sink's rows
    * — the one entry point of every bounded stream query.
    *
    * The state-partition count ([[statePartitionsFor]] at `floor`)
    * and `provider`, when given, are frozen into the checkpoint at
    * first-batch planning, so they are set on the session before
    * start() and restored as soon as it returns: the stream runs on
    * its own clone of the session, taken when it is constructed, so
    * batch queries sharing the session keep their settings. The
    * stream stays on the caller's session (not a `newSession()`
    * child) so the caller's listeners see it and stream-static joins
    * share one session with their static sides.
    *
    * The sink name is unique per call and its temp view is dropped
    * before returning: the result is already analyzed and holds the
    * sink's plan, so the session keeps neither name nor rows. Sink
    * rows are driver-local and a bare `spark.table` spreads them over
    * the session default, so every later pass over KBs of data
    * (measured on q355 at sf0.1: 10 s of task time across 64 tasks)
    * pays per-task fixed cost; the read is coalesced to the floor-4
    * [[statePartitionsFor]] count instead, which a real backlog
    * still sizes up to full parallelism.
    *
    * A terminated drain leaves its state-store providers loaded, and
    * the 60 s maintenance tick then compacts every dead store forever
    * after (measured: q153 bimodal 3.6 s vs 10-15 s in full-catalog
    * runs), so the drain unloads them — in local mode only (ADVICE
    * r13), where this JVM is the executor; on a cluster the call
    * would miss executor providers and hit co-resident live queries.
    * The unload is JVM-wide, so drains are SEQUENTIAL by contract.
    *
    * @param mode the sink's output mode: "append", "update" or
    *   "complete"
    * @param floor minimum state-partition count: 4 for single-store
    *   operators, 8 for stream-stream joins */
  def drain(spark: SparkSession, dir: String, mode: String, floor: Int = 4,
      provider: Option[String] = None)(stream: => DataFrame): DataFrame = {
    val name = s"graft_drain_${drainIds.incrementAndGet()}"
    val key = "spark.sql.shuffle.partitions"
    val pKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    // explicitly-set value only: getOption would surface the default
    val prevP = spark.conf.getAll.get(pKey)
    spark.conf.set(key, statePartitionsFor(spark, dir, floor).toString)
    provider.foreach(spark.conf.set(pKey, _))
    val q =
      try {
        stream.writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      } finally {
        spark.conf.set(key, prev)
        if (provider.isDefined) prevP match {
          case Some(p) => spark.conf.set(pKey, p)
          case None => spark.conf.unset(pKey)
        }
      }
    try {
      q.awaitTermination()
      spark.table(name).coalesce(statePartitionsFor(spark, dir))
    } finally {
      spark.catalog.dropTempView(name)
      if (spark.sparkContext.isLocal)
        org.apache.spark.sql.graftbridge.StateStoreHygiene.unloadAll()
    }
  }
}

/** StatefulProcessor behind [[StreamOps.runningTotalsTws]]: one
  * ValueState[(count, total_micro)] per user key, updated per batch
  * and re-emitted (update mode). Top-level class (not an anonymous
  * closure) so the streaming runtime can serialize it cleanly. */
class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  @transient private var state: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    state = getHandle.getValueState[(Long, Long)]("agg",
      org.apache.spark.sql.Encoders.product[(Long, Long)],
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, total) = if (state.exists()) state.get() else (0L, 0L)
    rows.foreach { r => n += 1; total += r._2 }
    state.update((n, total))
    Iterator.single((key, n, total))
  }
}
