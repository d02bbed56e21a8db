package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Run `body`, which starts one [[StreamOps.drain]], and hand
    * `onProgress` every progress event of the drain's query, seen by
    * a listener on the caller's session (a drain returns rows, not
    * its StreamingQuery). Returns once the listener has seen the
    * query terminate: progress events precede termination on the
    * listener bus, so by then every one of them has been handed on. */
  private def observeDrain[T](onProgress: StreamingQueryProgress => Unit)(
      body: => T): T = {
    import StreamingQueryListener._
    val terminated = new CountDownLatch(1)
    // only the drain's own query: earlier specs' stopped queries may
    // still have events on the bus
    val drains = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name.startsWith("graft_drain_")) drains.add(e.id)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (drains.contains(e.progress.id)) onProgress(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (drains.contains(e.id)) terminated.countDown()
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      assert(terminated.await(60, TimeUnit.SECONDS),
        "the caller's listener never saw the drain terminate")
      out
    } finally spark.streams.removeListener(listener)
  }

  /** Every progress event of the one drain `body` starts, in order. */
  private def drainProgress[T](body: => T): (T, Seq[StreamingQueryProgress]) = {
    val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val out = observeDrain(p => seen.add(p))(body)
    (out, seen.asScala.toSeq)
  }

  test("windowedCounts: streaming result equals the batch equivalent") {
    val streamed = StreamOps.drain(spark, dir, "complete") {
      StreamOps.windowedCounts(StreamOps.eventsStream(spark, dir))
    }.agg(sum("n"), count(lit(1))).collect()(0)
    val batch = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .agg(sum("n"), count(lit(1))).collect()(0)
    assert(streamed.getLong(0) == batch.getLong(0)) // total events
    assert(streamed.getLong(1) == batch.getLong(1)) // distinct windows
  }

  test("a repeated drain and a batch query re-run after it compile no " +
      "new classes") {
    // every drain runs on a clone of the session; the clones and the
    // session must share one compiled-class cache key, and the cache
    // must keep the batch query's classes across the drains
    val trace = QueryTrace.start(spark.sparkContext)
    def compiles(body: => Unit): Long = {
      trace.reset(); body; trace.flush(); trace.window.codegenCompiles
    }
    def batch(): Unit = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(max(col("value")), count(lit(1)))
      .collect()
    def drained(): Unit = StreamOps.drain(spark, dir, "complete") {
      StreamOps.windowedCounts(StreamOps.eventsStream(spark, dir))
    }.collect()
    try {
      compiles(batch())
      compiles(drained())
      val again = compiles(drained())
      assert(again == 0, s"the second drain compiled $again classes")
      val rerun = compiles(batch())
      assert(rerun == 0, s"the batch re-run compiled $rerun classes")
    } finally trace.close()
  }

  test("intervalJoin: stream-stream result equals the batch range join") {
    val streamed = StreamOps.drain(spark, dir, "append", floor = 8) {
      StreamOps.intervalJoin(
        StreamOps.eventsStream(spark, dir),
        StreamOps.eventsStream(spark, dir), withinMinutes = 5)
    }.select(col("l_id"), col("r_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
    val l = e.select(col("user_id").as("u"), col("event_id").as("l_id"),
      col("ts").as("l_ts"))
    val r = e.select(col("user_id").as("u"), col("event_id").as("r_id"),
      col("ts").as("r_ts"))
    val batch = l.join(r, Seq("u"))
      .filter(col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 5 MINUTES") &&
        col("l_id") =!= col("r_id"))
      .select(col("l_id"), col("r_id")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty, "fixture must exercise the join window")
  }

  test("intervalJoinLeftOuter: matches equal the inner join; null rows " +
      "are exactly the unmatched lefts past the watermark horizon") {
    val rows = StreamOps.drain(spark, dir, "append", floor = 8) {
      StreamOps.intervalJoin(
        StreamOps.eventsStream(spark, dir),
        StreamOps.eventsStream(spark, dir), withinMinutes = 5,
        joinType = "leftOuter")
    }.collect()
    val matched = rows.filter(!_.isNullAt(2))
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val nulls = rows.filter(_.isNullAt(2)).map(_.getLong(1)).toSet
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
    val l = e.select(col("user_id").as("u"), col("event_id").as("l_id"),
      col("ts").as("l_ts"))
    val r = e.select(col("user_id").as("u"), col("event_id").as("r_id"),
      col("ts").as("r_ts"))
    val batch = l.join(r, Seq("u"))
      .filter(col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 5 MINUTES") &&
        col("l_id") =!= col("r_id"))
      .select(col("l_id"), col("r_id")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(matched == batch, "matched pairs must equal the inner join")
    // unmatched-null rows: exactly the batch-unmatched lefts whose
    // window end sits below the final watermark (max ts − 2 h,
    // ms-truncated — the engine's event-time resolution)
    val matchedLeftIds = batch.map(_._1)
    val horizon = Tables.events(spark, dir)
      .agg(expr("timestamp_millis(unix_millis(max(ts)))").as("m"))
      .collect()(0).getTimestamp(0).getTime - 2L * 3600 * 1000
    val expectedNulls = Tables.events(spark, dir)
      .select(col("event_id"), col("ts")).collect()
      .filter(r0 => !matchedLeftIds.contains(r0.getLong(0)))
      .filter(r0 => r0.getTimestamp(1).getTime + 5 * 60 * 1000 < horizon)
      .map(_.getLong(0)).toSet
    assert(nulls == expectedNulls,
      "null emissions must be the unmatched lefts past the horizon")
    assert(nulls.nonEmpty, "fixture must exercise the outer branch")
  }

  test("intervalJoinFullOuter: matched == inner join; left nulls == " +
      "the left-outer join's; right nulls are the unmatched rights " +
      "past the (asymmetric) right horizon") {
    val rows = StreamOps.drain(spark, dir, "append", floor = 8) {
      StreamOps.intervalJoin(
        StreamOps.eventsStream(spark, dir),
        StreamOps.eventsStream(spark, dir), withinMinutes = 5,
        joinType = "fullOuter")
    }.collect()
    val matched = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val lNulls = rows.filter(_.isNullAt(2)).map(_.getLong(1)).toSet
    val rNulls = rows.filter(_.isNullAt(1)).map(_.getLong(2)).toSet
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
    val l = e.select(col("user_id").as("u"), col("event_id").as("l_id"),
      col("ts").as("l_ts"))
    val r = e.select(col("user_id").as("u"), col("event_id").as("r_id"),
      col("ts").as("r_ts"))
    val batch = l.join(r, Seq("u"))
      .filter(col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 5 MINUTES") &&
        col("l_id") =!= col("r_id"))
      .select(col("l_id"), col("r_id")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(matched == batch)
    val horizon = Tables.events(spark, dir)
      .agg(expr("timestamp_millis(unix_millis(max(ts)))").as("m"))
      .collect()(0).getTimestamp(0).getTime - 2L * 3600 * 1000
    val all = Tables.events(spark, dir)
      .select(col("event_id"), col("ts")).collect()
      .map(r0 => (r0.getLong(0), r0.getTimestamp(1).getTime))
    val matchedL = batch.map(_._1)
    val matchedR = batch.map(_._2)
    // left horizon: window end below the watermark; right horizon:
    // the row's own timestamp below it (no l.ts <= r.ts can arrive)
    assert(lNulls == all.filter(x => !matchedL.contains(x._1))
      .filter(x => x._2 + 5 * 60 * 1000 < horizon).map(_._1).toSet)
    assert(rNulls == all.filter(x => !matchedR.contains(x._1))
      .filter(x => x._2 < horizon).map(_._1).toSet)
    assert(rNulls.nonEmpty && lNulls.nonEmpty)
  }

  test("sessionizeStream: completed sessions match batch sessionization") {
    val streamed = StreamOps.drain(spark, dir, "append") {
      StreamOps.sessionizeStream(StreamOps.eventsStream(spark, dir))
    }.select("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(streamed.nonEmpty, "watermark must close some sessions")
    // every emitted session must exist verbatim in the batch result
    val batch = SparkEntry.queries("q25_sessionize")(spark, dir)
      .select("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val emitted = streamed.groupBy(identity).view.mapValues(_.length).toMap
    emitted.foreach { case (k, n) =>
      assert(batch.getOrElse(k, 0) >= n,
        s"streamed session $k x$n not in batch result")
    }
  }

  test("q144 streaming contamination guard equals the batch q56 " +
      "contaminated subset") {
    // the streaming guard must flag EXACTLY the docs the batch
    // decontamination pass flags (n_shared >= 10) — the equivalence
    // that makes the live-ingest shape trustworthy
    val streamed = SparkEntry.queries("q144_stream_contamination")(
        spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = SparkEntry.queries("q56_contamination_check")(spark, dir)
      .filter(col("contaminated"))
      .select(col("doc_id"), col("n_shared"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streaming flags ${streamed.size} docs, batch ${batch.size}")
    assert(batch.nonEmpty, "fixture must exercise the contaminated path")
  }

  test("lwwUpsert: state survives a stop/restart through the " +
      "checkpoint — the resumed run processes ONLY the new file " +
      "and still yields the batch answer") {
    import org.apache.spark.sql.streaming.Trigger
    val base = graft.sources.ScratchDirs.perProcess("ckpt", dir)
    val inDir = s"$base/in"
    val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, dir)
    // three disjoint drops of the same table
    ev.filter(col("event_id") % 3 === 0).write.mode("overwrite")
      .parquet(s"$inDir/f0")
    ev.filter(col("event_id") % 3 === 1).write.mode("overwrite")
      .parquet(s"$inDir/f1")
    def openStream() = StreamOps.lwwUpsert(
      graft.Tables.normalizeEventTs(spark.readStream
        .schema(spark.read.parquet(s"$inDir/f0").schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$inDir/*")))
    // the memory sink refuses checkpoint recovery; foreachBatch is
    // the recoverable production shape (same checkpoint dir across
    // runs, per-batch append to the lake)
    val outDir = s"$base/out"
    def runOnce(): Long = {
      val q = openStream().writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, id: Long) =>
            df.withColumn("batch_id", lit(id))
              .write.mode("append").parquet(outDir): Unit
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val maxB = spark.read.parquet(outDir)
        .agg(max("batch_id")).collect()(0).getLong(0)
      q.stop(); maxB
    }
    val b1 = runOnce() // processes f0 + f1
    // a third drop lands AFTER the first run committed its offsets
    ev.filter(col("event_id") % 3 === 2).write.mode("overwrite")
      .parquet(s"$inDir/f2")
    val b2 = runOnce()
    // batch ids CONTINUE from the checkpoint — proof the resumed
    // query recovered the offset log instead of starting over
    assert(b2 > b1,
      s"resume must continue the batch sequence ($b1 -> $b2)")
    // state provenance: some user's run-2 row must still carry a
    // pre-restart event (event_id % 3 != 2) as its LWW winner —
    // only possible if the mapGroupsWithState state survived the
    // restart through the state store
    val run2 = spark.read.parquet(outDir)
      .filter(col("batch_id") > b1)
    assert(run2.count() > 0)
    assert(run2.filter(col("last_event_id") % 3 =!= 2).count() > 0,
      "a recovered state row must surface a pre-restart winner")
    // LWW over the union of both runs' update streams == batch argmax
    val streamed = spark.read.parquet(outDir)
      .groupBy("user_id")
      .agg(max(struct(col("ts_us"), col("last_event_id"))).as("m"))
      .select(col("user_id"), col("m.last_event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ev.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(streamed == batch,
      "checkpoint-resumed LWW state must equal the batch argmax")
  }

  test("lwwUpsert: latest (ts, event_id) per user survives; " +
      "result identical under the RocksDB state-store provider") {
    def run(provider: Option[String]): Map[Long, Long] =
      StreamOps.drain(spark, dir, "update", provider = provider) {
        StreamOps.lwwUpsert(StreamOps.eventsStream(spark, dir))
      }.groupBy("user_id")
        .agg(max(struct(col("ts_us"), col("last_event_id")))
          .as("m"))
        .select(col("user_id"), col("m.last_event_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(spark, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val hdfsBacked = run(None)
    assert(hdfsBacked == batch,
      "streaming LWW state must equal the batch argmax")
    // the production state-store backend: same answer, different
    // provider — proves the state serde round-trips through RocksDB
    val rocks = run(Some(StreamOps.RocksDbProvider))
    assert(rocks == batch,
      "RocksDB-backed state must produce the identical LWW table")
  }

  test("state store loads once per partition, not once per batch — " +
      "the lane's fixed init cost cannot silently become per-batch") {
    // VERDICT r9 #7: the streaming lane's 2-9 s per-stream constant
    // is state-store/offset-log INIT, paid once (SURVEY §14.40).
    // This gate pins the invariant behind that claim WITHOUT
    // wall-clock flakiness: across a multi-batch run, the
    // HDFS-backed provider's loadedMap cache may MISS at most once
    // per state partition (first load); every later batch must HIT
    // the loaded map. An accidental re-init per batch (provider
    // reconstruction, checkpoint re-read) shows up as misses
    // scaling with batch count and fails here.
    val base = graft.sources.ScratchDirs.perProcess("sinit", dir)
    val ev = Tables.events(spark, dir)
    for (i <- 0 until 3)
      ev.filter(col("event_id") % 3 === i).write.mode("overwrite")
        .parquet(s"$base/in/f$i")
    // lwwUpsert: a mapGroupsWithState operator, one state row per user
    val (_, all) = drainProgress {
      StreamOps.drain(spark, s"$base/in", "update") {
        StreamOps.lwwUpsert(graft.Tables.normalizeEventTs(spark.readStream
          .schema(spark.read.parquet(s"$base/in/f0").schema)
          .option("pathGlobFilter", "*.parquet")
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$base/in/*")))
      }.collect()
    }
    val progress = all.filter(_.numInputRows > 0)
    assert(progress.length >= 3,
      s"expected >= 3 micro-batches, got ${progress.length}")
    val stateParts = progress.flatMap(_.stateOperators.headOption)
      .map(_.numShufflePartitions).max
    def metric(name: String): Long =
      progress.flatMap(_.stateOperators.headOption)
        .map(p => Option(p.customMetrics.get(name))
          .map(_.longValue).getOrElse(
            fail(s"state-store metric $name missing — provider " +
              "changed? re-pin the gate to its equivalent")))
        .sum
    val misses = metric("loadedMapCacheMissCount")
    val hits = metric("loadedMapCacheHitCount")
    assert(misses <= stateParts,
      s"state maps re-loaded beyond first touch: $misses misses " +
        s"over $stateParts partitions — per-batch re-init")
    assert(hits > 0, "later batches never hit the loaded state map")
    // state rows never reset across batches (monotone accumulation)
    val totals = progress.flatMap(_.stateOperators.headOption)
      .map(_.numRowsTotal)
    assert(totals.zip(totals.tail).forall { case (a, b) => b >= a },
      s"state row count regressed across batches: ${totals.toSeq}")
  }

  test("state-store provider matrix: results identical under the " +
      "HDFS-backed default and RocksDB (VERDICT r12 #6)") {
    // The deployment knob for 100 TB backlogs is
    // spark.sql.streaming.stateStore.providerClass → RocksDB
    // (off-heap + spill); it must be a pure performance choice.
    // Two stateful shapes — windowed agg (keyed state) and
    // stream-stream interval join (buffered-row state) — must
    // produce row-identical results under both providers.
    def run(provider: Option[String]): (Set[String], Set[String]) = {
      val (wc, progress) = drainProgress {
        StreamOps.drain(spark, dir, "complete", provider = provider) {
          StreamOps.windowedCounts(StreamOps.eventsStream(spark, dir))
        }.collect().map(_.toString).toSet
      }
      if (provider.isDefined) {
        // prove the provider actually engaged: RocksDB publishes
        // its own custom state metrics
        val keys = progress.last.stateOperators.head
          .customMetrics.keySet()
        assert(keys.stream().anyMatch(_.startsWith("rocksdb")),
          s"RocksDB provider not engaged; metrics: $keys")
      }
      val ij = StreamOps.drain(spark, dir, "append", provider = provider) {
        StreamOps.intervalJoin(StreamOps.eventsStream(spark, dir),
          StreamOps.eventsStream(spark, dir))
      }.collect().map(_.toString).toSet
      (wc, ij)
    }
    val (wH, jH) = run(None)
    val (wR, jR) = run(Some(StreamOps.RocksDbProvider))
    assert(wH.nonEmpty && wH == wR,
      s"windowed agg diverged across providers: ${wH.size} vs ${wR.size}")
    assert(jH.nonEmpty && jH == jR,
      s"interval join diverged across providers: ${jH.size} vs ${jR.size}")
  }

  private val partsKey = "spark.sql.shuffle.partitions"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  // explicitly-set values: getOption would surface the provider default
  private def sessionConfs = (spark.conf.get(partsKey),
    spark.conf.getAll.get(providerKey))
  private def tempViews(prefix: String) = spark.catalog.listTables()
    .collect().filter(t => t.isTemporary && t.name.startsWith(prefix))
    .map(_.name).toSeq

  test("drain: floor and provider reach the stream, not the session") {
    val before = sessionConfs
    assert(before._1 == "4", "TestSpark runs 4 shuffle partitions")
    // (state partitions, state metric names, session confs seen meanwhile)
    val seen =
      new ConcurrentLinkedQueue[(Long, Set[String], (String, Option[String]))]()
    val out = observeDrain { p =>
      p.stateOperators.headOption.foreach { op =>
        seen.add((op.numShufflePartitions,
          op.customMetrics.keySet.asScala.toSet, sessionConfs))
      }
    } {
      StreamOps.drain(spark, dir, "complete", floor = 8,
          provider = Some(StreamOps.RocksDbProvider)) {
        StreamOps.windowedCounts(StreamOps.eventsStream(spark, dir))
      }
    }
    // the dropped sink view does not lose the rows, and the read
    // keeps the floor-4 sink coalesce
    assert(out.agg(sum("n")).collect()(0).getLong(0) ==
      Tables.events(spark, dir).count())
    assert(out.rdd.getNumPartitions == 4)
    val progress = seen.asScala.toSeq
    assert(progress.nonEmpty, "no progress reached the caller's listener")
    progress.foreach { case (parts, metrics, confs) =>
      assert(parts == 8, s"state partitions $parts, want floor 8")
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"RocksDB provider not engaged; metrics: $metrics")
      assert(confs == before,
        s"session conf $confs changed while the stream ran")
    }
    assert(sessionConfs == before, "drain leaked a conf")
    assert(tempViews("graft_drain_").isEmpty, "drain left its sink view")
  }

  test("drained catalog streams leave no graft_* view or conf change") {
    // views other catalog queries registered earlier in this session
    tempViews("graft_").foreach(spark.catalog.dropTempView)
    val before = sessionConfs
    for (q <- Seq("q47_stream_tumbling", "q256_stream_upsert",
        "q341_stream_tws"))
      assert(SparkEntry.queries(q)(spark, dir).collect().nonEmpty, q)
    assert(tempViews("graft_").isEmpty,
      s"temp views left behind: ${tempViews("graft_")}")
    assert(sessionConfs == before, "a stream query leaked a conf")
  }
}
