package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("windowedCounts: streaming result equals the batch equivalent") {
    val stream = StreamOps.eventsStream(spark, dir)
    val q = StreamOps.runToMemory(
      StreamOps.windowedCounts(stream), "wc", OutputMode.Complete())
    try {
      val streamed = spark.table("wc")
        .agg(sum("n"), count(lit(1))).collect()(0)
      val batch = Tables.events(spark, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .agg(sum("n"), count(lit(1))).collect()(0)
      assert(streamed.getLong(0) == batch.getLong(0)) // total events
      assert(streamed.getLong(1) == batch.getLong(1)) // distinct windows
    } finally q.stop()
  }

  test("slidingCounts: streaming equals the batch sliding windows " +
      "row-for-row") {
    val stream = StreamOps.eventsStream(spark, dir)
    val q = StreamOps.runToMemory(
      StreamOps.slidingCounts(stream), "sw", OutputMode.Complete())
    try {
      val streamed = spark.table("sw")
        .collect().map(r => (r.getTimestamp(0), r.getString(1),
          r.getLong(2))).toSet
      val batch = Tables.events(spark, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1),
          r.getLong(2))).toSet
      assert(streamed == batch)
      // every event lands in exactly window/slide = 2 windows
      val total = spark.table("sw")
        .agg(sum("n")).collect()(0).getLong(0)
      assert(total == 2 * Tables.events(spark, dir).count())
    } finally q.stop()
  }

  test("dedupedEvents: duplicates within the watermark collapse") {
    // fold event ids onto 50 values → guaranteed duplicates
    val stream = StreamOps.eventsStream(spark, dir)
      .withColumn("event_id", col("event_id") % 50)
    val q = StreamOps.runToMemory(
      StreamOps.dedupedEvents(stream), "dedup", OutputMode.Append())
    try {
      val streamed = spark.table("dedup").count()
      val batchDistinct = Tables.events(spark, dir)
        .select((col("event_id") % 50).as("id")).distinct().count()
      assert(streamed == batchDistinct)
    } finally q.stop()
  }

  test("dedupAgainstStaticIndex: streamed batch drops indexed and " +
      "in-run duplicates, matches the batch incremental dedup") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_ssd").toString
    // "new batch" parquet to stream: 10 is an indexed dup, 12 an
    // in-batch dup of 11, 13 fresh
    val batch = Seq(
      (10L, "the quick brown fox"),
      (11L, "a genuinely new document"),
      (12L, "a genuinely new document"),
      (13L, "another fresh one")).toDF("doc_id", "text")
    batch.coalesce(1).write.parquet(s"$base/in")
    val index = Seq((1L, "the quick brown fox")).toDF("doc_id", "text")
      .select(graft.text.TextOps.fingerprint(col("text")).as("fingerprint"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(s"$base/in")
      .withColumn("fingerprint",
        graft.text.TextOps.fingerprint(col("text")))
    val q = StreamOps.runToMemory(
      StreamOps.dedupAgainstStaticIndex(stream, index), "ssd",
      OutputMode.Append())
    try {
      val got = spark.table("ssd").select("doc_id")
        .as[Long].collect().sorted.toSeq
      // keep-ONE per fresh fingerprint (11 or 12, whichever batch
      // order admits), plus 13; the indexed dup 10 is gone
      assert(got.length == 2 && got.contains(13L) &&
        (got.contains(11L) || got.contains(12L)) && !got.contains(10L))
      // agrees with the batch operator on surviving fingerprints
      val (surv, _) = graft.dedup.Incremental.dedupAgainstIndex(
        batch, "doc_id", "text",
        index.withColumn("keep_id", lit(1L)))
      val batchFps = surv.select("fingerprint").as[String]
        .collect().toSet
      val streamFps = spark.table("ssd").select("fingerprint")
        .as[String].collect().toSet
      assert(streamFps == batchFps)
    } finally q.stop()
  }

  test("intervalJoin: stream-stream result equals the batch range join") {
    val q = StreamOps.runToMemory(
      StreamOps.intervalJoin(
        StreamOps.eventsStream(spark, dir),
        StreamOps.eventsStream(spark, dir), withinMinutes = 5),
      "ij", OutputMode.Append())
    try {
      val streamed = spark.table("ij")
        .select(col("l_id"), col("r_id")).collect()
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
    } finally q.stop()
  }

  test("intervalJoinLeftOuter: matches equal the inner join; null rows " +
      "are exactly the unmatched lefts past the watermark horizon") {
    val q = StreamOps.runToMemory(
      StreamOps.intervalJoin(
        StreamOps.eventsStream(spark, dir),
        StreamOps.eventsStream(spark, dir), withinMinutes = 5,
        joinType = "leftOuter"),
      "ijl", OutputMode.Append())
    try {
      val rows = spark.table("ijl").collect()
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
    } finally q.stop()
  }

  test("intervalJoinFullOuter: matched == inner join; left nulls == " +
      "the left-outer join's; right nulls are the unmatched rights " +
      "past the (asymmetric) right horizon") {
    val q = StreamOps.runToMemory(
      StreamOps.intervalJoin(
        StreamOps.eventsStream(spark, dir),
        StreamOps.eventsStream(spark, dir), withinMinutes = 5,
        joinType = "fullOuter"),
      "ijf", OutputMode.Append())
    try {
      val rows = spark.table("ijf").collect()
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
    } finally q.stop()
  }

  test("streamToSink: micro-batches append through the Sink trait") {
    val out = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val stream = StreamOps.eventsStream(spark, dir)
      .withColumn("event_id", col("event_id") % 50)
    val q = StreamOps.streamToSink(
      StreamOps.dedupedEvents(stream),
      new graft.sources.ParquetSink(out), "events_dedup")
    try q.processAllAvailable() finally q.stop()
    val written = spark.read.parquet(s"$out/events_dedup").count()
    val batchDistinct = Tables.events(spark, dir)
      .select((col("event_id") % 50).as("id")).distinct().count()
    assert(written == batchDistinct)
  }

  test("sessionizeStream: completed sessions match batch sessionization") {
    val stream = StreamOps.eventsStream(spark, dir)
    val q = StreamOps.runToMemory(
      StreamOps.sessionizeStream(stream), "sess", OutputMode.Append())
    try {
      val streamed = spark.table("sess")
        .select("user_id", "n_events").collect()
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
    } finally q.stop()
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

  test("runningUserCounts: stateful counts accumulate per user") {
    val stream = StreamOps.eventsStream(spark, dir)
    val q = StreamOps.runToMemory(
      StreamOps.runningUserCounts(stream), "ruc", OutputMode.Update())
    try {
      val total = spark.table("ruc")
        .groupBy("user_id").agg(max("n_events").as("n"))
        .agg(sum("n")).collect()(0).getLong(0)
      val batch = Tables.events(spark, dir).count()
      assert(total == batch)
    } finally q.stop()
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
    def run(sinkName: String): Map[Long, Long] = {
      val q = StreamOps.runToMemory(
        StreamOps.lwwUpsert(StreamOps.eventsStream(spark, dir)),
        sinkName, OutputMode.Update())
      try {
        q // awaitTermination happens inside runToMemory
        spark.table(sinkName)
          .groupBy("user_id")
          .agg(max(struct(col("ts_us"), col("last_event_id")))
            .as("m"))
          .select(col("user_id"), col("m.last_event_id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally q.stop()
    }
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
    val hdfsBacked = run("lww_default")
    assert(hdfsBacked == batch,
      "streaming LWW state must equal the batch argmax")
    // the production state-store backend: same answer, different
    // provider — proves the state serde round-trips through RocksDB
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val rocks = run("lww_rocksdb")
      assert(rocks == batch,
        "RocksDB-backed state must produce the identical LWW table")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
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
    val stream = graft.Tables.normalizeEventTs(spark.readStream
      .schema(spark.read.parquet(s"$base/in/f0").schema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in/*"))
    val q = StreamOps.runToMemory(
      StreamOps.runningUserCounts(stream), "sinit", OutputMode.Update())
    try {
      val progress = q.recentProgress.filter(_.numInputRows > 0)
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
    } finally q.stop()
  }

  test("state-store provider matrix: results identical under the " +
      "HDFS-backed default and RocksDB (VERDICT r12 #6)") {
    // The deployment knob for 100 TB backlogs is
    // spark.sql.streaming.stateStore.providerClass → RocksDB
    // (off-heap + spill); it must be a pure performance choice.
    // Two stateful shapes — windowed agg (keyed state) and
    // stream-stream interval join (buffered-row state) — must
    // produce row-identical results under both providers.
    val pKey = "spark.sql.streaming.stateStore.providerClass"
    def run(tag: String, rocks: Boolean): (Set[String], Set[String]) = {
      if (rocks) spark.conf.set(pKey, StreamOps.RocksDbProvider)
      try {
        val wq = StreamOps.runToMemory(
          StreamOps.windowedCounts(StreamOps.eventsStream(spark, dir)),
          s"pm_wc_$tag", OutputMode.Complete())
        val jq = StreamOps.runToMemory(
          StreamOps.intervalJoin(StreamOps.eventsStream(spark, dir),
            StreamOps.eventsStream(spark, dir)),
          s"pm_ij_$tag", OutputMode.Append())
        try {
          if (rocks) {
            // prove the provider actually engaged: RocksDB publishes
            // its own custom state metrics
            val keys = wq.lastProgress.stateOperators.head
              .customMetrics.keySet()
            assert(keys.stream().anyMatch(_.startsWith("rocksdb")),
              s"RocksDB provider not engaged; metrics: $keys")
          }
          (spark.table(s"pm_wc_$tag").collect().map(_.toString).toSet,
            spark.table(s"pm_ij_$tag").collect().map(_.toString).toSet)
        } finally { wq.stop(); jq.stop() }
      } finally if (rocks) spark.conf.unset(pKey)
    }
    val (wH, jH) = run("hdfs", rocks = false)
    val (wR, jR) = run("rocks", rocks = true)
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
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val before = sessionConfs
    assert(before._1 == "4", "TestSpark runs 4 shuffle partitions")
    // (state partitions, state metric names, session confs seen meanwhile)
    val seen =
      new ConcurrentLinkedQueue[(Long, Set[String], (String, Option[String]))]()
    val terminated = new CountDownLatch(1)
    // only the drain's own query: earlier specs' stopped queries may
    // still have events on the bus
    val drains = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name.startsWith("graft_drain_")) drains.add(e.id)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (drains.contains(e.progress.id))
          e.progress.stateOperators.headOption.foreach { op =>
            seen.add((op.numShufflePartitions,
              op.customMetrics.keySet.asScala.toSet, sessionConfs))
          }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (drains.contains(e.id)) terminated.countDown()
    }
    spark.streams.addListener(listener)
    try {
      val out = StreamOps.drain(spark, dir, "complete", floor = 8,
          provider = Some(StreamOps.RocksDbProvider)) {
        StreamOps.windowedCounts(StreamOps.eventsStream(spark, dir))
      }
      assert(terminated.await(60, TimeUnit.SECONDS),
        "the caller's listener never saw the drain terminate")
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
    } finally spark.streams.removeListener(listener)
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
