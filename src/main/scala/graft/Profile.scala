package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Dev diagnostics, not part of the driver contract. Usage:
  *   graft.Profile <mode> [arg ...]
  * against SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture) at
  * local[SPARK_GRAFT_CPUS] (default 32). Modes:
  *  - `q <query>...`: per-query wall, cache-cold, run 1 and run 2,
  *    with the max task of each run;
  *  - `qstage <query>...`: the warm run's job count, driver gap and
  *    per-stage task time, max task and shuffle volume;
  *  - `explain <outDir> <suffix> <query>...`: executes each query,
  *    then writes its AQE-final formatted plan (the plan PlanAuditSpec
  *    gates) to `<outDir>/<query>_<suffix>.txt`;
  *  - `graph-zipf [tier...]` / `text-skew [tier...]`: power-law skew
  *    probes for the graph and the shingle-keyed text families;
  *  - `taxi-year [rows]`: a synthetic reference-scale taxi year
  *    through the full TaxiPipeline (checked by
  *    tools/check_taxi_year.py);
  *  - `rich-fixture [outDir]`: the de-saturated documents/events
  *    fixture (run by tools/rich_gate.sh).
  */
object Profile {

  val modes: Seq[String] = Seq("q", "qstage", "explain", "graph-zipf",
    "text-skew", "taxi-year", "rich-fixture")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    // checked before a session exists: a bad mode builds nothing
    require(modes.contains(mode),
      s"usage: Profile <mode> [arg ...] with mode one of " +
        s"${modes.mkString(", ")}; got '$mode'")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try mode match {
      case "q" => timeQueries(spark, sfDir, args)
      case "qstage" => stageQueries(spark, sfDir, args)
      case "explain" => explain(spark, sfDir, args)
      case "graph-zipf" => graphZipf(spark, args)
      case "text-skew" => textSkew(spark, args)
      case "taxi-year" => taxiYear(spark, args)
      case "rich-fixture" => richFixture(spark, args)
    } finally spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timeQueries(spark: SparkSession, sfDir: String,
      args: Array[String]): Unit = {
    // time individual catalog queries by name, cache-cold min-of-2
    // (same measurement discipline as Bench, without the full
    // sweep), with max-task attribution so single-task-straggler
    // shares are visible per run
    val maxTask = new AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        maxTask.accumulateAndGet(t.taskInfo.duration, math.max)
    }
    spark.sparkContext.addSparkListener(listener)
    try args.drop(1).foreach { name =>
      (1 to 2).foreach { i =>
        Caching.releaseAll()
        spark.catalog.clearCache()
        maxTask.set(0)
        val t0 = System.nanoTime()
        noop(SparkEntry.queries(name)(spark, sfDir))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $name%-40s run$i $sec%8.3f s " +
          f"max_task=${maxTask.get / 1e3}%7.3f s")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def stageQueries(spark: SparkSession, sfDir: String,
      args: Array[String]): Unit = {
    // Per-stage attribution for arbitrary catalog queries: run each
    // named query twice cache-cold (run 2 is JVM-warm — the number
    // that matters) and print, for the warm run, every stage's
    // task-time total / max task / task count / shuffle volume plus
    // a job-count + driver-gap summary, so "where do the seconds
    // go" is answerable per operator instead of per query. Every
    // St field is written and read under the St's own lock.
    case class St(var name: String = "", var tasks: Int = 0,
      var taskMs: Long = 0, var maxMs: Long = 0,
      var srMB: Long = 0, var swMB: Long = 0, var rows: Long = 0)
    val stages = new ConcurrentHashMap[Int, St]()
    val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
    val jobStart = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val s = stages.computeIfAbsent(t.stageId, _ => St())
        s.synchronized {
          s.tasks += 1
          s.taskMs += t.taskInfo.duration
          s.maxMs = math.max(s.maxMs, t.taskInfo.duration)
          if (t.taskMetrics != null) {
            s.srMB += t.taskMetrics.shuffleReadMetrics.totalBytesRead
            s.swMB += t.taskMetrics.shuffleWriteMetrics.bytesWritten
            s.rows += t.taskMetrics.outputMetrics.recordsWritten
          }
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val s = stages.computeIfAbsent(sc.stageInfo.stageId, _ => St())
        // RDD scope names (the SQL operator tree feeding this
        // stage) — AQE submits stages from a thread pool, so the
        // callsite is useless; scopes carry the operator names
        val name = sc.stageInfo.rddInfos
          .flatMap(_.scope.map(_.name)).distinct.mkString("|").take(110)
        s.synchronized { s.name = name }
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = jobStart.getOrDefault(j.jobId, j.time)
        jobSpans.add((t0, j.time))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try args.drop(1).foreach { name =>
      (1 to 2).foreach { i =>
        Caching.releaseAll()
        spark.catalog.clearCache()
        stages.clear(); jobSpans.clear(); jobStart.clear()
        val t0 = System.nanoTime()
        noop(SparkEntry.queries(name)(spark, sfDir))
        val sec = (System.nanoTime() - t0) / 1e9
        if (i == 2) {
          // wall not covered by any running job ≈ driver-side work
          // (planning, codegen, collect gaps between jobs)
          val spans = jobSpans.asScala.toSeq.sortBy(_._1)
          var covered = 0L; var hi = 0L
          spans.foreach { case (s, e) =>
            val s2 = math.max(s, hi)
            if (e > s2) { covered += e - s2; hi = e }
            else hi = math.max(hi, e)
          }
          val wallMs = (sec * 1000).toLong
          println(f"[profile] $name%-34s $sec%8.3f s " +
            f"jobs=${spans.size}%3d job_wall=${covered / 1e3}%7.3f s " +
            f"driver_gap=${(wallMs - covered) / 1e3}%7.3f s")
          stages.asScala.toSeq.map { case (sid, s) =>
              sid -> s.synchronized(s.copy())
            }.sortBy(-_._2.taskMs).take(14).foreach {
            case (sid, s) => println(
              f"[profile]   stage $sid%4d task_ms=${s.taskMs}%7d " +
                f"n=${s.tasks}%4d max=${s.maxMs}%6d " +
                f"sr=${s.srMB / (1 << 20)}%5dMB sw=${s.swMB / (1 << 20)}%5dMB " +
                s"${s.name}")
          }
        } else println(f"[profile] $name%-34s run1 $sec%8.3f s")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def explain(spark: SparkSession, sfDir: String,
      args: Array[String]): Unit = {
    // before/after plan evidence for optimization rounds
    // (plans/rNN/<query>_{before,after}.txt). Each query is collected
    // first so AQE finalizes: the dump then shows isFinalPlan=true,
    // the same physical plan PlanAuditSpec asserts against.
    require(args.length >= 4,
      "usage: Profile explain <outDir> <suffix> <query>...")
    val bad = args.drop(3).filterNot(SparkEntry.queries.contains)
    require(bad.isEmpty, s"unknown queries: ${bad.mkString(", ")}")
    val outDir = args(1)
    val suffix = args(2)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    args.drop(3).foreach { name =>
      Caching.releaseAll()
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[profile] explained $name -> $outDir/${name}_$suffix.txt")
    }
    Caching.releaseAll()
  }

  /** The skew modes' shared probe. A stage listener records the max
    * task, shuffle-write bytes and, per stage, the slowest task's
    * records; `apply(label, volume)(consume)` evaluates `volume`
    * untimed, then times `consume` cache-cold and prints the wall,
    * max task and shuffle MB next to the volume driver, followed by
    * the three stages with the slowest task. When the env var
    * `onlyEnv` holds a comma list, only labels containing one of its
    * entries run. */
  private final class SkewProbe(spark: SparkSession, onlyEnv: String) {
    private val only = sys.env.get(onlyEnv)
      .map(_.split(",").map(_.trim).toSeq)
    private val maxTask = new AtomicLong(0)
    private val shufBytes = new AtomicLong(0)
    private val stageMax = new ConcurrentHashMap[Int, Long]()
    private val stageSlow = new ConcurrentHashMap[Int, String]()
    private val stageInfo = new ConcurrentHashMap[Int, String]()
    private val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        maxTask.accumulateAndGet(t.taskInfo.duration, math.max)
        shufBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        stageMax.merge(t.stageId, t.taskInfo.duration,
          (a, b) => math.max(a, b))
        // records read/written by the stage's SLOWEST task — the
        // straggler-diagnosis signal (is the slow task slow because
        // it processed more, or slow at the same load?)
        if (t.taskInfo.duration >= stageMax.getOrDefault(t.stageId, 0L))
          stageSlow.put(t.stageId,
            s"slowtask_sr=${t.taskMetrics.shuffleReadMetrics.recordsRead} " +
              s"sw=${t.taskMetrics.shuffleWriteMetrics.recordsWritten} " +
              s"spill=${t.taskMetrics.memoryBytesSpilled / (1 << 20)}MB " +
              s"gc=${t.taskMetrics.jvmGCTime}ms")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        stageInfo.put(s.stageInfo.stageId,
          s"tasks=${s.stageInfo.numTasks} " +
            s"sr=${m.shuffleReadMetrics.recordsRead} " +
            s"sw=${m.shuffleWriteMetrics.recordsWritten} " +
            s"spill=${m.memoryBytesSpilled / (1 << 20)}MB " +
            stageSlow.getOrDefault(s.stageInfo.stageId, ""))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def apply(label: String, volume: => Long)(consume: => Long): Unit =
      if (only.forall(_.exists(label.contains))) {
        // volume runs BEFORE the stage maps are cleared so its job's
        // stages never pollute the consume pass's top-3 attribution
        val vol = volume
        Caching.releaseAll(); spark.catalog.clearCache()
        maxTask.set(0); shufBytes.set(0)
        stageMax.clear(); stageSlow.clear(); stageInfo.clear()
        val t0 = System.nanoTime()
        val out = consume
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $label%-30s vol=${vol}%12d out=$out%12d " +
          f"$sec%8.3f s max_task=${maxTask.get / 1e3}%7.3f s " +
          f"shuf=${shufBytes.get / (1 << 20)}%6d MB")
        stageMax.asScala.toSeq.sortBy(-_._2).take(3).foreach {
          case (sid, ms) => println(
            f"[profile]   stage $sid%4d max_task=${ms / 1e3}%8.3f s " +
              stageInfo.getOrDefault(sid, ""))
        }
      }

    def close(): Unit = spark.sparkContext.removeSparkListener(listener)
  }

  private def graphZipf(spark: SparkSession, args: Array[String]): Unit = {
    // 100× SKEWED graph probe (VERDICT r10 #5, the r9 #6
    // remainder): a power-law replica generator — not disjoint
    // uniform replicas, not one planted bucket — driving the graph
    // structures at 1×/10×/100× volume. Two Zipf surfaces:
    //  (a) bucket-size-skewed occurrences → the chunked pair
    //      generation (q196/q184/q243/q267's shared upstream);
    //  (b) degree-skewed edges → exact wedge expansion (q196
    //      core), HLL reach (q346 core), label propagation (q243),
    //      k-core peel (q267), oriented triangles (q184).
    // Every timing prints ITS honest volume driver (pairs, wedges,
    // edges) next to wall + max-task: the linearity claim is
    // time-vs-volume, and the straggler claim is max-task share.
    // Usage: Profile graph-zipf [tier ...]   (default 1 10 100)
    val tiers = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(1, 10, 100)
    def u(salt: Int) =
      pmod(xxhash64(col("id"), lit(salt)), lit(1000000L))
        .cast("double") / lit(1000000.0)
    val probe = new SkewProbe(spark, "SPARK_GRAFT_GZ_ONLY")
    try {
      for (k <- tiers) {
        // shuffle parallelism grows with the tier, as on a real
        // cluster (the SURVEY §15.2 hot-bucket lesson: fixed-32
        // partitions build tier-sized partial-agg maps per task)
        spark.conf.set("spark.sql.shuffle.partitions",
          math.min(512, math.max(32, 8 * k)).toString)
        val dir = graft.sources.ScratchDirs.register(
          s"${System.getProperty("java.io.tmpdir")}/graft_zipf_" +
            s"${k}_" + ProcessHandle.current().pid())
        // (a) occurrences with Zipf bucket sizes: bucket = ⌊B·u²⌋
        // gives s_b ∝ 1/√(bB) — hot bucket ≈ rows/√B members, pair
        // volume ≈ rows²·lnB/4B, a full spectrum of bucket sizes
        val occRows = 200000L * k
        val nb = 20000L * k
        val nUsers = 10000L * k
        spark.range(occRows).select(
            (u(1) * u(1) * lit(nb.toDouble)).cast("long").as("b"),
            (u(2) * lit(nUsers.toDouble)).cast("long").as("user"))
          .distinct()
          .write.mode("overwrite").parquet(s"$dir/occ")
        val occ = spark.read.parquet(s"$dir/occ")
        probe(s"zipf ${k}x pairgen", {
          // honest driver: Σ s·(s−1)/2 over bucket sizes
          occ.groupBy(col("b")).agg(count(lit(1)).as("s"))
            .agg((sum(col("s") * (col("s") - 1)) / 2).cast("long"))
            .collect()(0).getLong(0)
        }) {
          ops.Graph.cooccurPairCounts(occ, Seq("b"), "user")
            .agg(count(lit(1))).collect()(0).getLong(0)
        }
        // (b) degree-skewed edges: endpoint = ⌊n·u²⌋ → deg ∝ 1/√id,
        // hubs at low ids (deg_0 ≈ 2m/√n before partner dedup)
        val m = 100000L * k
        val n = 10000L * k
        spark.range(m).select(
            (u(3) * u(3) * lit(n.toDouble)).cast("long").as("a"),
            (u(4) * u(4) * lit(n.toDouble)).cast("long").as("bb"))
          .filter(col("a") =!= col("bb"))
          .select(least(col("a"), col("bb")).as("u"),
            greatest(col("a"), col("bb")).as("v"))
          .distinct()
          .write.mode("overwrite").parquet(s"$dir/edges")
        val e = spark.read.parquet(s"$dir/edges")
        val ee = e.select(col("u"), col("v"))
          .unionByName(e.select(col("v").as("u"), col("u").as("v")))
        val edgeCount = e.count()
        lazy val wedges = ee.groupBy(col("u"))
          .agg(count(lit(1)).as("d"))
          .agg(sum(col("d") * (col("d") - 1))).collect()(0)
          .getLong(0)
        // the NAIVE wedge join (q196's original two-hop) is probed
        // only below 100×: its single-task hub tail is the finding
        // (193 s of a 212 s run at 10×), and at 100× that one task
        // alone would run ~45 min to re-prove it
        if (k < 100) probe(s"zipf ${k}x 2hop naive", wedges) {
          val two = ee.as("a").join(ee.as("b"),
              col("a.v") === col("b.u") && col("a.u") =!= col("b.v"))
            .select(col("a.u").as("src"), col("b.v").as("dst"))
          ee.select(col("u").as("src"), col("v").as("dst"))
            .unionByName(two).distinct()
            .groupBy(col("src")).agg(count(lit(1)).as("r"))
            .agg(sum(col("r"))).collect()(0).getLong(0)
        }
        probe(s"zipf ${k}x 2hop chunked", wedges) {
          // same exact result through the CHUNKED pair machinery:
          // middle node = bucket, neighbors = members — a hub's
          // deg² expansion spreads across tasks (rank-slice chunks)
          // instead of landing on one join-key reducer, and the
          // (u,v) pair aggregation collapses wedge multiplicity
          // map-side before the reach distinct
          val pairs = ops.Graph.cooccurPairCounts(
            ee.select(col("u").as("b"), col("v").as("user")),
            Seq("b"), "user").select(col("u"), col("v"))
          val two = pairs.unionByName(
            pairs.select(col("v").as("u"), col("u").as("v")))
          ee.select(col("u").as("src"), col("v").as("dst"))
            .unionByName(two.select(col("u").as("src"),
              col("v").as("dst")))
            .distinct()
            .groupBy(col("src")).agg(count(lit(1)).as("r"))
            .agg(sum(col("r"))).collect()(0).getLong(0)
        }
        probe(s"zipf ${k}x 2hop bitmap", wedges) {
          // q196/q346's r16 exact shape: per-node neighbor bitmaps
          // shipped once per edge + per-node OR — same result as the
          // naive/chunked rows above, no Σdeg² pair stream. The skew
          // claim under test: a hub's OR work is linear in the BYTES
          // it receives (Σ_{v∈N(u)} |B(v)|), so max_task must stay a
          // bounded share as the tier grows (VERDICT r15 #5).
          import graft.functions.BitmapFunctions._
          graft.functions.GraftFunctions.register(spark)
          val np = spark.sessionState.conf.numShufflePartitions
          val s1 = ee.repartition(np, col("u")).groupBy(col("u"))
            .agg(bitmap64Agg(col("v")).as("bm"))
          val r = ee.join(s1.select(col("u").as("v"), col("bm"))
              .hint("shuffle_hash"), "v")
            .repartition(np, col("u"))
            .groupBy(col("u")).agg(bitmap64OrAgg(col("bm")).as("bm2"))
          s1.join(r, "u")
            .select((bitmap64UnionCard(col("bm"), col("bm2")) - lit(1L))
              .as("r"))
            .agg(sum(col("r"))).collect()(0).getLong(0)
        }
        probe(s"zipf ${k}x 2hop hll", edgeCount) {
          import graft.functions.SketchFunctions._
          val s1 = ee.groupBy(col("u")).agg(
            hll4Agg(col("v")).as("sk"))
          // repartition by u between join and union: the join output
          // is keyed by v, so a hub-v task would otherwise build a
          // partial-agg map over ~every u (KB sketch per entry —
          // measured 31 s max-task at 10×); partial agg on v-keyed
          // data collapses nothing anyway (each u is spread thin)
          val sk2 = ee.join(s1.select(col("u").as("v"), col("sk"))
              .hint("shuffle_hash"), "v")
            .repartition(spark.sessionState.conf.numShufflePartitions,
              col("u"))
            .groupBy(col("u")).agg(hll4UnionAgg(col("sk")).as("sk2"))
          s1.join(sk2, "u")
            .select((hll4Estimate(
              hll4Union(col("sk"), col("sk2"))) - 1L).as("r"))
            .agg(sum(col("r"))).collect()(0).getLong(0)
        }
        probe(s"zipf ${k}x 3hop anf", edgeCount) {
          // q356's sketch tier, GLOBAL (unsampled) form — the
          // dense-sketch regime the verdict asked to probe: round 3
          // ships every node's hop-2 sketch along every edge. The
          // shuf column is the honest volume driver here (KB-scale
          // saturated sketches × m edge ships); the structural claim
          // is O(h·m) bytes with no single-task tail — each round is
          // one edge join + repartition-by-node + union agg, the
          // q346 hub-safety shape. Two plan details matter exactly
          // when sketches are DENSE (measured at this probe's 100×
          // tier: 379 s wall / 174 s max-task without them):
          // shuffle_hash on the sketch side (SMJ would SORT the
          // KB-dense relation every round) and an explicit-count
          // repartition (AQE sizes the exchange read by the map-side
          // COMPRESSED bytes and coalesced to 89 ~GB-spill tasks).
          // r13: compact HLL_4 sketches (VERDICT r12 #5) — the probe
          // now measures the halved-wire encoding q346/q356 ship
          import graft.functions.SketchFunctions._
          val np = spark.sessionState.conf.numShufflePartitions
          val s1 = ee.groupBy(col("u")).agg(
            hll4Agg(col("v")).as("sk"))
          // (A co-partitioned-join variant — both join inputs
          // explicitly repartitioned at np — was measured WORSE:
          // 667 s clean vs 359 s for this shape; widening the join
          // stage splits its output across 512×512 shuffle files
          // and the downstream agg stage read the same bytes
          // slower. The 33-task join stage's 45 s max-task is
          // bytes-uniform, not skew.)
          def prop(prev: DataFrame) =
            ee.join(prev.select(col("u").as("v"), col("sk"))
                .hint("shuffle_hash"), "v")
              .repartition(np, col("u"))
              .groupBy(col("u")).agg(hll4UnionAgg(col("sk")).as("__nb"))
              .join(prev.hint("shuffle_hash"), "u")
              .select(col("u"),
                hll4Union(col("sk"), col("__nb")).as("sk"))
          val s3 = prop(prop(s1))
          s3.select((hll4Estimate(col("sk")) - 1L).as("r"))
            .agg(sum(col("r"))).collect()(0).getLong(0)
        }
        // DELTA/FRONTIER rows (VERDICT r13 #7, ops/Graph.anfSketches):
        // round h's frontier = "sketches that changed in round h-1",
        // which only collapses at rounds ≥ saturation+2. This graph
        // saturates at hop 4 (4hop out ≈ n² already), so hops ≤ 4
        // measure the OVERHEAD side (delta ships everything plus
        // change-tracking bytes) and hop 5 measures the payoff side
        // (round 5's frontier is ~empty — the dense-sketch round a
        // deep ANF dreads costs ~nothing). deltaFrom=99 = full
        // propagation through the same checkpointed machinery, so
        // the pairs are apples-to-apples.
        def anfOp(hops: Int, deltaFrom: Int): Long = {
          import graft.functions.SketchFunctions.hll4Estimate
          ops.Graph.anfSketches(ee, hops, deltaFrom)
            .select((hll4Estimate(col("sk")) - 1L).as("r"))
            .agg(sum(col("r"))).collect()(0).getLong(0)
        }
        probe(s"zipf ${k}x 3hop anf delta", edgeCount) { anfOp(3, 2) }
        if (k <= 10) {
          probe(s"zipf ${k}x 4hop anf", edgeCount) { anfOp(4, 99) }
          probe(s"zipf ${k}x 4hop anf delta", edgeCount) { anfOp(4, 2) }
          probe(s"zipf ${k}x 5hop anf", edgeCount) { anfOp(5, 99) }
          probe(s"zipf ${k}x 5hop anf delta", edgeCount) { anfOp(5, 4) }
        }
        probe(s"zipf ${k}x labelprop(3)", edgeCount) {
          ops.Graph.labelPropagation(e, 3)
            .agg(count_distinct(col("lbl"))).collect()(0).getLong(0)
        }
        probe(s"zipf ${k}x kcore(3,3)", edgeCount) {
          ops.Graph.kCoreProfile(e, 3, 3)
            .agg(sum(col("n_edges"))).collect()(0).getLong(0)
        }
        probe(s"zipf ${k}x triangles", edgeCount) {
          ops.Graph.triangleCounts(e)
            .agg(coalesce(sum(col("n_tri")), lit(0L))).collect()(0)
            .getLong(0)
        }
      }
    } finally probe.close()
  }

  private def textSkew(spark: SparkSession, args: Array[String]): Unit = {
    // Planted stop-shingle probe (VERDICT r11 #2): the graph-zipf
    // discipline applied to the SHINGLE-keyed text/dedup family.
    // Synthetic corpus at 1×/10× volume with three populations:
    //  - TEMPLATE CLUSTER (fixed 2,000 docs): one 40-token template
    //    with a single doc-dependent token perturbation (J≈0.92) —
    //    the boilerplate that concentrates LSH/simhash/prefix
    //    buckets into one hot (band,bucket) cell;
    //  - STOP-SHINGLE docs (fixed 14,000 — 70% of the 1× corpus):
    //    one planted 3-gram, the text analogue of the Zipf hub in
    //    the inverted shingle index (f²/2 ≈ 9.8e7 pairs from ONE
    //    shingle key — fixed ABSOLUTE df so its pair volume is a
    //    constant reference line across tiers, exactly like the
    //    zipf probe's honest volume drivers);
    //  - BACKGROUND (the remaining (20,000·k − 16,000) docs) over
    //    a vocabulary that grows with the tier (3,000·k words), so
    //    background bucket sizes stay Zipf-tail-shaped instead of
    //    saturating.
    // Every probe prints its honest volume driver (Σ s(s−1)/2 over
    // its own bucket relation) next to wall + max-task: linearity
    // is time-vs-volume, concentration is max-task share. The
    // NAIVE inverted-index self-join (q230's pre-r12 shape) is
    // probed at 1× only — its single-task hot-shingle tail is the
    // finding, re-proving it at 10× would be one ~100× longer task.
    // Usage: Profile text-skew [tier ...]   (default 1 10)
    val tiers = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(1, 10)
    graft.functions.GraftFunctions.register(spark)
    val probe = new SkewProbe(spark, "SPARK_GRAFT_TS_ONLY")
    try {
      // Σ s(s−1)/2 over a (bucket..., member) relation
      def pairVol(p: DataFrame, buckets: Seq[String]): Long =
        p.groupBy(buckets.map(col): _*).agg(count(lit(1)).as("s"))
          .agg(coalesce((sum(col("s") * (col("s") - 1)) / 2), lit(0))
            .cast("long"))
          .collect()(0).getLong(0)
      val tmplDocs = 2000L
      for (k <- tiers) {
        spark.conf.set("spark.sql.shuffle.partitions",
          math.min(512, math.max(32, 8 * k)).toString)
        val nDocs = 20000L * k
        val vocab = 3000L * k
        // hot-shingle df grows with √k so its pair volume (f²/2)
        // grows LINEARLY with the tier — the runnable scaling. A df
        // that stays 70% OF THE CORPUS is not a concentration
        // problem but a volume wall: at 10× it is 0.245·(2e5)² ≈
        // 1e10 pairs of exact OUTPUT, quadratic by definition of
        // containment — no plan shape removes it (the scale lever
        // there is semantic: df-capped screening, a different
        // operator). At 1× this still IS 70% of the corpus.
        val stopDocs = math.round(14000.0 * math.sqrt(k.toDouble))
        val dir = graft.sources.ScratchDirs.register(
          s"${System.getProperty("java.io.tmpdir")}/graft_textskew_" +
            s"${k}_" + ProcessHandle.current().pid())
        def word(j: org.apache.spark.sql.Column, salt: Int) =
          concat(lit("w"), pmod(
            xxhash64(col("id") * lit(41L) + j, lit(salt)),
            lit(vocab)).cast("string"))
        val bgToks = transform(sequence(lit(0L), lit(39L)),
          j => word(j, 7))
        val stopToks = transform(sequence(lit(0L), lit(39L)), j =>
          when(j === 10L, lit("sx")).when(j === 11L, lit("sy"))
            .when(j === 12L, lit("sz")).otherwise(word(j, 7)))
        val tmplToks = transform(sequence(lit(0L), lit(39L)), j =>
          when(j === pmod(col("id"), lit(40L)),
            concat(lit("p"), col("id").cast("string")))
            .otherwise(concat(lit("t"), j.cast("string"))))
        spark.range(nDocs)
          .select(col("id").as("doc_id"), concat_ws(" ",
            when(col("id") < tmplDocs, tmplToks)
              .when(col("id") < tmplDocs + stopDocs, stopToks)
              .otherwise(bgToks)).as("text"))
          .write.mode("overwrite").parquet(s"$dir/docs")
        val docs = spark.read.parquet(s"$dir/docs")
        // inverted 3-gram shingle index — the q230/q39 upstream
        val sh = docs
          .select(col("doc_id"),
            graft.text.TextOps.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"), explode(
            graft.text.TextOps.shingles(col("toks"), 3)).as("shingle"))
        // pair-volume-scaled reducer count for the containment
        // probes (the SURVEY §15.2 hot-bucket lesson: ~2M pairs/task
        // keeps the (u,v) partial-agg maps fixture-sized; at a fixed
        // 32 the 1.6e8-pair tier-1 relation builds 5M-entry maps per task
        // and spill-thrashes — on a real cluster this is just the
        // default-parallelism-scales-with-data operating point)
        val shVol = pairVol(sh, Seq("shingle"))
        spark.conf.set("spark.sql.shuffle.partitions",
          math.min(512L, math.max(32L, shVol / 2000000L)).toString)
        if (k == 1) probe(s"ts ${k}x containment naive", shVol) {
          val a = sh.select(col("doc_id").as("da"), col("shingle"))
          val b = sh.select(col("doc_id").as("db"), col("shingle"))
          a.join(b, Seq("shingle")).filter(col("da") < col("db"))
            .groupBy(col("da"), col("db"))
            .agg(count(lit(1)).as("common"))
            .agg(count(lit(1))).collect()(0).getLong(0)
        }
        // the RAW chunked containment is gated to ≤10×: at 100× the
        // stop-shingle's pair volume is ~1e10 EXACT OUTPUT pairs —
        // quadratic by the definition of containment, no plan shape
        // removes it (hours of honest work, not a skew finding). The
        // 100× row for this family is the df-capped screen below:
        // the semantic lever a 70%-df boilerplate regime deploys.
        if (k <= 10) probe(s"ts ${k}x containment chunked", shVol) {
          ops.Graph.cooccurPairCounts(sh, Seq("shingle"), "doc_id",
              cacheGroups = true)
            .agg(count(lit(1))).collect()(0).getLong(0)
        }
        // q359's deployment shape: candidate volume bounded BY
        // CONSTRUCTION to cap·|kept postings| — the planted stop
        // shingle (df 14k·√k) and the 2,000-doc template grams are
        // screened out by the df band, so this must stay LINEAR in
        // the tier right through 100× at the default 8 GB heap
        def dfKept = {
          val keep = sh.groupBy(col("shingle"))
            .agg(count(lit(1)).as("__df"))
            .filter(col("__df") >= 2 && col("__df") <= 8)
            .select(col("shingle"))
          sh.join(keep, "shingle")
        }
        probe(s"ts ${k}x containment dfcap (q359)",
            pairVol(dfKept, Seq("shingle"))) {
          ops.Graph.cooccurPairCounts(dfKept, Seq("shingle"), "doc_id")
            .agg(count(lit(1))).collect()(0).getLong(0)
        }
        spark.conf.set("spark.sql.shuffle.partitions",
          math.min(512, math.max(32, 8 * k)).toString)
        probe(s"ts ${k}x minhash lsh (q30)", {
          // the banded bucket relation this op actually shuffles
          val banded = graft.dedup.Dedup
            .hashedShingles(docs, "doc_id", "text", 3)
            .select(col("__id"), posexplode(
              graft.functions.GraftFunctions.minhashBuckets(
                col("__hs"), 128, 64)).as(Seq("band", "bucket")))
          pairVol(banded, Seq("band", "bucket"))
        }) {
          graft.dedup.Dedup
            .minhashNearDupPairs(docs, "doc_id", "text", 0.6)
            .agg(count(lit(1))).collect()(0).getLong(0)
        }
        probe(s"ts ${k}x simhash (q31)", nDocs) {
          graft.dedup.Dedup
            .simhashNearDupPairs(docs, "doc_id", "text")
            .agg(count(lit(1))).collect()(0).getLong(0)
        }
        probe(s"ts ${k}x prefix-filter (q156)", {
          graft.dedup.Dedup.prefixCandidatesOf(
            graft.dedup.Dedup.hashedShingles(docs, "doc_id", "text", 3)
              .select(col("__id"), col("__hs")), 0.8)
            .agg(count(lit(1))).collect()(0).getLong(0)
        }) {
          graft.dedup.Dedup
            .prefixFilterJaccardPairs(docs, "doc_id", "text", 0.8)
            .agg(count(lit(1))).collect()(0).getLong(0)
        }
        if (k == 1) probe(s"ts ${k}x exact jaccard (q39)",
          nDocs * (nDocs - 1) / 2) {
          graft.dedup.Dedup
            .exactJaccardPairs(docs, "doc_id", "text", 0.6)
            .agg(count(lit(1))).collect()(0).getLong(0)
        }
        probe(s"ts ${k}x chunk dedup (q349)", nDocs) {
          // q349's core: md5 fingerprint per 32-token window,
          // hash-groupBy — a hot boilerplate chunk is partial-agg
          // safe by construction (counts collapse map-side)
          docs.select(col("doc_id"),
              graft.text.TextOps.tokens(col("text")).as("toks"))
            .select(col("doc_id"), explode(sequence(lit(0),
              floor((size(col("toks")) - 1) / 24).cast("int")))
              .as("ci"), col("toks"))
            .select(col("doc_id"), md5(concat_ws(" ",
              slice(col("toks"), col("ci") * 24 + 1, lit(32))))
              .as("fp"))
            .groupBy(col("fp"))
            .agg(count(lit(1)).as("n"))
            .filter(col("n") > 1)
            .agg(count(lit(1))).collect()(0).getLong(0)
        }
        probe(s"ts ${k}x dup spans (q79)", nDocs) {
          // q79's core: dup-gram count (partial-agg) + broadcast
          // semi join + per-doc island windows — a stop 16-gram
          // only bumps one count map-side
          val grams = docs
            .select(col("doc_id"),
              graft.text.TextOps.tokens(col("text")).as("toks"))
            .filter(size(col("toks")) >= 16)
            .select(col("doc_id"), posexplode(
              graft.functions.GraftFunctions.gramHashes(
                col("toks"), 16)).as(Seq("pos", "gh")))
          val dup = grams.groupBy(col("gh"))
            .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
            .select(col("gh"))
          grams.join(broadcast(dup), Seq("gh"))
            .agg(count(lit(1))).collect()(0).getLong(0)
        }
        probe(s"ts ${k}x dup span removal (q360)", nDocs) {
          // q360's core: keep-first via map-side-partial
          // min(struct(doc_id,pos)) + the UN-HINTED dup join (AQE
          // owns broadcast-vs-shuffle; VERDICT r13 #1) + per-doc
          // island merge. The template cluster makes dup a real
          // relation here; max-task must stay bounded.
          import org.apache.spark.sql.expressions.Window
          val grams = docs
            .select(col("doc_id"),
              graft.text.TextOps.tokens(col("text")).as("toks"))
            .filter(size(col("toks")) >= 16)
            .select(col("doc_id"), posexplode(
              graft.functions.GraftFunctions.gramHashes(
                col("toks"), 16)).as(Seq("pos0", "gh")))
            .select(col("doc_id"),
              (col("pos0") + 1).cast("long").as("pos"), col("gh"))
          val dup = grams.groupBy(col("gh"))
            .agg(count(lit(1)).as("cnt"),
              min(struct(col("doc_id"), col("pos"))).as("keep"))
            .filter(col("cnt") >= 2)
            .select(col("gh"), col("keep"))
          val hits = grams.join(dup, Seq("gh"))
            .filter(struct(col("doc_id"), col("pos")) =!= col("keep"))
            .select(col("doc_id"), col("pos"))
          val wPrev = Window.partitionBy(col("doc_id"))
            .orderBy(col("pos"))
            .rowsBetween(Window.unboundedPreceding, -1)
          val wRun = Window.partitionBy(col("doc_id"))
            .orderBy(col("pos"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          hits
            .withColumn("new_island",
              (col("pos") > coalesce(max(col("pos") + 15L).over(wPrev),
                lit(-1L))).cast("int"))
            .withColumn("island", sum(col("new_island")).over(wRun))
            .groupBy(col("doc_id"), col("island"))
            .agg(min(col("pos")).as("s"),
              (max(col("pos")) + 15L).as("e"))
            .agg(count(lit(1))).collect()(0).getLong(0)
        }
      }
    } finally probe.close()
  }

  private def richFixture(spark: SparkSession, args: Array[String]): Unit = {
    // De-saturated fixture for the overlap/coverage gates (VERDICT
    // r11 #3): the shipped documents fixture has a 31-word
    // vocabulary shared by every lang/source and events where every
    // user does every event_type (SURVEY §16.7) — so q222's source
    // overlaps and q351's audience intersections pass on DEGENERATE
    // set relations (≈100% overlap). This generator writes a
    // 100×-docs / 20×-events fixture where the gates have to earn
    // their semantics:
    //  - documents (50,000): token ids drawn u³-Zipf over a 60,000-
    //    type window PER SOURCE, windows offset 15,000 per source
    //    index — adjacent sources share 75% of their RANGES,
    //    distant ones 0%, and realized vocab overlap varies
    //    smoothly in between (never 0%/100%). The u³ tail gives
    //    Heaps-ish vocab growth and a real Zipf tier structure for
    //    q343; doc lengths 20-120 give q352 a non-trivial score
    //    distribution.
    //  - events (~200,000 / 2,000 users / 30 days): a user
    //    participates in event_type t only if hash(user,t) clears
    //    t's rate (70/50/35/25/15%), so per-(day,type) audiences
    //    are PARTIAL and pairwise intersections land strictly
    //    inside (0%, 100%). Per-(day,type) distinct users stay
    //    well under the theta-sketch exactness bound (4,096), so
    //    q351 remains hash-exact.
    // Usage: Profile rich-fixture [outDir]; then run Verify +
    // tools/check_oracle.py against outDir for
    // q222/q343/q351/q352 (and any other documents/events query).
    val out = if (args.length > 1) args(1)
      else s"${System.getProperty("java.io.tmpdir")}/graft_rich_fixture"
    val nDocs = 50000L
    def h(salt: Int, c: org.apache.spark.sql.Column*) =
      xxhash64((lit(salt) +: c): _*)
    val docBase = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        pmod(h(1, col("id")), lit(100L)).as("lm"),
        pmod(h(2, col("id")), lit(20L)).cast("int").as("srcIdx"),
        (pmod(h(3, col("id")), lit(101L)) + 20L).cast("int").as("len"))
      .select(col("doc_id"), col("srcIdx"), col("len"),
        when(col("lm") < 40, "en").when(col("lm") < 65, "de")
          .when(col("lm") < 80, "fr").when(col("lm") < 92, "es")
          .otherwise("ja").as("lang"))
    val toks = transform(sequence(lit(1L), col("len").cast("long")),
      j => {
        // u ∈ [0,1) from a 48-bit hash slice; rank = ⌊60000·u³⌋ —
        // power-law CDF P(rank < x) = (x/60000)^(1/3): a dense
        // Zipf head plus a long rare-type tail (Heaps growth).
        // 30% of positions draw instead from a SHARED 500-type
        // Zipf (the stopword layer): consecutive shared draws make
        // bigrams every source emits, so q222's source-overlap
        // jaccard lands strictly inside (0, 1) — without it the
        // per-source windows give ≈0 realized BIGRAM overlap
        // (measured: 3.5M tokens over (60k)² pair space), the
        // degeneracy just mirrored to the other end.
        val u = pmod(h(4, col("doc_id") * lit(131L) + j),
          lit(1L << 24)).cast("double") / lit((1L << 24).toDouble)
        val rank = floor(u * u * u * lit(60000.0)).cast("long")
        val cu = pmod(h(12, col("doc_id") * lit(131L) + j),
          lit(1L << 24)).cast("double") / lit((1L << 24).toDouble)
        when(pmod(h(13, col("doc_id") * lit(131L) + j), lit(10L)) < 3,
          concat(lit("c"),
            floor(cu * cu * lit(500.0)).cast("long").cast("string")))
          .otherwise(concat(lit("w"),
            (col("srcIdx").cast("long") * lit(15000L) + rank)
              .cast("string")))
      })
    val baseDocs = docBase
      .select(col("doc_id"),
        concat_ws(" ", toks).as("text"),
        col("lang"),
        concat(lit("src"), col("srcIdx").cast("string")).as("source"))
    // ---- PLANTED STREAMING-TIER SLICES (VERDICT r13 #6, the q361
    // designed-truth pattern): the base fixture's texts are all
    // unique, so q120's stream-vs-index anti-join never drops and
    // q144's contamination set is empty — both families pass on
    // DEGENERATE relations. Three planted document slices make
    // every state transition real (max doc_id becomes 51,699 ⇒
    // q120's mid boundary is 25,849; every copy source sits below
    // it, every planted id above):
    //  - 50000-50499 "dup_hist": exact text copies of base docs
    //    (id-50000)*40 < 20000 — the stream half re-delivers an
    //    INDEXED fingerprint, the anti-join must drop it;
    //  - 50500-50999 "dup_batch": 250 pairs of fresh duplicate
    //    texts entirely INSIDE the stream half — survive the
    //    anti-join, exercise the min(doc_id) keep fold;
    //  - 51000-51499 contamination: first 14 tokens copied from a
    //    bench doc (id%20==0) + unique filler ⇒ 12 shared 3-grams
    //    ≥ threshold 10, flagged; 51500-51699 copy only 8 tokens
    //    ⇒ 6 shared < 10, NOT flagged — the HAVING discriminates.
    // copy sources sit at id ≡ 1 (mod 40): NON-bench (q144's bench
    // set is id%20==0), so the dup_hist slice never doubles as an
    // accidental contamination plant
    val dupHist = baseDocs.filter(col("doc_id") % 40 === 1
        && col("doc_id") < 20000)
      .select(((col("doc_id") - 1) / 40 + 50000L).cast("long")
        .as("doc_id"),
        col("text"), lit("xx").as("lang"), lit("srcplant").as("source"))
    val dupBatch = spark.range(250)
      .select(col("id"))
      .withColumn("text", concat_ws(" ", transform(
        sequence(lit(0L), lit(29L)), j => concat(lit("pb"),
          col("id").cast("string"), lit("x"), j.cast("string")))))
      .select(explode(array(
          (col("id") * 2 + 50500L), (col("id") * 2 + 50501L)))
          .as("doc_id"),
        col("text"), lit("xx").as("lang"), lit("srcplant").as("source"))
    def contamPlant(ids: org.apache.spark.sql.DataFrame,
        keepToks: Int) = ids
      .withColumn("bsrc", pmod(col("id") * 20L + 20L, lit(40000L)))
      .join(baseDocs.select(col("doc_id").as("bsrc"),
        col("text").as("btext")), "bsrc")
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          concat_ws(" ", slice(split(col("btext"), " "), 1, keepToks)),
          concat_ws(" ", transform(sequence(lit(0L), lit(29L)),
            j => concat(lit("pf"), col("id").cast("string"),
              lit("y"), j.cast("string"))))).as("text"),
        lit("xx").as("lang"), lit("srcplant").as("source"))
    val contamHot = contamPlant(
      spark.range(51000L, 51500L).select(col("id")), 14)
    val contamCold = contamPlant(
      spark.range(51500L, 51700L).select(col("id")), 8)
    baseDocs
      .unionByName(dupHist).unionByName(dupBatch)
      .unionByName(contamHot).unionByName(contamCold)
      .withColumn("n_chars", length(col("text")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val nEvRaw = 500000L
    val rates = map(
      lit("view"), lit(70L), lit("click"), lit(50L),
      lit("purchase"), lit(35L), lit("share"), lit(25L),
      lit("refund"), lit(15L))
    val baseEv = spark.range(nEvRaw)
      .select(col("id").as("event_id"),
        pmod(h(5, col("id")), lit(2000L)).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase"),
          lit("share"), lit("refund")),
          (pmod(h(6, col("id")), lit(5L)) + 1).cast("int"))
          .as("event_type"),
        pmod(h(7, col("id")), lit(30L)).as("day"),
        pmod(h(8, col("id")), lit(86400000000L)).as("us_in_day"),
        (pmod(h(9, col("id")), lit(100000L)).cast("double") / 100.0)
          .as("value"))
      .filter(pmod(h(10, col("user_id"), col("event_type")), lit(100L))
        < element_at(rates, col("event_type")))
      .select(col("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          col("day") * lit(86400000000L) + col("us_in_day")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        concat(lit("{\"k\": "),
          pmod(h(11, col("event_id")), lit(100L)).cast("string"),
          lit("}")).as("props"))
    // ---- PLANTED STREAMING-TIER EVENT SLICES (VERDICT r13 #6):
    // base events land on random (day, µs) draws, so whether the
    // interval-join family's branches fire is fixture luck. Five
    // designed slices in a dedicated user range (base users are
    // 0..1999) pin every branch at every scale. All horizons are
    // relative to a planted ANCHOR at day 30 (beyond every base
    // draw), which is therefore max(ts) — the watermark the
    // left/full outer joins prove non-matches against (wm =
    // max − 2 h; a left needs l.ts+5min < wm provable, a right
    // only r.ts < wm):
    //  - anchor (user 10999, day 30): itself an unprovable
    //    singleton — absent from every null branch;
    //  - matched pairs (users 10000-10199, day 10): two events
    //    120 s apart ⇒ inner/left/full all emit the pair;
    //  - provable singletons (users 10200-10399, day 5): no
    //    partner ever ⇒ left-null in q347, left- AND right-null
    //    rows in q355;
    //  - late singletons (users 10400-10499, anchor − ~1 h):
    //    inside BOTH horizons ⇒ correctly absent everywhere (the
    //    "match still in flight" branch);
    //  - asymmetric singletons (users 10500-10549, just below
    //    anchor − 2 h): r.ts < wm but l.ts+5min > wm ⇒ q355 emits
    //    ONLY the right-null row, q347 emits nothing — the one
    //    branch that separates the two horizon rules.
    val anchorUs = 1704067200000000L + 30L * 86400000000L
    def plantedEv(ids: org.apache.spark.sql.Dataset[java.lang.Long],
        eid: org.apache.spark.sql.Column,
        user: org.apache.spark.sql.Column,
        tsUs: org.apache.spark.sql.Column) = ids
      .select(eid.as("event_id"), timestamp_micros(tsUs).as("ts"),
        user.as("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), lit("{\"k\": 0}").as("props"))
    val day5 = 1704067200000000L + 5L * 86400000000L
    val day10 = 1704067200000000L + 10L * 86400000000L
    val plants = Seq(
      plantedEv(spark.range(1), lit(1000000L), lit(10999L),
        lit(anchorUs)),
      plantedEv(spark.range(200), col("id") + 1000001L,
        col("id") + 10000L, lit(day10) + col("id") * 600000000L),
      plantedEv(spark.range(200), col("id") + 1000301L,
        col("id") + 10000L,
        lit(day10) + col("id") * 600000000L + 120000000L),
      plantedEv(spark.range(200), col("id") + 1000601L,
        col("id") + 10200L, lit(day5) + col("id") * 600000000L),
      plantedEv(spark.range(100), col("id") + 1000901L,
        col("id") + 10400L,
        lit(anchorUs - 3600000000L) - col("id") * 10000000L),
      plantedEv(spark.range(50), col("id") + 1001101L,
        col("id") + 10500L,
        lit(anchorUs - 7350000000L) + col("id") * 2000000L))
    plants.reduce(_ unionByName _).unionByName(baseEv)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    println(s"[profile] rich fixture written to $out")
  }

  private def taxiYear(spark: SparkSession, args: Array[String]): Unit = {
    // Reference-scale taxi run (VERDICT r10 #3): a deterministic
    // synthetic TLC-shaped YEAR at the reference's own operating
    // point (~40M rows — /root/reference/.MISSING_LARGE_BLOBS
    // lists 12 monthly files of a yellow-taxi year), then the full
    // TaxiPipeline e2e: clean → features → cache → 7 analytics +
    // p99 → parquet sink. Wall time prints per pass;
    // tools/check_taxi_year.py recomputes all 7 tables in DuckDB
    // from the same raw parquet and compares. Usage:
    //   Profile taxi-year [rows=40000000]
    val rows = if (args.length > 1) args(1).toLong else 40000000L
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_taxi_year"
    val rawDir = s"$base/raw_$rows"
    graft.sources.FixtureMemo.once(rawDir, s"taxi_year_gen_v1:$rows") {
      // every column is a pure hash of the row id (content-
      // deterministic, RNG-free, cluster-layout-independent — the
      // q121 replayability discipline). u(salt) ∈ [0,1) uniform.
      def u(salt: Int) =
        pmod(xxhash64(col("id"), lit(salt)), lit(1000000L))
          .cast("double") / lit(1000000.0)
      def money(c: org.apache.spark.sql.Column) = round(c, 2)
      val pickup = timestamp_seconds(lit(1704067200L) + // 2024-01-01 UTC
        pmod(xxhash64(col("id"), lit(1)), lit(31536000L)))
      // short-trip-heavy distance; ~1% exact zeros (exercises the
      // revenue_per_mile null-guard), plus rare zero DURATIONS for
      // the avg_speed guard and NULLs in the four null-prone TLC
      // columns so clean() has real work (~4% of rows dropped)
      val dist = when(u(98) < 0.01, lit(0.0))
        .otherwise(money(u(3) * u(3) * lit(20.0) + lit(0.3)))
      val durSec = when(u(99) < 0.005, lit(0L))
        .otherwise((u(2) * u(2) * lit(5340.0)).cast("long") + 60L)
      val fare = when(u(97) < 0.003, lit(0.0))
        .otherwise(money(lit(3.0) + lit(2.5) * dist
          + durSec.cast("double") / 60.0 * lit(0.35)
          + u(9) * lit(2.0)))
      val payment = when(u(8) < 0.55, 1).when(u(8) < 0.85, 2)
        .when(u(8) < 0.90, 3).when(u(8) < 0.95, 4)
        .otherwise(5) // 5 = "Unknown" branch of the A6 decode
      val pu = (u(5) * u(5) * lit(265.0)).cast("int") + 1
      val dO = (u(6) * u(6) * lit(265.0)).cast("int") + 1
      val tip = when(payment === 1, money(fare * u(10) * lit(0.3)))
        .otherwise(lit(0.0))
      val tolls = when(u(11) < 0.05, lit(6.55)).otherwise(lit(0.0))
      val extra = when(u(12) < 0.3, lit(1.0))
        .when(u(12) < 0.5, lit(0.5)).otherwise(lit(0.0))
      val cong = when(u(13) < 0.01, lit(null).cast("double"))
        .when(pu < 100, lit(2.5)).otherwise(lit(0.0))
      val airport = when(u(14) < 0.01, lit(null).cast("double"))
        .when(pu.isin(132, 138), lit(1.75)).otherwise(lit(0.0))
      spark.range(rows)
        .select(
          when(u(0) < 0.55, 1).otherwise(2).as("VendorID"),
          pickup.as("tpep_pickup_datetime"),
          timestamp_seconds(unix_timestamp(pickup) + durSec)
            .as("tpep_dropoff_datetime"),
          when(u(4) < 0.015, lit(null).cast("long"))
            .otherwise((u(15) * lit(5.0)).cast("long") + 1)
            .as("passenger_count"),
          dist.as("trip_distance"),
          when(u(7) < 0.015, lit(null).cast("long"))
            .otherwise(when(pu.isin(132, 138), 2L).otherwise(1L))
            .as("RatecodeID"),
          when(u(16) < 0.01, "Y").otherwise("N")
            .as("store_and_fwd_flag"),
          pu.as("PULocationID"), dO.as("DOLocationID"),
          payment.as("payment_type"),
          fare.as("fare_amount"), extra.as("extra"),
          lit(0.5).as("mta_tax"), tip.as("tip_amount"),
          tolls.as("tolls_amount"),
          lit(1.0).as("improvement_surcharge"),
          money(fare + extra + lit(0.5) + tip + tolls + lit(1.0)
            + coalesce(cong, lit(0.0)) + coalesce(airport, lit(0.0)))
            .as("total_amount"),
          cong.as("congestion_surcharge"),
          airport.as("Airport_fee"))
        .repartition(96)
        .write.mode("overwrite").parquet(rawDir + "/data")
    }
    val rawDf = spark.read.parquet(rawDir + "/data")
    val outDir = s"$base/out_$rows"
    // two passes: pass 1 includes OS page-cache fill for the ~GB
    // raw parquet; pass 2 is the steady-state number for SURVEY
    for (pass <- 1 to 2) {
      Caching.releaseAll(); spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val cleaned = graft.taxi.TaxiPipeline.clean(rawDf)
      graft.taxi.TaxiPipeline.run(cleaned,
        new graft.sources.ParquetSink(outDir), overwrite = true)
      println(f"[profile] taxi-year pass $pass e2e " +
        f"${(System.nanoTime() - t0) / 1e9}%8.3f s ($rows rows)")
    }
    println(s"[profile] raw=${rawDf.count()} " +
      s"clean=${graft.taxi.TaxiPipeline.clean(rawDf).count()}")
    Seq("demand_heatmap", "tip_trends", "fare_anomalies",
      "trip_performance", "popular_routes", "payment_analysis",
      "distance_distribution").foreach { t =>
      println(s"[profile]   $t rows=" +
        spark.read.parquet(s"$outDir/$t").count())
    }
    println(s"[profile] raw=$rawDir/data out=$outDir")
  }
}
