package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev diagnostics, not part of the driver contract. Usage:
  *   graft.Profile <mode> [arg ...]
  * against SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture) at
  * local[SPARK_GRAFT_CPUS] (default 32). Modes:
  *  - `q <query>...`: per-query wall, cache-cold, run 1 and run 2,
  *    with the max task and the classes codegen compiled (a JVM-wide
  *    count) of each run; for run 2 (JVM-warm, the number
  *    that matters) also the job count, job wall, driver gap and the
  *    stages with the most task time;
  *  - `explain <outDir> <suffix> <query>...`: executes each query,
  *    then writes its AQE-final formatted plan (the plan PlanAuditSpec
  *    gates) to `<outDir>/<query>_<suffix>.txt`;
  *  - `taxi-year [rows]`: a synthetic reference-scale taxi year
  *    through the full TaxiPipeline (checked by
  *    tools/check_taxi_year.py);
  *  - `rich-fixture [outDir]`: the de-saturated documents/events
  *    fixture (run by tools/rich_gate.sh).
  */
object Profile {

  val modes: Seq[String] = Seq("q", "explain", "taxi-year", "rich-fixture")

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
      case "explain" => explain(spark, sfDir, args)
      case "taxi-year" => taxiYear(spark, args)
      case "rich-fixture" => richFixture(spark, args)
    } finally spark.stop()
  }

  private def timeQueries(spark: SparkSession, sfDir: String,
      args: Array[String]): Unit = {
    // time individual catalog queries by name, cache-cold, twice
    // (same measurement discipline as Bench, without the full sweep),
    // with max-task attribution per run, and for the warm run the
    // per-stage attribution that answers "where do the seconds go"
    // per operator instead of per query
    val trace = QueryTrace.start(spark.sparkContext)
    try args.drop(1).foreach { name =>
      (1 to 2).foreach { i =>
        Caching.releaseAll()
        spark.catalog.clearCache()
        trace.reset()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        trace.flush()
        val w = trace.window
        println(f"[profile] $name%-34s run$i $sec%8.3f s " +
          f"max_task=${w.maxTaskMs / 1e3}%7.3f s " +
          f"codegen=${w.codegenCompiles}%4d")
        if (i == 2) {
          // wall not covered by any running job ≈ driver-side work
          // (planning, codegen, collect gaps between jobs)
          println(f"[profile]   jobs=${w.jobs}%3d " +
            f"job_wall=${w.jobWallMs / 1e3}%7.3f s " +
            f"driver_gap=${w.driverGapMs / 1e3}%7.3f s")
          w.stages.sortBy(-_.taskMs).take(14).foreach { s =>
            println(f"[profile]   stage ${s.id}%4d task_ms=${s.taskMs}%7d " +
              f"n=${s.tasks}%4d max=${s.maxTaskMs}%6d " +
              f"sr=${s.shuffleReadBytes >> 20}%5dMB " +
              f"sw=${s.shuffleWriteBytes >> 20}%5dMB ${s.scopes.take(110)}")
          }
        }
      }
    } finally trace.close()
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
