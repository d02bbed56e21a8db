package graft

import graft.functions.{GraftExtensions, GraftFunctions}
import org.apache.spark.sql.SparkSession

/** One place to build a graft session: common config + native
  * function registration. Centralizing `nanosAsLong` here (instead of
  * a conf side effect inside `Tables.events`) keeps reads
  * order-independent — any session built this way can read
  * events.parquet (TIMESTAMP(NANOS)) first or last.
  */
object GraftSession {

  /** Build + configure a session. `tune` appends caller-specific
    * config (e.g. Verify's parquet timestamp type) before create. */
  def create(master: String, shufflePartitions: String,
      tune: SparkSession.Builder => SparkSession.Builder = identity)
      : SparkSession = {
    val s = tune(SparkSession.builder()
      .master(master)
      // static conf — lands in the SparkContext when this is the
      // first session of the JVM, so every later sibling session
      // also gets graft_* functions at construction (pure-SQL path;
      // GraftFunctions.register below covers this session and any
      // pre-existing context)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // Spark keys its compiled-class cache on (context classloader,
      // source), and artifact isolation runs each session's work under
      // that session's own classloader. StreamOps.drain's start()
      // clones the session, so with isolation on every drain
      // recompiled classes it had already compiled (a windowedCounts
      // drain: 14 per run) and those misses evicted the batch
      // queries' classes. graft adds no session artifacts, so every session
      // and clone can share one classloader and one set of classes.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // static conf, like spark.sql.extensions: only the JVM's first
      // session sizes the compiled-class cache. The default holds 100
      // classes; one catalog pass at sf0.01 compiles about 4,700
      // distinct ones, so a second pass recompiled nearly all. 8192
      // (the next power of two) holds the catalog, at roughly 32 KB
      // of heap per class kept.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS), which Spark 4 rejects
      // by default ([PARQUET_TYPE_ILLEGAL]); read nanos as Long and
      // let Tables.events rebuild micros losslessly.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // collect_list/collect_set aggregations (dedup bucket grouping)
      // fall back to sort-based aggregation after 128 distinct keys
      // per partition by default — pathological for high-cardinality
      // small groups (measured 3× slower at sf0.1). But the threshold
      // IS ObjectHashAggregate's only spill mechanism, so it must
      // also CAP the per-task object map: at 4M keys the text-skew
      // 100× tier (128M near-singleton LSH buckets over 32 map
      // tasks) built multi-GB maps per task and died in GC overhead
      // before fallback could trigger. 262,144 keys ≈ tens of MB per
      // task — far above every fixture-scale group count (sf0.1 LSH
      // banding: ~10k keys/task), and past it the sort-based path
      // spills honestly (100× minhash: OOM → completes; a cluster
      // deployment additionally scales map parallelism with data).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "262144")
      // cached-relation batches default to 10k ROWS with no byte
      // bound; rows carrying multi-KB array columns (the persisted
      // LSH key relations — L×combos band keys/row) then build
      // ~260 MB contiguous batches per task, and 32 concurrent
      // builders GC-thrash the executor (measured: the n=200k
      // banding sweep of SURVEY §13.3 died in GCLocker retries).
      // 512 rows keeps batch build ≤ ~100 MB even at the widest key
      // config while costing nothing measurable on fixture-width rows.
      .config("spark.sql.inMemoryColumnarStorage.batchSize", "512")
      // BloomFilterAggregate silently min()s both its items and
      // numBits arguments against these confs (Spark's injected-
      // runtime-filter defaults: 4M items / 8 MB bits). The graft
      // bloom builders (q361's index screen) size ~10 bits/item for
      // ~1% fpp and are expected to hold that at corpus scale — at
      // the default cap the fpp silently degrades toward 1 beyond
      // ~6.7M index rows (answers stay correct, the screen stops
      // screening). The cap is NOT 2^34 (2 GiB of bits): a filter
      // near that serializes to >= 2^31 bytes and a JVM byte array
      // tops out just under Int.MaxValue, so the aggregate would
      // CRASH on serialization at the advertised limit instead of
      // degrading. 16e9 bits = 2.0e9 bytes serialized (~147 MB of
      // headroom below the array ceiling, covering the stream
      // header and ByteArrayOutputStream growth slack) keeps
      // 10 bits/item truthful through ~1.6B rows per filter;
      // `VectorFunctions.bloomAgg` logs if a request still exceeds it.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        "16000000000")
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
        "2147483648")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    GraftFunctions.register(s)
    // programmatic twin of the GraftExtensions rule injection, only for
    // sessions joining a pre-existing context whose static
    // spark.sql.extensions conf lacks the class — where it is present
    // the injected rule already runs in the operator-optimization
    // batches, and a second copy would add a third batch
    val injected = s.sparkContext.getConf.get("spark.sql.extensions", "")
      .split(",").map(_.trim).contains(classOf[GraftExtensions].getName)
    if (!injected && !s.experimental.extraOptimizations
        .contains(graft.plans.TokenContainsPrefilter))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+
          graft.plans.TokenContainsPrefilter
    s
  }
}
