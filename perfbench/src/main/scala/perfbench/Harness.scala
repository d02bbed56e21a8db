package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{Caching, GraftSession, SparkEntry, Tables}
import graft.sources.{ParquetSink, Sink}
import graft.taxi.TaxiPipeline
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** The benchmark's JVM side: one closed-loop client on one graft
  * session. Run by `perfbench/run.py`, which generates the fixture,
  * checks the outputs and derives the metrics from the record this
  * writes to `<work>/jvm.json`.
  *
  * Arguments are `key=value` pairs:
  *  - `kind`: `catalog` (each op is one catalog query written to the
  *    `noop` sink) or `taxi` (each op is one `TaxiPipeline.clean` +
  *    `TaxiPipeline.run` pass into a parquet sink);
  *  - `ops`: comma-separated catalog query names (catalog only);
  *  - `fixture`: the fixture directory;
  *  - `work`, `seed`, `passes`, `trace` (0/1), `cores`.
  *
  * Set-up creates the graft session and loads every fixture table
  * twice through `Tables.table` (cold, then through graft's relation
  * memo). One untraced warm pass then runs every op once, timed; after
  * each catalog op, untimed, the op's DataFrame is also written out
  * for the correctness check. The timed region is a fixed number of
  * whole passes over the ops, each in an order permuted by the seed.
  * Every op starts
  * cache-cold. With `trace=1` at least four passes run, ordered
  * untraced, traced, traced, untraced, so the record carries its own
  * tracing overhead. */
object Harness {

  private val CatalogTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val bootMs = System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val taxi = opt("kind") == "taxi"
    val ops = if (taxi) Seq("taxi_etl") else opt("ops").split(",").toSeq
    val dir = opt("fixture")
    val work = opt("work")
    val passes = opt("passes").toInt
    val trace = opt("trace") == "1"
    val seed = opt("seed").toLong
    val cores = opt("cores")
    val tables = if (taxi) Seq("taxi") else CatalogTables

    val session0 = System.nanoTime()
    val spark = GraftSession.create(s"local[$cores]", cores, _
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = msSince(session0)
    val firstLoadMs = tables.map(t => timeMs(Tables.table(spark, dir, t))).sum
    val repeatLoadMs = tables.map(t => timeMs(Tables.table(spark, dir, t))).sum
    val sc = spark.sparkContext
    val catalog = SparkEntry.queries
    val sink = new TimingSink(s"$work/sink")

    def hygiene(): Unit = {
      Caching.releaseAll()
      spark.catalog.clearCache()
      if (Caching.retainedCount != 0)
        throw new IllegalStateException(
          s"${Caching.retainedCount} cache handles survived Caching.releaseAll")
    }

    // compose builds the op's DataFrame (catalog) or cleaned input
    // (taxi); execute runs it to its sink
    def compose(name: String): DataFrame =
      if (taxi) TaxiPipeline.clean(Tables.table(spark, dir, "taxi"))
      else catalog(name)(spark, dir)
    def execute(df: DataFrame): Unit =
      if (taxi) TaxiPipeline.run(df, sink, overwrite = true)
      else df.write.format("noop").mode("overwrite").save()

    // warm pass: every op once, timed as part of set-up; then, outside
    // that timing, each catalog op's DataFrame is written out for the
    // oracle check (timestamps as NTZ micros, as the oracle compare
    // expects). The taxi op's check reads the sink of the last pass.
    val warmFailed = ArrayBuffer.empty[String]
    var warmMs, dumpMs = 0.0
    ops.foreach { name =>
      try {
        hygiene()
        val t0 = System.nanoTime()
        val df = compose(name)
        execute(df)
        warmMs += msSince(t0)
        if (!taxi) {
          val t1 = System.nanoTime()
          val ntz = df.schema.fields.filter(_.dataType == TimestampType)
            .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampNTZType)))
          ntz.coalesce(1).write.mode("overwrite").parquet(s"$work/out/$name")
          dumpMs += msSince(t1)
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] warm $name failed: $e")
        warmFailed += name
      }
    }
    if (!taxi) Files.writeString(Paths.get(s"$work/out/oracle_sql.json"),
      Serialization.write(SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }))

    val tracer = new Tracer(spark)
    val opRecords = ArrayBuffer.empty[Record]
    val passRecords = ArrayBuffer.empty[Record]
    var opIndex = 0
    var pass = 0
    // traced runs order passes untraced, traced, traced, untraced
    // (repeated), so that the warm-up trend of the JIT cancels out of
    // the traced-minus-untraced overhead
    val total = if (trace) math.max(passes, 4) else passes
    while (pass < total) {
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      if (traced) tracer.start()
      sink.listFiles = traced
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
      val passT0 = System.nanoTime()
      val cpu0 = processCpuNs
      val jit0 = jitCpuNs
      val codegen0 = codegenCompiles
      order.foreach { name =>
        val k = opIndex
        opIndex += 1
        tracer.currentOp = k
        sink.op = k
        // every op starts cache-cold, outside its timing
        var error: String = null
        try hygiene() catch { case NonFatal(e) => error = e.toString }
        val gc0 = gcMs
        val start = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var composeMs = 0.0
        if (error == null) try {
          sc.setLocalProperty(Tracer.SpanKey, s"$k/compose")
          val df = compose(name)
          composeMs = msSince(t0)
          sc.setLocalProperty(Tracer.SpanKey, s"$k/execute")
          execute(df)
        } catch { case NonFatal(e) =>
          error = e.toString.take(500)
          System.err.println(s"[perfbench] op $name failed: $error")
        } finally sc.setLocalProperty(Tracer.SpanKey, null)
        val wallMs = msSince(t0)
        val extra: Record = if (!traced) Map.empty else {
          val cachedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
          val retained = Caching.retainedCount
          tracer.flush()
          Map("retained" -> retained, "cached_bytes" -> cachedBytes)
        }
        opRecords += Map("op" -> k, "name" -> name, "pass" -> pass,
          "traced" -> traced, "start_ms" -> start, "wall_ms" -> wallMs,
          "compose_ms" -> composeMs, "execute_ms" -> (wallMs - composeMs),
          "ok" -> (error == null), "error" -> error, "gc_ms" -> (gcMs - gc0)) ++ extra
      }
      passRecords += Map("pass" -> pass, "traced" -> traced,
        "wall_ms" -> msSince(passT0), "cpu_ms" -> (processCpuNs - cpu0) / 1e6,
        "jit_cpu_ms" -> (jitCpuNs - jit0) / 1e6,
        "codegen_compiles" -> (codegenCompiles - codegen0))
      if (traced) tracer.stop()
      pass += 1
    }

    // retained heap: heap left by a full collection, read from the
    // pools' after-collection usage so that allocation after the
    // collection does not count; three rounds, a pause apart, give
    // Spark's context cleaner time to drop what the last op left
    // unreachable, and the least reading is kept
    hygiene()
    val heap = (1 to 3).map { _ =>
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    }.min

    val record: Record = Map("boot_ms" -> bootMs, "session_ms" -> sessionMs,
      "first_load_ms" -> firstLoadMs, "repeat_load_ms" -> repeatLoadMs,
      "warm_ms" -> warmMs, "dump_ms" -> dumpMs, "warm_failed" -> warmFailed.toList,
      "passes" -> passRecords.toList, "ops" -> opRecords.toList,
      "retained_heap_mb" -> heap / 1048576.0, "writes" -> sink.records,
      "trace" -> (if (trace) tracer.records else null))
    Files.writeString(Paths.get(s"$work/jvm.json"), Serialization.write(record))
    spark.stop()
  }

  /** One JSON object of the run record, written with json4s. */
  type Record = Map[String, Any]
  private implicit val formats: Formats = DefaultFormats

  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def timeMs(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    msSince(t0)
  }

  /** CPU time of this JVM, all threads (in local mode the executors
    * run here too). */
  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JIT compiler threads, from Linux's per-thread
    * accounting (0 where that is missing). run.py starts the JVM with
    * a fixed set of compiler threads, so none exits while counted. */
  private def jitCpuNs: Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
    tasks.toSeq.flatMap { t =>
      try {
        val stat = Files.readString(Paths.get(t.getPath, "stat"))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        // fields from the state on; utime and stime are the 12th and
        // 13th, in clock ticks of 10 ms
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        if (comm.contains("CompilerThre")) Some((f(11).toLong + f(12).toLong) * 10000000L)
        else None
      } catch { case _: Exception => None }
    }.sum
  }

  /** Classes compiled by Spark's code generator so far (a cache miss
    * in its compiled-code cache each). */
  private def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
}

/** The taxi pipeline's sink: graft's `ParquetSink`, with every write
  * call timed and, in traced passes, the files it left counted. */
final class TimingSink(base: String) extends Sink {
  private val inner = new ParquetSink(base)
  private val writes = ArrayBuffer.empty[Harness.Record]
  @volatile var op: Int = -1
  @volatile var listFiles = false

  override def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
    val t0 = System.nanoTime()
    inner.write(df, table, mode)
    val ms = (System.nanoTime() - t0) / 1e6
    val files: Harness.Record = if (!listFiles) Map.empty else {
      val parts = Option(new java.io.File(s"$base/$table")
        .listFiles((_, n) => n.startsWith("part-"))).getOrElse(Array.empty)
      Map("files" -> parts.length, "bytes" -> parts.map(_.length).sum)
    }
    synchronized { writes += Map("op" -> op, "table" -> table, "ms" -> ms) ++ files }
  }

  def records: List[Harness.Record] = synchronized(writes.toList)
}
