package graft

import graft.vector.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the product-quantization tier (q53/q54). The encode
  * MECHANISM is oracle-checked by q53 (DuckDB derives the same
  * codebook and must agree code-for-code); these tests gate the
  * QUALITY properties the oracle can't see: Lloyd training actually
  * reduces quantization error, and compressed-domain ADC search
  * still finds the true neighbors on the hardest (near-isotropic)
  * fixture data. */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("pqEncode: m rows per vector, codes within [0, k)") {
    val emb = Tables.embeddings(spark, dir)
    val cb = VectorOps.pqCodebookDeterministic(spark, 8, 16, 8)
    val enc = VectorOps.pqEncode(emb, cb, 8, 8)
    val n = emb.count()
    assert(enc.count() == n * 8)
    val bad = enc.filter(col("code") < 0 || col("code") >= 16).count()
    assert(bad == 0)
    val perVec = enc.groupBy(col("pq_id")).agg(countDistinct(col("sub"))
      .as("s")).filter(col("s") =!= 8).count()
    assert(perVec == 0)
  }

  test("pqEncodeLocal matches the declarative pqEncode row-for-row " +
      "(same IEEE terms, same order, same ties)") {
    val emb = Tables.embeddings(spark, dir)
    val cb = VectorOps.pqCodebookDeterministic(spark, 8, 16, 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getDouble(3)))).toMap
    val decl = rows(VectorOps.pqEncode(emb, cb, 8, 8))
    val local = rows(VectorOps.pqEncodeLocal(emb, cb, 8, 8))
    assert(local == decl)
  }

  test("a sub-vector with no finite distance to any code encodes as " +
      "code 0, as the declarative pqEncode's min(struct) picks") {
    import spark.implicits._
    // two sub-vectors of width 2: the first finite, the second NaN —
    // every distance of the NaN sub-vector is NaN
    val df = Seq((7L, Seq(0.1f, 0.2f, Float.NaN, 0.5f)))
      .toDF("vec_id", "embedding")
    val cb = VectorOps.pqCodebookDeterministic(spark, 2, 4, 2)
    def codes(enc: org.apache.spark.sql.DataFrame) =
      enc.collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
    val local = codes(VectorOps.pqEncodeLocal(df, cb, 2, 2))
    assert(local(1) == 0, s"NaN sub-vector encoded as ${local(1)}")
    assert(local == codes(VectorOps.pqEncode(df, cb, 2, 2)))
  }

  test("pqAdcTopKFromCodes (prebuilt index) equals the fused search") {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val cb = VectorOps.pqTrain(VectorOps.normalize(emb), 16, 16, 4)
      .persist()
    cb.count()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val fused = rows(VectorOps.pqAdcTopK(emb, queries, 3, cb, 16, 4))
    val fromCodes = rows(VectorOps.pqAdcTopKFromCodes(
      VectorOps.pqCodes(emb, cb, 16, 4), emb, queries, 3, cb, 16, 4))
    assert(fused == fromCodes)
    cb.unpersist()
    Caching.releaseAll()
  }

  test("pqTrain reduces total quantization error vs the random codebook") {
    val emb = VectorOps.normalize(Tables.embeddings(spark, dir))
    def totalErr(cb: org.apache.spark.sql.DataFrame, m: Int, dsub: Int) =
      VectorOps.pqEncode(emb, cb, m, dsub)
        .agg(sum(col("err2"))).collect()(0).getDouble(0)
    val rnd = totalErr(VectorOps.pqCodebookDeterministic(spark, 16, 16, 4),
      16, 4)
    val trained = totalErr(VectorOps.pqTrain(emb, 16, 16, 4), 16, 4)
    info(f"PQ err2: random codebook $rnd%.3f, trained $trained%.3f " +
      f"(ratio ${trained / rnd}%.3f)")
    assert(trained < rnd,
      f"Lloyd training must beat the random codebook ($trained%.3f vs $rnd%.3f)")
    Caching.releaseAll()
  }

  test("q130 amortized search from the persisted index equals the " +
      "inline-trained q54 search bit-for-bit") {
    // same deterministic training, same search path — the only
    // difference is a parquet round-trip of codebook + codes, which
    // must be lossless (array<double> / array<int> survive parquet
    // exactly). Any divergence means the persisted index is NOT the
    // index that was trained.
    def rows(name: String) =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSeq
    val inline = rows("q54_pq_adc_topk")
    val amortized = rows("q130_pq_search_amortized")
    assert(inline == amortized)
    Caching.releaseAll()
  }

  test("q134 incremental index equals batch re-encode with the same " +
      "codebook bit-for-bit") {
    // the incremental claim: appending delta codes encoded with the
    // stale codebook == re-encoding the FULL corpus with that same
    // codebook (encode is row-local deterministic given the
    // codebook). Any drift means the persisted index diverges from
    // what a rebuild would produce.
    val emb = Tables.embeddings(spark, dir)
    val mid = emb.agg((max(col("vec_id")) / 2).cast("long"))
      .collect()(0).getLong(0)
    val cb = VectorOps.pqTrain(
      VectorOps.normalize(emb.filter(col("vec_id") < mid)), 16, 16, 4,
      iters = 1)
    val reference = VectorOps.pqAdcTopKFromCodes(
        VectorOps.pqCodes(emb, cb, 16, 4), emb,
        emb.filter(col("vec_id") < 10), 3, cb, 16, 4)
      .orderBy(col("q_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val incremental =
      SparkEntry.queries("q134_pq_index_incremental")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(reference.toSeq == incremental.toSeq)
    Caching.releaseAll()
  }

  test("pqAdcTopK recall@3 vs bruteForceTopK on sf0.001") {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(VectorOps.bruteForceTopK(emb, queries, 3))
    val cb = VectorOps.pqTrain(VectorOps.normalize(emb), 16, 16, 4)
    val adc = pairs(VectorOps.pqAdcTopK(emb, queries, 3, cb, 16, 4))
    // measured 0.900 with the default 16× rerank shortlist (pure ADC
    // ranks at 0.367 on this near-isotropic fixture — the re-rank
    // stage is what makes compressed search usable at tau this low)
    val recall = (exact & adc).size.toDouble / exact.size
    info(f"PQ ADC recall@3 = $recall%.3f (${(exact & adc).size}/${exact.size})")
    assert(recall >= 0.8, f"PQ ADC recall@3 $recall%.3f below 0.8 gate")
    Caching.releaseAll()
  }
}
