package graft

import graft.vector.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine: orthogonal 0, parallel 1, known angle") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 1f), Seq(2f, 2f)),
      (Seq(1f, 0f), Seq(1f, 1f))
    ).toDF("a", "b")
      .select(round(VectorOps.cosine(
        VectorOps.toDouble(col("a")), VectorOps.toDouble(col("b"))), 6)
        .as("c"))
    val got = df.collect().map(_.getDouble(0)).toSeq
    assert(got(0) == 0.0 && got(1) == 1.0)
    assert(math.abs(got(2) - 0.707107) < 1e-6)
  }

  test("bruteForceTopK: nearest neighbor ranking on a known corpus") {
    val corpus = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0f, 1f)), (3L, Seq(-1f, 0f))
    ).toDF("vec_id", "embedding")
    val got = VectorOps.bruteForceTopK(
      corpus, corpus.filter($"vec_id" === 0L), 2)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq == Seq((1L, 1), (2L, 2))) // closest first, -x last
  }

  test("bruteForceTopK: zero-norm vectors drop out instead of crashing") {
    // x/0 → NULL cos in Spark; before the isNotNull guard the TopK
    // aggregate's primitive-Double encoder threw on the NULL — the
    // window formulation this replaced sorted NULLs last and dropped
    // them, so the guard restores that public-entry-point behavior
    val corpus = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0f, 0f)), (3L, Seq(-1f, 0f)) // id 2 is the zero vector
    ).toDF("vec_id", "embedding")
    val got = VectorOps.bruteForceTopK(
      corpus, corpus.filter($"vec_id" === 0L), 3)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq == Seq((1L, 1), (3L, 2))) // zero vector absent
    // and a zero-norm QUERY yields no rows rather than a crash
    val zq = VectorOps.bruteForceTopK(
      corpus, corpus.filter($"vec_id" === 2L), 3).collect()
    assert(zq.isEmpty)
  }

  test("ivfPqTopK: a zero-norm query drops out instead of crashing " +
      "the LUT lookup") {
    // normalize() drops zero-norm queries from the LUT map while the
    // probe relation still carries them — the scorer's lookup must be
    // total (flatMap over luts.get), not luts(qid)
    val corpus = (0L to 19L).map(i =>
      (i, Seq.tabulate(8)(j => ((i + j) % 5 - 2).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = Seq(
      (0L, Seq.tabulate(8)(j => (j % 5 - 2).toFloat)),
      (99L, Seq.fill(8)(0f)) // zero-norm query
    ).toDF("vec_id", "embedding")
    val cb = VectorOps.pqTrain(VectorOps.normalize(corpus), 4, 4, 2,
      iters = 1)
    val got = VectorOps.ivfPqTopK(corpus, queries, 2, cb, 4, 2)
      .collect().map(_.getLong(0)).toSet
    assert(!got.contains(99L), "zero-norm query must have no results")
    assert(got.contains(0L), "the valid query must still rank")
  }

  test("quantizeInt8 round-trip: codes bounded, error <= scale/2/elem") {
    val df = Seq((0L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (1L, Seq(100f, -50f, 25f, 12.5f))).toDF("vec_id", "embedding")
    val q = VectorOps.quantizeInt8(df)
    val rows = q.collect().map(r =>
      r.getLong(0) -> (r.getDouble(1), r.getSeq[Byte](2))).toMap
    // scale = max|x|/127; all codes within [-127, 127]
    assert(math.abs(rows(0L)._1 - 1.0 / 127) < 1e-12)
    assert(rows.values.forall(_._2.forall(c => c >= -127 && c <= 127)))
    // reconstruction within half a quantization step per element
    val recon = VectorOps.dequantize(q).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val orig = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    for ((id, xs) <- orig; (x, y) <- xs.zip(recon(id)))
      assert(math.abs(x - y) <= rows(id)._1 / 2 + 1e-12,
        s"vec $id: $x vs $y")
  }

  test("quantized top-k recall >= 0.9 vs float exact on sf0.001") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val deq = VectorOps.dequantize(VectorOps.quantizeInt8(emb))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(VectorOps.bruteForceTopK(emb,
      emb.filter($"vec_id" < 10), 3))
    val quant = pairs(VectorOps.bruteForceTopK(deq,
      deq.filter($"vec_id" < 10), 3))
    val recall = (exact & quant).size.toDouble / exact.size
    info(f"int8 top-3 recall = $recall%.3f")
    assert(recall >= 0.9, f"quantized recall $recall%.3f below 0.9")
  }

  test("nearDupPairs finds duplicated vector only") {
    val df = Seq(
      (0L, Seq(1f, 2f, 3f)), (1L, Seq(1f, 2f, 3f)), (2L, Seq(-3f, 1f, -2f))
    ).toDF("vec_id", "embedding")
    val got = VectorOps.nearDupPairs(df, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 1L)))
  }
}
