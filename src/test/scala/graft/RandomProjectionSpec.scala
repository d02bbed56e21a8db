package graft

import graft.functions.GraftFunctions
import graft.vector.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Random projection: the JL promises, measured on the fixture
  * corpus (all deterministic — splitmix64 matrix, fixed data, no
  * flake): expected-norm preservation, pairwise-distance fidelity,
  * and exact sign-consistency with the hyperplane LSH bits (the
  * sign-quantized view of the same matrix). */
class RandomProjectionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def projected(k: Int) =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("p", GraftFunctions.randomProjection(col("v"), k))

  test("norm preserved in expectation: corpus mean of |Px|^2/|x|^2 ~ 1") {
    val ratios = projected(16)
      .select(
        (aggregate(col("p"), lit(0.0), (a, x) => a + x * x) /
          aggregate(col("v"), lit(0.0), (a, x) => a + x * x))
          .as("r"))
      .collect().map(_.getDouble(0))
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.1,
      s"E[ratio] drifted: $mean over ${ratios.length} vectors")
  }

  test("pairwise squared-distance distortion is JL-bounded at k=16") {
    // isotropic fixture vectors have near-constant pairwise
    // distances (no cross-pair signal variance), so the honest gate
    // is per-pair DISTORTION, not correlation: each ratio is a
    // chi²₁₆/16 draw (bounded in practice), and the mean over ~1.8k
    // pairs concentrates hard around 1
    val rows = projected(16).orderBy("vec_id").limit(60)
      .select("v", "p").collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for (i <- rows.indices; j <- rows.indices if i < j)
      yield d2(rows(i)._2, rows(j)._2) / d2(rows(i)._1, rows(j)._1)
    assert(ratios.forall(r => r > 0.1 && r < 4.0),
      s"distortion outlier: ${ratios.min} .. ${ratios.max}")
    val mean = ratios.sum / ratios.size
    assert(math.abs(mean - 1.0) < 0.1,
      s"mean distortion drifted: $mean over ${ratios.size} pairs")
  }

  test("signs match graft_hyperplane_bits: same matrix, quantized") {
    val rows = projected(16)
      .withColumn("bits", call_function(GraftFunctions.HYPERPLANE, col("v"), lit(16)))
      .select("p", "bits").limit(50).collect()
    rows.foreach { r =>
      val p = r.getSeq[Double](0)
      val bits = r.getLong(1)
      p.indices.foreach { i =>
        if (p(i) != 0.0)
          assert((p(i) > 0) == (((bits >> i) & 1L) == 1L),
            s"sign mismatch at dim $i")
      }
    }
  }
}
