package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Partition-invariance wall: operators that pass through
  * collect_list / bucket explosion / accumulator-style aggregation
  * must produce IDENTICAL relations no matter how the lake splits
  * the same rows into files — at 100 TB the file layout is an
  * accident of upstream writers, never a semantic input. A result
  * that changes under repartitioning is the classic silent
  * nondeterminism (unsorted collect_list, order-dependent folds),
  * so the dedup/fingerprint family is pinned here against a 1-file
  * and a 7-file physical layout of the same fixture rows, and the
  * queries that read Stats' shared daily series against 1 and 7
  * shuffle partitions. */
class PartitionInvarianceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val layouts: (String, String) = {
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val one = Files.createTempDirectory("graft_pi_one").toString
    val many = Files.createTempDirectory("graft_pi_many").toString
    docs.coalesce(1).write.mode("overwrite")
      .parquet(s"$one/documents.parquet")
    docs.repartition(7).write.mode("overwrite")
      .parquet(s"$many/documents.parquet")
    (one, many)
  }

  private val queries = Seq(
    "q29_dedup_exact",
    "q30_dedup_minhash",
    "q148_phash_neardup",
    "q152_audio_fingerprint",
    "q156_prefix_filter_jaccard")

  for (q <- queries) {
    test(s"$q: identical result from 1-file and 7-file layouts") {
      val (one, many) = layouts
      def rows(d: String): Seq[String] = {
        val r = SparkEntry.queries(q)(spark, d)
          .collect().map(_.toString).toSeq
        Caching.releaseAll()
        r
      }
      val a = rows(one)
      val b = rows(many)
      assert(a == b,
        s"$q differs across physical layouts: ${a.size} vs ${b.size} rows")
      assert(a.nonEmpty, s"$q must exercise the fixture")
    }
  }

  private val dailySeriesQueries = Seq(
    "q244_rolling_ols", "q247_hampel_outliers", "q250_sax_symbols",
    "q264_mase_seasonal", "q283_runs_test", "q284_acf_lags",
    "q288_window_value_breadth", "q302_peak_detection",
    "q309_vol_clustering", "q310_cross_correlation")

  for (q <- dailySeriesQueries) {
    test(s"$q: identical result at 1 and 7 shuffle partitions") {
      val key = "spark.sql.shuffle.partitions"
      val before = spark.conf.get(key)
      def rows(n: Int): Seq[String] =
        try {
          spark.conf.set(key, n.toString)
          SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq
        } finally spark.conf.set(key, before)
      val a = rows(1)
      val b = rows(7)
      assert(a == b,
        s"$q differs across shuffle partitions: ${a.size} vs ${b.size} rows")
      assert(a.nonEmpty, s"$q must exercise the fixture")
    }
  }
}
