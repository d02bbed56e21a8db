package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-pruned join — the runtime-filter pattern for the regime
  * where the build side's KEY SET is too large to broadcast as a
  * hash relation but its bloom fingerprint (a few MB at fpp 3%) is
  * not: build `bloom_filter_agg` over the small side's keys, prune
  * the big side map-side with `might_contain` BEFORE its shuffle,
  * then run the exact join on the survivors. False positives only
  * cost wasted shuffle rows (the exact join removes them); there are
  * NO false negatives, so the result is exactly the plain join —
  * which is what lets the catalog row (q62) be oracle-checked.
  *
  * At 100 TB this is the difference between shuffling the full fact
  * table and shuffling ~(selectivity + fpp) of it. Spark's AQE can
  * inject the same filter itself under
  * `spark.sql.optimizer.runtime.bloomFilter.enabled`; this operator
  * is the explicit, planner-independent form (and the expression
  * pair it uses — BloomFilterAggregate / BloomFilterMightContain —
  * is exactly what the injected filter compiles to).
  *
  * Keys are hashed with xxhash64 on BOTH sides (the aggregate's
  * expected input); the bloom binary is embedded as a literal (the
  * analyzer requires a constant or scalar subquery there — same
  * contract as the injected runtime filter). */
object BloomJoin {

  /** SQL names of the raw bloom pair, bound by
    * [[graft.functions.GraftFunctions.table]]. */
  val BLOOM_AGG = "graft_bloom_agg"
  val MIGHT_CONTAIN = "graft_might_contain"

  /** The bloom fingerprint of `keys`'s `keyCol` column. One
    * partial-aggregated pass; a few MB for millions of keys. */
  def buildFilter(keys: DataFrame, keyCol: String,
      estItems: Long = 1000000L, numBits: Long = 8388608L): Array[Byte] = {
    graft.functions.GraftFunctions.register(keys.sparkSession)
    keys.agg(call_function(BLOOM_AGG, xxhash64(col(keyCol)),
        lit(estItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Exact inner join of `big` ⋈ `small`, with `big` bloom-pruned
    * map-side first. Result == plain join (no false negatives). */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String,
      estItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame = {
    val bf = buildFilter(small, smallKey, estItems, numBits)
    big.filter(call_function(MIGHT_CONTAIN, lit(bf),
        xxhash64(col(bigKey))))
      .join(small, col(bigKey) === col(smallKey))
  }
}
