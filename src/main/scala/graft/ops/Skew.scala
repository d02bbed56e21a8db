package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys.
  *
  * A plain equi-join sends every row of a hot key to one reducer; at
  * 100 TB a single skewed key (the null user, the default zone)
  * stalls the stage. AQE's skew-join handling (enabled by default in
  * GraftSession sessions) splits such partitions at runtime;
  * [[saltedJoin]] fixes the split in the plan when the skew is known
  * ahead.
  */
object Skew {

  /** Exact skew-safe equi-join: the big side salts each row into one
    * of `salts` sub-keys (deterministically, from a unique row id
    * column so replays agree); the small side is replicated across
    * ALL salt values (explode of a salts-long sequence — size × salts,
    * the price of the trick). The shuffle then hashes on (key, salt),
    * so a hot key's rows spread over `salts` reducers instead of
    * stalling one. Each big row meets exactly one replica of each
    * matching small row → result == the plain join, row for row
    * (spec-asserted). This is the manual form of what AQE skew-join
    * does at runtime — useful when the skew is known ahead (the
    * null-key, the default-zone) and you want the plan fixed. */
  def saltedJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String, rowIdCol: String,
      salts: Int = 16): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(col(rowIdCol)), lit(salts)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replicated,
        col(bigKey) === col(smallKey) &&
          saltedBig("__salt") === replicated("__salt"))
      .drop("__salt")
  }
}
