package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions injection point for graft's native
  * expressions: sessions built with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (or `--conf` on spark-submit) get every [[GraftFunctions.table]]
  * entry at session construction — including from pure SQL — with
  * no library call required. `GraftFunctions.register` binds the
  * same table on sessions that were built without this class. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rules ride the same injection point (GraftSession adds
    // the rule programmatically only to sessions without this class)
    ext.injectOptimizerRule(_ => graft.plans.TokenContainsPrefilter)
    GraftFunctions.table.foreach(ext.injectFunction)
  }
}
