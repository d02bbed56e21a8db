package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (session startup is the
  * dominant test cost; suites run sequentially in the forked JVM).
  * Built via GraftSession so tests exercise the same config +
  * native-function registration as Verify/Bench/Profile. */
object TestSpark {
  lazy val spark: SparkSession = {
    CodegenErrorWatch.install()
    val s = GraftSession.create("local[4]", "4",
      _.appName("graft-test")
        // managed-table writes (bucketing specs) land in tmp, not cwd
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft_wh").toString))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
