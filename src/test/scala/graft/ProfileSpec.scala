package graft

import org.scalatest.funsuite.AnyFunSuite

/** Profile's dispatch rejects a bad mode before it builds (or, on
  * exit, stops) a session. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("an unknown or missing mode throws and leaves the session usable") {
    assert(!spark.sparkContext.isStopped)
    for (args <- Seq(Array("no-such-mode"), Array.empty[String])) {
      val e = intercept[IllegalArgumentException](Profile.main(args))
      Profile.modes.foreach(m => assert(e.getMessage.contains(m), e.getMessage))
    }
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
  }
}
