package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Both routes bind the one [[GraftFunctions.table]]: the extensions
  * class must make every graft_* function available to a session
  * built only with `spark.sql.extensions` config — pure SQL, no
  * GraftFunctions.register call — and `register` must bind exactly the
  * entries a session lacks. The extension-only session is a sibling on
  * the shared SparkContext; the suite's default session is restored
  * afterwards so other suites are unaffected. */
class GraftExtensionsSpec extends AnyFunSuite {

  private val names = GraftFunctions.table.map(_._1)

  test("spark.sql.extensions session runs graft_* from pure SQL") {
    val base = TestSpark.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // no .config and no register() here: the extensions class is
      // named in the shared SparkContext's static conf (set by
      // GraftSession when the context was created) and must apply to
      // this fresh session on its own
      val s = SparkSession.builder()
        .master("local[2]")
        .getOrCreate()
      assert(s ne base, "must be a fresh session, not the shared one")
      val missing = names.map(_.funcName).filterNot(s.catalog.functionExists)
      assert(missing.isEmpty, s"not bound by the extension: $missing")
      val dot = s.sql(
        "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d))")
        .collect()(0).getDouble(0)
      assert(dot == 32.0)
      val jac = s.sql(
        "SELECT graft_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L))")
        .collect()(0).getDouble(0)
      assert(jac == 0.5)
      val sig = s.sql("SELECT size(graft_minhash(array(7L, 8L), 16))")
        .collect()(0).getInt(0)
      assert(sig == 16)
      val profiles = GraftFunctions.encodeLangProfiles(Seq(
        "en" -> Seq("the", "and"), "de" -> Seq("der", "und")))
      val lang = s.sql(
        s"SELECT graft_lang_predict('der hund und der ball', '$profiles')")
        .collect()(0).getString(0)
      assert(lang == "de")
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("register on a session that has every name rebinds nothing") {
    val reg = TestSpark.spark.sessionState.functionRegistry
    def builders = names.map(n => reg.lookupFunctionBuilder(n).get)
    val before = builders
    GraftFunctions.register(TestSpark.spark)
    val replaced = names.zip(before.zip(builders))
      .collect { case (n, (b0, b1)) if !(b0 eq b1) => n.funcName }
    assert(replaced.isEmpty, s"rebound: $replaced")
  }

  test("register binds every name a session lacks") {
    val s = TestSpark.spark.newSession()
    val reg = s.sessionState.functionRegistry
    names.foreach(reg.dropFunction)
    assert(!names.exists(reg.functionExists))
    GraftFunctions.register(s)
    val missing = names.filterNot(reg.functionExists).map(_.funcName)
    assert(missing.isEmpty, s"not bound by register: $missing")
    assert(s.sql("SELECT graft_jaccard(array(1L, 2L), array(2L, 3L))")
      .collect()(0).getDouble(0) == 1.0 / 3)
  }
}
