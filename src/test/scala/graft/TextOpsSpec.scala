package graft

import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("tokens + counts") {
    val df = Seq("  the quick brown fox  ").toDF("t")
    assert(df.select(TextOps.tokenCount(col("t"))).collect()(0).getInt(0) == 4)
  }

  test("tokens: leading spaces trimmed, a doubled space is an empty token") {
    val toks = Seq("  spark  graft").toDF("t")
      .select(TextOps.tokens(col("t"))).collect()(0).getSeq[String](0)
    assert(toks == Seq("spark", "", "graft"))
    assert(TextOps.tokensSql("t") == "string_split(trim(t), ' ')")
  }

  test("shingles: 3-grams of 5 tokens, deduplicated") {
    val df = Seq("a b c d e", "x y x y x y").toDF("t")
      .select(TextOps.shingles(TextOps.tokens(col("t")), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d", "c d e"))
    assert(rows(1).sorted == Seq("x y x", "y x y")) // dedup of repeats
  }

  test("fingerprint is engine-portable md5 of normalized text") {
    val df = Seq("  ABC  ").toDF("t")
      .select(TextOps.fingerprint(col("t")).as("f"))
    assert(df.collect()(0).getString(0) ==
      "900150983cd24fb0d6963f7d28e17f72") // md5("abc")
  }

  test("languageId: marker argmax with deterministic ties and und") {
    val profiles = Seq("en" -> Seq("the"), "es" -> Seq("el"))
    val df = Seq("the cat sat", "el gato", "zzz qqq").toDF("t")
      .select(TextOps.languageId(col("t"), profiles).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "es", "und"))
  }

  test("languageId native expression == composed built-ins fold " +
      "on the documents fixture and on adversarial overlaps") {
    val profiles = Seq(
      "en" -> Seq("the", "and", "is"),
      "es" -> Seq("el", "la", "de"),
      "fr" -> Seq("le", "les", "des"),
      "de" -> Seq("der", "und", "die"),
      "zh" -> Seq("的", "了", "是"))
    // adversarial: adjacent markers share their separating space
    // (replace-trick counts ONE), exact cross-language ties, unicode
    val edge = Seq("the the the", "el la de le les des", "的 了 是",
      "", "der und die der und die", "nothing matching at all")
      .toDF("text")
    for (df <- Seq(edge, Tables.documents(spark, dir).select(col("text")))) {
      val both = df.select(
        TextOps.languageId(col("text"), profiles).as("native"),
        TextOps.languageIdComposed(col("text"), profiles).as("composed"))
      // compare via collect, NOT filter(...).count(): inlining both
      // giant expression trees into a no-groupkey hash aggregate
      // overflowed janino's 64 KB method limit (an aggregate cannot
      // split its update function the way a Project stage can) and
      // the whole comparison silently ran interpreted — the exact
      // failure mode CodegenErrorWatch now gates (VERDICT r9 #3)
      both.collect().foreach(r =>
        assert(Option(r.getString(0)) == Option(r.getString(1)), r))
    }
  }

  test("no silent codegen fallback fired in this suite") {
    CodegenErrorWatch.assertClean()
  }

  test("stopwordRatio uses multiset counts, not distinct") {
    val df = Seq("the the the word").toDF("t")
      .select(TextOps.stopwordRatio(
        TextOps.tokens(col("t")), Seq("the")).as("r"))
    assert(df.collect()(0).getDouble(0) == 0.75)
  }

  test("tokenEntropy: 0 for constant docs, ln(k) for uniform, " +
      "order-insensitive") {
    val df = Seq(
      "a a a a",          // one symbol → H = 0
      "a b c d",          // uniform over 4 → H = ln 4
      "b a d c",          // permutation → same H
      "a a b b b b"       // H = ln 6 - (2 ln 2 + 4 ln 4)/6
    ).toDF("t").select(TextOps.tokenEntropy(TextOps.tokens(col("t"))).as("h"))
    val got = df.collect().map(_.getDouble(0))
    assert(math.abs(got(0)) < 1e-12)
    assert(math.abs(got(1) - math.log(4)) < 1e-12)
    assert(got(2) == got(1))
    val expected = math.log(6) -
      (2 * math.log(2) + 4 * math.log(4)) / 6
    assert(math.abs(got(3) - expected) < 1e-12)
  }

  test("bpeTokenEstimate: max of word count and chars/4") {
    val df = Seq("ab cd", "abcdefghijklmnopqrstuvwxyz").toDF("t")
      .select(TextOps.bpeTokenEstimate(col("t")).as("e"))
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 7L)) // max(2, ceil(5/4)=2); max(1, ceil(26/4)=7)
  }
}
