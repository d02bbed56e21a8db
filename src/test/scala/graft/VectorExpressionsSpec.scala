package graft

import graft.functions.{CrossPolytopeKeys, DotProduct, GraftFunctions, MinHashSignature, SimHash64}
import graft.vector.VectorOps
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The native expressions must agree between their three execution
  * paths: direct interpreted eval (nullSafeEval), whole-stage codegen
  * (the DataFrame path), and — for dot — the composable
  * zip_with+aggregate fold they replace (ADVICE round 1: assert
  * eval == codegen). */
class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new Random(42)
  private def randVec(n: Int): Seq[Double] =
    Seq.fill(n)(rnd.nextDouble() * 2 - 1)

  test("graft_dot (codegen) == interpreted fold == direct eval") {
    val pairs = Seq.fill(20)((randVec(64), randVec(64)))
    val df = pairs.toDF("a", "b")
    val got = df.select(
        GraftFunctions.dot(col("a"), col("b")).as("cg"),
        VectorOps.dotInterpreted(col("a"), col("b")).as("fold"))
      .collect()
    got.zip(pairs).foreach { case (r, (a, b)) =>
      val direct = DotProduct(
        Literal.create(a, ArrayType(DoubleType)),
        Literal.create(b, ArrayType(DoubleType))).eval()
        .asInstanceOf[Double]
      // bitwise equality: all three run the same in-order double math
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(0) == direct)
    }
  }

  test("graft_dot: mismatched dimensions yield NULL (codegen, eval, " +
      "and the interpreted reference agree)") {
    // a truncated/corrupt embedding must surface as NULL (falls out
    // of rankings) — a partial sum would mis-rank silently
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val got = df.select(
        GraftFunctions.dot(col("a"), col("b")).as("cg"),
        VectorOps.dotInterpreted(col("a"), col("b")).as("fold"))
      .collect()(0)
    assert(got.isNullAt(0), "codegen path must be NULL on mismatch")
    assert(got.isNullAt(1), "interpreted fold must agree (NULL)")
    val direct = DotProduct(
      Literal.create(Seq(1.0, 2.0, 3.0), ArrayType(DoubleType)),
      Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType))).eval()
    assert(direct == null, "direct eval must be NULL on mismatch")
  }

  test("graft_minhash: df path == direct eval, element-wise min law") {
    val hashes = Seq.fill(50)(rnd.nextLong())
    val df = Seq(Tuple1(hashes)).toDF("h")
      .select(GraftFunctions.minhash(col("h"), 32).as("sig"))
    val viaDf = df.collect()(0).getSeq[Long](0)
    val expr = MinHashSignature(
      Literal.create(hashes, ArrayType(LongType)), Literal(32))
    val direct = expr.eval().asInstanceOf[ArrayData].toLongArray().toSeq
    assert(viaDf == direct)
    assert(viaDf.length == 32)
    // signature of a union is the element-wise min of the signatures
    val h2 = Seq.fill(50)(rnd.nextLong())
    def sig(h: Seq[Long]) = MinHashSignature(
      Literal.create(h, ArrayType(LongType)), Literal(32))
      .eval().asInstanceOf[ArrayData].toLongArray()
    val merged = sig(hashes ++ h2)
    val minOf = sig(hashes).zip(sig(h2)).map { case (x, y) => math.min(x, y) }
    assert(merged.toSeq == minOf.toSeq)
  }

  test("graft_shingle_hashes: set size & Jaccard match the string form") {
    import graft.text.TextOps
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "the quick brown fox jumps over the crazy dog again and again",
      "a b a b a b a b") // repeated shingles → dedup matters
    val df = docs.map(Tuple1(_)).toDF("text")
      .select(TextOps.tokens(col("text")).as("toks"))
      .select(
        GraftFunctions.shingleHashes(col("toks"), 3).as("hs"),
        TextOps.shingles(col("toks"), 3).as("sh"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0).size == r.getSeq[String](1).size)
      assert(r.getSeq[Long](0).distinct.size == r.getSeq[Long](0).size)
    }
    // pairwise Jaccard identical through either representation
    val hs = rows.map(_.getSeq[Long](0).toSet)
    val sh = rows.map(_.getSeq[String](1).toSet)
    for (i <- docs.indices; j <- docs.indices if i < j) {
      val jh = (hs(i) & hs(j)).size.toDouble / (hs(i) | hs(j)).size
      val js = (sh(i) & sh(j)).size.toDouble / (sh(i) | sh(j)).size
      assert(jh == js)
    }
  }

  test("graft_gram_hashes: positional, equality matches string grams, " +
      "df path == direct eval") {
    import graft.text.TextOps
    val docs = Seq(
      "a b c d e f g h a b c d e f g h", // internal 8-gram repeat
      "x y z a b c d e f g h q",
      "short one")
    val df = docs.map(Tuple1(_)).toDF("text")
      .select(TextOps.tokens(col("text")).as("toks"))
      .select(col("toks"),
        GraftFunctions.gramHashes(col("toks"), 4).as("gh"))
    val rows = df.collect()
    rows.foreach { r =>
      val toks = r.getSeq[String](0)
      val gh = r.getSeq[Long](1)
      val expectLen = math.max(0, toks.size - 3)
      assert(gh.size == expectLen, s"positional length for $toks")
      // hash equality ⇔ gram string equality at every position pair
      // (sliding emits a short trailing window for docs < n — drop it)
      val grams = toks.sliding(4).filter(_.size == 4)
        .map(_.mkString(" ")).toSeq
      for (i <- grams.indices; j <- grams.indices)
        assert((gh(i) == gh(j)) == (grams(i) == grams(j)),
          s"pos $i vs $j")
    }
    // df (codegen) path == direct interpreted eval
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.sql.catalyst.util.ArrayData
    val toks0 = docs.head.split(" ").toSeq
    val direct = graft.functions.GramHashes(
      Literal.create(toks0, ArrayType(StringType)),
      Literal(4)).eval(null).asInstanceOf[ArrayData].toLongArray()
    assert(rows(0).getSeq[Long](1).toSeq == direct.toSeq)
  }

  test("graft_simhash: df path == direct eval; identical inputs agree") {
    val hashes = Seq.fill(30)(rnd.nextLong())
    val df = Seq(Tuple1(hashes), Tuple1(hashes)).toDF("h")
      .select(GraftFunctions.simhash(col("h")).as("sig"))
    val viaDf = df.collect().map(_.getLong(0))
    val direct = SimHash64(Literal.create(hashes, ArrayType(LongType)))
      .eval().asInstanceOf[Long]
    assert(viaDf(0) == direct && viaDf(1) == direct)
  }

  test("graft_hyperplane_bits: deterministic, in [0, 2^bits)") {
    val v = randVec(16)
    val df = Seq(Tuple1(v), Tuple1(v)).toDF("v")
      .select(call_function(GraftFunctions.HYPERPLANE, col("v"), lit(16)).as("sig"))
    val sigs = df.collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) >= 0L && sigs(0) < (1L << 16))
    // scaling a vector keeps every sign bit (projection sign invariant)
    val scaled = Seq(Tuple1(v.map(_ * 3.0))).toDF("v")
      .select(call_function(GraftFunctions.HYPERPLANE, col("v"), lit(16)).as("sig"))
      .collect()(0).getLong(0)
    assert(scaled == sigs(0))
  }

  test("graft_cp_keys: df path == direct eval; shape and key algebra") {
    val v = randVec(64)
    val (k, bands, probes) = (2, 8, 2)
    val df = Seq(Tuple1(v), Tuple1(v)).toDF("v")
      .select(GraftFunctions.cpKeys(col("v"), k, bands, probes).as("ks"))
    val viaDf = df.collect().map(_.getSeq[Long](0))
    val direct = CrossPolytopeKeys(
      Literal.create(v, ArrayType(DoubleType)), Literal(k), Literal(bands),
      Literal(probes)).eval().asInstanceOf[
        org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toSeq
    assert(viaDf(0) == direct && viaDf(1) == direct,
      "codegen path must equal interpreted eval")
    // probes^k combos per band, every key decodes to a valid band /
    // outcome tuple, and the base (combo-0) keys are a subset of the
    // probe set for the same vector
    val stride = 2L * 64
    assert(direct.size == bands * probes * probes)
    assert(direct.forall { key =>
      val band = key / (stride * stride)
      band >= 0 && band < bands &&
        (key % stride) >= 0 && (key % stride) < stride
    })
    val base = Seq(Tuple1(v)).toDF("v")
      .select(GraftFunctions.cpKeys(col("v"), k, bands, 1).as("ks"))
      .collect()(0).getSeq[Long](0)
    assert(base.size == bands)
    assert(base.toSet.subsetOf(direct.toSet),
      "multi-probe keys must include the base keys (combo 0)")
    // scale invariance: argmax of |coords| ignores vector magnitude
    val scaled = Seq(Tuple1(v.map(_ * 3.0))).toDF("v")
      .select(GraftFunctions.cpKeys(col("v"), k, bands, probes).as("ks"))
      .collect()(0).getSeq[Long](0)
    assert(scaled == viaDf(0))
  }

  test("no silent codegen fallback fired in this suite") {
    CodegenErrorWatch.assertClean()
  }
}
