package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for graft's hot per-row/per-pair loops.
  *
  * The composable forms (`zip_with` + `aggregate`, 64-term CASE sums)
  * evaluate interpreted — per-element lambda dispatch plus an
  * intermediate array allocation per row. That is fine for O(rows)
  * work but dominates when the expression sits inside a pairwise join
  * (dot product: O(pairs) evaluations) or is structurally wide
  * (MinHash: hashes × shingles evaluations per row). These
  * expressions run the same math as a tight JVM loop inside
  * whole-stage codegen. Preference order per the brief: built-ins
  * first, custom Expression second — this is the second rung, taken
  * after measuring (BENCH_r01: 125 s of 155 s total was interpreted
  * vector/signature math).
  */
object ExprUtil {
  /** splitmix64 — public-domain mixing constants (Steele et al.,
    * "Fast Splittable Pseudorandom Number Generators", OOPSLA'14);
    * same stream on every executor with no driver state. */
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Dot product of two array<double> columns with whole-stage codegen.
  * In pairwise similarity joins this runs O(pairs) times, so it
  * dominates: on the sf0.1 embedding near-dup (~2M pairs × 64 dims)
  * the interpreted fold costs ~67 s; this loop brings the query to
  * seconds. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // NULL on dimension mismatch (below), even for non-null inputs
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"dot product needs two array<double>, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // mismatched dimensions → NULL, matching the interpreted
    // zip_with reference (whose NULL pad makes the fold NULL): a
    // truncated/corrupt embedding must surface as a null score that
    // falls out of rankings, not as a plausible partial sum that
    // mis-ranks silently
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    // fresh names: fixed identifiers collide when several codegen'd
    // expressions land in one generated method (janino then fails
    // "Redefinition of local variable" and the WHOLE stage silently
    // falls back to interpreted execution — the exact pessimization
    // this expression exists to avoid)
    val n = ctx.freshName("dotN")
    val s = ctx.freshName("dotSum")
    val i = ctx.freshName("dotI")
    nullSafeCodeGen(ctx, ev, (x, y) => s"""
      |if ($x.numElements() != $y.numElements()) {
      |  ${ev.isNull} = true;
      |} else {
      |  int $n = $x.numElements();
      |  double $s = 0.0;
      |  for (int $i = 0; $i < $n; $i++) {
      |    $s += $x.getDouble($i) * $y.getDouble($i);
      |  }
      |  ${ev.value} = $s;
      |}
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(newLeft, newRight)
}

/** MinHash signature over pre-hashed shingles: element k of the
  * output is min over the shingle hashes of the k-th universal-hash
  * permutation `a_k * h + b_k` (odd multipliers from splitmix64;
  * Java wrapping arithmetic — a 2-universal family on Z/2^64, the
  * standard one-hash-per-shingle MinHash construction). Replaces the
  * interpreted `transform(sequence(...), k => array_min(transform(
  * shingles, s => xxhash64(concat(s, k)))))` form, which re-hashed
  * every shingle string numHashes times (~100× the work, all
  * interpreted — 57 s of BENCH_r01's q30). */
case class MinHashSignature(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(LongType, _), IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "minhash needs (array<bigint> hashes, foldable int numHashes), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  @transient private lazy val numHashes: Int =
    right.eval().asInstanceOf[Int]
  @transient private lazy val coeffA: Array[Long] =
    Array.tabulate(numHashes)(k => ExprUtil.splitmix64(2L * k) | 1L)
  @transient private lazy val coeffB: Array[Long] =
    Array.tabulate(numHashes)(k => ExprUtil.splitmix64(2L * k + 1))

  /** Tight-loop signature: numHashes × numShingles long mul-adds. */
  def compute(hashes: ArrayData): ArrayData = {
    val n = hashes.numElements()
    val out = new Array[Long](numHashes)
    var k = 0
    while (k < numHashes) {
      val a = coeffA(k); val b = coeffB(k)
      var best = Long.MaxValue
      var i = 0
      while (i < n) {
        val p = a * hashes.getLong(i) + b
        if (p < best) best = p
        i += 1
      }
      out(k) = best
      k += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(h: Any, nh: Any): Any =
    compute(h.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhashExpr", this,
      classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, (h, _) =>
      s"${ev.value} = $self.compute($h);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): MinHashSignature = copy(newLeft, newRight)
}

/** Distinct hashed word n-gram shingles in ONE pass: for each window
  * of `n` tokens, a 64-bit FNV-1a hash over the tokens' UTF-8 bytes
  * (space-separated), deduplicated with an open hash set. Replaces
  * the interpreted three-stage form (zip_with shingle strings →
  * array_distinct → transform(xxhash64)) that allocated every
  * shingle string per document. Downstream (MinHash, exact Jaccard
  * verify) consumes only the hashes; set sizes equal the string-set
  * sizes barring a 2^-64 collision. */
case class ShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(StringType, _), IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "shingle hashes needs (array<string> tokens, foldable int n), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  @transient private lazy val n: Int = right.eval().asInstanceOf[Int]

  def compute(tokens: ArrayData): ArrayData = {
    val m = tokens.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val bytes = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      bytes(i) = tokens.getUTF8String(i).getBytes
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    val out = new Array[Long](m - n + 1)
    var count = 0
    i = 0
    while (i <= m - n) {
      var h = 0xcbf29ce484222325L // FNV-1a 64 offset basis
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= 0x20L; h *= 0x100000001b3L } // space separator
        val b = bytes(i + j)
        var k = 0
        while (k < b.length) {
          h ^= (b(k) & 0xFFL); h *= 0x100000001b3L
          k += 1
        }
        j += 1
      }
      if (seen.add(h)) { out(count) = h; count += 1 }
      i += 1
    }
    // sorted output is the contract JaccardHashes' sort-merge
    // intersection relies on (and costs one sort per DOC instead of
    // per PAIR downstream)
    val res = java.util.Arrays.copyOf(out, count)
    java.util.Arrays.sort(res)
    new GenericArrayData(res)
  }

  override def nullSafeEval(t: Any, nn: Any): Any =
    compute(t.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingleHashesExpr", this,
      classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $self.compute($t);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ShingleHashes = copy(newLeft, newRight)
}

/** Positional n-gram hashes: element i = FNV-1a hash of tokens
  * [i, i+n) joined by a space — the POSITION-PRESERVING sibling of
  * [[ShingleHashes]] (which dedups and sorts for set semantics).
  * Feeds exact substring-duplication marking (q79): posexplode gives
  * (position, gram hash) pairs with no string materialization at
  * all — the zip_with n-gram string construction this replaces is an
  * interpreted higher-order chain that dominated the stage. Empty
  * output for docs shorter than n. */
case class GramHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(StringType, _), IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "gram hashes needs (array<string> tokens, foldable int n), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  @transient private lazy val n: Int = right.eval().asInstanceOf[Int]

  def compute(tokens: ArrayData): ArrayData = {
    val m = tokens.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val bytes = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      bytes(i) = tokens.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Long](m - n + 1)
    i = 0
    while (i <= m - n) {
      var h = 0xcbf29ce484222325L // FNV-1a 64 offset basis
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= 0x20L; h *= 0x100000001b3L } // space separator
        val b = bytes(i + j)
        var k = 0
        while (k < b.length) {
          h ^= (b(k) & 0xFFL); h *= 0x100000001b3L
          k += 1
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(t: Any, nn: Any): Any =
    compute(t.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("gramHashesExpr", this,
      classOf[GramHashes].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $self.compute($t);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): GramHashes = copy(newLeft, newRight)
}

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
  * SIGMOD'03): positional rolling n-gram hashes, then the rightmost
  * minimum of every `window` consecutive hashes, deduplicated and
  * sorted. Guarantee: two documents sharing a token run of length >=
  * window + n - 1 share at least one fingerprint, with expected
  * density 2/(window+1) — the classic plagiarism/near-dup candidate
  * structure, O(doc length) per row. */
case class WinnowFingerprints(first: Expression, second: Expression,
    third: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(first, second, third)
  override def nullable: Boolean = first.nullable
  override def foldable: Boolean = children.forall(_.foldable)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType)
          if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "winnow needs (array<string> tokens, foldable int n, foldable " +
          s"int window), got ${children.map(_.dataType.simpleString)}")
    }

  @transient private lazy val n: Int = second.eval().asInstanceOf[Int]
  @transient private lazy val win: Int = third.eval().asInstanceOf[Int]

  def compute(tokens: ArrayData): ArrayData = {
    val m = tokens.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val bytes = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      bytes(i) = tokens.getUTF8String(i).getBytes
      i += 1
    }
    val hs = new Array[Long](m - n + 1) // positional k-gram hashes
    i = 0
    while (i <= m - n) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= 0x20L; h *= 0x100000001b3L }
        val b = bytes(i + j)
        var k = 0
        while (k < b.length) { h ^= (b(k) & 0xFFL); h *= 0x100000001b3L; k += 1 }
        j += 1
      }
      hs(i) = h
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](hs.length)
    var count = 0
    val lastStart = math.max(0, hs.length - win)
    var s = 0
    while (s <= lastStart) {
      val end = math.min(s + win, hs.length)
      var best = hs(s); var bi = s
      var t = s + 1
      while (t < end) { // rightmost minimum, per the winnowing paper
        if (hs(t) <= best) { best = hs(t); bi = t }
        t += 1
      }
      if (seen.add(hs(bi))) { out(count) = hs(bi); count += 1 }
      s += 1
    }
    val res = java.util.Arrays.copyOf(out, count)
    java.util.Arrays.sort(res)
    new GenericArrayData(res)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = first.eval(input)
    if (t == null) null else compute(t.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("winnowExpr", this,
      classOf[WinnowFingerprints].getName)
    val t = first.genCode(ctx)
    val code = code"""
      |${t.code}
      |boolean ${ev.isNull} = ${t.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $self.compute(${t.value});
      |}
      |""".stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WinnowFingerprints =
    copy(newChildren(0), newChildren(1), newChildren(2))
}

/** Jaccard similarity |A∩B| / |A∪B| of two SORTED distinct
  * array<long> columns (the ShingleHashes output contract) via
  * sort-merge intersection — one O(n+m) pass per pair instead of
  * the interpreted `array_intersect` hash-set build that dominated
  * the all-pairs Jaccard baseline (measured 11.8 s of q39's 11.8 s
  * at sf0.1). */
case class JaccardHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "jaccard needs two array<bigint> (sorted distinct hashes), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements(); val m = b.numElements()
    if (n == 0 && m == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val va = a.getLong(i); val vb = b.getLong(j)
      if (va == vb) { inter += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    inter.toDouble / (n + m - inter)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("jaccardExpr", this,
      classOf[JaccardHashes].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $self.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaccardHashes = copy(newLeft, newRight)
}

/** Fused MinHash signature + LSH banding: returns the `bands`
  * band-bucket values directly (element b = mixed hash of the b-th
  * signature slice), for `posexplode` into (band, bucket) rows.
  *
  * Why fused rather than `graft_minhash` + a per-band `transform`
  * lambda: CollapseProject inlines a projected signature column into
  * the banding lambda body, and the signature is then re-evaluated
  * once PER BAND — measured 64× redundant CPU (56 s of CPU on a 3 s
  * stage) at sf0.1. A single expression is evaluated once per row no
  * matter what the optimizer collapses. */
case class MinHashBuckets(first: Expression, second: Expression,
    third: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(first, second, third)
  override def nullable: Boolean = first.nullable
  override def foldable: Boolean = children.forall(_.foldable)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), IntegerType, IntegerType)
          if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "minhash buckets needs (array<bigint>, foldable int numHashes, " +
          s"foldable int bands), got ${children.map(_.dataType.simpleString)}")
    }

  @transient private lazy val numHashes: Int =
    second.eval().asInstanceOf[Int]
  @transient private lazy val bands: Int = third.eval().asInstanceOf[Int]
  @transient private lazy val rowsPerBand: Int = numHashes / bands
  @transient private lazy val coeffA: Array[Long] =
    Array.tabulate(numHashes)(k => ExprUtil.splitmix64(2L * k) | 1L)
  @transient private lazy val coeffB: Array[Long] =
    Array.tabulate(numHashes)(k => ExprUtil.splitmix64(2L * k + 1))

  def compute(hashes: ArrayData): ArrayData = {
    val n = hashes.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0x9E3779B97F4A7C15L
      var r = 0
      while (r < rowsPerBand) {
        val k = b * rowsPerBand + r
        val a = coeffA(k); val c = coeffB(k)
        var best = Long.MaxValue
        var i = 0
        while (i < n) {
          val p = a * hashes.getLong(i) + c
          if (p < best) best = p
          i += 1
        }
        bucket = ExprUtil.splitmix64(bucket ^ best)
        r += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val h = first.eval(input)
    if (h == null) null else compute(h.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhashBucketsExpr", this,
      classOf[MinHashBuckets].getName)
    val h = first.genCode(ctx)
    val code = code"""
      |${h.code}
      |boolean ${ev.isNull} = ${h.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $self.compute(${h.value});
      |}
      |""".stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashBuckets =
    copy(newChildren(0), newChildren(1), newChildren(2))
}

/** 64-bit SimHash over token hashes: bit b of the signature is set
  * when at least half the token hashes have bit b set (unweighted
  * majority — multiset semantics). Replaces the 64-term interpreted
  * `size(filter(...))` CASE sum. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash needs array<bigint> token hashes, got ${other.simpleString}")
  }

  def compute(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2 * counts(b) >= n) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override def nullSafeEval(h: Any): Any = compute(h.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simhashExpr", this,
      classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $self.compute($h);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): SimHash64 = copy(newChild)
}

/** Random-hyperplane LSH sign bits for an array<double> vector: bit p
  * is set when the projection onto plane p is positive. Plane
  * components are deterministic ±1 from splitmix64(p, dim) — every
  * executor builds identical planes with no driver state (same
  * sign-random-projection family as Charikar'02 rounding). */
case class HyperplaneBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(DoubleType, _), IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "hyperplane bits needs (array<double>, foldable int bits), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  @transient private lazy val bits: Int = right.eval().asInstanceOf[Int]

  def compute(vec: ArrayData): Long = HyperplaneBits.signature(vec, bits)

  override def nullSafeEval(v: Any, b: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("hyperplaneExpr", this,
      classOf[HyperplaneBits].getName)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $self.compute($v);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HyperplaneBits = copy(newLeft, newRight)
}

/** Cross-polytope LSH band keys (Andoni/Indyk/Laarhoven/Razenshteyn/
  * Schmidt, NIPS'15): per hash, the vector is pseudo-rotated by a
  * deterministic Rademacher matrix (±1 entries from splitmix64 — the
  * same driver-state-free stream as the other graft hashes) and the
  * hash outcome is the signed argmax coordinate (2·d outcomes).
  * A band concatenates `kHashes` outcomes; the output array holds one
  * 64-bit key per (band, outcome-combination):
  * `band * (2d)^k + Σ outcome_i * (2d)^i`, so candidate generation is
  * a single-column equi-join on the exploded key array.
  *
  * `probes` enables multi-probe on the QUERY side: each hash
  * contributes its top-`probes` outcomes (by |coordinate|), and every
  * combination is emitted — probes^k keys per band. The base side
  * uses probes=1. A pair is a candidate when some band's base key of
  * one side equals any probe key of the other.
  *
  * Why this family and not hyperplane sign bits for the near-dup
  * threshold: cross-polytope's collision-probability gap is
  * asymptotically optimal for angular distance (ρ ≈ 1/(2c²−1) vs the
  * hyperplane family's much flatter ln(1/p1)/ln(1/p2)). Measured on
  * the harness embeddings (64-dim, near-isotropic, planted pairs at
  * cos 0.45–0.47 barely above the cos≈0±0.125 bulk — the hardest LSH
  * regime): NO hyperplane banding configuration reaches recall ≥ 0.9
  * with candidate ratio ≤ 0.45 (the round-2 4-bit banding captured
  * 64% of all pairs; 16-bit bands with 2-bit multiprobe capture 5%
  * but recall 0.56); cross-polytope k=2, 128 bands, 2 probes measures
  * recall 1.00/0.97 (sf0.001/sf0.1) at candidate ratio 0.077
  * (tools/lsh_tune.py grid). Per-row cost is kHashes·bands·d² adds —
  * row-local, embarrassingly parallel, no shuffle. */
case class CrossPolytopeKeys(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(first, second, third, fourth)
  override def nullable: Boolean = first.nullable
  override def foldable: Boolean = children.forall(_.foldable)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType, IntegerType, IntegerType)
          if second.foldable && third.foldable && fourth.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "cp keys needs (array<double>, foldable int kHashes, foldable int " +
          s"bands, foldable int probes), got " +
          s"${children.map(_.dataType.simpleString)}")
    }

  @transient private lazy val k: Int = second.eval().asInstanceOf[Int]
  @transient private lazy val bands: Int = third.eval().asInstanceOf[Int]
  @transient private lazy val topt: Int = fourth.eval().asInstanceOf[Int]
  @transient private lazy val combos: Int = {
    require(k >= 1 && k <= 8, s"kHashes must be in [1,8], got $k")
    require(topt >= 1 && topt <= 2, s"probes must be 1 or 2, got $topt")
    var c = 1; var i = 0
    while (i < k) { c *= topt; i += 1 }
    c
  }

  def compute(vec: ArrayData): ArrayData = {
    val d = vec.numElements()
    val signs = CrossPolytopeKeys.signsFor(d, k * bands)
    val dense = signs.dense
    val packed = signs.packed
    val wpr = (d + 63) >>> 6
    val x = new Array[Double](d)
    // raw bits of x for the branchless packed path: flipping the
    // IEEE sign bit negates without a branch
    val xb = if (packed != null) new Array[Long](d) else null
    var j = 0
    while (j < d) {
      x(j) = vec.getDouble(j)
      if (xb != null) xb(j) = java.lang.Double.doubleToRawLongBits(x(j))
      j += 1
    }
    val stride = 2L * d
    val out = new Array[Long](bands * combos)
    val best = new Array[Int](k) // signed-argmax outcome per hash
    val second = new Array[Int](k)
    var b = 0
    var w = 0
    while (b < bands) {
      var ki = 0
      while (ki < k) {
        val h = b * k + ki
        var bestAbs = -1.0; var secondAbs = -1.0
        var bi = 0; var si = 0
        var i = 0
        while (i < d) {
          var s = 0.0
          if (dense != null) {
            val base = (h * d + i) * d
            var jj = 0
            while (jj < d) { s += dense(base + jj) * x(jj); jj += 1 }
          } else {
            val base = (h * d + i) * wpr
            var jj = 0
            while (jj < d) {
              val b1 = (packed(base + (jj >>> 6)) >>> (jj & 63)) & 1L
              s += java.lang.Double.longBitsToDouble(xb(jj) ^ ((b1 ^ 1L) << 63))
              jj += 1
            }
          }
          val a = math.abs(s)
          val o = 2 * i + (if (s > 0) 1 else 0)
          if (a > bestAbs) {
            secondAbs = bestAbs; si = bi; bestAbs = a; bi = o
          } else if (a > secondAbs) { secondAbs = a; si = o }
          i += 1
        }
        best(ki) = bi; second(ki) = si
        ki += 1
      }
      var c = 0
      while (c < combos) {
        var key = b.toLong
        var cc = c
        var k2 = 0
        while (k2 < k) {
          key = key * stride + (if (cc % topt == 0) best(k2) else second(k2))
          cc /= topt
          k2 += 1
        }
        out(w) = key; w += 1
        c += 1
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = first.eval(input)
    if (v == null) null else compute(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cpKeysExpr", this,
      classOf[CrossPolytopeKeys].getName)
    val v = first.genCode(ctx)
    val code = code"""
      |${v.code}
      |boolean ${ev.isNull} = ${v.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $self.compute(${v.value});
      |}
      |""".stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CrossPolytopeKeys =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3))
}

object CrossPolytopeKeys {

  /** Rademacher signs for `nh` rotations at dimension d. Two storage
    * forms, picked by footprint: dense ±1.0 doubles (the rotation
    * loop becomes a pure mul-add the JIT vectorizes — measured ~4×
    * over a per-bit branch) while the table stays under ~128 MB,
    * else bits packed 64/long consumed branchlessly via sign-bit
    * XOR. Both encode the identical splitmix64 stream (identical
    * keys either way). */
  private[functions] final class SignTable(val dense: Array[Double],
    val packed: Array[Long])

  /** JVM-global table cache keyed by (d, nh): every task instance of
    * every cp expression in the executor shares one build — the
    * stream depends only on (hash, row, dim), never on the banding
    * an expression slices it into. computeIfAbsent gives one build
    * per key; entries are a handful of configs, bounded memory. */
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[Long, SignTable]()

  private[functions] def signsFor(d: Int, nh: Int): SignTable =
    tables.computeIfAbsent(d.toLong << 32 | nh, { key =>
      val strideI = math.max(64, d) // == 64 at d<=64: keeps the stream
      def bit(h: Int, i: Int, j: Int): Long =
        ExprUtil.splitmix64(h.toLong * 4000037L + i.toLong * strideI + j) & 1L
      if (nh.toLong * d * d <= 16_777_216L) { // <=128 MB, once per JVM
        val m = new Array[Double](nh * d * d)
        var h = 0
        while (h < nh) {
          var i = 0
          while (i < d) {
            val base = (h * d + i) * d
            var j = 0
            while (j < d) {
              m(base + j) = if (bit(h, i, j) == 1L) 1.0 else -1.0
              j += 1
            }
            i += 1
          }
          h += 1
        }
        new SignTable(m, null)
      } else {
        val wpr = (d + 63) >>> 6
        val m = new Array[Long](nh * d * wpr)
        var h = 0
        while (h < nh) {
          var i = 0
          while (i < d) {
            val base = (h * d + i) * wpr
            var j = 0
            while (j < d) {
              if (bit(h, i, j) == 1L) m(base + (j >>> 6)) |= 1L << (j & 63)
              j += 1
            }
            i += 1
          }
          h += 1
        }
        new SignTable(null, m)
      }
    })
}

object HyperplaneBits {
  /** The sign-bit loop behind [[HyperplaneBits]]. */
  def signature(vec: ArrayData, bits: Int): Long = {
    val n = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < bits) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        val sign = if ((ExprUtil.splitmix64(p.toLong * 1000003L + i)
          & 1L) == 1L) 1.0 else -1.0
        proj += vec.getDouble(i) * sign
        i += 1
      }
      if (proj > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }
}

/** Random projection (Achlioptas '01 / JL): project a d-dim vector
  * onto `k` deterministic Rademacher directions, scaled by 1/√k so
  * squared distances are preserved in expectation — the
  * dimensionality-reduction front-end for clustering/IVF when d is
  * large. Same splitmix64 ±1 matrix family as [[HyperplaneBits]]
  * (which keeps only the signs of these projections); this keeps the
  * float values. Row-local, codegen, O(k·d) per row. */
case class RandomProjection(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType,
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(DoubleType, _), IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "random projection needs (array<double>, foldable int k), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  @transient private lazy val k: Int = right.eval().asInstanceOf[Int]

  def compute(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    val inv = 1.0 / math.sqrt(k.toDouble)
    val out = new Array[Double](k)
    var p = 0
    while (p < k) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        val sign = if ((ExprUtil.splitmix64(p.toLong * 1000003L + i)
          & 1L) == 1L) 1.0 else -1.0
        proj += vec.getDouble(i) * sign
        i += 1
      }
      out(p) = proj * inv
      p += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any, kk: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("randomProjExpr", this,
      classOf[RandomProjection].getName)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $self.compute($v);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RandomProjection = copy(newLeft, newRight)
}

/** One-pass whole-word language-ID: argmax over per-language marker
  * occurrence counts, first-listed language wins exact ties, 'und'
  * when every score is zero — bit-identical semantics to the
  * composable fold (per-language replace-trick score columns +
  * greatest + CASE chain), which is what the DuckDB oracles still
  * run.
  *
  * Why native: the fold form inlines each language's score tree into
  * `best` AND into every CASE branch (~6× per language), and
  * predicate pushdown then substitutes the whole thing into the
  * consuming Filter — on the 5-language profile that generated a
  * >64 KB janino method in q72's composed pipeline, kicking the
  * stage out of whole-stage codegen entirely, and even when it
  * compiles it evaluates ≥15 full-text `replace` copies per row.
  * This expression is one generated call; counting is indexOf skips
  * (no copies), one padded string per row.
  *
  * Occurrence semantics match the replace trick exactly: markers are
  * padded with spaces (whole words over a space-padded text) and
  * matches count LEFT-TO-RIGHT NON-OVERLAPPING — two adjacent words
  * share their separating space, so "x the the x" counts ONE " the "
  * (the second starts inside the first match), same as
  * `(length(s) - length(replace(s, m, ''))) / length(m)` on any
  * engine.
  *
  * Profiles arrive as one foldable packed string
  * (records split by U+001E, fields by U+001F — see
  * [[GraftFunctions.encodeLangProfiles]]): the registry API passes
  * only Columns, and two flat separators beat nested literal arrays
  * for a value parsed once per executor into the transient table. */
case class LangPredict(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "lang predict needs (string text, foldable string profiles), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    }

  @transient private lazy val profiles: Array[(UTF8String, Array[String])] =
    right.eval().asInstanceOf[UTF8String].toString
      .split('\u001E').map { rec =>
        val parts = rec.split('\u001F')
        (UTF8String.fromString(parts(0)),
          parts.drop(1).map(m => s" $m "))
      }

  private val und = UTF8String.fromString("und")

  def predict(t: UTF8String): UTF8String = {
    val s = " " + t.toString + " "
    var bestScore = 0L
    var best: UTF8String = null
    var i = 0
    while (i < profiles.length) {
      val ms = profiles(i)._2
      var sc = 0L
      var j = 0
      while (j < ms.length) {
        val p = ms(j)
        var idx = s.indexOf(p)
        while (idx >= 0) { sc += 1; idx = s.indexOf(p, idx + p.length) }
        j += 1
      }
      if (sc > bestScore) { bestScore = sc; best = profiles(i)._1 }
      i += 1
    }
    if (best == null) und else best
  }

  override def nullSafeEval(t: Any, p: Any): Any =
    predict(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("langPredictExpr", this,
      classOf[LangPredict].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $self.predict($t);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LangPredict = copy(newLeft, newRight)
}

object GraftFunctions {

  val DOT = "graft_dot"
  val MINHASH = "graft_minhash"
  val MINHASH_BUCKETS = "graft_minhash_buckets"
  val SHINGLE_HASHES = "graft_shingle_hashes"
  val GRAM_HASHES = "graft_gram_hashes"
  val RANDOM_PROJECTION = "graft_random_projection"
  val JACCARD = "graft_jaccard"
  val WINNOW = "graft_winnow"
  val SIMHASH = "graft_simhash"
  val HYPERPLANE = "graft_hyperplane_bits"
  val CP_KEYS = "graft_cp_keys"
  val LANG_PREDICT = "graft_lang_predict"
  val HLL4_AGG = "graft_hll4_agg"
  val HLL4_UNION_AGG = "graft_hll4_union_agg"
  val HLL4_UNION = "graft_hll4_union"
  val HLL4_ESTIMATE = "graft_hll4_estimate"
  val BITMAP64_AGG = "graft_bitmap64_agg"
  val BITMAP64_OR_AGG = "graft_bitmap64_or_agg"
  val BITMAP64_UNION_CARD = "graft_bitmap64_union_card"
  val BITMAP64_CARD = "graft_bitmap64_card"
  val BITMAP64_EXPLODE = "graft_bitmap64_explode"
  val BITMAP64_UNION = "graft_bitmap64_union"

  type FunctionDescription = SparkSessionExtensions#FunctionDescription

  private def fn(name: String, usage: String)(
      builder: Seq[Expression] => Expression): FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
        "", "", "", "hash_funcs", "", "", "built-in"),
      builder)

  /** Every graft SQL function, bound by both routes: the
    * `spark.sql.extensions` class [[GraftExtensions]] injects each
    * entry at session construction, and [[register]] binds the ones
    * a session lacks. The bloom pair is bound under
    * [[graft.ops.BloomJoin]]'s names with its raw (pre-hashed
    * xxhash64, explicit numBits) semantics, the same convention as
    * Spark's injected runtime filter. */
  val table: Seq[FunctionDescription] = Seq(
    fn(DOT, "_FUNC_(a, b) - codegen dot product of two array<double>")(
      e => DotProduct(e(0), e(1))),
    fn(MINHASH, "_FUNC_(hashes, k) - k-permutation MinHash signature")(
      e => MinHashSignature(e(0), e(1))),
    fn(MINHASH_BUCKETS,
      "_FUNC_(hashes, k, bands) - fused MinHash + LSH band buckets")(
      e => MinHashBuckets(e(0), e(1), e(2))),
    fn(SIMHASH, "_FUNC_(hashes) - 64-bit SimHash majority signature")(
      e => SimHash64(e(0))),
    fn(HYPERPLANE, "_FUNC_(vec, bits) - random-hyperplane sign bits")(
      e => HyperplaneBits(e(0), e(1))),
    fn(CP_KEYS,
      "_FUNC_(vec, k, bands, probes) - cross-polytope LSH band keys")(
      e => CrossPolytopeKeys(e(0), e(1), e(2), e(3))),
    fn(SHINGLE_HASHES,
      "_FUNC_(tokens, n) - sorted distinct hashed n-gram shingles")(
      e => ShingleHashes(e(0), e(1))),
    fn(GRAM_HASHES, "_FUNC_(tokens, n) - positional hashed n-grams")(
      e => GramHashes(e(0), e(1))),
    fn(RANDOM_PROJECTION,
      "_FUNC_(vec, k) - Rademacher random projection to k dims")(
      e => RandomProjection(e(0), e(1))),
    fn(JACCARD, "_FUNC_(a, b) - Jaccard of two sorted array<bigint>")(
      e => JaccardHashes(e(0), e(1))),
    fn(WINNOW,
      "_FUNC_(tokens, n, window) - winnowing document fingerprints")(
      e => WinnowFingerprints(e(0), e(1), e(2))),
    fn(LANG_PREDICT,
      "_FUNC_(text, profiles) - best-scoring language of text, or und")(
      e => LangPredict(e(0), e(1))),
    fn(HLL4_AGG, "_FUNC_(col) - compact HLL_4 distinct sketch (binary)")(
      e => Hll4SketchAgg(e(0))),
    fn(HLL4_UNION_AGG,
      "_FUNC_(sketch) - union of compact HLL_4 sketches (binary)")(
      e => Hll4UnionAgg(e(0))),
    fn(HLL4_UNION, "_FUNC_(a, b) - pairwise compact HLL_4 union (binary)")(
      e => Hll4Union(e(0), e(1))),
    fn(HLL4_ESTIMATE,
      "_FUNC_(sketch) - rounded distinct estimate of an HLL_4 sketch")(
      e => Hll4Estimate(e(0))),
    fn(BITMAP64_AGG,
      "_FUNC_(col) - exact distinct set as a Roaring64 bitmap (binary)")(
      e => Bitmap64Agg(e(0))),
    fn(BITMAP64_OR_AGG, "_FUNC_(bm) - OR of Roaring64 bitmaps (binary)")(
      e => Bitmap64OrAgg(e(0))),
    fn(BITMAP64_UNION_CARD,
      "_FUNC_(a, b) - exact |a UNION b| of two Roaring64 bitmaps")(
      e => Bitmap64UnionCard(e(0), e(1))),
    fn(BITMAP64_CARD,
      "_FUNC_(bm) - exact cardinality of a Roaring64 bitmap")(
      e => Bitmap64Card(e(0))),
    fn(BITMAP64_EXPLODE,
      "_FUNC_(bm) - one bigint row per set bit of a Roaring64 bitmap")(
      e => Bitmap64Explode(e(0))),
    fn(BITMAP64_UNION,
      "_FUNC_(a, b) - serialized union of two Roaring64 bitmaps")(
      e => Bitmap64Union(e(0), e(1))),
    fn(graft.ops.BloomJoin.BLOOM_AGG,
      "_FUNC_(xxhash64(col), items, bits) - bloom filter (binary)")(
      e => new BloomFilterAggregate(e(0), e(1), e(2))),
    fn(graft.ops.BloomJoin.MIGHT_CONTAIN,
      "_FUNC_(bloom, xxhash64(v)) - bloom probe; false = definitely absent")(
      e => BloomFilterMightContain(e(0), e(1))))

  /** Bind every [[table]] entry the session lacks (session-scoped,
    * executor-safe via codegen). A session built with
    * [[GraftExtensions]] already has them all, so this binds nothing
    * there; GraftSession.create and every operator entry point call
    * it, so any session that can build the plans can run them. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }

  /** Codegen'd dot product (register(spark) must have run). */
  def dot(a: Column, b: Column): Column = call_function(DOT, a, b)

  def minhash(hashes: Column, numHashes: Int): Column =
    call_function(MINHASH, hashes, lit(numHashes))

  def minhashBuckets(hashes: Column, numHashes: Int, bands: Int): Column =
    call_function(MINHASH_BUCKETS, hashes, lit(numHashes), lit(bands))

  def shingleHashes(tokens: Column, n: Int): Column =
    call_function(SHINGLE_HASHES, tokens, lit(n))

  def gramHashes(tokens: Column, n: Int): Column =
    call_function(GRAM_HASHES, tokens, lit(n))

  def randomProjection(vec: Column, k: Int): Column =
    call_function(RANDOM_PROJECTION, vec, lit(k))

  def jaccard(a: Column, b: Column): Column = call_function(JACCARD, a, b)

  def winnow(tokens: Column, n: Int, window: Int): Column =
    call_function(WINNOW, tokens, lit(n), lit(window))

  def simhash(hashes: Column): Column = call_function(SIMHASH, hashes)

  def cpKeys(vec: Column, kHashes: Int, bands: Int, probes: Int): Column =
    call_function(CP_KEYS, vec, lit(kHashes), lit(bands), lit(probes))

  /** Pack language profiles for [[LangPredict]]: records joined by
    * U+001E, fields by U+001F (lang first, then its markers). The
    * separators are C0 controls that cannot appear in marker words. */
  def encodeLangProfiles(profiles: Seq[(String, Seq[String])]): String = {
    require(profiles.forall { case (l, ms) =>
      !(l +: ms).exists(s => s.exists(c => c == '\u001E' || c == '\u001F'))
    }, "language profiles must not contain U+001E/U+001F separators")
    profiles.map { case (l, ms) => (l +: ms).mkString("\u001F") }
      .mkString("\u001E")
  }

  def langPredict(text: Column,
      profiles: Seq[(String, Seq[String])]): Column =
    call_function(LANG_PREDICT, text, lit(encodeLangProfiles(profiles)))

  /** Distributed bloom build over `c` (partial blooms OR-merged);
    * returns the filter as one binary scalar. Delegates to
    * [[graft.ops.BloomJoin]]'s registered raw forms (xxhash64 on the
    * way in, same convention as Spark's injected runtime filter).
    * Sized at ~10 bits/item ⇒ fpp ≈ 1%. BloomFilterAggregate
    * silently min()s numBits against
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`
    * (`GraftSession` raises it to 2e9 bytes' worth ⇒ ~1.6B items at
    * honest fpp); a request past the session cap still returns
    * CORRECT answers (no false negatives) but the fpp degrades
    * toward 1 — that regime is logged here instead of failing
    * silently. Pass the DataFrame's own `sparkSession` so the cap
    * is read from the session that will EXECUTE the plan; the
    * `SparkSession.active` default makes the warning best-effort
    * only (construction-time active session can differ from the
    * executing one — `BloomFilterAggregate` itself re-reads SQLConf
    * at eval, so only the WARNING, never the answer, can be
    * mis-calibrated). */
  def bloomAgg(c: Column, estimatedItems: Long,
      session: org.apache.spark.sql.SparkSession =
        org.apache.spark.sql.SparkSession.active): Column = {
    val want = math.max(64L, estimatedItems * 10)
    val cap = session.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        "67108864").toLong
    if (want > cap)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bloomAgg: ${estimatedItems} items want $want bits but " +
          s"spark.sql.optimizer.runtime.bloomFilter.maxNumBits=$cap " +
          s"silently caps the filter — fpp degrades above " +
          s"~${cap / 10} items (screen weakens, answers stay correct)")
    call_function(graft.ops.BloomJoin.BLOOM_AGG,
      org.apache.spark.sql.functions.xxhash64(c),
      lit(estimatedItems), lit(want))
  }

  /** Probe a [[bloomAgg]]-built filter: true ⇒ maybe present (fpp
    * tail included), false ⇒ DEFINITELY absent. `bloom` must be a
    * constant (lit(bytes)) or scalar subquery. */
  def bloomMightContain(bloom: Column, value: Column): Column =
    call_function(graft.ops.BloomJoin.MIGHT_CONTAIN, bloom,
      org.apache.spark.sql.functions.xxhash64(value))
}
