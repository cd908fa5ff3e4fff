package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{Column, GraftBridge}

/** Native Catalyst expressions for the vector hot loop (SURVEY §4's scoped
  * custom work: "CosineSimilarity expression with codegen if the
  * builtin-composed form misses the BENCH bar").
  *
  * The `aggregate`/`zip_with` composition is semantically right but runs
  * interpreted per element (higher-order lambdas never enter whole-stage
  * codegen), costing three array traversals with per-element virtual calls.
  * These expressions generate a single fused primitive loop. Accumulation
  * order matches the declarative form exactly (sequential fold), so scores
  * are bit-identical — verified by the unchanged DuckDB oracle hashes.
  */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == ArrayType(DoubleType) && right.dataType == ArrayType(DoubleType) ||
      left.dataType == ArrayType(DoubleType, containsNull = false) && right.dataType == ArrayType(DoubleType, containsNull = false) ||
      left.dataType.isInstanceOf[ArrayType] && right.dataType.isInstanceOf[ArrayType] &&
      left.dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
      right.dataType.asInstanceOf[ArrayType].elementType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n   = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na  = ctx.freshName("na")
      val nb  = ctx.freshName("nb")
      val i   = ctx.freshName("i")
      val xi  = ctx.freshName("xi")
      val yi  = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Fused dot product over two array<double> columns (sign-bit LSH hot loop). */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[ArrayType] && right.dataType.isInstanceOf[ArrayType] &&
      left.dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
      right.dataType.asInstanceOf[ArrayType].elementType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n   = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i   = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $dot += $a.getDouble($i) * $b.getDouble($i); }
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native SQ8 quantizer: one pass over the double array produces
  * struct(codes: array<int>, scale: double) — code_i = floor(v_i/s·127+0.5),
  * s = max|v_i|, zero vectors → all-zero codes. The declarative HOF form
  * ([[graft.operators.Quant.sq8CodesHof]]) pays an interpreted boxed lambda
  * per ELEMENT (3 HOFs × dim × rows closure calls — ~90 s to quantize
  * 100k×768-d, measured by the 768-d tier in SCALE.md); this expression is
  * one codegen'd loop (~1 s at the same shape). NaN components propagate
  * exactly like the declarative form (scale NaN → every code 0 via the
  * double→int cast of NaN).
  */
case class Sq8(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double>, got $other")
  }

  override def dataType: DataType = Sq8.schema
  override def prettyName: String = "sq8"

  override protected def nullSafeEval(input: Any): Any =
    Sq8.quantize(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sq8$$.MODULE$$.quantize($c)")

  override protected def withNewChildInternal(newChild: Expression): Sq8 =
    copy(child = newChild)
}

object Sq8 {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  val schema: org.apache.spark.sql.types.StructType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("codes",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false),
      nullable = false),
    org.apache.spark.sql.types.StructField("scale", DoubleType, nullable = false),
  ))

  def quantize(v: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getDouble(i))
      // NaN must win the max like Spark's array_max (NaN sorts greatest)
      if (a.isNaN || a > s) s = a
      i += 1
    }
    val codes = new Array[Int](n)
    if (s != 0.0) { // s == 0 (incl. -0.0) → all-zero codes; NaN s falls through
      i = 0
      while (i < n) {
        val c = math.floor(v.getDouble(i) / s * 127 + 0.5)
        codes(i) = if (c.isNaN) 0 else c.toInt // double→int cast semantics
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(codes), s))
  }
}

/** Binary (1-bit) quantizer: sign bits of a double array packed into
  * array<long> words — ceil(dim/64) longs, 64× smaller than the float64
  * vector (768-d: 96 bytes vs 6 KB). Bit `i % 64` of word `i / 64` is set
  * iff `v_i > 0.0` (zero and negative components clear; the convention the
  * DuckDB oracle replays per-dimension). This is the candidate-generation
  * storage for Hamming-distance search: under random-hyperplane/sign LSH,
  * Hamming distance between sign patterns is a monotone estimator of
  * angular distance, so a Hamming top-C over codes + exact rerank over the
  * C survivors approximates cosine top-k reading ~1.5% of the bytes.
  */
case class BinarySign(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double>, got $other")
  }

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "binary_sign"

  override protected def nullSafeEval(input: Any): Any =
    BinarySign.pack(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BinarySign$$.MODULE$$.pack($c)")

  override protected def withNewChildInternal(newChild: Expression): BinarySign =
    copy(child = newChild)
}

object BinarySign {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def pack(v: ArrayData): GenericArrayData = {
    val n = v.numElements()
    val words = new Array[Long]((n + 63) / 64)
    var i = 0
    while (i < n) {
      // SQL comparison semantics on purpose: Spark SQL and DuckDB both
      // order NaN ABOVE every real double, so `x > 0` is TRUE for NaN in
      // both engines — Java's IEEE `NaN > 0 == false` would silently
      // disagree with the oracle's per-dim replay (property-tested)
      val x = v.getDouble(i)
      if (x > 0.0 || x.isNaN) words(i / 64) |= 1L << (i % 64)
      i += 1
    }
    new GenericArrayData(words)
  }

  def packQuery(q: Seq[Double]): Seq[Long] = {
    val words = new Array[Long]((q.length + 63) / 64)
    q.zipWithIndex.foreach { case (x, i) =>
      if (x > 0.0 || x.isNaN) words(i / 64) |= 1L << (i % 64)
    }
    words.toSeq
  }
}

/** Fused Hamming distance over two packed array<long> code columns:
  * sum of Long.bitCount(a_i ^ b_i). One popcount-per-word loop —
  * `Long.bitCount` JIT-compiles to the POPCNT instruction, so a 768-d
  * comparison is 12 xors + 12 popcounts.
  */
case class HammingDistance(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[ArrayType] && right.dataType.isInstanceOf[ArrayType] &&
      left.dataType.asInstanceOf[ArrayType].elementType == org.apache.spark.sql.types.LongType &&
      right.dataType.asInstanceOf[ArrayType].elementType == org.apache.spark.sql.types.LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "hamming_distance"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0; var i = 0
    while (i < n) { d += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $d = 0;
         |for (int $i = 0; $i < $n; $i++) { $d += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i)); }
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

/** ColBERT-style late-interaction score (Khattab & Zaharia, SIGIR 2020):
  * `Σ_i max_j cos(q_i, d_j)` over two token-vector matrices — one fused
  * pass per row instead of an explode + regroup of the corpus into
  * |corpus|·|tokens| rows. The sum runs in query-token order and each
  * inner max skips NaN cosines (zero-norm padding vectors); a document
  * with no valid vector for some query token scores NaN (callers filter
  * with the same `!isnan` guard as every other scorer).
  */
case class MaxSimScore(left: Expression, right: Expression) extends BinaryExpression {

  private def isVecMatrix(t: DataType): Boolean = t match {
    case ArrayType(ArrayType(DoubleType, _), _) => true
    case _                                      => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isVecMatrix(left.dataType) && isVecMatrix(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<array<double>> inputs, got ${left.dataType} / ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "maxsim_score"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    MaxSimScore.score(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (d, q) => s"graft.functions.MaxSimScore$$.MODULE$$.score($d, $q)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MaxSimScore =
    copy(left = newLeft, right = newRight)
}

object MaxSimScore {

  private def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** docs = the row's token vectors, qs = the (literal) query vectors. */
  def score(docs: ArrayData, qs: ArrayData): Double = {
    val nq = qs.numElements()
    val nd = docs.numElements()
    var total = 0.0
    var qi = 0
    while (qi < nq) {
      val q = qs.getArray(qi)
      var best = Double.NegativeInfinity
      var dj = 0
      while (dj < nd) {
        val c = cosine(q, docs.getArray(dj))
        if (!c.isNaN && c > best) best = c
        dj += 1
      }
      if (best == Double.NegativeInfinity) return Double.NaN
      total += best
      qi += 1
    }
    total
  }
}

object VectorExpressions {

  /** Codegen'd cosine over array<double> columns. */
  def cosineFast(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd dot product over array<double> columns. */
  def dotFast(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd late-interaction score over array<array<double>> columns. */
  def maxsimFast(docToks: Column, queryToks: Column): Column =
    GraftBridge.column(MaxSimScore(GraftBridge.expression(docToks), GraftBridge.expression(queryToks)))

  /** Codegen'd SQ8 quantization: struct(codes array<int>, scale double). */
  def sq8(v: Column): Column =
    GraftBridge.column(Sq8(GraftBridge.expression(v)))

  /** Codegen'd sign-bit packing: array<double> → array<long> (64 dims/word). */
  def binarySign(v: Column): Column =
    GraftBridge.column(BinarySign(GraftBridge.expression(v)))

  /** Codegen'd Hamming distance over packed array<long> codes. */
  def hammingFast(a: Column, b: Column): Column =
    GraftBridge.column(HammingDistance(GraftBridge.expression(a), GraftBridge.expression(b)))
}
