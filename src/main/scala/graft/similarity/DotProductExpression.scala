package graft.similarity

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Vector dot product as a native codegen expression: one tight loop over
  * the two `ArrayData` buffers, no per-element lambda dispatch — the
  * whole-stage-codegen replacement for `aggregate(zip_with(...))`, which
  * evaluates an interpreted lambda per element (~20× slower on 64-dim
  * float vectors). Handles float and double element types.
  */
case class DotProductExpression(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"vec_dot expects array<float|double>, got $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    VecOps.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.similarity.VecOps.dot($l, $r, ${isFloat(left)}, ${isFloat(right)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static kernel shared by interpreted eval and generated code. */
object VecOps {
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"vec_dot: embedding dimension mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Chunked late-interaction MaxSim: Σᵢ maxⱼ of the (i,j) sub-vector dots,
    * s = n/m elements per chunk. Shared by MaxSimExpression's interpreted
    * eval and generated code. Bit-identical to the HOF formulation it
    * replaced (sub-dots in index order; Double.compare max = Catalyst
    * array_max ordering; left fold from 0.0 in i order).
    */
  def maxsim(a: ArrayData, b: ArrayData, m: Int,
      aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"vec_maxsim: embedding dimension mismatch ($n vs ${b.numElements()})")
    if (m <= 0 || n % m != 0) throw new IllegalArgumentException(
      s"vec_maxsim: m=$m must divide dim=$n")
    val s = n / m
    var total = 0.0
    var i = 0
    while (i < m) {
      var best = 0.0
      var j = 0
      while (j < m) {
        var d = 0.0
        var t = 0
        while (t < s) {
          val x = if (aFloat) a.getFloat(i * s + t).toDouble else a.getDouble(i * s + t)
          val y = if (bFloat) b.getFloat(j * s + t).toDouble else b.getDouble(j * s + t)
          d += x * y
          t += 1
        }
        if (j == 0 || java.lang.Double.compare(d, best) > 0) best = d
        j += 1
      }
      total += best
      i += 1
    }
    total
  }

  /** Integer (quantization-code) dot with an optional affine shift (r17):
    * Σᵢ (aᵢ−s)(bᵢ−s) over two long arrays — the SQ8 scoring loop as one
    * tight kernel, replacing the per-pair `aggregate(zip_with(...))` HOF
    * (interpreted lambda dispatch per element per candidate pair). Exact
    * integer arithmetic: bitwise the HOF result.
    */
  def qdot(a: ArrayData, b: ArrayData, shift: Long): Long = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"vec_qdot: code length mismatch ($n vs ${b.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += (a.getLong(i) - shift) * (b.getLong(i) - shift)
      i += 1
    }
    acc
  }
}

case class QdotExpression(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true

  // r18 (ADVICE): long-lane reads via ArrayData.getLong, and an int shift
  // ClassCastExceptions in interpreted eval while silently widening in
  // codegen — reject both at analysis instead
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val arrOk = Seq(first, second).forall(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (arrOk && third.dataType == org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "vec_qdot(a: array<bigint>, b: array<bigint>, shift: bigint)")
  }

  override def nullSafeEval(a: Any, b: Any, s: Any): Any =
    VecOps.qdot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      s.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, s) =>
      s"graft.similarity.VecOps.qdot($a, $b, $s)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}
