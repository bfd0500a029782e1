package graft.clv

import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType}

/** ₂F₁(a, b; c; z) as a native Catalyst expression (SURVEY §4.3 option b —
  * the codegen upgrade over the scala UDF): participates in whole-stage
  * codegen via a static call into the series evaluator, so the CLV scoring
  * projection stays inside one generated stage with no UDF boxing or
  * serialization. Null-safe like any quaternary math expression.
  */
case class Hyp2f1Expression(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
  extends QuaternaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any, c: Any, z: Any): Any =
    Hyp2f1.hyp2f1(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], z.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, z) =>
      s"graft.clv.Hyp2f1.hyp2f1($a, $b, $c, $z)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}
