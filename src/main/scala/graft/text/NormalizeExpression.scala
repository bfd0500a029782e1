package graft.text

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen expression — the
  * canonicalization step that runs BEFORE hashing/dedup in a text pipeline
  * (é composed vs e+◌́ decomposed must collapse to one byte sequence or
  * exact dedup silently misses duplicates). Spark ships no normalize
  * function; a Scala UDF would break the whole-stage-codegen span around
  * the md5/dedup projection it feeds, so this follows the engine's kernel
  * pattern (DotProductExpression): static-call codegen, shared interpreted
  * eval.
  *
  * The kernel fast-paths the already-normalized case (`isNormalized` is a
  * cheap scan that short-circuits on ASCII) and returns the INPUT buffer
  * unchanged there — the common path on mostly-ASCII corpora allocates
  * nothing.
  */
case class NfcNormalizeExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_nfc expects a string argument, got ${child.dataType}")

  override def nullSafeEval(s: Any): Any =
    TextNorm.nfc(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.TextNorm.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static kernel shared by interpreted eval and generated code. */
object TextNorm {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
