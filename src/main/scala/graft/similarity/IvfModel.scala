package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ColumnConversions
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}
import graft.functions.ColumnOps

/** The IVF centroid matrix as a model object: it ships ONCE inside the
  * serialized plan and scores every cell in a tight loop, nearest-in-L2
  * via dot(v,c) − ‖c‖²/2 (no per-row norm), equal scores resolving to the
  * larger cell id. Baking the matrix into the plan instead costs nlist ×
  * dim literals, which blows whole-stage codegen's 64 KB method limit
  * somewhere past a few hundred cells (a 100 TB deployment runs tens of
  * thousands).
  */
final class IvfModel(val centers: Array[Array[Double]]) extends Serializable {
  require(centers.nonEmpty, "IvfModel needs at least one centroid")
  val dim: Int = centers(0).length
  private val halfSq: Array[Double] = centers.map(c => c.map(x => x * x).sum / 2.0)

  /** Top-`nprobe` cell ids of `vec` by descending (score, cid). */
  def cells(vec: ArrayData, isFloat: Boolean, nprobe: Int): ArrayData = {
    require(vec.numElements() == dim,
      s"ivf_cells: vector has ${vec.numElements()} dims, centroids have $dim")
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      v(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    val n = math.min(nprobe, centers.length)
    // insertion into a tiny descending-(score, cid) top list: O(nlist · n),
    // n = nprobe is small by definition
    val topScore = Array.fill(n)(Double.NegativeInfinity)
    val topCid = Array.fill(n)(-1)
    var c = 0
    while (c < centers.length) {
      val ctr = centers(c)
      var s = 0.0
      var j = 0
      while (j < dim) { s += v(j) * ctr(j); j += 1 }
      s -= halfSq(c)
      var k = n - 1
      if (s > topScore(k) || (s == topScore(k) && c > topCid(k))) {
        topScore(k) = s; topCid(k) = c
        while (k > 0 && (topScore(k) > topScore(k - 1) ||
            (topScore(k) == topScore(k - 1) && topCid(k) > topCid(k - 1)))) {
          val ts = topScore(k); topScore(k) = topScore(k - 1); topScore(k - 1) = ts
          val tc = topCid(k); topCid(k) = topCid(k - 1); topCid(k - 1) = tc
          k -= 1
        }
      }
      c += 1
    }
    new GenericArrayData(topCid)
  }

  /** The top-`nprobe` cells of the embedding column `vec`; every cell
    * when `nprobe` exceeds their count. */
  def column(vec: Column, nprobe: Int): Column = {
    require(nprobe >= 1, s"ivf_cells: nprobe must be at least 1, got $nprobe")
    ColumnOps.toColumn(IvfCellsExpression(ColumnConversions.expression(vec), this, nprobe))
  }
}

/** `array<int>` of the top-`nprobe` IVF cells of an embedding — pure
  * projection, whole-stage codegen, model via plan reference object.
  *
  * The one kernel that is still an expression class, not an `Invoke` of
  * [[IvfModel.cells]]: a model's `Column` is built before its input is
  * resolved, so an `Invoke` must fix the vector's type up front, as
  * `array<double>`, and a `list<float>` embedding then pays the
  * analyzer's widening cast, which builds a boxed array per call. This
  * class reads the element type of its resolved child and hands the
  * kernel floats in place. Measured at sf0.1 (`TimeProbe`, runs 2–5 of
  * 8 alternating JVM pairs each): q_ann_pq, 16 sub-vector assignments a
  * row, took a median 1.46 s with the cast against 1.22 s here (IQR
  * 0.21 s).
  */
case class IvfCellsExpression(child: Expression, model: IvfModel, nprobe: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(vec: Any): Any =
    model.cells(vec.asInstanceOf[ArrayData], isFloat, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfModel", model, classOf[IvfModel].getName)
    val childGen = child.genCode(ctx)
    val arrayDataCls = classOf[ArrayData].getName
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = ${childGen.isNull};
        $arrayDataCls ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.cells(${childGen.value}, $isFloat, $nprobe);
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCellsExpression =
    copy(child = newChild)
}
