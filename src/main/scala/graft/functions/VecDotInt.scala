package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.types._

/** Integer dot product over two int8-quantized vectors
  * (array<tinyint>, see [[QuantizeVec]]), accumulating in long.
  *
  * The quantized-search hot path: scoring is pure integer multiply-add
  * (SIMD-friendly, no float pipeline), and the loop runs inside the
  * surrounding whole-stage-codegen stage like VecDot's. The
  * result is EXACT (≤ 64·127² per the fixture dims, far from Long
  * range), so the DuckDB oracle mirrors it integer-for-integer — the
  * quantized tier is hash-checked, not spot-checked.
  */
case class VecDotInt(left: Expression, right: Expression)
    extends BinaryExpression with KernelExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(ByteType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot_int needs array<tinyint> inputs, got ${left.dataType}, ${right.dataType}")
  }

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (la, lb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(la.numElements(), lb.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += la.getByte(i).toLong * lb.getByte(i).toLong
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDotInt =
    copy(left = l, right = r)
}

object VecDotInt {
  /** Column-level entry point. */
  def apply(a: Column, b: Column): Column =
    GraftShims.toCol(VecDotInt(GraftShims.toExpr(a), GraftShims.toExpr(b)))
}
