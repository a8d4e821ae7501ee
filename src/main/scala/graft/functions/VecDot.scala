package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.types._

/** Dot product over two array columns (float or double elements),
  * accumulating left-to-right in double.
  *
  * Why a custom Catalyst expression (SURVEY §7.3 preference (b)): the
  * higher-order-function formulation `aggregate(zip_with(a,b,*),0d,+)`
  * is interpreted — Spark HOF lambdas never enter whole-stage codegen —
  * and measured ~10× slower on the similarity hot paths. This expression
  * runs a tight primitive loop inside the surrounding codegen stage
  * ([[KernelExpression]]).
  *
  * Semantics (kept identical to the HOF version and the DuckDB oracle):
  * each element is promoted to double BEFORE multiplying; products are
  * accumulated strictly left-to-right; result length = min(|a|,|b|);
  * null ARRAY → null. Null ELEMENTS read as 0.0 (dense vectors are
  * assumed; parquet float lists are nullable-typed even when dense, so
  * rejecting containsNull would reject every real embedding column).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with KernelExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot needs array<float|double> inputs, got ${left.dataType}, ${right.dataType}")
  }

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val leftIsFloat = elemType(left) == FloatType
  @transient private lazy val rightIsFloat = elemType(right) == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (la, lb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(la.numElements(), lb.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftIsFloat) la.getFloat(i).toDouble else la.getDouble(i)
      val y = if (rightIsFloat) lb.getFloat(i).toDouble else lb.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

object VecDot {
  /** Column-level entry point. */
  def apply(a: Column, b: Column): Column =
    GraftShims.toCol(VecDot(GraftShims.toExpr(a), GraftShims.toExpr(b)))
}
