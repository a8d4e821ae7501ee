package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Scalar (int8) quantization of an embedding vector — the standard
  * 4× storage/bandwidth reduction for large-scale vector search
  * (SQ8 in the FAISS taxonomy; public literature).
  *
  * Each vector is scaled by its own L2 norm and discretized to
  * [-127, 127]: qᵢ = floor(vᵢ / ‖v‖ · 127). Unit-norm scaling makes
  * the integer dot product of two quantized vectors a direct cosine
  * proxy (≈ 127² · cos θ), so ranking needs no float math at query
  * time — see [[VecDotInt]]. A zero vector has no direction and
  * quantizes to NULL (callers filter; mirrors the oracle's
  * `WHERE nrm > 0`).
  *
  * Engine-portable BY CONSTRUCTION, so the DuckDB oracle mirrors every
  * byte: the norm accumulates float→double products strictly
  * left-to-right (same order as VecDot and its green v1 oracle), and
  * IEEE-754 binary64 divide/multiply/floor on identical inputs yields
  * identical integers on both engines — floor is the portable
  * discretizer where round-half would not be (memory: oracle-parity
  * rules). Quantization is a once-per-corpus transform (the 100 TB
  * deployment materializes the int8 column next to the embedding),
  * not a per-query hot path.
  */
case class QuantizeVec(child: Expression)
    extends UnaryExpression with KernelExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize_vec needs an array<float|double> input, got $other")
    }

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullable: Boolean = true // zero vectors quantize to NULL
  override def nullIntolerant: Boolean = true

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      acc += x * x
      i += 1
    }
    val nrm = math.sqrt(acc)
    if (nrm == 0.0) return null
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      // |x| <= nrm, so the ratio is in [-1, 1] and the floor lands in
      // [-127, 127] — always within byte range
      out(i) = math.floor(x / nrm * 127.0).toByte
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): QuantizeVec =
    copy(child = c)
}

object QuantizeVec {
  /** Column-level entry point. */
  def apply(v: Column): Column =
    GraftShims.toCol(QuantizeVec(GraftShims.toExpr(v)))
}
