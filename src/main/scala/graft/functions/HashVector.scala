package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic dense vector from a key string: component j is the
  * unsigned 32-bit window j%4 of md5("<key>:<j/4>"), mapped into
  * [-0.5, 0.5) — BIT-IDENTICAL to the SQL derivation
  * `('0x'||substr(md5(key||':'||(j//4)), 1+8*(j%4), 8))::BIGINT /
  * 4294967296.0 - 0.5` (hex window [1+8i, 8] of the digest is its
  * big-endian byte window [4i, 4)), which is how the DuckDB oracle
  * derives the same vectors.
  *
  * Why an expression: the equivalent `transform(sequence(...), j ->
  * conv(substr(md5(...)...)))` column tree interprets a lambda per
  * component per row — at 1536 dims that is the dominant cost of the
  * wide-vector queries (measured ~2s of the v1w bench median). This
  * computes the whole vector in one pass, one md5 per FOUR components,
  * no hex-string round-trip.
  */
case class HashVector(child: Expression, dim: Int)
    extends UnaryExpression with KernelExpression {

  require(dim > 0, "dim must be positive")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val u = Md5.windows(input.asInstanceOf[UTF8String].toString, dim)
    val out = new Array[Any](dim)
    var j = 0
    while (j < dim) {
      out(j) = java.lang.Double.valueOf(u(j).toDouble / 4294967296.0 - 0.5)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): HashVector = copy(child = c)
}

object HashVector {
  def apply(key: Column, dim: Int): Column =
    GraftShims.toCol(HashVector(GraftShims.toExpr(key), dim))
}
