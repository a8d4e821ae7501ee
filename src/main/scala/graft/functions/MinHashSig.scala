package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** K-way MinHash signature of a shingle array, as one Catalyst
  * expression: sig[i] = min over grams of (A_i·base(gram) + B_i) mod P,
  * base(gram) = top 28 bits of md5(gram) — bit-identical to the oracle's
  * `(a * ('0x'||substr(md5(gram),1,7))::BIGINT + b) % p` per-gram SQL.
  *
  * Why an expression (SURVEY §7.3 preference (b)): the exploded scalar
  * formulation (gram rows × K broadcast seeds → groupBy(doc,seed) min)
  * is correct and partial-agg friendly, but it materializes G×K rows per
  * document through two wide aggregations; this computes the whole
  * signature in one pass over the grams in the SCAN stage — the
  * signature step becomes map-only, and the only remaining exchanges in
  * the MinHash tier are the banded bucket self-join and the
  * candidate-restricted verify. One md5 per gram, K multiply-mods per
  * gram (identical arithmetic, ~K× fewer rows).
  *
  * Returns NULL for an empty shingle array (docs shorter than the
  * shingle width): an all-sentinel signature would bucket every such
  * document together — a quadratic self-join bomb at corpus scale.
  * Callers drop null signatures; a null-producing doc has no grams and
  * can never verify against anything anyway.
  */
case class MinHashSig(child: Expression, seedsA: Seq[Long], seedsB: Seq[Long], p: Long)
    extends UnaryExpression with KernelExpression {

  require(seedsA.length == seedsB.length && seedsA.nonEmpty,
    "seed arrays must be non-empty and same-length")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val sa = seedsA.toArray
  @transient private lazy val sb = seedsB.toArray

  override def nullSafeEval(input: Any): Any = {
    val grams = input.asInstanceOf[ArrayData]
    val n = grams.numElements()
    if (n == 0) return null
    val k = sa.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var g = 0
    while (g < n) {
      val d = Md5.digest(grams.getUTF8String(g).getBytes)
      // top 28 bits of the digest == first 7 md5 hex nibbles
      val base = java.nio.ByteBuffer.wrap(d).getLong >>> 36
      var i = 0
      while (i < k) {
        val h = (sa(i) * base + sb(i)) % p
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      g += 1
    }
    new GenericArrayData(mins.map(java.lang.Long.valueOf(_): Any))
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

object MinHashSig {
  def apply(grams: Column, seedsA: Seq[Long], seedsB: Seq[Long], p: Long): Column =
    GraftShims.toCol(MinHashSig(GraftShims.toExpr(grams), seedsA, seedsB, p))
}
