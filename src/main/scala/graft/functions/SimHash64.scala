package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SimHash signature of a text column as one Catalyst expression.
  *
  * Semantics identical to the nested-HOF formulation and the DuckDB
  * oracle (d4/d4b): whitespace tokens (multiset — duplicates count),
  * per-token 60-bit hash = first 15 md5 hex nibbles, signature bit j
  * set when 2·(tokens with bit j) ≥ n_tokens.
  *
  * Why an expression: the HOF form (aggregate over 60 masks × inner
  * aggregate over token hashes) interprets ~60·|tokens| lambda calls
  * per row — ~30 s just to materialize sf0.1's signatures vs ~1 s here
  * (one md5 per token, then 60 counters in a Java loop).
  */
case class SimHash64(child: Expression, bits: Int)
    extends UnaryExpression with KernelExpression {

  // bits outside [1, 60] would silently return 0 for every row (0/neg)
  // or overflow the signed-bigint range (>60)
  require(bits >= 1 && bits <= 60, s"sim_hash: bits must be in [1, 60], got $bits")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  @transient private lazy val ws = "\\s+".r

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString.trim
    if (text.isEmpty) return 0L
    val toks = ws.split(text)
    val counts = new Array[Int](bits)
    var n = 0
    for (tok <- toks if tok.nonEmpty) {
      n += 1
      // first 15 hex nibbles of the digest == big-endian first 8 bytes
      // >>> 4 — identical value to parsing the hex prefix, without the
      // per-token hex formatting (String.format per byte dominated the
      // signature computation and its garbage perturbed the whole JVM)
      val d = Md5.digest(tok.getBytes("UTF-8"))
      val h = java.nio.ByteBuffer.wrap(d).getLong >>> 4
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1
        j += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (2 * counts(j) >= n) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

object SimHash64 {
  def apply(text: Column, bits: Int = 60): Column =
    GraftShims.toCol(SimHash64(GraftShims.toExpr(text), bits))
}
