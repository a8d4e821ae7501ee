package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Perceptual block hash (aHash / blockhash.io family) of a decoded
  * sample stream, as one Catalyst expression.
  *
  * The published method for image near-dup: partition the sample
  * stream into `bits` equal blocks, set bit j when block j's mean
  * exceeds the global mean. Similar payloads differ in few blocks, so
  * hamming distance over the hash tracks perceptual distance — the
  * locality property md5-style digests destroy. Here the "decoded
  * samples" are the payload's code points (the Multimodal stub-decode
  * seam: a real image pipeline feeds pixel luma through the SAME
  * expression shape).
  *
  * Engine portability: the mean comparison is cleared of division —
  * bit j = (sum_j · n > total · cnt_j) — so the whole hash is exact
  * integer arithmetic, mirrored verbatim in the DuckDB oracle
  * (ord()/length() count code points exactly like the codePointAt
  * loop). Block of sample i (0-based) = i·bits div n, every sample
  * mapped, block sizes differing by at most one.
  *
  * Bounds: products reach cp_max·n² ≤ 1.1e6·n², signed-64-safe for
  * payloads to ~2.9e6 samples (fixture max ~1e3; the d6 oracle's
  * length gate pattern applies if ever exceeded). Empty payload → 0L.
  *
  * Why an expression: the HOF form (aggregate per block over a
  * transform'd code-point array) interprets |samples| + 60 lambda
  * calls per row — the SimHash64 lesson; here it is one code-point
  * loop and 60 counters in Java.
  */
case class BlockHash60(child: Expression, bits: Int)
    extends UnaryExpression with KernelExpression {

  // bits outside [1, 60] would zero every hash (0/neg) or overflow the
  // signed-bigint range (>60), silently
  require(bits >= 1 && bits <= 60, s"block_hash: bits must be in [1, 60], got $bits")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.codePointCount(0, s.length).toLong
    if (n == 0L) return 0L
    val sums = new Array[Long](bits)
    val cnts = new Array[Long](bits)
    var total = 0L
    var i = 0L // code-point index
    var ci = 0 // char (UTF-16) index
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      val b = ((i * bits) / n).toInt
      sums(b) += cp
      cnts(b) += 1
      total += cp
      i += 1
      ci += Character.charCount(cp)
    }
    var h = 0L
    var j = 0
    while (j < bits) {
      if (sums(j) * n > total * cnts(j)) h |= (1L << j)
      j += 1
    }
    h
  }

  override protected def withNewChildInternal(c: Expression): BlockHash60 = copy(child = c)
}

object BlockHash60 {
  def apply(payload: Column, bits: Int = 60): Column =
    GraftShims.toCol(BlockHash60(GraftShims.toExpr(payload), bits))
}
