package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic stub text embedder (SURVEY §2.9 X5).
  *
  * The reference embeds bill text through an external model
  * (hydrate_vectors.py:91-95); that call is out of engine scope, so the
  * engine-side contract — a dense unit-norm float vector per document,
  * identical for identical text — is satisfied by a hash-based stand-in.
  * Swap this expression for a real-model UDF without touching any
  * consumer (same column type as `embeddings.embedding`).
  *
  * Derivation (round 6 — the HashVector md5-window family, so the v4 /
  * x7c oracles can reproduce every float exactly; the previous
  * splitmix64 chain was 64 sequential wraparound multiplies per token,
  * SQL-hostile): component j of token t is the unsigned 32-bit
  * big-endian window j%4 of md5("t:" + j/4), centered by subtracting
  * 2^31. Those PER-TOKEN INTEGERS sum exactly (longs — order-free,
  * unlike doubles), divide once by 2^32, and the double vector is
  * L2-normalized and rounded to float32. Every step is mirrored
  * verbatim in DuckDB (SparkEntry's v4 oracle): HUGEINT sum of the
  * same md5 windows, one division, ordered-fold norm, CAST AS REAL.
  *
  * Bag-of-words by construction: token order does not matter, shared
  * vocabulary ⇒ high cosine — enough structure for the retrieval
  * pipeline to be testable offline.
  */
case class StubEmbed(child: Expression, dim: Int)
    extends UnaryExpression with KernelExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true

  // explicit class, not \s+: Java \s includes U+000B where RE2 (the
  // oracle's regexp_split_to_array dialect) does not — the same
  // whitespace-divergence fix RollingFingerprint carries
  @transient private lazy val ws = "[\\t\\n\\f\\r ]+".r

  // Per-THREAD scratch state (round 16, guide §1.2 "per-task work"):
  // the corpus passes that dominate the retrieval tiers (v4/v13/v15b/
  // x7c/d9) spend their single hottest stage in this eval — 16 MD5
  // digests per token occurrence. A bounded LRU memo of each token's
  // WINDOW-SUM contribution (the Array[Long] this token adds to the
  // accumulator) folds that cost without changing an output bit: token
  // contributions are summed in exact long arithmetic — order-free by
  // the expression's own design — so memoizing the pure per-token
  // function is exact. Corpus token frequencies are Zipfian, so the
  // memo converts the per-occurrence MD5 cost into a per-DISTINCT-token
  // cost. ThreadLocal (not a bare field): expression instances are
  // normally per-task after task deserialization, but interpreted
  // projections can share one instance across threads — thread
  // confinement makes the mutable memo safe either way. Memory is
  // bounded: MemoCap entries × dim longs ≈ 2 MB per thread at dim=64.
  @transient private lazy val local =
    new ThreadLocal[StubEmbed.TokenMemo] {
      override def initialValue(): StubEmbed.TokenMemo =
        new StubEmbed.TokenMemo(dim)
    }

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString.trim
      .toLowerCase(java.util.Locale.ROOT)
    val acc = new Array[Long](dim)
    if (text.nonEmpty) {
      val memo = local.get()
      for (tok <- ws.split(text) if tok.nonEmpty) {
        val contrib = memo.contribution(tok)
        var j = 0
        while (j < dim) { acc(j) += contrib(j); j += 1 }
      }
    }
    val raw = new Array[Double](dim)
    var j = 0
    while (j < dim) { raw(j) = acc(j).toDouble / 4294967296.0; j += 1 }
    // left-to-right norm fold — the same operation order as the
    // oracle's list_reduce, so the doubles are bit-identical
    var ss = 0.0
    j = 0
    while (j < dim) { ss += raw(j) * raw(j); j += 1 }
    val norm = math.sqrt(ss)
    val out = new Array[Any](dim)
    j = 0
    while (j < dim) {
      out(j) = java.lang.Float.valueOf(
        if (norm == 0) 0.0f else (raw(j) / norm).toFloat)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): StubEmbed = copy(child = c)
}

object StubEmbed {
  val DefaultDim = 64

  /** LRU capacity for the per-thread token memo — sized so the worst
    * case (every thread at cap, dim=64) stays ~2 MB per thread. */
  private val MemoCap = 4096

  /** Per-thread scratch: an LRU of token → window-sum contribution (the
    * exact Array[Long] the per-occurrence loop would add to the
    * accumulator for this token). */
  private[functions] final class TokenMemo(dim: Int) {
    private val lru =
      new java.util.LinkedHashMap[String, Array[Long]](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[Long]]): Boolean =
          size() > MemoCap
      }

    def contribution(tok: String): Array[Long] = {
      val hit = lru.get(tok)
      if (hit != null) return hit
      val out = Md5.windows(tok, dim)
      var j = 0
      while (j < dim) { out(j) -= 2147483648L; j += 1 }
      lru.put(tok, out)
      out
    }
  }

  def apply(text: Column, dim: Int = DefaultDim): Column =
    GraftShims.toCol(StubEmbed(GraftShims.toExpr(text), dim))
}
