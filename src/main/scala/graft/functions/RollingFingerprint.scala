package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprint via Rabin-Karp rolling hash.
  *
  * The standard near-dup fingerprint for code/text corpora
  * (Schleimer/Wilkerson/Aiken "Winnowing", SIGMOD'03 — public
  * literature): polynomial rolling hash over k-char windows of the
  * normalized text, then the minimum hash of each w-window of
  * consecutive hashes (rightmost on ties) is kept; documents sharing
  * substrings ≥ w+k-1 chars are guaranteed to share a fingerprint.
  *
  * One O(n) pass per document: the rolling update
  * h' = (h - c·B^(k-1))·B + c_new evaluates each char once, unlike
  * re-hashing every window. Output is the distinct, sorted fingerprint
  * set — a compact signature for inverted-index joins (same posting
  * shape as Dedup's shingle pipeline, but sub-token granularity and
  * robust to word-boundary edits).
  */
case class RollingFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with KernelExpression {

  // k or w < 1 would make the window loops vacuous and return an empty
  // fingerprint set for every document instead of erroring
  require(k >= 1, s"rolling_fingerprint: k must be >= 1, got $k")
  require(w >= 1, s"rolling_fingerprint: w must be >= 1, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private val B = RollingFingerprint.B
  private val M = RollingFingerprint.M // Mersenne prime, keeps products in range via careful mulmod

  // 128-bit multiply then Mersenne fold: since 2^61 ≡ 1 (mod M),
  // hi·2^64 + lo ≡ 8·hi + (lo >>> 61) + (lo & M). The sum can reach
  // ~2^62, so up to two conditional subtractions are needed.
  private def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var f = ((hi << 3) | (lo >>> 61)) + (lo & M)
    if (f >= M) f -= M
    if (f >= M) f -= M
    f
  }

  // compiled once: String.replaceAll would recompile the pattern per row.
  // Explicit class, not \s: Java's \s adds U+000B while DuckDB's RE2 \s
  // is exactly [\t\n\f\r ] — the oracle and this expression must agree
  // on which characters collapse to a space or fingerprints diverge on
  // exotic-whitespace text.
  @transient private lazy val ws = java.util.regex.Pattern.compile("[\\t\\n\\f\\r ]+")

  override def nullSafeEval(input: Any): Any = {
    // Locale.ROOT: default-locale lowercasing diverges per host (tr_TR
    // dotless-i); ROOT matches DuckDB's simple case mapping on ASCII.
    val text = ws.matcher(
        input.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT))
      .replaceAll(" ").trim
    // Hash CODE POINTS, not UTF-16 code units: the oracle's
    // ord(substr(...)) yields code points, so charAt would diverge on
    // supplementary-plane text (emoji, rare CJK). Materializing the
    // code-point array costs an int[] allocation per document, which is
    // real money in this map-heavy operator (d6 is ~all fingerprinting),
    // so BMP-only text — no high surrogates, the overwhelming case, and
    // where charAt(i) == codePointAt(i) — hashes straight off the
    // string; only supplementary text pays for the array.
    var hasSupp = false
    var si = 0
    while (si < text.length && !hasSupp) {
      if (Character.isHighSurrogate(text.charAt(si))) hasSupp = true
      si += 1
    }
    val cps: Array[Int] = if (hasSupp) text.codePoints().toArray() else null
    val n = if (hasSupp) cps.length else text.length
    @inline def cp(i: Int): Long =
      if (cps ne null) cps(i).toLong else text.charAt(i).toLong
    if (n < k) return new GenericArrayData(Array.empty[Any])

    // B^(k-1) mod M
    var bk = 1L
    for (_ <- 1 until k) bk = mulmod(bk, B)

    val nWin = n - k + 1
    val hashes = new Array[Long](nWin)
    var h = 0L
    var i = 0
    while (i < k) { h = (mulmod(h, B) + cp(i)) % M; i += 1 }
    hashes(0) = h
    while (i < n) {
      h = (h + M - mulmod(cp(i - k), bk) % M) % M
      h = (mulmod(h, B) + cp(i)) % M
      hashes(i - k + 1) = h
      i += 1
    }

    // winnow: min of each w-window of hashes, rightmost wins ties.
    // Monotonic-deque sliding minimum (O(n), vs the naive O(n·w) scan)
    // into a primitive array, sorted + deduped in place — the TreeSet
    // this replaces boxed one Long per window and rebalanced per add,
    // measurable on a map-heavy operator where fingerprinting is ~all
    // of d6's cost. Tie POSITION is irrelevant to the output (equal
    // hashes contribute the same VALUE to the distinct set), so the
    // deque's pop-equal policy emits the identical fingerprint set.
    val mins = new Array[Long](if (nWin <= w) 1 else nWin - w + 1)
    if (nWin <= w) {
      var mi = 0
      var j = 1
      while (j < nWin) { if (hashes(j) <= hashes(mi)) mi = j; j += 1 }
      mins(0) = hashes(mi)
    } else {
      val dq = new Array[Int](nWin) // index deque, values increasing head→tail
      var head = 0
      var tail = 0
      var j = 0
      var oi = 0
      while (j < nWin) {
        while (tail > head && hashes(dq(tail - 1)) >= hashes(j)) tail -= 1
        dq(tail) = j
        tail += 1
        if (dq(head) <= j - w) head += 1
        if (j >= w - 1) { mins(oi) = hashes(dq(head)); oi += 1 }
        j += 1
      }
    }
    java.util.Arrays.sort(mins)
    var m = 0
    var t = 0
    while (t < mins.length) {
      if (t == 0 || mins(t) != mins(t - 1)) { mins(m) = mins(t); m += 1 }
      t += 1
    }
    val arr = new Array[Any](m)
    var idx = 0
    while (idx < m) { arr(idx) = mins(idx); idx += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(c: Expression): RollingFingerprint =
    copy(child = c)
}

object RollingFingerprint {
  /** Hash family constants — public so the d6 oracle SQL interpolates
    * the SAME base/modulus/window sizes (DuckDB mirrors the polynomial
    * hash exactly in HUGEINT; see SparkEntry's d6 oracle). */
  val B = 1000003L
  val M = (1L << 61) - 1
  val K = 12 // char-window size
  val W = 8  // winnowing window (guarantee threshold t = W + K - 1 chars)

  def apply(text: Column, k: Int = K, w: Int = W): Column =
    GraftShims.toCol(RollingFingerprint(GraftShims.toExpr(text), k, w))
}
