package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, GenericInternalRow, Literal,
  UnaryExpression}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BM25's per-document term statistics in ONE pass over the text: the
  * struct `(dl, tf0 .. tf{m-1})` where `dl` is the document's token
  * count and `tf_i` the number of its tokens whose lowercase equals
  * `terms(i)`. It replaces m+1 array pipelines
  * (`size(tokens(text))`, `size(filter(tokens(text), x => lower(x) ===
  * t))` per term), each of which re-split the document with a regex.
  *
  * Semantics are exactly those pipelines' (TermCountsSpec pins them on
  * generated text):
  *   - tokens are [[graft.operators.TextOps.tokens]]': `trim`, split on
  *     Java `\s+` with limit -1, empty tokens dropped. Java's `\s` is
  *     the six ASCII bytes 0x20 and 0x09-0x0D, and no byte of a
  *     multi-byte UTF-8 sequence is below 0x80, so the kernel finds the
  *     same tokens as maximal runs of other bytes, with no decode and no
  *     regex. Leading and trailing separators only make empty tokens,
  *     which are dropped, so `trim` changes nothing here;
  *   - each token is lowercased by the routine Spark's `lower` runs on
  *     a UTF8_BINARY string (`CollationSupport.Lower.exec`, with the
  *     session's ICU case-mapping flag captured when the column is
  *     built) and compared byte for byte with the term;
  *   - a null text counts as zero tokens: the column form reads
  *     `coalesce(text, '')`, so the struct and its fields are never
  *     null. No optimizer-inferred `isnotnull` filter then re-evaluates
  *     the kernel, and a null-text document scores 0. */
case class TermCounts(child: Expression, terms: Seq[String], icuLower: Boolean)
    extends UnaryExpression with KernelExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"term_counts needs a string input, got ${child.dataType}")

  override def dataType: StructType = StructType(
    StructField("dl", LongType, nullable = false) +:
      terms.indices.map(i => StructField(s"tf$i", LongType, nullable = false)))
  override def prettyName: String = "term_counts"

  @transient private lazy val termArr: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    TermCounts.kernel(input.asInstanceOf[UTF8String], termArr, icuLower)

  override protected def withNewChildInternal(c: Expression): TermCounts =
    copy(child = c)
}

object TermCounts {
  /** Column form over `coalesce(text, '')`: `terms` are matched as
    * given (callers pass them lowercased, as
    * [[graft.operators.TextOps.bm25TermsOf]] does). */
  def apply(text: Column, terms: Seq[String]): Column =
    GraftShims.toCol(TermCounts(Coalesce(Seq(GraftShims.toExpr(text), Literal(""))),
      terms.toIndexedSeq, SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)))

  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** The body of [[TermCounts.nullSafeEval]]: `(dl, tf0 .. tf{m-1})`
    * for `text`. */
  def kernel(text: UTF8String, terms: Array[UTF8String], icuLower: Boolean): InternalRow = {
    val counts = new Array[Long](terms.length + 1)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes()
    var i = 0
    while (i < n) {
      while (i < n && isSpace(text.getByte(i))) i += 1
      val start = i
      while (i < n && !isSpace(text.getByte(i))) i += 1
      if (i > start) {
        counts(0) += 1
        val low = CollationSupport.Lower.exec(
          UTF8String.fromAddress(base, off + start, i - start),
          CollationFactory.UTF8_BINARY_COLLATION_ID, icuLower)
        var t = 0
        while (t < terms.length) {
          if (low.binaryEquals(terms(t))) counts(t + 1) += 1
          t += 1
        }
      }
    }
    new GenericInternalRow(counts.map(c => c: Any))
  }
}
