package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a text column, as one Catalyst
  * expression.
  *
  * Why not higher-order functions: the equivalent
  * `array_distinct(transform(sequence(...), i => array_join(slice(
  * tokens, i, n))))` tree interprets a lambda per shingle per row —
  * measured ~6 s just to materialize sf0.1's posting list, vs <1 s for
  * this single-call implementation (one regex split + one Java loop per
  * document).
  *
  * Semantics matched to the oracle SQL: whitespace split of trimmed
  * text, empty tokens dropped, docs shorter than n tokens → empty array,
  * shingle = n tokens joined by single spaces, first-occurrence order.
  */
case class TextShingles(child: Expression, n: Int)
    extends UnaryExpression with KernelExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val ws = "\\s+".r

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString.trim
    val toks = if (text.isEmpty) Array.empty[String] else ws.split(text)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): TextShingles = copy(child = c)
}

object TextShingles {
  def apply(text: Column, n: Int): Column =
    GraftShims.toCol(TextShingles(GraftShims.toExpr(text), n))
}
