package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.util.ArrayData

/** Map-side argmax-cosine assignment against a FIXED centroid table —
  * the d9b/v-family assignment step as ONE expression instead of a
  * crossJoin + window.
  *
  * Why this exists (round-15, the d9b trained-centroid tier): the
  * crossJoin(broadcast(cents)) + row_number assignment the 8-centroid
  * tiers use materializes n×k rows EACH CARRYING BOTH embedding arrays
  * and shuffles them through a per-doc window — at 8 centroids that is
  * 8 rows per doc, at a corpus-scaled k (n/64 cells) it is a
  * (n²/64)-row, embedding-wide exchange that dwarfs the arithmetic it
  * feeds. Fused into one expression the assignment is a pure map: k×dim
  * double ops per row in a tight JVM loop, zero extra rows, zero
  * shuffle, pipelined into whatever scan or write surrounds it.
  *
  * Semantics are EXACTLY the window form's (and the DuckDB oracle's
  * `ROW_NUMBER() OVER (ORDER BY cos DESC, cent_id)` — SparkEntry's d9
  * oracle family): cosine = dot/(‖a‖·‖c‖) with every element promoted
  * to double before multiplying and accumulated strictly left-to-right
  * (the [[VecDot]] contract), 0.0 when either norm is 0, ties broken
  * to the SMALLEST cent_id (the constructor sorts centroids by id and
  * the scan replaces only on strictly-greater similarity). Returns the
  * winning cent_id; null on a null input array or an empty centroid
  * table.
  *
  * The centroid matrix rides the expression as a LITERAL (k×dim
  * doubles), shipped once per task binary in the single stage that
  * assigns — ~0.5 MB per 1000 centroids at dim 64. At a k where that
  * footprint bites (10⁶ cells), assignment goes hierarchical (assign
  * to √k super-centroids, then within the super's children) — a
  * different recall contract that the oracle would then have to
  * mirror, so the flat form stays the exact tier. */
case class ArgMaxCosine(child: Expression, centIds: Seq[Long],
    cents: Seq[Seq[Double]])
    extends UnaryExpression with KernelExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argmax_cosine needs an array<float|double> input, got $t")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val idArr: Array[Long] = centIds.toArray
  @transient private lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  // ‖c‖ per centroid, the same left-to-right double fold as the oracle's
  // sqrt(list_reduce(c[j]²)) — computed once per task, not per row
  @transient private lazy val normArr: Array[Double] = centArr.map { c =>
    var s = 0.0; var j = 0
    while (j < c.length) { s += c(j) * c(j); j += 1 }
    math.sqrt(s)
  }
  @transient private lazy val childIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    if (idArr.isEmpty) return null
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    // promote once; ‖a‖ with the same fold order as VecDot(a,a)
    val av = new Array[Double](n)
    var sa = 0.0
    var j = 0
    while (j < n) {
      val x = if (childIsFloat) a.getFloat(j).toDouble else a.getDouble(j)
      av(j) = x; sa += x * x; j += 1
    }
    val na = math.sqrt(sa)
    var best = Double.NegativeInfinity
    var bestId = idArr(0)
    var i = 0
    while (i < centArr.length) {
      val c = centArr(i)
      val m = math.min(n, c.length)
      var dot = 0.0
      var p = 0
      while (p < m) { dot += av(p) * c(p); p += 1 }
      val denom = na * normArr(i)
      val cos = if (denom == 0) 0.0 else dot / denom
      // strictly-greater ⇒ first (smallest cent_id) wins ties — the
      // window form's ORDER BY cos DESC, cent_id ASC
      if (cos > best) { best = cos; bestId = idArr(i) }
      i += 1
    }
    bestId
  }

  override protected def withNewChildInternal(c: Expression): ArgMaxCosine =
    copy(child = c)
}

object ArgMaxCosine {
  /** Column form; centroids are sorted by cent_id ASC here so the
    * strict-greater scan realizes the smallest-id tie-break no matter
    * how the caller ordered them. */
  def apply(emb: Column, centIds: Array[Long],
      cents: Array[Array[Double]]): Column = {
    require(centIds.length == cents.length,
      s"centIds (${centIds.length}) and cents (${cents.length}) must align")
    val sorted = centIds.zip(cents).sortBy(_._1)
    GraftShims.toCol(ArgMaxCosine(GraftShims.toExpr(emb),
      sorted.map(_._1).toIndexedSeq,
      sorted.map(_._2.toIndexedSeq).toIndexedSeq))
  }
}
