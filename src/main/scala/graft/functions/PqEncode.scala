package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Map-side PQ encoding against a FIXED codebook — the per-subspace
  * argmin-L2 code assignment as ONE expression instead of a
  * crossJoin(broadcast(cb)) + two min(struct) SortAggregates.
  *
  * Why this exists (round 16, guide §2.4/§1.2): the aggregate form
  * materializes |corpus|×K rows each carrying the full embedding, then
  * pays a sort-based aggregate (min over struct has no hash-agg
  * buffer) and its exchange — at K=32 that is a 32× row blowup plus
  * TWO sorts of the corpus, feeding arithmetic that is a pure
  * per-row function of (embedding, codebook). Fused into one
  * expression the encode is a map: K×dim double ops per row in a
  * tight JVM loop, zero extra rows, zero shuffle, pipelined into the
  * scan (or the index write) that surrounds it. The generated code of
  * the surrounding whole-stage-codegen stage calls the same loop
  * ([[KernelExpression]]), so the PQ scan is not split at the encode.
  *
  * Semantics are EXACTLY the aggregate form's (and the DuckDB
  * oracle's): subspace m's distance to codebook row k is the strictly
  * left-to-right double fold Σ_j (a[m·subDim+j] − c[m·subDim+j])² with
  * every element promoted to double before subtracting, and the
  * winning code is the smallest distance with ties to the SMALLEST
  * cb_k (the constructor sorts codebook rows by cb_k and the scan
  * replaces only on strictly-smaller distance — min(struct(d, cb_k))'s
  * lexicographic order). Returns array<int> of the [[subspaces]]
  * winning cb_k values; null on a null input.
  *
  * The codebook rides the expression as a LITERAL (K×dim doubles,
  * ~16 KB at K=32 dim=64), shipped once per task binary — the
  * ArgMaxCosine footprint argument, three orders of magnitude under
  * its own 10⁶-cell ceiling. */
case class PqEncode(child: Expression, ks: Seq[Int], cents: Seq[Seq[Double]],
    subspaces: Int, subDim: Int)
    extends UnaryExpression with KernelExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode needs an array<float|double> input, got $t")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val kArr: Array[Int] = ks.toArray
  @transient private lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient private lazy val childIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val av = new Array[Double](n)
    var j = 0
    while (j < n) {
      av(j) = if (childIsFloat) a.getFloat(j).toDouble else a.getDouble(j)
      j += 1
    }
    val out = new Array[Any](subspaces)
    var m = 0
    while (m < subspaces) {
      val base = m * subDim
      var best = Double.PositiveInfinity
      var bestK = if (kArr.isEmpty) 0 else kArr(0)
      var i = 0
      while (i < centArr.length) {
        val c = centArr(i)
        // the subL2 fold: acc starts 0.0, j ascending, (a-c)² added
        // left-to-right — double-identical to the column form
        var acc = 0.0
        var j2 = 0
        while (j2 < subDim) {
          val idx = base + j2
          val d = av(idx) - c(idx)
          acc = acc + d * d
          j2 += 1
        }
        // strictly-smaller ⇒ first (smallest cb_k) wins ties —
        // min(struct(d, cb_k))'s lexicographic order
        if (acc < best) { best = acc; bestK = kArr(i) }
        i += 1
      }
      out(m) = bestK
      m += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
}

object PqEncode {
  /** Column form; codebook rows are sorted by cb_k ASC here so the
    * strict-smaller scan realizes the smallest-code tie-break no
    * matter how the caller ordered them. */
  def apply(emb: Column, ks: Array[Int], cents: Array[Array[Double]],
      subspaces: Int, subDim: Int): Column = {
    require(ks.length == cents.length,
      s"ks (${ks.length}) and cents (${cents.length}) must align")
    val sorted = ks.zip(cents).sortBy(_._1)
    GraftShims.toCol(PqEncode(GraftShims.toExpr(emb),
      sorted.map(_._1).toIndexedSeq,
      sorted.map(_._2.toIndexedSeq).toIndexedSeq,
      subspaces, subDim))
  }
}
