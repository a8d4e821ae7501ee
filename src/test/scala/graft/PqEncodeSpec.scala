package graft

import org.apache.spark.sql.functions._
import graft.functions.PqEncode

/** The PQ tier is hash-gated end to end against the DuckDB oracle, so
  * the encode must keep the aggregate form's semantics: the nearest code
  * per subspace by a left-to-right double fold, ties to the smallest
  * cb_k, null for a null input, for both element types.
  * KernelExpressionSpec checks that its generated code equals its
  * interpreted eval. */
class PqEncodeSpec extends SparkSpec {

  // 2 subspaces × 2 dims, 3 codes. Subspace 0: codes 0 and 1 are
  // EQUIDISTANT from the zero vector (d²=2 each), code 2 is far — the
  // tie must go to cb_k 0. Subspace 1: code 0 sits at the origin.
  private val ks = Array(2, 0, 1) // deliberately unsorted; apply() sorts
  private val cents = Array(
    Array(3.0, 3.0, 4.0, 4.0),   // cb_k 2
    Array(1.0, 1.0, 0.0, 0.0),   // cb_k 0
    Array(-1.0, -1.0, 2.0, 2.0)) // cb_k 1

  test("pq_encode: nearest code per subspace, ties to smallest cb_k, null to null") {
    import spark.implicits._
    val vecs = Seq(
      Seq(0.0, 0.0, 0.0, 0.0),        // subspace-0 tie between cb 0 and 1
      Seq(-1.0, -0.5, 2.0, 2.0),
      Seq(3.0, 3.5, 3.9, 4.1),
      Seq(0.1, -0.1, 1.0, 1.0))       // exact ties in both subspaces
    val expect = Seq(Seq(0, 0), Seq(1, 1), Seq(2, 2), Seq(0, 0))
    // a PARQUET-backed column, so the encode runs in generated code — a
    // local Seq relation is folded by ConvertToLocalRelation
    val tmp = java.nio.file.Files.createTempDirectory("pq_encode_spec").toFile
    def codes(df: org.apache.spark.sql.DataFrame, name: String) = {
      val p = s"${tmp.getAbsolutePath}/$name"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p).select(col("id"), PqEncode(col("emb"), ks, cents, 2, 2).as("codes"))
        .orderBy("id").collect().map(_.getSeq[Int](1).toSeq).toSeq
    }
    assert(codes(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "emb"), "d")
      === expect)
    assert(codes(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
      .toDF("id", "emb"), "f") === expect)
    rmTree(tmp)
    val withNull = spark.sql("select cast(null as array<double>) as emb")
      .select(PqEncode(col("emb"), ks, cents, 2, 2).as("codes"))
    assert(withNull.collect().head.isNullAt(0))
  }
}
