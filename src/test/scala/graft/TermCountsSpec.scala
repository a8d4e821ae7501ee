package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.functions.TermCounts
import graft.operators.TextOps

/** TermCounts is BM25's one-pass replacement for the array pipelines
  * `size(tokens(text))` and `size(filter(tokens(text), x => lower(x)
  * === t))`. The scan tier is hash-gated against the DuckDB oracle, so
  * the kernel must equal those pipelines exactly. KernelExpressionSpec
  * checks that it runs inside whole-stage codegen. */
class TermCountsSpec extends SparkSpec {

  // Java's \s separators, non-\s spaces (NBSP, EM SPACE, U+001C — all
  // token characters to the splitter), and case pairs whose lowercase
  // changes byte length or depends on context (İ, Σ/ς, ß, ı).
  private val separators = Seq(" ", "\t", "\r", "\n", "\u000B", "\f", "  ", " \t\r\n")
  private val letters = Seq("a", "A", "b", "B", "ab", "AB", "ss", "SS", "ß", "\u1E9E",
    "i", "I", "İ", "ı", "i\u0307", "σ", "Σ", "ς", "ΣΑΣ", "é", "É", "日", "😀",
    "\u00A0", "\u2003", "\u001C", "a\u00A0b")
  private val termPool = Seq("a", "b", "ab", "ss", "ß", "i", "ı", "i\u0307", "σ", "ς",
    "σας", "é", "日", "😀", "a\u00A0b", "\u00A0", "zz")

  private val genText: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    1 -> Gen.listOf(Gen.oneOf(separators)).map(_.mkString),
    8 -> Gen.listOf(Gen.frequency(3 -> Gen.oneOf(letters), 2 -> Gen.oneOf(separators)))
      .map(_.mkString))
  private val genTerms: Gen[Seq[String]] =
    Gen.choose(1, 5).flatMap(n => Gen.pick(n, termPool)).map(_.toSeq)

  /** `texts` as a Parquet-backed frame: a local relation would be
    * folded by ConvertToLocalRelation, evaluating interpreted at plan
    * time, and the generated path would go untested. */
  private def parquetOf(rows: Seq[(Long, String)], tag: String): DataFrame = {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory(s"term_counts_$tag").toFile
    sys.addShutdownHook(rmTree(p))
    rows.toDF("id", "text").write.mode("overwrite").parquet(p.getAbsolutePath + "/t")
    spark.read.parquet(p.getAbsolutePath + "/t")
  }

  /** The column form's analyzed expression over `df`, evaluated
    * interpreted on a given text. */
  private def interpreted(df: DataFrame, terms: Seq[String]): String => Seq[Long] = {
    val e = df.select(TermCounts(col("text"), terms)).queryExecution.analyzed.expressions.head
    text => {
      val r = e.transform { case a: AttributeReference => Literal.create(text, a.dataType) }
        .eval(InternalRow.empty).asInstanceOf[InternalRow]
      (0 to terms.length).map(r.getLong)
    }
  }

  test("term_counts equals size(tokens) and size(filter(tokens, lower === t)) on generated text") {
    val batch = Gen.zip(Gen.listOfN(48, genText), genTerms)
    val prop = Prop.forAll(batch) { case (texts, terms) =>
      val df = parquetOf(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, "prop")
      val toks = TextOps.tokens(col("text"))
      val rows = df.select(col("id") +: col("text") +:
          TermCounts(col("text"), terms).as("tc") +:
          size(toks).cast("long").as("dl") +:
          terms.map(t => size(filter(toks, x => lower(x) === lit(t))).cast("long")): _*)
        .orderBy("id").collect()
      val interp = interpreted(df, terms)
      rows.forall { r =>
        val tc = r.getStruct(2)
        val gen = (0 to terms.length).map(tc.getLong)
        val ref = (0 to terms.length).map(i => r.getLong(3 + i))
        val ok = gen == ref && interp(r.getString(1)) == gen
        // code points, so separators and case pairs stay readable
        if (!ok) println(s"term_counts mismatch on ${r.getString(1).map(_.toInt)}, " +
          s"terms ${terms.map(_.map(_.toInt))}: generated $gen, reference $ref, " +
          s"interpreted ${interp(r.getString(1))}")
        ok
      }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(8)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("term_counts planted cases: separators, case pairs, repeats, empty and null text") {
    val terms = Seq("a", "ß", "σ", "ς", "i\u0307")
    val cases = Seq(
      "" -> Seq(0L, 0, 0, 0, 0, 0),
      " \t\u000B\r\n\f " -> Seq(0L, 0, 0, 0, 0, 0),
      "\u000Ba\u000BA\ta\r" -> Seq(3L, 3, 0, 0, 0, 0),
      "  A a  A " -> Seq(3L, 3, 0, 0, 0, 0),
      "ß ẞ SS ss" -> Seq(4L, 0, 2, 0, 0, 0),
      "Σ σ ς ΣΑΣ" -> Seq(4L, 0, 0, 2, 1, 0),
      "İ i I ı" -> Seq(4L, 0, 0, 0, 0, 1),
      "a\u00A0a a\u2003a" -> Seq(2L, 0, 0, 0, 0, 0))
    val df = parquetOf((cases.map(_._1) :+ null).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }, "planted")
    val got = df.select(col("id"), TermCounts(col("text"), terms).as("tc"))
      .orderBy("id").collect().map(r => (0 to terms.length).map(r.getStruct(1).getLong))
    val expect = cases.map(_._2) :+ Seq.fill(terms.length + 1)(0L)
    assert(got.toSeq === expect)
    val interp = interpreted(df, terms)
    assert(cases.map(c => interp(c._1)) === cases.map(_._2))
    assert(interp(null) === Seq.fill(terms.length + 1)(0L))
    // the struct and its fields are declared non-null
    val st = df.select(TermCounts(col("text"), terms).as("tc")).schema("tc")
    assert(!st.nullable)
    assert(st.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.forall(!_.nullable))
  }
}
