package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.functions._

/** Every custom expression runs one Scala body on both paths. For each
  * one, over generated Parquet-backed inputs (nulls, empty strings and
  * arrays, zero vectors, float and double elements, separators and case
  * pairs), the whole-stage generated code must give bit-identical
  * results to the interpreted `eval`, and the operator holding the
  * expression must sit inside a compiled WholeStageCodegen stage that
  * calls the expression. */
class KernelExpressionSpec extends SparkSpec {
  import KernelExpressionSpec._

  /** One expression under test: its input-column variants (one or two
    * columns each) and its column form. */
  private case class Kernel(cls: Class[_], variants: Seq[Seq[String]], mk: Seq[Column] => Column)

  // PqEncode's codebook: 2 subspaces × 2 dims, codes deliberately
  // unsorted; codes 0 and 1 tie on the zero vector in subspace 0.
  private val pqKs = Array(2, 0, 1)
  private val pqCents = Array(Array(3.0, 3.0, 4.0, 4.0), Array(1.0, 1.0, 0.0, 0.0),
    Array(-1.0, -1.0, 2.0, 2.0))
  private val cosIds = Array(7L, 3L, 5L)
  private val cosCents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
    Array(1.0, 0.0, 0.0, 0.0))
  private val terms = Seq("a", "ß", "σ", "i\u0307", "zz")

  private val kernels = Seq(
    Kernel(classOf[ArgMaxCosine], Seq(Seq("f1"), Seq("d1")),
      c => ArgMaxCosine(c(0), cosIds, cosCents)),
    Kernel(classOf[BlockHash60], Seq(Seq("text")), c => BlockHash60(c(0))),
    Kernel(classOf[HashVector], Seq(Seq("text")), c => HashVector(c(0), 6)),
    Kernel(classOf[MinHashSig], Seq(Seq("grams")),
      c => MinHashSig(c(0), Seq(1L, 2654435762L, 96L), Seq(0L, 40503L, 7L), 2147483647L)),
    Kernel(classOf[PqEncode], Seq(Seq("pf"), Seq("pd")), c => PqEncode(c(0), pqKs, pqCents, 2, 2)),
    Kernel(classOf[QuantizeVec], Seq(Seq("f1"), Seq("d1")), c => QuantizeVec(c(0))),
    Kernel(classOf[RollingFingerprint], Seq(Seq("text")), c => RollingFingerprint(c(0), 3, 2)),
    Kernel(classOf[SimHash64], Seq(Seq("text")), c => SimHash64(c(0))),
    Kernel(classOf[StubEmbed], Seq(Seq("text")), c => StubEmbed(c(0), 8)),
    Kernel(classOf[TermCounts], Seq(Seq("text")), c => TermCounts(c(0), terms)),
    Kernel(classOf[TextShingles], Seq(Seq("text")), c => TextShingles(c(0), 2)),
    Kernel(classOf[VecDot], Seq(Seq("f1", "f2"), Seq("d1", "d2"), Seq("f1", "d2")),
      c => VecDot(c(0), c(1))),
    Kernel(classOf[VecDotInt], Seq(Seq("b1", "b2")), c => VecDotInt(c(0), c(1))))

  private val root = java.nio.file.Files.createTempDirectory("kernel_expr").toFile
  sys.addShutdownHook(rmTree(root))

  /** `rows` as a Parquet-backed frame: a local relation would be folded
    * by ConvertToLocalRelation, evaluating interpreted at plan time, and
    * the generated path would go untested. */
  private def parquetOf(rows: Seq[In]): DataFrame = {
    val p = new java.io.File(root, java.util.UUID.randomUUID.toString).getAbsolutePath
    spark.createDataFrame(rows).write.parquet(p)
    spark.read.parquet(p)
  }

  private def planOf(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** The nodes compiled into `w`'s stage (its subtree down to the
    * InputAdapters, which feed it from outside). */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case _ => p +: p.children.flatMap(stageNodes)
  }

  private def assertInCodegen(df: DataFrame, cls: Class[_]): Unit = {
    val plan = planOf(df)
    val holders = plan.collect {
      case p if p.expressions.exists(_.exists(_.getClass == cls)) => p
    }
    assert(holders.nonEmpty, s"no operator holds ${cls.getSimpleName}:\n$plan")
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    holders.foreach { h =>
      val stage = stages.find(w => stageNodes(w.child).exists(_ eq h))
      assert(stage.isDefined,
        s"${h.nodeName} holding ${cls.getSimpleName} is outside whole-stage codegen:\n$plan")
      val (_, src) = stage.get.doCodeGen()
      assert(src.body.contains(s"(${cls.getName}) references["),
        s"the generated code of the stage does not call ${cls.getSimpleName}")
      CodeGenerator.compile(src)
    }
  }

  /** Floats and doubles by their bits, so -0.0 and 0.0 differ. */
  private def bits(v: Any): Any = v match {
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: Row => r.toSeq.map(bits).toList
    case other => other
  }

  private val params = Test.Parameters.default.withMinSuccessfulTests(5)

  kernels.zipWithIndex.foreach { case (k, ki) =>
    val name = k.cls.getSimpleName
    test(s"$name: whole-stage codegen equals the interpreted eval") {
      val outs = k.variants.map(v => k.mk(v.map(col)))
      def select(df: DataFrame): DataFrame =
        df.select(col("id") +: k.variants.flatten.distinct.map(col) ++:
          outs.zipWithIndex.map { case (o, i) => o.as(s"out$i") }: _*)
      assertInCodegen(select(parquetOf(genBatch.pureApply(Gen.Parameters.default,
        Seed(77L + ki)))), k.cls)

      val prop = Prop.forAllNoShrink(genBatch) { rows =>
        val byId = rows.map(r => r.id -> r).toMap
        val df = select(parquetOf(rows))
        val analyzed = df.queryExecution.analyzed.expressions.collect {
          case a: Alias => a.name -> a.child }.toMap
        val got = df.collect()
        got.length == rows.length && got.forall { r =>
          val in = byId(r.getLong(0))
          k.variants.zipWithIndex.forall { case (v, i) =>
            val e = analyzed(s"out$i").transform {
              case a: AttributeReference => Literal.create(in.column(a.name), a.dataType)
            }
            val interp = CatalystTypeConverters.convertToScala(e.eval(InternalRow.empty), e.dataType)
            val gen = r.get(r.fieldIndex(s"out$i"))
            val ok = bits(gen) == bits(interp)
            if (!ok) println(s"$name$v mismatch on $in: generated $gen, interpreted $interp")
            ok
          }
        }
      }
      val res = Test.check(params.withInitialSeed(Seed(20261019L + ki)), prop)
      assert(res.passed, s"property failed: ${res.status}")
    }
  }
}

object KernelExpressionSpec {
  /** One generated input row: a column per child type. */
  case class In(id: Long, text: String, grams: Seq[String], f1: Seq[Float], f2: Seq[Float],
      d1: Seq[Double], d2: Seq[Double], b1: Seq[Byte], b2: Seq[Byte],
      pf: Seq[Float], pd: Seq[Double]) {
    def column(c: String): Any = productElement(productElementNames.indexOf(c))
  }

  // Java's \s separators, non-\s spaces (NBSP, EM SPACE, U+001C), case
  // pairs whose lowercase changes byte length or depends on context,
  // and a supplementary-plane character.
  private val separators = Seq(" ", "\t", "\r", "\n", "\u000B", "\f", "  ")
  private val letters = Seq("a", "A", "b", "ab", "AB", "ss", "ß", "\u1E9E", "i", "I", "İ", "ı",
    "i\u0307", "σ", "Σ", "ς", "é", "日", "😀", "\u00A0", "\u2003", "\u001C", "zz", "the")

  private val genText: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    1 -> Gen.listOf(Gen.oneOf(separators)).map(_.mkString),
    8 -> Gen.listOf(Gen.frequency(3 -> Gen.oneOf(letters), 2 -> Gen.oneOf(separators)))
      .map(_.mkString))

  private val genGrams: Gen[Seq[String]] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Seq.empty[String]),
    4 -> Gen.listOf(Gen.listOfN(2, Gen.oneOf(letters)).map(_.mkString(" "))))

  private val genDouble: Gen[Double] = Gen.frequency(
    1 -> Gen.const(0.0), 1 -> Gen.const(-0.0),
    1 -> Gen.oneOf(1.0, -1.0, 0.5, 1e-3, 3.0e5),
    6 -> Gen.choose(-4.0, 4.0))

  /** Null, empty, all-zero or a 1-6 element vector. */
  private def genVec[T](elem: Gen[T], zero: T): Gen[Seq[T]] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Seq.empty[T]),
    1 -> Gen.const(Seq.fill(4)(zero)),
    6 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, elem)))

  /** Null or a 4-element vector (PqEncode reads 2 × 2 dims). */
  private def genVec4[T](elem: Gen[T]): Gen[Seq[T]] =
    Gen.frequency(1 -> Gen.const(null), 6 -> Gen.listOfN(4, elem))

  private val genIn: Gen[Long => In] = for {
    text <- genText
    grams <- genGrams
    f1 <- genVec(genDouble.map(_.toFloat), 0f)
    f2 <- genVec(genDouble.map(_.toFloat), 0f)
    d1 <- genVec(genDouble, 0.0)
    d2 <- genVec(genDouble, 0.0)
    b1 <- genVec(Gen.choose(-128, 127).map(_.toByte), 0.toByte)
    b2 <- genVec(Gen.choose(-128, 127).map(_.toByte), 0.toByte)
    pf <- genVec4(genDouble.map(_.toFloat))
    pd <- genVec4(genDouble)
  } yield (id: Long) => In(id, text, grams, f1, f2, d1, d2, b1, b2, pf, pd)

  val genBatch: Gen[Seq[In]] =
    Gen.listOfN(40, genIn).map(_.zipWithIndex.map { case (f, i) => f(i.toLong) })
}
