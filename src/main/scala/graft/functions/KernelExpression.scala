package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** A custom expression with ONE Scala body, its `nullSafeEval`, run by
  * both the interpreted `eval` and the generated code of [[doGenCode]].
  * Mix it into a `UnaryExpression` or a `BinaryExpression` and override
  * the `nullSafeEval` of that arity; their `eval` runs the body.
  *
  * The generated code compiles the children, then emits one call to
  * the body on this instance, which rides the generated class's
  * references array; the result is cast to the boxed Java type of
  * [[dataType]]. So no per-expression Java has to be kept equal to the
  * body, and the operator holding the expression stays inside its
  * whole-stage codegen stage (Spark 4.1's `CollapseCodegenStages`
  * keeps any operator holding an expression without generated code out
  * of it, which splits the stage).
  *
  * Null rule, as in `eval`: a null child gives a null result, and a
  * child is evaluated only when the ones before it are non-null, so the
  * body never sees a null. A body may return null when the expression
  * is nullable. */
trait KernelExpression extends Expression {

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val self = ctx.addReferenceObj(prettyName, this, getClass.getName)
    val boxed = CodeGenerator.boxedType(dataType)
    val result = ctx.freshName("result")
    val call = code"""
      |$boxed $result = ($boxed) $self.nullSafeEval(${args.map(_.value).mkString(", ")});
      |${ev.isNull} = $result == null;
      |if (!${ev.isNull}) ${ev.value} = $result;
      """.stripMargin
    val body = args.foldRight(call)((a, inner) => code"""
      |${a.code}
      |if (!${a.isNull}) {
      |  $inner
      |}
      """.stripMargin)
    ev.copy(code = code"""
      |boolean ${ev.isNull} = true;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |$body
      """.stripMargin)
  }
}
