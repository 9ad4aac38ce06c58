package mallispark.expressions

import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode}

/** Generated code for a kernel whose one body is its Scala
  * `nullSafeEval`: the generated code null-checks the child and calls
  * that body on this expression (a reference object of the stage), so
  * each kernel is written once, with no Java-string copy of its loop.
  * Fits kernels whose per-row work dwarfs one call and one boxed result
  * (the text and hyperplane kernels); `CosineSim` keeps its generated
  * loop because it returns a primitive double on the ANN hot path. */
private[expressions] trait ScalaBodyCodegen extends UnaryExpression {

  /** Entry point for the generated code (`nullSafeEval` is protected). */
  def nullSafeEvalPublic(input: Any): Any = nullSafeEval(input)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("expr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (${CodeGenerator.boxedType(dataType)}) " +
        s"$ref.nullSafeEvalPublic($c);")
  }
}
