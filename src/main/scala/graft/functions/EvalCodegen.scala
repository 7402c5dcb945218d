package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** The one codegen path of the engine's native scalar expressions:
  * the generated code calls the expression's own `nullSafeEval`, so
  * interpreted eval and whole-stage codegen run the same Scala body
  * by construction, and the host operator stays inside its
  * WholeStageCodegen span (Spark takes an operator out of the span
  * when an expression in it has no generated code).
  *
  * Contract for an expression that mixes this in:
  *  - it is a `UnaryExpression` or `BinaryExpression` whose kernel
  *    is its `nullSafeEval`, called only with non-null inputs (the
  *    trait walks `children`, so one body serves both arities);
  *  - the expression itself is the codegen reference object
  *    (`ctx.addReferenceObj`), so per-instance state (a codebook, a
  *    merge table, lazily built arrays) stays a JVM field and never
  *    becomes Java source; `nullSafeEval` is `protected` in Scala but
  *    public in bytecode, which is what the generated class calls;
  *  - the result is cast to `CodeGenerator.boxedType(dataType)`, so
  *    `nullSafeEval` returns the internal representation
  *    (`java.lang.Long`, `UTF8String`, `ArrayData`, `InternalRow`,
  *    `byte[]` …) exactly as interpreted eval must;
  *  - a `null` result sets `isNull` only when the expression is
  *    `nullable`: an expression whose kernel can return null on
  *    non-null input (an empty string, a null array element) must
  *    override `nullable` to true.
  *
  * The generated shape is Spark's `nullSafeCodeGen`: each child's code
  * runs only while the children before it are non-null (Spark's own
  * per-arity helpers are protected members of the arity classes,
  * which a trait cannot call). */
trait EvalCodegen extends Expression {

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
    val gens = children.map(_.genCode(ctx))
    val args = children.zip(gens).map { case (c, g) =>
      if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${g.value})"
      else g.value.toString
    }
    val call = s"$ref.nullSafeEval(${args.mkString(", ")})"
    val boxed = CodeGenerator.boxedType(dataType)
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    if (nullable) {
      val result = ctx.freshName("result")
      val body =
        s"""Object $result = $call;
           |${ev.isNull} = $result == null;
           |if (!${ev.isNull}) {
           |  ${ev.value} = ($boxed) $result;
           |}""".stripMargin
      val guarded = children.zip(gens).foldRight(body) {
        case ((c, g), inner) =>
          s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $guarded""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = ($boxed) $call;""", isNull = FalseLiteral)
    }
  }
}
