package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Dot product of two numeric arrays as a native codegen'd expression.
  *
  * The `aggregate(zip_with(a, b, *), 0.0, +)` higher-order formulation
  * is semantically identical but HOFs don't participate in whole-stage
  * codegen — every element allocates lambda-variable slots and walks
  * the interpreted eval path. This expression compiles to a single
  * primitive loop over the two ArrayData buffers, which is what the
  * O(queries × corpus × dim) ANN scoring actually needs.
  *
  * Floats are widened to double BEFORE multiplying (parity with
  * engines that compute in double — see the ANN oracle notes).
  * Null arrays → null; mismatched lengths → error (vector columns are
  * fixed-dimension by construction).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(et @ (FloatType | DoubleType), _) => Some(et)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product needs array<float|double>, got " +
        s"${left.dataType} and ${right.dataType}")

  private lazy val leftIsFloat = elemType(left).contains(FloatType)
  private lazy val rightIsFloat = elemType(right).contains(FloatType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    require(a.numElements() == b.numElements(),
      s"dot_product dimension mismatch: ${a.numElements()} vs " +
        s"${b.numElements()}")
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      // null element → null result, matching the HOF formulation
      // (zip_with's x*y is null, poisoning the aggregate sum)
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getA =
        if (leftIsFloat) s"(double) $a.getFloat($i)"
        else s"$a.getDouble($i)"
      val getB =
        if (rightIsFloat) s"(double) $b.getFloat($i)"
        else s"$b.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "dot_product dimension mismatch: " + $n + " vs "
         |      + $b.numElements());
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    ${ev.isNull} = true;
         |    break;
         |  }
         |  $acc += ($getA) * ($getB);
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  // a null ELEMENT nulls the result even when both arrays are non-null
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): DotProduct = copy(left = l, right = r)
}
