package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Dot product of two numeric arrays as a native expression.
  *
  * The `aggregate(zip_with(a, b, *), 0.0, +)` higher-order formulation
  * is semantically identical but HOFs don't participate in whole-stage
  * codegen — every element allocates lambda-variable slots and walks
  * the interpreted eval path. This expression is a single primitive
  * loop over the two ArrayData buffers inside the host's codegen span
  * (`EvalCodegen`), which is what the O(queries × corpus × dim) ANN
  * scoring actually needs.
  *
  * Floats are widened to double BEFORE multiplying (parity with
  * engines that compute in double — see the ANN oracle notes).
  * Null arrays → null; mismatched lengths → error (vector columns are
  * fixed-dimension by construction).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with EvalCodegen {

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
    // not `require`: its by-name message is a closure allocated per row
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"dot_product dimension mismatch: ${a.numElements()} vs " +
          s"${b.numElements()}")
    // a lazy val read is a volatile read: take both out of the loop
    val lf = leftIsFloat
    val rf = rightIsFloat
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      // null element → null result, matching the HOF formulation
      // (zip_with's x*y is null, poisoning the aggregate sum)
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  // a null ELEMENT nulls the result even when both arrays are non-null
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): DotProduct = copy(left = l, right = r)
}
