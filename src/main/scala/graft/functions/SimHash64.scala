package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 64-bit SimHash of a token array as a native expression.
  *
  * Semantics identical to the HOF formulation in `Dedup.simhash`
  * (bit b = sign of Σ ±1 over bit b of xxhash64(token), seed 42 —
  * the same seed as the built-in `xxhash64`): verified bit-for-bit in
  * SimHashSpec. One JVM loop per row — the HOF form pays an
  * interpreted lambda call per (token × bit) pair, ~64× the work.
  */
case class SimHash64(child: Expression) extends UnaryExpression
    with EvalCodegen {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 needs array<string>, got $other")
  }

  override def nullSafeEval(v: Any): Any = {
    val tokens = v.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = XxHash64Function.hash(
          tokens.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}
