package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct token n-grams ("a b c") of a token array as a native
  * expression: one JVM loop per row. The alternatives both lose at
  * scale — the HOF transform() re-evaluates captured expressions per
  * element after CollapseProject, and the window formulation
  * (posexplode + lead + distinct + count-over) pays three shuffles
  * keyed by document just to stitch neighbors back together. */
case class TokenNgrams(child: Expression, n: Int)
    extends UnaryExpression with EvalCodegen {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_ngrams needs array<string>, got $other")
  }

  override def nullSafeEval(v: Any): Any = {
    val tokens = v.asInstanceOf[ArrayData]
    val cnt = tokens.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i + n <= cnt) {
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        parts(2 * j) =
          if (tokens.isNullAt(i + j)) UTF8String.EMPTY_UTF8
          else tokens.getUTF8String(i + j)
        if (j < n - 1) parts(2 * j + 1) = space
        j += 1
      }
      out.add(UTF8String.concat(parts: _*))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): TokenNgrams =
    copy(child = c)
}

object TokenNgrams {
  /** Column-API entry point — the single place the GraftColumnBridge
    * wrapping lives (Dedup and TextOps both build grams through it). */
  def of(tok: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      TokenNgrams(GraftColumnBridge.expression(tok), n))
  }
}
