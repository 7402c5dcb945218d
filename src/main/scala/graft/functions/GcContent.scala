package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** GC-content as a native Catalyst expression WITH code generation
  * (`EvalCodegen`) —
  * the §2.10 candidate the SURVEY marks for a codegen'd implementation
  * (reference semantics `AnnotateContigs.pl:235-239`: #G+#C over
  * sequence length × 100, case-insensitive; null/empty → null).
  *
  * Versus the `regexp_replace`-based formulation (`Readers.gcPct`) this
  * is a single byte-scan per row with no regex machinery and no
  * intermediate string allocation, and it stays inside whole-stage
  * codegen — the preference order the engine follows: built-in
  * functions > native Expression > UDF.
  */
case class GcContent(child: Expression) extends UnaryExpression
    with EvalCodegen {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"gc_content needs STRING, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    if (bytes.isEmpty) null
    else {
      // counting over BYTES is safe (G/C/g/c never occur inside UTF-8
      // multi-byte sequences) but the denominator must be CHARACTERS to
      // match the documented semantics and the length()-based oracle.
      var gc = 0
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i)
        if (b == 'G' || b == 'C' || b == 'g' || b == 'c') gc += 1
        i += 1
      }
      gc * 100.0 / s.numChars()
    }
  }

  // empty input produces null even though the child is non-null
  override def nullable: Boolean = true

  override protected def withNewChildInternal(c: Expression): GcContent =
    copy(child = c)
}
