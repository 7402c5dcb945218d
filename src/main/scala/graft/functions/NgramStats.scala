package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Token n-gram frequency stats of a token array in ONE pass per row:
  * `struct(n_grams, top_count)` — total n-grams (with multiplicity)
  * and the count of the most frequent one. Feeds the Gopher-style
  * repetition quality signal (`top_count / n_grams`): a document that
  * keeps repeating one phrase scores near 1.
  *
  * Why native: the relational formulation (posexplode → neighbor
  * stitch → groupBy(doc, gram) → max-over-doc) pays three
  * document-keyed shuffles for what is a per-row counter loop; the
  * HOF formulation re-evaluates the captured token array per element
  * after CollapseProject. Like TokenNgrams this is per-row and
  * shuffle-free, so it scales with the scan. */
case class NgramStats(child: Expression, n: Int)
    extends UnaryExpression with EvalCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("top_count", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngram_stats needs array<string>, got $other")
  }

  override def nullSafeEval(v: Any): Any = {
    val tokens = v.asInstanceOf[ArrayData]
    val cnt = tokens.numElements()
    val total = math.max(cnt - n + 1, 0)
    if (total == 0) return InternalRow(0, 0)
    // cap the initial table: repetitive documents (the ones this
    // signal targets) have few distinct grams, and a giant up-front
    // allocation per row is pure GC pressure at corpus scale
    // min BEFORE doubling: `total * 2` overflows Int past 2^30 tokens
    // (a ~1B-token row), and HashMap throws on a negative capacity
    val counts = new java.util.HashMap[UTF8String, Int](
      math.min(total, 1 << 15) * 2)
    val space = UTF8String.fromString(" ")
    var best = 0
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
      val gram = UTF8String.concat(parts: _*)
      val c = counts.getOrDefault(gram, 0) + 1
      counts.put(gram, c)
      if (c > best) best = c
      i += 1
    }
    InternalRow(total, best)
  }

  override protected def withNewChildInternal(c: Expression): NgramStats =
    copy(child = c)
}
