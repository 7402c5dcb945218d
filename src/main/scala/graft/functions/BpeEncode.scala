package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding merge of ONE word against a ranked merges table,
  * as a native expression: the word starts as its character sequence
  * and repeatedly merges the adjacent pair with the LOWEST merge rank
  * (ties broken leftmost), one occurrence per step, until no adjacent
  * pair appears in the table. That (rank, leftmost-position) priority
  * is exactly the order a trained BPE tokenizer applies its learned
  * merges (the priority-queue formulation), so a fixture merges table
  * plus hand-derived goldens pin the algorithm in BpeEncodeSpec, and
  * the DuckDB oracle replays the identical recursion.
  *
  * Scale shape: pure per-row JVM loop — zero shuffles, the merge
  * RANKS ride into every task as part of the serialized expression
  * (the closure plays the role a broadcast variable would for a
  * production 50k-merge vocabulary; the map is built once per
  * deserialized instance, not per row). Cost is O(len² · lookup) per
  * word with len = word length, the same bound as the reference
  * tokenizer implementations; words are short, so the scan term never
  * dominates the regex word-split that precedes it.
  *
  * The reference pipeline has no tokenizer (out of GLAMR's scope) —
  * this is an LLM-corpus operator: real token counts for the budget
  * mix / bin packing stages (`TextOps.bpeMergeCount`).
  */
private[functions] trait BpeMergeLoop {
  def merges: Seq[(String, String)]

  // rank = position in the merges list (a real merges.txt is already
  // rank-ordered); built lazily once per task deserialization
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      m.putIfAbsent(a + " " + b, r)
    }
    m
  }

  /** The deterministic (minRank, leftmost) merge recursion: fuse one
    * occurrence per step, rescan; each step shrinks the list by one,
    * so ≤ len-1 steps. Mutates and drains `toks`. */
  protected def runMerges(
      toks: java.util.ArrayList[String]): GenericArrayData = {
    var done = toks.size() <= 1
    while (!done) {
      var bestRank = Int.MaxValue
      var bestI = -1
      var i = 0
      while (i < toks.size() - 1) {
        val r = rank.get(toks.get(i) + " " + toks.get(i + 1))
        if (r != null && r < bestRank) { bestRank = r; bestI = i }
        i += 1
      }
      if (bestI < 0) done = true
      else {
        toks.set(bestI, toks.get(bestI) + toks.get(bestI + 1))
        toks.remove(bestI + 1)
        if (toks.size() <= 1) done = true
      }
    }
    val out = new Array[Any](toks.size())
    var j = 0
    while (j < out.length) {
      out(j) = UTF8String.fromString(toks.get(j))
      j += 1
    }
    new GenericArrayData(out)
  }
}

case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with EvalCodegen with BpeMergeLoop {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode needs STRING, got $other")
  }

  override def nullSafeEval(v: Any): Any = {
    val word = v.asInstanceOf[UTF8String].toString
    val toks = new java.util.ArrayList[String](word.length)
    // seed with code points (UTF-8 aware, like the oracle's char split)
    var ci = 0
    while (ci < word.length) {
      val cp = word.codePointAt(ci)
      val n = Character.charCount(cp)
      toks.add(word.substring(ci, ci + n))
      ci += n
    }
    runMerges(toks)
  }

  override protected def withNewChildInternal(c: Expression): BpeEncode =
    copy(child = c)
}

/** `BpeEncode` seeded from an ALREADY-TOKENIZED array instead of raw
  * characters — the incremental-training primitive. Running the same
  * rank recursion from the fixpoint under merges 0..k-1 provably
  * equals a char-seeded encode under merges 0..k: the char-seeded
  * procedure applies merge k only when no earlier merge is applicable,
  * so its trace passes through exactly that fixpoint first (and any
  * earlier-rank pair a merge-k fusion re-enables is handled by the
  * same recursion either way). BpeEncodeSpec pins this equivalence on
  * adversarial fixtures; `TextOps.bpeLearn` uses it to carry the
  * tokenized vocabulary forward between merge iterations instead of
  * re-applying the whole stack (O(M) instead of O(M²) in merges). */
case class BpeEncodeTokens(child: Expression,
    merges: Seq[(String, String)])
    extends UnaryExpression with EvalCodegen with BpeMergeLoop {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode_tokens needs ARRAY<STRING>, got $other")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val toks = new java.util.ArrayList[String](n)
    var i = 0
    while (i < n) {
      toks.add(arr.getUTF8String(i).toString)
      i += 1
    }
    runMerges(toks)
  }

  override protected def withNewChildInternal(c: Expression): BpeEncodeTokens =
    copy(child = c)
}

object BpeEncode {
  /** Column-API entry point (GraftColumnBridge wrapping lives here,
    * like `TokenNgrams.of`). */
  def of(word: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      BpeEncode(GraftColumnBridge.expression(word), merges))
  }

  /** Token-array-seeded entry point (see `BpeEncodeTokens`). */
  def ofTokens(toks: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      BpeEncodeTokens(GraftColumnBridge.expression(toks), merges))
  }
}
