package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** The MMR greedy over ONE query's shortlist as a native expression:
  * input is the collected candidate array
  * `array<struct<n_id long, rel_micro long, n_emb array<double>,
  * n_norm double>>` (bounded by the shortlist width R — ≤ 8 at the
  * gate params), output the picks
  * `array<struct<rank int, n_id long, mmr_score_e7 long>>`.
  *
  * Why native: the greedy is PER-QUERY LOCAL — every pick depends only
  * on that query's ≤ R candidates — yet the k-round DataFrame
  * formulation shuffled the whole shortlist table once per rank
  * (k persists + k materializing counts + k window sorts; ~20 jobs at
  * k = 5). As a grouped-aggregate + one expression eval per query the
  * WHOLE diversification is one shuffle (the collect_list groupBy),
  * which is also the right 100 TB shape: a million queries still pay
  * one exchange, and the per-row work is k·R integer argmaxes over an
  * R² sim table. Evaluated once per QUERY row (not per corpus row).
  *
  * ARITHMETIC CONTRACT — bit-identical to the relational greedy it
  * replaces (pinned by SimilaritySpec's equivalence test and the
  * conditioned-total x_mmr oracles):
  *  - pair sim = dot(a,b)/(|a|·|b|) with the sequential i=0..n−1 fold
  *    of `DotProduct` (same double arithmetic);
  *  - sim_micro = (round(sim, 6) cast decimal(18,6)) · 1e6 as long:
  *    Spark's Round(double) is BigDecimal.valueOf(d).setScale(6,
  *    HALF_UP) (decimal-string semantics), replicated verbatim;
  *  - score_e7 = λ₁₀·rel_micro − (10−λ₁₀)·max-sim-to-picked, with the
  *    max NULL until the first pick lands (score then uses 0, but a
  *    later real max may be negative — never floored);
  *  - argmax by (score desc, n_id asc) — input-order independent, so
  *    collect_list's nondeterministic order cannot move a pick;
  *  - a query with fewer than k candidates yields picks only up to
  *    its candidate count.
  */
case class MmrGreedyPick(child: Expression, k: Int, lambda10: Int)
    extends UnaryExpression with EvalCodegen {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("n_id", LongType, nullable = false),
    StructField("mmr_score_e7", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _), StructField(_, LongType, _, _),
      StructField(_, ArrayType(DoubleType, _), _, _),
      StructField(_, DoubleType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "mmr_greedy_pick needs array<struct<long, long, array<double>, " +
        s"double>>, got $other")
  }

  /** round(sim, 6) → decimal(18,6) → ×1e6 → long, exactly as the
    * relational `simMicro` column computed it. */
  private def simMicro(sim: Double): Long = {
    val r =
      if (sim.isNaN || sim.isInfinite) sim
      else java.math.BigDecimal.valueOf(sim)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    java.math.BigDecimal.valueOf(r)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()
  }

  override def nullSafeEval(v: Any): Any = {
    val cand = v.asInstanceOf[ArrayData]
    val n = cand.numElements()
    val ids = new Array[Long](n)
    val rel = new Array[Long](n)
    val emb = new Array[ArrayData](n)
    val norm = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = cand.getStruct(i, 4)
      ids(i) = row.getLong(0)
      rel(i) = row.getLong(1)
      emb(i) = row.getArray(2)
      norm(i) = row.getDouble(3)
      i += 1
    }
    def dot(a: ArrayData, b: ArrayData): Double = {
      val m = a.numElements()
      var acc = 0.0
      var j = 0
      while (j < m) { acc += a.getDouble(j) * b.getDouble(j); j += 1 }
      acc
    }
    val picked = new Array[Boolean](n)
    val hasMs = new Array[Boolean](n)
    val ms = new Array[Long](n)
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](
      math.min(k, n))
    var r = 1
    var done = false
    while (r <= k && !done) {
      var best = -1
      var bestScore = 0L
      i = 0
      while (i < n) {
        if (!picked(i)) {
          val score = lambda10.toLong * rel(i) -
            (10L - lambda10) * (if (hasMs(i)) ms(i) else 0L)
          if (best < 0 || score > bestScore ||
            (score == bestScore && ids(i) < ids(best))) {
            best = i
            bestScore = score
          }
        }
        i += 1
      }
      if (best < 0) done = true
      else {
        out += InternalRow(r, ids(best), bestScore)
        picked(best) = true
        if (r < k) {
          i = 0
          while (i < n) {
            if (!picked(i)) {
              val s = simMicro(
                dot(emb(i), emb(best)) / (norm(i) * norm(best)))
              ms(i) = if (hasMs(i)) math.max(ms(i), s) else s
              hasMs(i) = true
            }
            i += 1
          }
        }
        r += 1
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  override def nullable: Boolean = child.nullable

  override protected def withNewChildInternal(c: Expression)
      : MmrGreedyPick = copy(child = c)
}
