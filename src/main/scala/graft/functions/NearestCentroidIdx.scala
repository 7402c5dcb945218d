package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Index of the nearest centroid (max cosine, ties → smaller cid) of
  * an embedding against a FIXED centroid set embedded in the
  * expression — the rank-1 assignment of the IVF family as a pure
  * per-row computation.
  *
  * Why native (r17): the centroid relation at every assignment site
  * is a collected LocalRelation (nlist rows by construction), so the
  * assignment needs NO join and NO aggregation — the window form
  * sorted the corpus×nlist product, and the max(struct) aggregate
  * form carried the row payload in a var-length buffer that falls out
  * of the hash-aggregate fast path (measured: the four IVF-assign
  * gates regressed ~25% on it). This expression is one JVM loop per
  * row at scan speed; the caller attaches cid / codeword columns by
  * `element_at` over literal arrays.
  *
  * Tie/NaN contract: argmax by (c_sim desc, cid asc) with doubles
  * compared as java.lang.Double.compare — NaN greatest, the ordering
  * Spark's window sort and struct-max both realize. c_sim =
  * dot(emb, c)/(norm·cnorm) with the sequential i=0..n−1 fold of
  * `DotProduct` (bit-identical arithmetic). */
case class NearestCentroidIdx(emb: Expression, norm: Expression,
    cids: Seq[Long], cembs: Seq[Seq[Double]], cnorms: Seq[Double])
    extends BinaryExpression with EvalCodegen {

  require(cids.nonEmpty && cids.length == cembs.length &&
    cids.length == cnorms.length,
    "nearest_centroid_idx: empty or ragged centroid set")

  override def left: Expression = emb
  override def right: Expression = norm

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (emb.dataType, norm.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid_idx needs (array<double>, double), got $other")
    }

  @transient private lazy val cembA: Array[Array[Double]] =
    cembs.map(_.toArray).toArray
  @transient private lazy val cidA: Array[Long] = cids.toArray
  @transient private lazy val cnormA: Array[Double] = cnorms.toArray

  override def nullSafeEval(e: Any, nm: Any): Any = {
    val a = e.asInstanceOf[ArrayData]
    val nrm = nm.asInstanceOf[Double]
    val n = a.numElements()
    // one (volatile) lazy val read each, not one per centroid
    val cidA = this.cidA
    val cembA = this.cembA
    val cnormA = this.cnormA
    var best = -1
    var bestSim = 0.0
    var k = 0
    while (k < cidA.length) {
      val c = cembA(k)
      // not `require`: its by-name message is a closure per call
      if (c.length != n) throw new IllegalArgumentException(
        s"nearest_centroid_idx dimension mismatch: $n vs ${c.length}")
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a.getDouble(i) * c(i); i += 1 }
      val sim = acc / (nrm * cnormA(k))
      val cmp =
        if (best < 0) 1 else java.lang.Double.compare(sim, bestSim)
      if (cmp > 0 || (cmp == 0 && cidA(k) < cidA(best))) {
        best = k
        bestSim = sim
      }
      k += 1
    }
    best
  }

  override def nullable: Boolean = emb.nullable || norm.nullable

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): NearestCentroidIdx = copy(emb = l, norm = r)
}
