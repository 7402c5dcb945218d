package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-codeword code (argmin squared L2, ties → smaller code) of
  * a subvector against a FIXED per-subspace codebook embedded in the
  * expression — PQ encoding as a pure per-row computation.
  *
  * Why native (the NearestCentroidIdx rationale): the codebook at
  * every encode site is a pinned LocalRelation (mSub × kCodes rows by
  * construction), so the assignment needs neither the broadcast join
  * (row × kCodes fan-out) nor the argmin aggregate whose
  * min(struct(d2, code, s_emb)) buffer carried the subvector payload
  * out of the hash-aggregate fast path. One JVM loop per row; the
  * row keeps its own s_emb column, so nothing rides an aggregation
  * buffer at all.
  *
  * Arithmetic contract: d² via the sequential fold of `sqDist`
  * (acc += (x−y)·(x−y), i = 0..n−1); argmin by (d2 asc, code asc)
  * with java.lang.Double.compare (d² is never NaN). */
case class NearestCodeIdx(sub: Expression, sEmb: Expression,
    subs: Seq[Int], codes: Seq[Seq[Int]], cembs: Seq[Seq[Seq[Double]]])
    extends BinaryExpression with EvalCodegen {

  require(subs.nonEmpty && subs.length == codes.length &&
    subs.length == cembs.length && codes.forall(_.nonEmpty),
    "nearest_code_idx: empty or ragged codebook")

  override def left: Expression = sub
  override def right: Expression = sEmb

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (sub.dataType, sEmb.dataType) match {
      case (IntegerType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nearest_code_idx needs (int, array<double>), got $other")
    }

  @transient private lazy val subIdx: java.util.HashMap[Int, Int] = {
    val m = new java.util.HashMap[Int, Int]()
    subs.zipWithIndex.foreach { case (s, i) => m.put(s, i) }
    m
  }
  @transient private lazy val codeA: Array[Array[Int]] =
    codes.map(_.toArray).toArray
  @transient private lazy val cembA: Array[Array[Array[Double]]] =
    cembs.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(s: Any, e: Any): Any = {
    val si = subIdx.get(s.asInstanceOf[Int])
    val a = e.asInstanceOf[ArrayData]
    val n = a.numElements()
    val cw = cembA(si)
    val cd = codeA(si)
    var best = -1
    var bestD2 = 0.0
    var k = 0
    while (k < cd.length) {
      val c = cw(k)
      // not `require`: its by-name message is a closure per call
      if (c.length != n) throw new IllegalArgumentException(
        s"nearest_code_idx dimension mismatch: $n vs ${c.length}")
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = a.getDouble(i) - c(i)
        acc += d * d
        i += 1
      }
      val cmp =
        if (best < 0) -1 else java.lang.Double.compare(acc, bestD2)
      if (cmp < 0 || (cmp == 0 && cd(k) < cd(best))) {
        best = k
        bestD2 = acc
      }
      k += 1
    }
    cd(best)
  }

  override def nullable: Boolean = sub.nullable || sEmb.nullable

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): NearestCodeIdx = copy(sub = l, sEmb = r)
}
