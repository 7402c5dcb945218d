package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketch, Sketches, Union}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Theta-sketch distinct-set algebra — the set-OPERATION capability
  * `approx_count_distinct`/HLL lacks: HLL registers can only UNION, a
  * theta sketch (Datasketches' KMV min-hash-set form, the library
  * Spark already ships for its HLL functions) keeps the k smallest
  * value hashes and therefore supports INTERSECTION and DIFFERENCE of
  * distinct sets — audience overlap between corpus snapshots, novel
  * keys per ingest batch, dedup-candidate overlap across shards —
  * each answered by shipping ONE sketch per side instead of
  * re-shuffling the data.
  *
  * `theta_sketch(col)` is a native `TypedImperativeAggregate` whose
  * partial state is the heap Union object itself (serialized only at
  * shuffle boundaries as a compact sketch image), so map-side partial
  * aggregation sees a plain object update per row — no per-row
  * (de)serialization. Scalar companions `theta_union`,
  * `theta_intersect`, `theta_anotb` combine two sketch images;
  * `theta_estimate` rounds the estimate to a long.
  *
  * DETERMINISM / ORACLE DISCIPLINE: a theta sketch retains the k
  * smallest hashes — a function of the value SET only, independent of
  * row order and partitioning, so results are bit-stable on any
  * cluster. Below k retained values the sketch is in exact mode
  * (theta = 1) and every estimate is the exact distinct count, which
  * is what makes the gate DuckDB-oracle-able: the gate bounds its key
  * universe (pmod 3000 < k = 4096) so ALL five set-op outputs are
  * exact at every SF, while the operator itself degrades gracefully
  * to ±1.6% estimates past k at 100 TB.
  */
object ThetaSketch {

  val DefaultLgK = 12 // nominal 4096 entries ≈ 1.6% RSE in estimation

  private[functions] def heapify(bytes: Array[Byte]): Sketch =
    Sketches.heapifySketch(Memory.wrap(bytes))
}

/** Aggregate: theta sketch of a LONG key column. Buffer = the heap
  * Union; serialized form = the compact-ordered sketch image (the
  * union of compact images is lossless, so shuffle round-trips cannot
  * change the result). */
case class ThetaSketchAgg(
    child: Expression,
    lgK: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_sketch needs a BIGINT key, got ${child.dataType}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "theta_sketch"

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult)
    buffer
  }

  override def eval(buffer: Union): Any =
    buffer.getResult.toByteArray

  override def serialize(buffer: Union): Array[Byte] =
    buffer.getResult.toByteArray

  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(Memory.wrap(bytes))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int)
      : ThetaSketchAgg = copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int)
      : ThetaSketchAgg = copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ThetaSketchAgg =
    copy(child = newChildren.head)
}

/** Scalar: rounded distinct estimate of a sketch image (exact — the
  * retained count — while the sketch is in exact mode). */
case class ThetaEstimate(child: Expression)
  extends UnaryExpression with EvalCodegen {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_estimate needs a sketch image (BINARY), got " +
        s"${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "theta_estimate"

  protected override def nullSafeEval(b: Any): Any =
    Math.round(
      ThetaSketch.heapify(b.asInstanceOf[Array[Byte]]).getEstimate)

  override protected def withNewChildInternal(newChild: Expression)
      : ThetaEstimate = copy(child = newChild)
}

object ThetaSetOp {
  val UnionOp = "union"
  val IntersectOp = "intersect"
  val AnotbOp = "anotb"
}

/** Scalar: combine two sketch images (union / intersect / A-not-B)
  * into a new compact sketch image. Runs on already-aggregated rows
  * (one per group/side), never in a data-sized hot path. */
case class ThetaSetOp(left: Expression, right: Expression, op: String)
  extends BinaryExpression with EvalCodegen {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!Set(ThetaSetOp.UnionOp, ThetaSetOp.IntersectOp,
        ThetaSetOp.AnotbOp).contains(op))
      // fail at analysis time, not as a per-row MatchError in eval
      TypeCheckResult.TypeCheckFailure(
        s"unknown theta set op '$op' — expected one of " +
          s"${ThetaSetOp.UnionOp}/${ThetaSetOp.IntersectOp}/" +
          s"${ThetaSetOp.AnotbOp}")
    else if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_$op needs two sketch images (BINARY), got " +
        s"${left.dataType} and ${right.dataType}")
  override def dataType: DataType = BinaryType
  override def prettyName: String = s"theta_$op"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val sa = ThetaSketch.heapify(a.asInstanceOf[Array[Byte]])
    val sb = ThetaSketch.heapify(b.asInstanceOf[Array[Byte]])
    val builder = SetOperation.builder()
    op match {
      case ThetaSetOp.UnionOp =>
        builder.buildUnion().union(sa, sb).toByteArray
      case ThetaSetOp.IntersectOp =>
        builder.buildIntersection().intersect(sa, sb).toByteArray
      case ThetaSetOp.AnotbOp =>
        builder.buildANotB().aNotB(sa, sb).toByteArray
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaSetOp =
    copy(left = newLeft, right = newRight)
}
