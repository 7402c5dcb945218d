package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Murmur3HashFunction, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature of an already-normalized text as a native
  * expression: character k-shingles → murmur3 (seed 42, matching the
  * built-in `hash()`) → n permutation minima, all in one JVM loop per
  * row with no shuffle at all.
  *
  * Bit-identical to the relational `Dedup.minhashSignatures`
  * (posexplode + groupBy-of-mins) — asserted in MinHashSigSpec. The
  * relational form remains the reference formulation when signatures
  * must be built from pre-exploded shingle tables; for per-document
  * signatures this expression removes the explode (rows × length
  * blow-up) and the aggregate shuffle entirely.
  */
case class MinHashSig(child: Expression, numHashes: Int, k: Int)
    extends UnaryExpression with EvalCodegen {

  private val P = 2147483647L // 2^31-1 (Mersenne: enables shift-fold mod)

  // permutation coefficients, hoisted out of the per-shingle loop
  @transient private lazy val aCoef: Array[Long] =
    Array.tabulate(numHashes)(j => 2L * j + 1L)
  @transient private lazy val bCoef: Array[Long] =
    Array.tabulate(numHashes)(j => 7919L * j + 13L)
  // |h*a + b| < 2^31 * (2*numHashes+1); adding this multiple of P makes
  // the dividend non-negative so the Mersenne fold computes the same
  // mathematical mod as the original ((x % P) + P when negative)
  @transient private lazy val posShift: Long = (2L * numHashes + 2L) * P

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig needs STRING, got $other")
  }

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val nBytes = s.numBytes()
    // char-index -> byte-offset table, one pass (UTF-8 aware); shingle i
    // covers bytes [starts(i), starts(min(i+k, len))) — exactly the
    // byte range substringSQL(i+1, k) would copy, hashed in place with
    // the same murmur3/seed-42 the built-in hash() uses. No per-shingle
    // UTF8String allocation.
    val starts = new Array[Int](nBytes + 1)
    var len = 0
    var b = 0
    while (b < nBytes) {
      starts(len) = b
      b += UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, offset + b))
      len += 1
    }
    starts(len) = nBytes
    val mins = Array.fill(numHashes)(Long.MaxValue)
    // same shingle positions as substr(i, k) for i in 1..max(1, len-k+1)
    val nShingles = math.max(1, len - (k - 1))
    val a = aCoef; val bc = bCoef; val shift = posShift
    var i = 0
    while (i < nShingles) {
      val from = starts(i)
      val until = starts(math.min(i + k, len))
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashUnsafeBytes(base, offset + from, until - from, 42).toLong
      var j = 0
      while (j < numHashes) {
        // (h*a + b) mod P via two Mersenne folds — bit-identical to the
        // original % P + P-fixup, ~5x cheaper than the div
        var m = h * a(j) + bc(j) + shift
        m = (m & P) + (m >>> 31)
        m = (m & P) + (m >>> 31)
        if (m >= P) m -= P
        if (m < mins(j)) mins(j) = m
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}
