package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints of a token array in ONE pass per row:
  * `array<struct<fp_pos int, fp_hash string>>` — the distinct selected
  * (position, md5-of-k-gram) fingerprints of Schleimer/Wilkerson/
  * Aiken winnowing at window `window` over token k-grams.
  *
  * Why native (the NgramStats rationale): winnowing is PER-DOCUMENT —
  * yet the relational formulation exploded every k-gram position
  * (each row carrying the whole token array), shuffled the corpus on
  * doc_id for the sliding-window min, and paid a distinct shuffle on
  * the selections. This expression computes the same selection at
  * scan speed with zero shuffles.
  *
  * SELECTION CONTRACT — identical to the relational form it replaces
  * (pinned by TextOpsSpec's equivalence test):
  *  - gram hash = md5 hex (lowercase) of the space-joined k tokens'
  *    UTF-8 bytes (Spark's `md5(concat_ws(" ", slice(...)))`);
  *  - the window min is over the string key `hash|lpad(10^7 − p, 8)`
  *    (ASCII, so JVM String order == UTF8String binary order): ties
  *    on the hash select the RIGHTMOST position, exactly the
  *    10^7 − p encoding's effect;
  *  - one selection per FULL window frame (positions ≥ window),
  *    emitted distinct;
  *  - docs with fewer than k tokens yield an empty array; > 10^7
  *    k-grams raises (the relational guard's chunk-first contract).
  */
case class WinnowFps(child: Expression, k: Int, window: Int)
    extends UnaryExpression with EvalCodegen {

  require(k >= 1 && window >= 1, s"k=$k window=$window must be >= 1")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("fp_pos", IntegerType, nullable = false),
    StructField("fp_hash", StringType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps needs array<string>, got $other")
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val nGrams = n - (k - 1)
    if (nGrams > 10000000)
      throw new IllegalArgumentException(
        s"winnow: $nGrams token k-grams (> 1e7); chunkSplit first")
    if (nGrams < 1) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val space = " ".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // per-position digests, compared as RAW BYTES: unsigned
    // lexicographic byte order == the hex-string order of the
    // relational key, and the `10^7 − p` suffix's effect is exactly
    // "hash ties select the LARGER position" — so no hex string is
    // ever built for unselected positions
    val digests = new Array[Array[Byte]](nGrams)
    var p = 0
    while (p < nGrams) {
      md.reset()
      // concat_ws semantics: null elements are SKIPPED entirely
      // (no separator emitted for them)
      var j = 0
      var first = true
      while (j < k) {
        if (!toks.isNullAt(p + j)) {
          if (!first) md.update(space)
          md.update(toks.getUTF8String(p + j).getBytes)
          first = false
        }
        j += 1
      }
      digests(p) = md.digest()
      p += 1
    }
    // smaller digest wins; equal digests → larger position wins
    def beats(cand: Int, best: Int): Boolean = {
      val a = digests(cand); val b = digests(best)
      var i = 0
      while (i < 16) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      cand > best
    }
    // sliding min over full frames only (frame = window positions
    // ending at p, so the first full frame ends at position `window`)
    val selected = new java.util.LinkedHashSet[Integer]()
    p = window - 1
    while (p < nGrams) {
      var best = p
      var j = p - (window - 1)
      while (j < p) {
        if (beats(j, best)) best = j
        j += 1
      }
      selected.add(best)
      p += 1
    }
    val out = new Array[Any](selected.size)
    val it = selected.iterator()
    var i = 0
    while (it.hasNext) {
      val pos = it.next().intValue()
      val d = digests(pos)
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = hexDigits((d(b) & 0xff) >>> 4)
        hex(2 * b + 1) = hexDigits(d(b) & 0x0f)
        b += 1
      }
      // positions are 1-based in the relational form
      out(i) = InternalRow(pos + 1, UTF8String.fromString(new String(hex)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullable: Boolean = child.nullable

  override protected def withNewChildInternal(c: Expression): WinnowFps =
    copy(child = c)
}
