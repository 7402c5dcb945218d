package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Temporal join operators Spark lacks natively, in their scalable
  * reformulations. Both are graded against a DuckDB oracle that states
  * the naive semantics (ASOF JOIN / inequality join), so the gates
  * prove the scale path preserves the quadratic form's answer.
  *
  *  - `asofJoin` — point-in-time join: each left row pairs with the
  *    most recent right row at-or-before its timestamp, per key. The
  *    naive form is an inequality join + per-row argmax — a cross
  *    product per key at scale. Here: tag + union both sides, ONE
  *    shuffle on the key, one sort by (ts, tag), and
  *    `last(_, ignoreNulls)` over the ordered window carries the
  *    latest right row forward to every left row. O(n log n) per key,
  *    no cross product. Skew: the plain window form puts one key's
  *    ENTIRE history on a single task (AQE coalesces partitions but
  *    does not split a hot window key). `splitRangeSeconds` enables
  *    the hot-key-safe formulation: every key is pre-split by coarse
  *    time range, the window runs per (key, range) — so a hot key
  *    spreads over (span / width) tasks — and a second, tiny pass
  *    over per-range tails carries each range's last right row into
  *    later ranges' heads. Still exactly one full-data shuffle (on
  *    (key, range) instead of (key)); the tails frame is one row per
  *    (key, range) — control-plane sized.
  *  - `bucketedRangeJoin` — interval-containment join (point ts ∈
  *    [start, end]). Spark plans the naive `ON p.ts BETWEEN s AND e`
  *    as BroadcastNestedLoopJoin — O(|points|·|intervals|). Here the
  *    interval side explodes to its covered coarse buckets and the
  *    join becomes an equi-join on (key, bucket) + residual filter:
  *    each point lives in exactly one bucket, so no post-join dedup
  *    is needed. Bucket width trades fan-out (≤ span/width + 1 rows
  *    per interval) against join selectivity.
  */
object TemporalJoins {

  /** As-of (point-in-time) join. Left rows keep their columns plus the
    * payload columns of the latest right row with
    * `right.tsCol <= left.tsCol` on the same key (null payload when no
    * prior right row exists — left-asof semantics). At equal
    * timestamps the right row is visible (>= semantics, matching
    * DuckDB's `ASOF LEFT JOIN ... ON l.ts >= r.ts`). `forward = true`
    * mirrors the direction: the EARLIEST right row at-or-after each
    * left row (DuckDB's `ON l.ts <= r.ts`).
    *
    * The payload rides as ONE struct through the window, so (a) a
    * right row whose payload VALUES are null is still "seen" (the
    * struct itself is non-null — null fields carry through, exactly
    * like the join would), and (b) all payload columns always come
    * from the SAME right row — never stitched across rows. Ties
    * within the right side (same key, same ts) break deterministically
    * on the payload struct's field order (last in ascending order
    * wins), so results are stable across partitionings.
    *
    * `splitRangeSeconds = Some(w)` turns on the skew-safe path: rows
    * bucket by `floor(ts / w)`, the carry window partitions by
    * (keys, bucket), and a per-(keys, bucket) tails frame (the last /
    * first right row of each bucket, same tie-break) is scanned once
    * per key in bucket order to compute each bucket's INCOMING carry
    * — the answer for left rows that precede every right row in their
    * own bucket. Identical results to the plain path for every input;
    * choose `w` so a hot key's span covers many buckets (e.g. 1 day
    * for month-scale event data). */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, payload: Seq[String],
      forward: Boolean = false,
      splitRangeSeconds: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    require(!leftCols.exists(payload.contains),
      s"payload ${payload.intersect(leftCols)} collides with left side")
    // null-keyed / null-ts right rows can never satisfy the join
    // predicate (`r.ts <= l.ts` on equal keys is null), but in the
    // window formulation a null ts sorts FIRST and its payload would
    // leak into every left row of the partition — drop them up front
    val cleanRight = right.na.drop(keys :+ tsCol)
    // tag 0 = right (sorts first at equal ts → visible to the left
    // row), tag 1 = left
    val taggedRight = cleanRight.select(
      keys.map(col) ++ Seq(col(tsCol), lit(0).as("__graft_side")) ++
        leftCols.filterNot(c => keys.contains(c) || c == tsCol)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payload.map(col): _*).as("__graft_payload"): _*)
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c).copy(name = c)))
    val taggedLeft = left.select(
      keys.map(col) ++ Seq(col(tsCol), lit(1).as("__graft_side")) ++
        leftCols.filterNot(c => keys.contains(c) || c == tsCol)
          .map(col) :+
        lit(null).cast(payloadType).as("__graft_payload"): _*)
    // forward (next at-or-after) is the time-mirrored scan: descending
    // ts, right rows still first at equal ts, so `last` carries the
    // NEAREST future right row backward to each left row. Null-ts left
    // rows sort FIRST in both directions so they never see a right row
    // (join semantics: a null ts matches nothing).
    val tsOrder =
      if (forward) col(tsCol).desc_nulls_first
      else col(tsCol).asc_nulls_first
    val unioned = taggedRight.unionByName(taggedLeft)

    splitRangeSeconds match {
      case None =>
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(tsOrder, col("__graft_side").asc,
            col("__graft_payload").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        unioned
          .withColumn("__graft_asof",
            last(col("__graft_payload"), ignoreNulls = true).over(w))
          .filter(col("__graft_side") === 1)
          .select(leftCols.map(col) ++
            payload.map(c => col(s"__graft_asof.$c").as(c)): _*)

      case Some(widthSec) =>
        require(widthSec > 0, s"splitRangeSeconds must be > 0: $widthSec")
        // Bucket id = range START in micros (floor via pmod, so
        // pre-1970 timestamps floor correctly too). Using the start
        // instead of `start / width` skips a division whose long/long
        // form would round through double.
        val widthUs = lit(widthSec * 1000000L)
        val micros = unix_micros(col(tsCol))
        val bucketed = unioned.withColumn("__graft_range",
          micros - pmod(micros, widthUs))
        // Per-(keys, range) tail: the right row the in-range carry
        // would end on — max (ts, payload) backward, min ts / max
        // payload forward (the -micros trick mirrors time while
        // keeping the payload tie-break direction). Null when the
        // range holds no right row (max ignores nulls).
        val tailOrd =
          if (forward)
            struct((lit(0L) - micros).as("o"),
              col("__graft_payload").as("p"))
          else struct(micros.as("o"), col("__graft_payload").as("p"))
        val rangeKeys = keys :+ "__graft_range"
        val tails = bucketed
          .groupBy(rangeKeys.map(col): _*)
          .agg(max(when(col("__graft_side") === 0, tailOrd))
            .as("__graft_tailord"))
          .select(rangeKeys.map(col) :+
            col("__graft_tailord.p").as("__graft_tail"): _*)
        // Incoming carry per (keys, range): the tail of the nearest
        // EARLIER range with a right row (nearest LATER when forward).
        // One row per (keys, range) — a hot key with R ranges costs R
        // rows here, not its full history.
        val rangeOrder =
          if (forward) col("__graft_range").desc_nulls_first
          else col("__graft_range").asc_nulls_first
        val wIn = Window.partitionBy(keys.map(col): _*)
          .orderBy(rangeOrder)
          .rowsBetween(Window.unboundedPreceding, -1)
        val incoming = tails
          .withColumn("__graft_incoming",
            last(col("__graft_tail"), ignoreNulls = true).over(wIn))
          .drop("__graft_tail")
        // Left join (a null range — null left ts — matches nothing,
        // so those rows keep a null incoming: join semantics). The
        // in-range window partitions on the join keys, so the big
        // side shuffles exactly once.
        val w = Window.partitionBy(rangeKeys.map(col): _*)
          .orderBy(tsOrder, col("__graft_side").asc,
            col("__graft_payload").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bucketed.join(incoming, rangeKeys, "left")
          .withColumn("__graft_asof",
            coalesce(
              last(col("__graft_payload"), ignoreNulls = true).over(w),
              col("__graft_incoming")))
          .filter(col("__graft_side") === 1)
          .select(leftCols.map(col) ++
            payload.map(c => col(s"__graft_asof.$c").as(c)): _*)
    }
  }

  /** Interval-containment join: rows of `points` matched to every
    * interval row with the same key and `start <= ts <= end`, via
    * coarse time buckets. Inner-join semantics (points outside every
    * interval and empty intervals drop). `bucket` is the bucket width
    * as a Spark SQL interval-seconds count. */
  def bucketedRangeJoin(points: DataFrame, intervals: DataFrame,
      keys: Seq[String], tsCol: String, startCol: String, endCol: String,
      bucketSeconds: Long = 3600L): DataFrame = {
    val overlap = points.columns.toSet
      .intersect(intervals.columns.toSet) -- keys
    require(overlap.isEmpty,
      s"non-key columns $overlap exist on both sides — rename before " +
        "joining (the residual filter would be ambiguous)")
    val usec = lit(bucketSeconds * 1000000L)
    val ivals = intervals.withColumn("__graft_bucket",
      explode(sequence(
        (unix_micros(col(startCol)) / usec).cast("long"),
        (unix_micros(col(endCol)) / usec).cast("long"))))
    val pts = points.withColumn("__graft_bucket",
      (unix_micros(col(tsCol)) / usec).cast("long"))
    pts.join(ivals, keys :+ "__graft_bucket")
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__graft_bucket")
  }

  /** Interval-OVERLAP join: every same-key (a, b) pair whose CLOSED
    * intervals intersect (aStart ≤ bEnd ∧ bStart ≤ aEnd) — the
    * two-sided generalization of `bucketedRangeJoin` (sessions ×
    * incident windows, coverage × outage, etc.). Both sides explode to
    * the coarse buckets they touch and equi-join on (key, bucket), so
    * the plan is a hash join keyed by time locality — never an
    * inequality nested loop.
    *
    * A pair whose overlap spans several buckets would match in each;
    * it is emitted exactly once WITHOUT a distinct: only from the
    * canonical bucket containing the overlap start
    * (greatest(aStart, bStart) — both intervals provably touch that
    * bucket). No post-dedup shuffle of the pair set exists to become
    * a bottleneck.
    *
    * Scale: shuffle is keyed (keys, bucket); long intervals fan out
    * as their bucket span — size `bucketSeconds` to the typical
    * interval length, and cap pathological interval lengths upstream
    * (the maxBucketSize discipline of the LSH joins). Assumes
    * post-1970 timestamps: the bucket index truncates toward zero,
    * which equals floor only for non-negative epoch micros (same
    * contract as bucketedRangeJoin). */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
      aStart: String, aEnd: String, bStart: String, bEnd: String,
      bucketSeconds: Long = 3600L): DataFrame = {
    val overlap = a.columns.toSet.intersect(b.columns.toSet) -- keys
    require(overlap.isEmpty,
      s"non-key columns $overlap exist on both sides — rename before " +
        "joining (the residual filter would be ambiguous)")
    val usecL = bucketSeconds * 1000000L
    // integer `div`, not double `/` + cast — the resampleFill
    // discipline: double division of epoch-µs magnitudes can round
    // across a step boundary, and the explode side and canonical-filter
    // side must stay exactly consistent under refactoring
    def bkt(tsExpr: String): Column =
      expr(s"($tsExpr) div $usecL")
    def um(c: String): String = s"unix_micros(`$c`)"
    def bucketed(df: DataFrame, s: String, e: String): DataFrame =
      df.withColumn("__graft_bucket",
        explode(sequence(bkt(um(s)), bkt(um(e)))))
    bucketed(a, aStart, aEnd)
      .join(bucketed(b, bStart, bEnd), keys :+ "__graft_bucket")
      .filter(col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd))
      .filter(col("__graft_bucket") ===
        bkt(s"greatest(${um(aStart)}, ${um(bStart)})"))
      .drop("__graft_bucket")
  }

  /** Regular-grid resample + forward fill — the time-series
    * normalization step (sensor/metric tables, feature snapshots):
    * per key, grid points every `stepSeconds` spanning that key's
    * observed range (floor-aligned to the step), each carrying the
    * latest observation at-or-before it (null before the first
    * observation, left-asof semantics). The grid GENERATES from the
    * key's min/max — one aggregate — and the fill IS `asofJoin`, so
    * the whole operator is one control-plane aggregate + the as-of
    * machinery's single full-data shuffle, inheriting its skew-safe
    * split path via `splitRangeSeconds`. Pass `observations`
    * deduplicated per (key, ts) if tie-determinism matters
    * (the asofJoin tie rule applies otherwise). */
  def resampleFill(observations: DataFrame, keys: Seq[String],
      tsCol: String, payload: Seq[String], stepSeconds: Long,
      splitRangeSeconds: Option[Long] = None): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be positive: $stepSeconds")
    val usec = stepSeconds * 1000000L
    // integer `div`, not `/`: double division of epoch-µs magnitudes
    // can round across the step boundary before the floor-cast
    val grid = observations
      .groupBy(keys.map(col): _*)
      .agg(min(unix_micros(col(tsCol))).as("__mn"),
        max(unix_micros(col(tsCol))).as("__mx"))
      .select(keys.map(col) :+ explode(sequence(
        expr(s"__mn div $usec"), expr(s"__mx div $usec")))
        .as("__step"): _*)
      .select(keys.map(col) :+
        timestamp_micros(col("__step") * lit(usec)).as(tsCol): _*)
    asofJoin(grid,
      observations.select((keys :+ tsCol).map(col) ++
        payload.map(col): _*),
      keys, tsCol, payload, splitRangeSeconds = splitRangeSeconds)
  }

  // ---- gate queries ----

  /** As-of gate: each purchase annotated with the user's most recent
    * at-or-before click. Oracle is DuckDB's native ASOF LEFT JOIN.
    * The right side dedups to one row per (user, ts) first — DuckDB
    * leaves its ASOF tie-break unspecified, so the gate must be
    * tie-insensitive by construction. Runs the SPLIT (skew-safe) path
    * with 1-day ranges: the month-long events table gives each key
    * ~30 ranges, so the oracle gates the boundary-carry logic. */
  private def asofGateSides(s: SparkSession, d: String,
      leftType: String, rightType: String, leftAs: String,
      rightAs: String): (DataFrame, DataFrame) = {
    val ev = t(s, d, "events")
    val l = ev.filter(col("event_type") === leftType)
      .select(col("user_id"), col("ts"), col("event_id").as(leftAs))
    val r = ev.filter(col("event_type") === rightType)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as(rightAs))
    (l, r)
  }

  private def jAsofClick(s: SparkSession, d: String,
      split: Option[Long]): DataFrame = {
    val (purchases, clicks) =
      asofGateSides(s, d, "purchase", "click", "purchase_id", "click_id")
    asofJoin(purchases, clicks, Seq("user_id"), "ts", Seq("click_id"),
        splitRangeSeconds = split)
      .select(col("user_id"), col("purchase_id"), col("click_id"))
  }

  /** Forward as-of gate: each click annotated with the user's next
    * at-or-after purchase (conversion attribution, time-mirrored). */
  private def jAsofForward(s: SparkSession, d: String,
      split: Option[Long]): DataFrame = {
    val (clicks, purchases) =
      asofGateSides(s, d, "click", "purchase", "click_id", "purchase_id")
    asofJoin(clicks, purchases, Seq("user_id"), "ts",
        Seq("purchase_id"), forward = true, splitRangeSeconds = split)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Range gate: clicks landing inside each signup's 2-hour window,
    * aggregated per signup (count + decimal-exact value sum, so
    * summation order cannot move the hash). */
  private def jRangeBucket(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    bucketedRangeJoin(clicks, signups, Seq("user_id"), "ts",
      "start_ts", "end_ts")
      .groupBy("signup_id", "user_id")
      .agg(count(lit(1)).as("n_clicks"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
  }

  /** Overlap gate: signup windows (2 h) × error windows (30 min) per
    * user — every overlapping pair with its exact overlap in µs. */
  private def jIntervalOverlap(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        col("ts").as("s_start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("s_end"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"),
        col("ts").as("e_start"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("e_end"))
    intervalOverlapJoin(signups, errors, Seq("user_id"),
        "s_start", "s_end", "e_start", "e_end")
      .select(col("user_id"), col("signup_id"), col("error_id"),
        (least(unix_micros(col("s_end")), unix_micros(col("e_end"))) -
          greatest(unix_micros(col("s_start")),
            unix_micros(col("e_start")))).as("overlap_us"))
  }

  /** Resample gate: each user's purchase `value` forward-filled onto
    * a 6-hour grid. Observations dedup per (user, ts) first (max
    * event wins) so tie order can't move the hash — the asof-gate
    * discipline. */
  private def jResampleFfill(s: SparkSession, d: String): DataFrame = {
    val obs = t(s, d, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max("event_id").as("src_event"),
        max(col("value").cast("decimal(18,2)")).cast("double")
          .as("value"))
    resampleFill(obs, Seq("user_id"), "ts",
        Seq("src_event", "value"), stepSeconds = 21600L)
      // string-format the grid timestamp (the hourlyAgg discipline:
      // raw timestamp columns type-diverge across engines — LTZ
      // parquet vs naive TIMESTAMP)
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("grid_ts"),
        col("src_event"), col("value"))
  }

  private val asofClickSql =
    """SELECT p.user_id, p.event_id AS purchase_id, c.click_id
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF LEFT JOIN
         (SELECT user_id, ts, max(event_id) AS click_id FROM events
          WHERE event_type = 'click' GROUP BY user_id, ts) c
         ON p.user_id = c.user_id AND p.ts >= c.ts"""

  private val asofForwardSql =
    """SELECT c.user_id, c.event_id AS click_id, p.purchase_id
       FROM (SELECT * FROM events WHERE event_type = 'click') c
       ASOF LEFT JOIN
         (SELECT user_id, ts, max(event_id) AS purchase_id FROM events
          WHERE event_type = 'purchase' GROUP BY user_id, ts) p
         ON c.user_id = p.user_id AND c.ts <= p.ts"""

  val gates: Seq[Gate] = Seq(
    Gate("j_interval_overlap", jIntervalOverlap _, Some(
      """WITH s AS (
           SELECT user_id, event_id AS signup_id, ts AS s_start,
             ts + INTERVAL 2 HOUR AS s_end
           FROM events WHERE event_type = 'signup'),
         e AS (
           SELECT user_id, event_id AS error_id, ts AS e_start,
             ts + INTERVAL 30 MINUTE AS e_end
           FROM events WHERE event_type = 'error')
         SELECT s.user_id, signup_id, error_id,
           epoch_us(least(s_end, e_end)) -
             epoch_us(greatest(s_start, e_start)) AS overlap_us
         FROM s JOIN e ON s.user_id = e.user_id
           AND s_start <= e_end AND e_start <= s_end""")),
    Gate("j_resample_ffill", jResampleFfill _, Some(
      """WITH obs AS (
           SELECT user_id, ts, max(event_id) AS src_event,
             CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
           FROM events WHERE event_type = 'purchase'
           GROUP BY 1, 2),
         bounds AS (
           SELECT user_id, epoch_us(min(ts)) // 21600000000 AS s0,
             epoch_us(max(ts)) // 21600000000 AS s1
           FROM obs GROUP BY 1),
         grid AS (
           SELECT user_id,
             make_timestamp(g.s * 21600000000) AS gts
           FROM bounds, unnest(range(s0, s1 + 1)) AS g(s))
         SELECT g.user_id,
           strftime(g.gts, '%Y-%m-%d %H:%M:%S') AS grid_ts,
           o.src_event, o.value
         FROM grid g ASOF LEFT JOIN obs o
           ON g.user_id = o.user_id AND g.gts >= o.ts""")),
    Gate("j_asof_click", (s, d) => jAsofClick(s, d, Some(86400L)),
      Some(asofClickSql)),
    Gate("j_asof_forward", (s, d) => jAsofForward(s, d, Some(86400L)),
      Some(asofForwardSql)),
    Gate("j_asof_click_plain", (s, d) => jAsofClick(s, d, None),
      Some(asofClickSql)),
    Gate("j_asof_forward_plain", (s, d) => jAsofForward(s, d, None),
      Some(asofForwardSql)),
    Gate("j_range_bucket", jRangeBucket _, Some(
      """SELECT s.event_id AS signup_id, s.user_id,
           count(*) AS n_clicks,
           CAST(sum(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_value
         FROM (SELECT * FROM events WHERE event_type = 'signup') s
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON c.user_id = s.user_id
          AND c.ts >= s.ts
          AND c.ts <= s.ts + INTERVAL 2 HOUR
         GROUP BY s.event_id, s.user_id""")))
}
