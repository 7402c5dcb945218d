package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Scale-path forms of the engine's backbone idioms, each gated by a
  * query whose result is EXACTLY the naive form's (so the DuckDB
  * oracle states the naive semantics and the gate proves the scale
  * path preserves it):
  *
  *  - `j5b_bloom_incremental` — Bloom-prefiltered anti-join
  *    (`ingest.Incremental.newRowsBloom`): the incremental-load filter
  *    when the loaded-key set outgrows a broadcast.
  *  - `j_salted_skew` — `ops.Skew.saltedJoin`: hot-key fan-out join,
  *    result multiset identical to the plain join.
  *  - `g_incr_agg_merge` — incremental aggregate maintenance: merge a
  *    delta batch's partial aggregate into a stored aggregate without
  *    re-scanning history (the materialized-view refresh pattern; at
  *    100 TB the history scan is the cost that must never repeat).
  */
object ScaleOps {

  /** Merge partial grouped aggregates (stored agg + delta batches)
    * into the aggregate the full recompute would produce. Only
    * decomposable metrics merge (sum/count/min/max); derived ratios
    * (avg, rates) must be re-derived AFTER the merge — never averaged.
    * Sums ride DECIMAL so the merge is order-exact: float partials
    * re-summed in a different order would drift off the full-recompute
    * value. */
  def mergeGroupedAgg(parts: Seq[DataFrame], keys: Seq[String],
      sumCols: Seq[String], countCol: String): DataFrame = {
    require(parts.nonEmpty, "nothing to merge")
    val unioned = parts.reduce(_.unionByName(_))
    val aggs = sumCols.map(c => sum(col(c)).as(c)) :+
      sum(col(countCol)).as(countCol)
    unioned.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Partial aggregate of one batch in the mergeable shape used by
    * `g_incr_agg_merge` (decimal sums + row count). */
  private def partialAgg(batch: DataFrame): DataFrame =
    batch.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .as("sum_price"),
        count(lit(1)).as("n"))

  /** Gate: history agg (shipdate < 1996) merged with the 1996+ delta
    * == the full recompute the oracle runs. Derived avg re-derived
    * post-merge. */
  private def gIncrAggMerge(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val split = lit("1996-01-01").cast("timestamp")
    val history = partialAgg(li.filter(col("l_shipdate") < split))
    val delta = partialAgg(li.filter(col("l_shipdate") >= split))
    mergeGroupedAgg(Seq(history, delta),
      Seq("l_returnflag", "l_linestatus"),
      Seq("sum_qty", "sum_price"), "n")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty").cast("double").as("sum_qty"),
        col("sum_price").cast("double").as("sum_price"),
        col("n"),
        round(col("sum_qty").cast("double") / col("n"), 4)
          .as("avg_qty"))
  }

  /** Gate: Bloom-prefiltered incremental filter — lineitems of orders
    * not yet loaded (loaded = orders placed before 1997). Oracle is
    * the plain NOT EXISTS anti-join semantics. */
  private def j5bBloomIncremental(s: SparkSession,
      d: String): DataFrame = {
    val loaded = t(s, d, "orders")
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey").as("l_orderkey"))
    val fresh = graft.ingest.Incremental.newRowsBloom(
      t(s, d, "lineitem"), loaded, "l_orderkey")
    fresh.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("total_price"))
  }

  /** Gate: salted join == plain join (multiset), proven through an
    * order-insensitive aggregate. */
  private def jSaltedSkew(s: SparkSession, d: String): DataFrame = {
    val big = t(s, d, "lineitem")
      .select(col("l_partkey").as("partkey"), col("l_quantity"))
    val small = t(s, d, "part")
      .select(col("p_partkey").as("partkey"), col("p_brand"))
    Skew.saltedJoin(big, small, "partkey", salt = 8, joinType = "inner")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("sum_qty"))
  }

  /** Deterministic two-pass histogram quantile estimator — the SCALE
    * form of A4's exact `percentile` (which materializes every group's
    * values into one sorted array: at 100 TB that is an
    * executor-memory wall, and Spark's approx_percentile / t-digest
    * alternatives are order-dependent inside, so their results drift
    * across partitionings and can never be oracle-checked bit-exact).
    *
    * Pass 1 aggregates (min, max, n) per group; pass 2 counts
    * fixed-width bins (bin index is a pure function of the VALUE, so
    * the histogram is order-independent and the per-bin counts merge
    * by addition — partial aggregation, incremental batches, and
    * cross-partition merges are all exact). The p-quantile reads the
    * cumulative histogram: the unique non-empty bin where the
    * cumulative count crosses p·n, linearly interpolated by rank
    * within the bin. GUARANTEE: the crossing bin contains the
    * ⌈p·n⌉-th order statistic, so the estimate lands within one bin
    * width (range/`bins`) of that order statistic — which coincides
    * with interpolated-percentile conventions whenever the bin grid is
    * dense relative to the data spacing (a sparse tail can hold
    * adjacent order statistics many bins apart; the estimate then
    * tracks the order statistic, not the interpolation between two
    * distant values). n, the counts, and the crossing bin are EXACT,
    * so the whole estimate replays bit-for-bit in any engine — the
    * oracle states the identical arithmetic.
    *
    * Scale shape: two aggregate passes (both map-side-combining) and
    * one ≤ groups×bins-row window — no per-group value collection
    * anywhere. */
  def histogramQuantiles(df: DataFrame, keyCols: Seq[String],
      valueCol: String, probs: Seq[Double],
      bins: Int = 4096): DataFrame = {
    require(bins > 0, s"bins must be positive: $bins")
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      s"probs must lie in (0, 1]: $probs")
    val keys = keyCols.map(col)
    val v = col(valueCol).cast("double")
    // NULL values are excluded (the percentile() convention): n, the
    // histogram, and the quantiles all see non-null rows only
    val stats = df.groupBy(keys: _*).agg(
      min(v).as("__mn"), max(v).as("__mx"), count(v).as("__n"))
    val w = (col("__mx") - col("__mn")) / bins
    val counts = df.filter(v.isNotNull).join(stats, keyCols)
      .withColumn("__bin",
        when(col("__mx") === col("__mn"), lit(0)).otherwise(
          least(floor((v - col("__mn")) / w).cast("int"), lit(bins - 1))))
      .groupBy((keys :+ col("__bin")): _*)
      .agg(count(lit(1)).as("__c"), max("__mn").as("__mn"),
        max("__mx").as("__mx"), max("__n").as("__n"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy("__bin")
    counts
      .withColumn("__cum", sum("__c").over(wCum))
      .withColumn("__before", col("__cum") - col("__c"))
      .select((keys :+ col("__bin") :+ col("__c") :+ col("__mn")
        :+ col("__mx") :+ col("__n") :+ col("__cum") :+ col("__before")
        :+ explode(array(probs.map(lit): _*)).as("p")): _*)
      // the crossing bin: unique because empty bins have cum == before
      .filter(col("__cum") >= col("p") * col("__n") &&
        col("__before") < col("p") * col("__n"))
      .select((keys :+ col("p") :+
        round(when(col("__mx") === col("__mn"), col("__mn")).otherwise(
          col("__mn") + (col("__mx") - col("__mn")) / bins *
            (col("__bin") +
              (col("p") * col("__n") - col("__before")) / col("__c"))),
          4).as("q")): _*)
  }

  /** Gate: histogram quantiles of events.value per event_type at 256
    * bins — the oracle replays the binning, the cumulative crossing,
    * and the interpolation with identical double arithmetic. */
  private def aQuantileSketch(s: SparkSession, d: String): DataFrame =
    histogramQuantiles(t(s, d, "events"), Seq("event_type"), "value",
      probs = Seq(0.25, 0.5, 0.75, 0.99), bins = 256)

  /** Morton (Z-order) interleave of two 32-bit keys — the
    * multi-dimensional data-layout curve: rows sorted/range-bucketed
    * by the z-key cluster BOTH dimensions at once, so a scan filtered
    * on either column prunes most files (the Delta/Iceberg OPTIMIZE
    * ZORDER layout primitive, here as a plain deterministic column).
    * Bit-spreading is the classic 4-step mask cascade — pure BIGINT
    * shifts/masks, bit-exact on any engine. Inputs must fit unsigned
    * 32 bits (callers bucket/rank first; the gate buckets epoch-µs). */
  def zorderKey(a: Column, b: Column): Column = {
    def spread(x: Column): Column = {
      val m = Seq(
        (16, lit(0x0000FFFF0000FFFFL)),
        (8,  lit(0x00FF00FF00FF00FFL)),
        (4,  lit(0x0F0F0F0F0F0F0F0FL)),
        (2,  lit(0x3333333333333333L)),
        (1,  lit(0x5555555555555555L)))
      m.foldLeft(x.cast("long").bitwiseAND(lit(0xFFFFFFFFL))) {
        case (acc, (s, mask)) =>
          (acc.bitwiseOR(shiftleft(acc, s))).bitwiseAND(mask)
      }
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Min-max normalize a key onto the 31-bit range by INTEGER
    * floor-div (the exact-floor discipline) — what ZORDER writers do
    * before interleaving, so the curve uses all bit levels whatever
    * the key's natural range. 31 bits (not 32) keeps every interleave
    * shift inside signed-64 positive territory: Spark wraps a bit-63
    * overflow silently but DuckDB raises, so the shared contract
    * stays where both engines agree. */
  private def zn(x: String, mn: String, mx: String): Column =
    when(col(mx) === col(mn), lit(0L))
      .otherwise(expr(s"(($x - $mn) * 2147483647) div ($mx - $mn)"))

  /** f_zorder gate: z-keys over (user_id, 6-hour time bucket) plus
    * the top-8-bit range bucket a writer would partition by. Layout
    * ops are pure key derivation — the only pre-pass is one
    * broadcast-singleton min/max aggregate; the WRITE that consumes
    * the key pays the one range exchange. With 31-bit inputs z uses
    * 62 bits and stays positive; the bucket is the top 6 bits. */
  private def fZorder(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts) div 21600000000").as("tb"))
    val stats = ev.agg(
      min("user_id").as("u0"), max("user_id").as("u1"),
      min("tb").as("t0"), max("tb").as("t1"))
    ev.crossJoin(broadcast(stats))
      .withColumn("z", zorderKey(zn("user_id", "u0", "u1"),
        zn("tb", "t0", "t1")))
      .select(col("event_id"), col("user_id"), col("tb"), col("z"),
        shiftright(col("z"), 56).bitwiseAND(lit(255L)).cast("int")
          .as("z_bucket"))
  }

  /** Grouped closed-form OLS (y = a + b·x per group) from EXACT
    * moments — the trend-per-segment aggregation, one pass, no ML
    * machinery. The moment sums (n, Σx, Σy, Σxy, Σx²) accumulate as
    * decimals over integer x and 6-dp-quantized y (the
    * w9/covarianceMoments discipline), so they are bit-exact and
    * mergeable (incremental batches add); slope/intercept then derive
    * by a FIXED sequence of IEEE ops on the exact moment doubles —
    * identical operand order ⇒ identical bits on any engine, so the
    * derived values ship unrounded (the bm25 contract; a 4-dp round
    * of a ratio would re-open the w9 tie problem). Also ships the
    * Pearson correlation from the same moments (y² lands exactly on
    * the 12-dp grid, the covarianceMoments argument). Degenerate
    * groups (x or y constant) yield NULL derived values, never ±inf. */
  def groupTrend(df: DataFrame, keyCols: Seq[String], xCol: Column,
      yCol: Column): DataFrame = {
    val keys = keyCols.map(col)
    val x = xCol.cast("long")
    val y = round(yCol.cast("double"), 6)
    // syy follows the w9 moment contract (round the RAW square to 6,
    // scale 6): a (6-dp y)² lands exactly on the 12-dp grid, and a
    // scale-12 decimal whose unscaled value tops 2^53 casts to double
    // LOSSILY in DuckDB (found live at syy ~1e7·1e12) — scale 6 keeps
    // group sums exact to ~9e9. Callers keep x small the same way
    // (the gate centers its day index); moment magnitudes are part of
    // the cross-engine contract.
    val yy = round(yCol.cast("double") * yCol.cast("double"), 6)
    df.groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(x.cast("decimal(38,0)")).cast("double").as("sx"),
        sum(y.cast("decimal(28,6)")).cast("double").as("sy"),
        sum((x * y).cast("decimal(38,6)")).cast("double").as("sxy"),
        sum((x * x).cast("decimal(38,0)")).cast("double").as("sxx"),
        sum(yy.cast("decimal(38,6)")).cast("double").as("syy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("den_y",
        col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("slope",
        when(col("den") > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) / col("den")))
      .withColumn("intercept",
        when(col("den") > 0,
          (col("sy") - col("slope") * col("sx")) / col("n")))
      .withColumn("corr",
        when(col("den") > 0 && col("den_y") > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt(col("den") * col("den_y"))))
      .drop("den", "den_y")
  }

  /** a12 gate: per-event-type value trend over the CENTERED day index
    * (epoch-day − 19700 — offsetting the regressor near its range is
    * standard numerics AND keeps every moment's decimal-unscaled
    * value inside the exact double range; slope is unchanged,
    * intercept is at the offset origin by definition). */
  private def a12GroupTrend(s: SparkSession, d: String): DataFrame =
    groupTrend(t(s, d, "events"), Seq("event_type"),
      expr("unix_micros(ts) div 86400000000 - 19700"), col("value"))

  /** Mergeable-sketch distinct counting: per-group
    * `approx_count_distinct` (Spark's HyperLogLog++) at rsd = 2% over
    * a fact-scale key. The 100 TB cardinality path — an exact
    * distinct shuffles every key once per query; the sketch is a
    * fixed ~kB register array per group that partial-merges map-side
    * and unions across days/shards (the a11 fixed-bin-quantile
    * mergeability contract, for cardinality). Deterministic: the
    * estimator is a pure hash fold, no RNG. Oracle: CONDITIONED
    * predicate (the x_pca_power pattern) — DuckDB computes the EXACT
    * per-group distinct and echoes a dumped row only when the sketch
    * estimate sits within 5·rsd of it, so an estimator bug or sketch
    * nondeterminism row-count-mismatches; the bound lives in the
    * predicate, never in a value compare. */
  private def a13HllDistinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02)
        .as("approx_distinct"))

  /** Theta-sketch distinct-set algebra over two corpus halves — the
    * set-operation capability HLL lacks (intersection / difference of
    * distinct key sets: snapshot audience overlap, novel keys per
    * batch). One sketch aggregate per half (map-side partial merges,
    * a fixed-kB image shuffled per side), then every set op combines
    * the TWO images — no re-shuffle of the data. The key universe is
    * bounded (pmod 3000 < nominal k = 4096) so the sketches stay in
    * exact mode at ANY SF and all five outputs equal the exact
    * distinct counts DuckDB computes — while the operator itself
    * degrades to ±1.6% estimates past k at 100 TB (see
    * `functions.ThetaSketch`). */
  private def xThetaSetOps(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.install(s)
    val o = t(s, d, "orders").select(
      pmod(col("o_custkey"), lit(3000)).cast("long").as("k"),
      (col("o_orderkey") % 2).as("half"))
    val skA = o.filter(col("half") === 0)
      .agg(expr("theta_sketch(k)").as("sk_a"))
    val skB = o.filter(col("half") === 1)
      .agg(expr("theta_sketch(k)").as("sk_b"))
    skA.crossJoin(broadcast(skB)).select(
      expr("theta_estimate(sk_a)").as("n_a"),
      expr("theta_estimate(sk_b)").as("n_b"),
      expr("theta_estimate(theta_union(sk_a, sk_b))").as("n_union"),
      expr("theta_estimate(theta_intersect(sk_a, sk_b))")
        .as("n_intersect"),
      expr("theta_estimate(theta_anotb(sk_a, sk_b))").as("n_a_not_b"))
  }

  val gates: Seq[Gate] = Seq(
    Gate("a13_hll_distinct", a13HllDistinct _, Some(
      """WITH dump AS (
           SELECT l_returnflag, approx_distinct
           FROM parquet_scan('__OUTDIR__/a13_hll_distinct/*.parquet')),
         exact AS (
           SELECT l_returnflag,
             count(DISTINCT l_partkey) AS ex
           FROM lineitem GROUP BY 1)
         SELECT d.l_returnflag, d.approx_distinct
         FROM dump d JOIN exact e USING (l_returnflag)
         WHERE abs(d.approx_distinct - e.ex) <=
           greatest(0.10 * e.ex, 5)""")),
    // bounded key universe keeps the sketches exact → plain exact
    // set algebra on the oracle side, full hash compare
    Gate("x_theta_set_ops", xThetaSetOps _, Some(
      """WITH k AS (
           SELECT o_custkey % 3000 AS k, o_orderkey % 2 AS half
           FROM orders),
         a AS (SELECT DISTINCT k FROM k WHERE half = 0),
         b AS (SELECT DISTINCT k FROM k WHERE half = 1)
         SELECT
           (SELECT count(*) FROM a) AS n_a,
           (SELECT count(*) FROM b) AS n_b,
           (SELECT count(*) FROM
             (SELECT k FROM a UNION SELECT k FROM b)) AS n_union,
           (SELECT count(*) FROM
             (SELECT k FROM a INTERSECT SELECT k FROM b))
             AS n_intersect,
           (SELECT count(*) FROM
             (SELECT k FROM a EXCEPT SELECT k FROM b)) AS n_a_not_b""")),
    Gate("a12_group_trend", a12GroupTrend _, Some(
      """WITH e AS (
           SELECT event_type,
             epoch_us(ts) // 86400000000 - 19700 AS x,
             round(CAST(value AS DOUBLE), 6) AS y,
             round(CAST(value AS DOUBLE) * CAST(value AS DOUBLE), 6)
               AS yy
           FROM events),
         m AS (
           SELECT event_type, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(yy AS DECIMAL(38,6))) AS DOUBLE) AS syy
           FROM e GROUP BY event_type)
         SELECT event_type, n, sx, sy, sxy, sxx, syy,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
               / n END AS intercept,
           CASE WHEN n * sxx - sx * sx > 0
                 AND n * syy - sy * sy > 0 THEN
             (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) *
               (n * syy - sy * sy)) END AS corr
         FROM m""")),
    Gate("f_zorder", fZorder _, Some(
      """WITH e AS (
           SELECT event_id, user_id,
             epoch_us(ts) // 21600000000 AS tb
           FROM events),
         st AS (
           SELECT min(user_id) AS u0, max(user_id) AS u1,
             min(tb) AS t0, max(tb) AS t1
           FROM e),
         n AS (
           SELECT e.event_id, e.user_id, e.tb,
             CASE WHEN u1 = u0 THEN 0 ELSE
               ((user_id - u0) * 2147483647) // (u1 - u0) END AS un,
             CASE WHEN t1 = t0 THEN 0 ELSE
               ((tb - t0) * 2147483647) // (t1 - t0) END AS tn
           FROM e, st),
         s1 AS (
           SELECT *, (un | (un << 16)) & 281470681808895 AS ua,
             (tn | (tn << 16)) & 281470681808895 AS ta FROM n),
         s2 AS (
           SELECT *, (ua | (ua << 8)) & 71777214294589695 AS ub,
             (ta | (ta << 8)) & 71777214294589695 AS tb2 FROM s1),
         s3 AS (
           SELECT *, (ub | (ub << 4)) & 1085102592571150095 AS uc,
             (tb2 | (tb2 << 4)) & 1085102592571150095 AS tc FROM s2),
         s4 AS (
           SELECT *, (uc | (uc << 2)) & 3689348814741910323 AS ud,
             (tc | (tc << 2)) & 3689348814741910323 AS td FROM s3),
         s5 AS (
           SELECT *, (ud | (ud << 1)) & 6148914691236517205 AS ue,
             (td | (td << 1)) & 6148914691236517205 AS te FROM s4),
         z AS (SELECT event_id, user_id, tb,
             ue | (te << 1) AS z FROM s5)
         SELECT event_id, user_id, tb, z,
           CAST((z >> 56) & 255 AS INT) AS z_bucket
         FROM z""")),
    Gate("a11_quantile_sketch", aQuantileSketch _, Some(
      """WITH stats AS (
           SELECT event_type, min(value) AS mn, max(value) AS mx,
             count(value) AS n
           FROM events GROUP BY event_type),
         binned AS (
           SELECT e.event_type,
             CASE WHEN s.mx = s.mn THEN 0
               ELSE least(CAST(floor((e.value - s.mn) /
                 ((s.mx - s.mn) / 256)) AS INT), 255) END AS bin
           FROM events e JOIN stats s USING (event_type)
           WHERE e.value IS NOT NULL),
         counts AS (
           SELECT event_type, bin, count(*) AS c
           FROM binned GROUP BY event_type, bin),
         cum AS (
           SELECT *, sum(c) OVER (PARTITION BY event_type
             ORDER BY bin) AS cm
           FROM counts),
         probes AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.99])
           AS DOUBLE) AS p),
         hit AS (
           SELECT c.event_type, p.p, s.mn, s.mx, s.n, c.bin, c.c,
             c.cm - c.c AS before
           FROM cum c JOIN stats s USING (event_type)
           CROSS JOIN probes p
           WHERE c.cm >= p.p * s.n AND c.cm - c.c < p.p * s.n)
         SELECT event_type, p,
           round(CASE WHEN mx = mn THEN mn
             ELSE mn + (mx - mn) / 256 *
               (bin + (p * n - before) / c) END, 4) AS q
         FROM hit""")),
    Gate("g_incr_agg_merge", gIncrAggMerge _, Some(
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_price,
         count(*) AS n,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           / count(*), 4) AS avg_qty
         FROM lineitem GROUP BY l_returnflag, l_linestatus""")),
    Gate("j5b_bloom_incremental", j5bBloomIncremental _, Some(
      """SELECT l_returnflag, count(*) AS n_lines,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price
         FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
             AND o.o_orderkey = l.l_orderkey)
         GROUP BY l_returnflag""")),
    Gate("j_salted_skew", jSaltedSkew _, Some(
      """SELECT p_brand, count(*) AS n_lines,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""")))
}
