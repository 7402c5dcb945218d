package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Skew: diagnostics (`skewReport`) and mitigation (salted joins —
  * SURVEY §4 / the builder's scale checklist). AQE's skew-join handles
  * sort-merge skew at runtime; the salted form remains necessary when
  * the skewed side must HASH-join a medium table that cannot
  * broadcast, or under static planning.
  *
  * Salt is position-based (`monotonically_increasing_id`), which also
  * spreads fully IDENTICAL rows (a content-hash salt would map them to
  * one reducer and not break the skew). It is stable per partition and
  * row order, so a retried task reproduces its own salts — unlike a
  * rand() salt, which breaks retry idempotence.
  */
object Skew {

  private def saltCol(n: Int): Column =
    pmod(monotonically_increasing_id(), lit(n.toLong)).cast("int")

  /** Equi-join `big ⨝ small` on `key`, fanning `small` out `salt`-ways
    * so a hot key's rows spread over `salt` reducers. Exact same result
    * multiset as the plain join FOR THE SUPPORTED JOIN TYPES: inner and
    * big-side-preserving (left/left_semi/left_anti). Right/full outer
    * would emit each unmatched small-side row once per salt copy, so
    * they are rejected. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salt: Int = 8, joinType: String = "inner"): DataFrame = {
    val supported =
      Set("inner", "left", "left_outer", "leftouter", "left_semi",
        "leftsemi", "left_anti", "leftanti")
    require(supported.contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left-side join types, got $joinType " +
        "(right/full outer would duplicate unmatched small-side rows " +
        "once per salt copy)")
    require(!big.columns.contains("__salt") &&
      !small.columns.contains("__salt"),
      "an input already has a __salt column — rename it first")
    val salted = big.withColumn("__salt", saltCol(salt))
    val fanned = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    salted.join(fanned, Seq(key, "__salt"), joinType).drop("__salt")
  }

  // -------------------------------------------------------------------
  // Key-distribution skew DIAGNOSTICS — the report a 100 TB job runs
  // BEFORE choosing a shuffle key (the decision input for `saltedJoin`
  // above and for AQE skew thresholds). The reference's world hits the
  // same wall at its sample/contig grain: per-sample row counts vary by
  // orders of magnitude (reference `code/tax_abund_from_contigs.R`
  // groups by sample; `postgres.Rmd` batches per sample dir), so "how
  // skewed is this key" is a first-class question.
  //
  // ORACLE DISCIPLINE: every statistic is an exact integer ratio with
  // ONE final 6-dp-rounded division — Gini included, via its rank
  // formulation G = (2·Σ rank·c − (n+1)·N) / (n·N) computed on exact
  // DECIMAL(38,0)/HUGEINT numerators, so the hash cannot move with
  // partitioning or summation order.
  //
  // Scale shape: one map-side-combined count per key (the only
  // data-sized shuffle), then count-of-COUNTS — the frequency table of
  // frequencies, O(distinct count values) ≪ O(keys) rows — so the
  // global rank window that Gini and top-k need runs over a table that
  // stays tiny (bounded by √N in practice) no matter how many keys
  // there are. No global sort of the key histogram, no collect.
  // -------------------------------------------------------------------

  /** One-row skew report for `df` grouped by `keys`: row/key counts,
    * max and top-`topK` key shares, mean rows/key, and the exact Gini
    * coefficient of the per-key count distribution (0 = uniform,
    * →1 = one key holds everything). */
  def skewReport(df: DataFrame, keys: Seq[String], topK: Int = 10)
      : DataFrame = {
    val counts = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    // count-of-counts: multiplicity m of each distinct per-key count
    val cc = counts.groupBy("cnt").agg(count(lit(1)).as("m"))
    // count-of-counts is O(#distinct per-key counts) ≤ O(√N) rows —
    // the single partition is bounded by design; the attribute-derived
    // constant key silences WindowExec's warning so the bench tail
    // only flags REAL single-partition collapses (w1Funnel idiom)
    val asc = Window.partitionBy(pmod(col("cnt"), lit(1)))
      .orderBy("cnt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val desc = Window.partitionBy(pmod(col("cnt"), lit(1)))
      .orderBy(col("cnt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = "decimal(38,0)"
    val enriched = cc
      .withColumn("m_before", coalesce(sum("m").over(asc), lit(0L)))
      .withColumn("m_before_desc",
        coalesce(sum("m").over(desc), lit(0L)))
      // keys with this count occupy ranks m_before+1 .. m_before+m
      // (ascending by count; tie order among equal counts is
      // irrelevant — their c is identical): 2·Σ ranks of the block =
      // 2·m·m_before + m(m+1); the DOUBLED form keeps everything
      // integral (no /2), and Gini's numerator wants 2·Σ rank·c anyway
      .withColumn("rank_mass2",
        col("cnt").cast(dec) * (lit(2).cast(dec) * col("m").cast(dec)
          * col("m_before").cast(dec)
          + col("m").cast(dec) * (col("m").cast(dec) + lit(1))))
      // top-K counts: take min(m, K - taken_so_far) keys of this block
      .withColumn("top_take",
        greatest(lit(0L), least(col("m"),
          lit(topK.toLong) - col("m_before_desc"))))
    val agg = enriched.agg(
      sum(col("cnt").cast(dec) * col("m").cast(dec)).as("n_rows"),
      sum("m").as("n_keys"),
      max("cnt").as("max_cnt"),
      sum(col("rank_mass2")).as("rank_mass2"),
      sum(col("cnt").cast(dec) * col("top_take").cast(dec))
        .as("top_mass"))
    agg.select(
      col("n_rows").cast("long").as("n_rows"),
      col("n_keys"),
      col("max_cnt"),
      round(col("max_cnt").cast("double")
        / col("n_rows").cast("double"), 6).as("max_share"),
      round(col("top_mass").cast("double")
        / col("n_rows").cast("double"), 6).as("topk_share"),
      round(col("n_rows").cast("double")
        / col("n_keys").cast("double"), 6).as("mean_per_key"),
      round((col("rank_mass2")
          - (col("n_keys").cast(dec) + lit(1)) * col("n_rows"))
          .cast("double")
        / (col("n_keys").cast(dec) * col("n_rows")).cast("double"), 6)
        .as("gini"))
  }

  /** Pre-flight join-cardinality report: EXACT output size and key
    * overlap of `left ⨝ right` on an equi-key, computed from the two
    * per-key count tables (each far smaller than its input) joined
    * once — never running the join itself. Σ c_l·c_r is the inner-join
    * row count; `max_pair_rows` is the single worst key's contribution
    * — the number that says "this join explodes" before 100 TB gets
    * shuffled. Products on DECIMAL(38,0) so a hot-key blowup cannot
    * silently wrap; the one-row report casts back to long. */
  def joinCardinality(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cl = left.groupBy(col(leftKey).as("k"))
      .agg(count(lit(1)).as("cl"))
    val cr = right.groupBy(col(rightKey).as("k"))
      .agg(count(lit(1)).as("cr"))
    cl.join(cr, Seq("k"), "full_outer")
      .agg(
        sum("cl").cast("long").as("n_left_rows"),
        sum("cr").cast("long").as("n_right_rows"),
        count(col("cl")).as("n_keys_left"),
        count(col("cr")).as("n_keys_right"),
        count(when(col("cl").isNotNull && col("cr").isNotNull, 1))
          .as("n_keys_both"),
        count(when(col("cr").isNull, 1)).as("left_only_keys"),
        count(when(col("cl").isNull, 1)).as("right_only_keys"),
        coalesce(sum(col("cl").cast(dec) * col("cr").cast(dec)), lit(0))
          .cast("long").as("inner_rows"),
        coalesce(max(col("cl").cast(dec) * col("cr").cast(dec)), lit(0))
          .cast("long").as("max_pair_rows"))
  }

  /** One collected pre-flight row for a planned equi-join — the
    * decision record `cli/Pipeline` gates on (see `joinPreflight`). */
  case class JoinPreflight(nLeftRows: Long, nRightRows: Long,
      nKeysBoth: Long, innerRows: Long, maxPairRows: Long,
      fanout: Double, leftGini: Double, leftMaxShare: Double)

  /** Pre-flight a planned `left ⨝ right` equi-join: the exact
    * cardinality report plus the left key's skew stats, collected as
    * ONE row (bounded by construction — both inputs are one-row
    * aggregates) so driver-side control flow can veto an exploding
    * join or switch to `saltedJoin` on a hot key BEFORE the
    * data-sized shuffle runs. Cost: two per-key-count passes. */
  def joinPreflight(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): JoinPreflight = {
    val c = joinCardinality(left, leftKey, right, rightKey).head()
    val s = skewReport(left, Seq(leftKey)).head()
    def lng(r: org.apache.spark.sql.Row, f: String): Long =
      if (r.isNullAt(r.fieldIndex(f))) 0L else r.getAs[Long](f)
    val nl = lng(c, "n_left_rows")
    val inner = lng(c, "inner_rows")
    JoinPreflight(nl, lng(c, "n_right_rows"), lng(c, "n_keys_both"),
      inner, lng(c, "max_pair_rows"),
      if (nl > 0) inner.toDouble / nl else 0.0,
      s.getAs[Double]("gini"), s.getAs[Double]("max_share"))
  }

  // ---- gates ----

  private def fSkewReport(s: SparkSession, d: String): DataFrame =
    skewReport(t(s, d, "lineitem"), Seq("l_partkey"))

  private def fJoinCardinality(s: SparkSession, d: String): DataFrame =
    joinCardinality(t(s, d, "lineitem"), "l_orderkey",
      t(s, d, "orders"), "o_orderkey")

  /** Same count-of-counts formulation; HUGEINT plays DECIMAL(38,0). */
  val gates: Seq[Gate] = Seq(
    Gate("f_skew_report", fSkewReport _, Some(
      """WITH counts AS (
           SELECT l_partkey, count(*) AS cnt
           FROM lineitem GROUP BY 1),
         cc AS (SELECT cnt, count(*) AS m FROM counts GROUP BY 1),
         e AS (
           SELECT cnt, m,
             coalesce(sum(m) OVER (ORDER BY cnt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS m_before,
             coalesce(sum(m) OVER (ORDER BY cnt DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS m_before_desc
           FROM cc),
         x AS (
           SELECT cnt, m, m_before,
             CAST(cnt AS HUGEINT) * (2 * CAST(m AS HUGEINT) * m_before
               + CAST(m AS HUGEINT) * (m + 1)) AS rank_mass2,
             greatest(0, least(m, 10 - m_before_desc)) AS top_take
           FROM e),
         a AS (
           SELECT CAST(sum(CAST(cnt AS HUGEINT) * m) AS HUGEINT)
               AS n_rows,
             CAST(sum(m) AS BIGINT) AS n_keys,
             max(cnt) AS max_cnt,
             CAST(sum(rank_mass2) AS HUGEINT) AS rank_mass2,
             CAST(sum(CAST(cnt AS HUGEINT) * top_take) AS HUGEINT)
               AS top_mass
           FROM x)
         SELECT CAST(n_rows AS BIGINT) AS n_rows, n_keys, max_cnt,
           round(CAST(max_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
             AS max_share,
           round(CAST(top_mass AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
             AS topk_share,
           round(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
             AS mean_per_key,
           round(CAST(rank_mass2 - (CAST(n_keys AS HUGEINT) + 1)
               * n_rows AS DOUBLE)
             / CAST(CAST(n_keys AS HUGEINT) * n_rows AS DOUBLE), 6)
             AS gini
         FROM a""")),
    Gate("f_join_cardinality", fJoinCardinality _, Some(
      """WITH cl AS (
           SELECT l_orderkey AS k, count(*) AS c FROM lineitem
           GROUP BY 1),
         cr AS (
           SELECT o_orderkey AS k, count(*) AS c FROM orders
           GROUP BY 1),
         j AS (
           SELECT cl.c AS cl, cr.c AS cr
           FROM cl FULL OUTER JOIN cr ON cl.k = cr.k)
         SELECT CAST(sum(cl) AS BIGINT) AS n_left_rows,
           CAST(sum(cr) AS BIGINT) AS n_right_rows,
           count(cl) AS n_keys_left,
           count(cr) AS n_keys_right,
           count(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL
             THEN 1 END) AS n_keys_both,
           count(CASE WHEN cr IS NULL THEN 1 END) AS left_only_keys,
           count(CASE WHEN cl IS NULL THEN 1 END) AS right_only_keys,
           CAST(coalesce(sum(CAST(cl AS HUGEINT) * cr), 0) AS BIGINT)
             AS inner_rows,
           CAST(coalesce(max(CAST(cl AS HUGEINT) * cr), 0) AS BIGINT)
             AS max_pair_rows
         FROM j""")))
}
