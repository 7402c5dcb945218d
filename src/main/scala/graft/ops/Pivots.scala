package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Pivot / unpivot / set ops P1-P3 (SURVEY §2.7).
  *
  * Scale note: `pivot` with an EXPLICIT value list avoids the extra
  * distinct-collect job Spark otherwise runs to discover pivot columns —
  * at 100 TB that discovery pass is a full scan, so the engine always
  * pins the value list (the reference's pivots are over
  * fixed, known domains too: samples / read directions).
  */
object Pivots {

  /** P1 pivot_wider long→wide with fill 0 (reference bracken abundance
    * matrix `merge_bracken.R:68-78`). Explicit value list + coalesce(0)
    * reproduces `values_fill = 0`. */
  private def p1PivotWide(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum("l_quantity"), 2))
      .na.fill(0.0)
      .select(col("l_returnflag"), col("F").as("qty_f"), col("O").as("qty_o"))

  /** P1 variant as conditional aggregation — the shuffle-free-est
    * formulation (single hash aggregate, no pivot machinery). */
  private def p1ConditionalAgg(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
        count(when(col("o_orderstatus") === "P", 1)).as("n_p"))

  /** P2 pivot_longer wide→long (reference fwd/rev read counts →
    * (direction,count) `postgres.Rmd:271`): part's numeric columns to
    * (metric, value) rows via stack(). */
  private def p2Unpivot(s: SparkSession, d: String): DataFrame =
    t(s, d, "part").selectExpr(
      "p_partkey",
      """stack(2,
           'size', cast(p_size as double),
           'retailprice', p_retailprice) as (metric, value)""")

  /** P3 union-all with schema alignment (reference gtdb+refseq taxonomy
    * `merge_kraken_tax.R:57`; `unionByName(allowMissingColumns)` covers
    * drift). */
  private def p3Union(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer").select(
      col("c_name").as("name"), col("c_acctbal").as("acctbal"),
      lit("customer").as("kind"))
    val sup = t(s, d, "supplier").select(
      col("s_name").as("name"), col("s_acctbal").as("acctbal"),
      lit("supplier").as("kind"))
    c.unionByName(sup)
  }

  /** P3 drift variant: columns missing on one side appear as nulls
    * (reference refseq extra column `merge_kraken_tax.R:45-51`). */
  private def p3UnionDrift(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer").select(
      col("c_name").as("name"), col("c_acctbal").as("acctbal"),
      col("c_mktsegment").as("segment"))
    val sup = t(s, d, "supplier").select(
      col("s_name").as("name"), col("s_acctbal").as("acctbal"))
    c.unionByName(sup.withColumn("segment", lit(null).cast("string")),
        allowMissingColumns = true)
      .groupBy("segment").agg(count(lit(1)).as("n"),
        round(sum("acctbal"), 2).as("total_bal"))
  }

  /** Cohort-retention matrix — the OLAP composite of P1 + first-touch
    * attribution: cohort = user's first activity week, columns = week
    * offsets, cells = distinct active users. N conditional
    * `countDistinct`s would make Catalyst Expand the event stream ×N
    * (one replica per distinct aggregate); instead dedup
    * (cohort, offset, user_id) once — after which plain conditional
    * counts ARE distinct counts — so the plan is two ordinary
    * partial/final HashAggregate pairs and zero Expands at any N. */
  private def p1CohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
    val first = ev.groupBy("user_id").agg(min("week").as("cohort"))
    val active = ev.join(first, Seq("user_id"))
      .select(col("cohort"),
        (datediff(col("week"), col("cohort")) / 7).cast("int")
          .as("offset"),
        col("user_id"))
      .dropDuplicates("cohort", "offset", "user_id")
    active.groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"))
      .agg(
        count(when(col("offset") === 0, lit(1))).as("w0"),
        count(when(col("offset") === 1, lit(1))).as("w1"),
        count(when(col("offset") === 2, lit(1))).as("w2"),
        count(when(col("offset") === 3, lit(1))).as("w3"),
        count(when(col("offset") === 4, lit(1))).as("w4"))
  }

  /** Rollup subtotal cascade over (returnflag, linestatus):
    * detail rows, per-flag subtotals, grand total — disambiguated by
    * grouping_id (bit semantics shared with DuckDB's GROUPING()).
    * One Expand(3 projections) + one aggregate: the multi-level
    * subtotal costs ONE pass over the fact table, not one scan per
    * level. Sum carried as decimal so summation order can't move the
    * hash. */
  private def p4Rollup(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").rollup("l_returnflag", "l_linestatus")
      // grouping_id() must live in the agg projection (Catalyst
      // resolves it against the GroupingSets node, not a later select)
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("gid"), col("n"), col("sum_qty"))

  /** Cube: all four grouping combinations in one pass (rollup's
    * superset — adds the per-linestatus margin rollup omits). Same
    * grouping_id/decimal discipline as p4_rollup. */
  private def p5Cube(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("gid"), col("n"), col("sum_qty"))

  val gates: Seq[Gate] = Seq(
    Gate("p4_rollup", p4Rollup _, Some(
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),
    Gate("p5_cube", p5Cube _, Some(
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)""")),
    Gate("p1_cohort_retention", p1CohortRetention _, Some(
      """WITH ev AS (
           SELECT user_id, date_trunc('week', ts) AS week FROM events),
         first AS (
           SELECT user_id, min(week) AS cohort FROM ev GROUP BY user_id),
         j AS (
           SELECT e.user_id,
             CAST(datediff('day', f.cohort, e.week) / 7 AS INT) AS off,
             f.cohort
           FROM ev e JOIN first f USING(user_id))
         SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
           count(DISTINCT CASE WHEN off = 0 THEN user_id END) AS w0,
           count(DISTINCT CASE WHEN off = 1 THEN user_id END) AS w1,
           count(DISTINCT CASE WHEN off = 2 THEN user_id END) AS w2,
           count(DISTINCT CASE WHEN off = 3 THEN user_id END) AS w3,
           count(DISTINCT CASE WHEN off = 4 THEN user_id END) AS w4
         FROM j GROUP BY cohort""")),
    Gate("p1_pivot_wide", p1PivotWide _, Some(
      """SELECT l_returnflag,
         coalesce(round(sum(CASE WHEN l_linestatus='F' THEN l_quantity END),2),0)
           AS qty_f,
         coalesce(round(sum(CASE WHEN l_linestatus='O' THEN l_quantity END),2),0)
           AS qty_o
         FROM lineitem GROUP BY l_returnflag""")),
    Gate("p1_conditional_agg", p1ConditionalAgg _, Some(
      """SELECT o_orderpriority,
         count(CASE WHEN o_orderstatus='F' THEN 1 END) AS n_f,
         count(CASE WHEN o_orderstatus='O' THEN 1 END) AS n_o,
         count(CASE WHEN o_orderstatus='P' THEN 1 END) AS n_p
         FROM orders GROUP BY o_orderpriority""")),
    Gate("p2_unpivot", p2Unpivot _, Some(
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
         FROM part
         UNION ALL
         SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value
         FROM part""")),
    Gate("p3_union", p3Union _, Some(
      """SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind
         FROM customer
         UNION ALL
         SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind
         FROM supplier""")),
    Gate("p3_union_drift", p3UnionDrift _, Some(
      """SELECT segment, count(*) AS n, round(sum(acctbal),2) AS total_bal
         FROM (
           SELECT c_name AS name, c_acctbal AS acctbal,
                  c_mktsegment AS segment FROM customer
           UNION ALL
           SELECT s_name, s_acctbal, NULL FROM supplier) x
         GROUP BY segment""")))
}
