package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Declarative data-quality expectations — the contract a warehouse
  * load asserts before a batch is published (the dbt-tests /
  * Great-Expectations role; the generalization of the reference's
  * hard-coded E-code checks in `ops.Checks`): each rule compiles to
  * an aggregate, the suite returns one row per rule with its exact
  * violation count, and a gate turns "the load is clean" into an
  * oracle-checked table instead of a hope.
  *
  * Scale shape: all ROW-LOCAL rules (not-null / range / accepted
  * values) compile into ONE conditional-aggregation pass over the
  * table — one scan, one partial-agg, no shuffle beyond the final
  * 1-row reduce — then unpivot into rows. Only rules that genuinely
  * need a shuffle get one: `Unique` is a single groupBy on its key,
  * `ForeignKey` a single anti-join (broadcast when the dimension
  * fits, the j5 discipline). A 50-rule suite over a 100 TB table
  * costs one scan + one shuffle per multi-row rule, never one scan
  * per rule.
  */
object Expectations {

  sealed trait Rule { def id: String; def ruleType: String; def target: String }
  /** Column must be non-null. */
  final case class NotNull(id: String, column: String) extends Rule {
    def ruleType = "not_null"; def target = column
  }
  /** Non-null values must lie in [lo, hi]. */
  final case class InRange(id: String, column: String, lo: Double,
      hi: Double) extends Rule {
    def ruleType = "range"; def target = column
  }
  /** Non-null values must be one of `values`. */
  final case class AcceptedValues(id: String, column: String,
      values: Seq[String]) extends Rule {
    def ruleType = "accepted_values"; def target = column
  }
  /** Key columns must be unique; violations = surplus rows. */
  final case class Unique(id: String, columns: Seq[String]) extends Rule {
    def ruleType = "unique"; def target = columns.mkString(",")
  }
  /** Non-null values must exist in the dimension column. */
  final case class ForeignKey(id: String, column: String,
      dim: DataFrame, dimColumn: String) extends Rule {
    def ruleType = "foreign_key"; def target = column
  }

  private def rowViolation(r: Rule): Column = r match {
    case NotNull(_, c) => col(c).isNull
    case InRange(_, c, lo, hi) =>
      col(c).isNotNull && (col(c) < lo || col(c) > hi)
    case AcceptedValues(_, c, vs) =>
      col(c).isNotNull && !col(c).isin(vs: _*)
    case other =>
      throw new IllegalArgumentException(s"not a row rule: $other")
  }

  /** Run an expectation suite. One row per rule:
    * (rule_id, rule_type, target, n_violations, pass). */
  def evaluate(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "empty expectation suite")
    require(rules.map(_.id).distinct.size == rules.size,
      "rule ids must be unique")
    // ids are interpolated into the stack() expr below — constrain the
    // alphabet so a quote/backtick/comma can't break or inject into it
    val badIds = rules.map(_.id).filterNot(_.matches("^[A-Za-z0-9_]+$"))
    require(badIds.isEmpty,
      s"rule ids must match [A-Za-z0-9_]+: ${badIds.mkString(", ")}")
    val spark = df.sparkSession
    import spark.implicits._
    val meta = rules.map(r => (r.id, r.ruleType, r.target))
      .toDF("rule_id", "rule_type", "target")
    val rowRules = rules.filter {
      case _: NotNull | _: InRange | _: AcceptedValues => true
      case _ => false
    }
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (rowRules.nonEmpty) {
      // one conditional-aggregation scan for every row-local rule;
      // coalesce so an EMPTY input reports 0/true, not NULL/NULL
      val aggs = rowRules.map(r =>
        coalesce(sum(when(rowViolation(r), 1L).otherwise(0L)), lit(0L))
          .as(r.id))
      val one = df.agg(aggs.head, aggs.tail: _*)
      val stackArgs = rowRules
        .map(r => s"'${r.id}', `${r.id}`").mkString(", ")
      parts += one.select(expr(
        s"stack(${rowRules.size}, $stackArgs) AS (rule_id, n_violations)"))
    }
    rules.foreach {
      case Unique(id, cols0) =>
        parts += df.groupBy(cols0.map(col): _*)
          .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
          .agg(coalesce(sum(col("cnt") - 1), lit(0L))
            .as("n_violations"))
          .select(lit(id).as("rule_id"), col("n_violations"))
      case ForeignKey(id, c, dim, dc) =>
        parts += df.filter(col(c).isNotNull)
          .join(dim.select(col(dc).as(c)).distinct(), Seq(c), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit(id).as("rule_id"), col("n_violations"))
      case _ => ()
    }
    parts.reduce(_.unionByName(_))
      .join(meta, Seq("rule_id"))
      .select(col("rule_id"), col("rule_type"), col("target"),
        col("n_violations").cast("long").as("n_violations"),
        (col("n_violations") === 0).as("pass"))
  }

  /** Row-routing form of the suite — the publish gate a production
    * load actually needs (`evaluate` reports counts; a dirty batch
    * must have its violating ROWS held back, not just counted): every
    * input row comes back with `violated_rules`, the comma-joined
    * id-sorted list of rules it violates (empty ⇒ clean).
    *
    * Same one-scan discipline as `evaluate`: all row-local rules are
    * ONE projection (no extra pass); each `Unique` adds one window
    * shuffle on its key (surplus rows beyond the group's first in the
    * deterministic all-remaining-columns order are the violators, so
    * the clean side genuinely SATISFIES the rule); each `ForeignKey`
    * one left join against the distinct dimension keys (broadcast
    * when the dim fits — the j5 discipline). Nothing is collected. */
  def mark(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "empty expectation suite")
    require(rules.map(_.id).distinct.size == rules.size,
      "rule ids must be unique")
    val flag = rules.map(r => r.id -> s"__q_${r.id}").toMap
    var cur = df
    rules.foreach {
      case r @ (_: NotNull | _: InRange | _: AcceptedValues) =>
        cur = cur.withColumn(flag(r.id), rowViolation(r))
      case Unique(id, keys0) =>
        // deterministic surplus: rank within the key group by every
        // remaining column (fully identical rows are interchangeable,
        // so the SET of quarantined rows is still deterministic)
        val rest = df.columns.filterNot(keys0.contains).toSeq
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys0.map(col): _*)
          .orderBy((rest ++ keys0).map(c => col(c).asc_nulls_first): _*)
        cur = cur.withColumn(flag(id), row_number().over(w) > 1)
      case ForeignKey(id, c, dim, dc) =>
        val m = s"__q_dim_${id}"
        cur = cur.join(
          dim.select(col(dc).as(c)).distinct()
            .withColumn(m, lit(true)),
          Seq(c), "left")
          .withColumn(flag(id), col(c).isNotNull && col(m).isNull)
          .drop(m)
    }
    val ids = rules.map(_.id).sorted
    cur
      .withColumn("violated_rules", concat_ws(",",
        ids.map(id => when(col(flag(id)), lit(id))): _*))
      .select(df.columns.map(col) :+ col("violated_rules"): _*)
  }

  /** Split a batch on the suite: (clean rows, quarantined rows with
    * `violated_rules`). Both sides share one marked plan — consumers
    * taking both should stage the marked frame (the Pipeline does). */
  def quarantine(df: DataFrame,
      rules: Seq[Rule]): (DataFrame, DataFrame) = {
    val m = mark(df, rules)
    (m.filter(col("violated_rules") === "").drop("violated_rules"),
      m.filter(col("violated_rules") =!= ""))
  }

  /** Gate: a six-rule suite over lineitem — three hold (count 0),
    * three genuinely fire (l_discount past 0.08 exists; l_returnflag
    * 'R' exists; the driver's synthetic lineitem has duplicate
    * (l_orderkey, l_linenumber) pairs — 1,161 groups at sf0.001), so
    * the gate exercises both verdicts, not just green. */
  private def qExpectations(s: SparkSession, d: String): DataFrame =
    evaluate(t(s, d, "lineitem"), gateRules(s, d))

  private def gateRules(s: SparkSession, d: String): Seq[Rule] = Seq(
    NotNull("r1_notnull_shipdate", "l_shipdate"),
    InRange("r2_range_quantity", "l_quantity", 1.0, 50.0),
    InRange("r3_range_discount", "l_discount", 0.0, 0.08),
    AcceptedValues("r4_returnflag_domain", "l_returnflag",
      Seq("A", "N")),
    Unique("r5_unique_line", Seq("l_orderkey", "l_linenumber")),
    ForeignKey("r6_fk_orderkey", "l_orderkey",
      t(s, d, "orders"), "o_orderkey"))

  /** Gate: the quarantined SIDE of the same six-rule suite — every
    * held-back lineitem row with the rules it violates. The oracle
    * replays the Unique surplus choice exactly (row_number over the
    * key, ordered by all remaining columns ASC NULLS FIRST). */
  private def qQuarantine(s: SparkSession, d: String): DataFrame =
    quarantine(t(s, d, "lineitem"), gateRules(s, d))._2

  val gates: Seq[Gate] = Seq(
    Gate("q_expectations", qExpectations _, Some(
      """WITH v AS (
           SELECT 'r1_notnull_shipdate' AS rule_id, 'not_null' AS rule_type,
             'l_shipdate' AS target,
             CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_violations
           FROM lineitem
           UNION ALL
           SELECT 'r2_range_quantity', 'range', 'l_quantity',
             CAST(sum(CASE WHEN l_quantity IS NOT NULL
               AND (l_quantity < 1.0 OR l_quantity > 50.0)
               THEN 1 ELSE 0 END) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'r3_range_discount', 'range', 'l_discount',
             CAST(sum(CASE WHEN l_discount IS NOT NULL
               AND (l_discount < 0.0 OR l_discount > 0.08)
               THEN 1 ELSE 0 END) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'r4_returnflag_domain', 'accepted_values', 'l_returnflag',
             CAST(sum(CASE WHEN l_returnflag IS NOT NULL
               AND l_returnflag NOT IN ('A', 'N')
               THEN 1 ELSE 0 END) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'r5_unique_line', 'unique', 'l_orderkey,l_linenumber',
             CAST(coalesce((SELECT sum(cnt - 1) FROM (
               SELECT count(*) AS cnt FROM lineitem
               GROUP BY l_orderkey, l_linenumber
               HAVING count(*) > 1)), 0) AS BIGINT)
           UNION ALL
           SELECT 'r6_fk_orderkey', 'foreign_key', 'l_orderkey',
             (SELECT count(*) FROM lineitem l
              WHERE l.l_orderkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey)))
         SELECT rule_id, rule_type, target, n_violations,
           n_violations = 0 AS pass
         FROM v""")),
    Gate("q_quarantine", qQuarantine _, Some(
      """WITH f AS (
           SELECT *,
             (l_shipdate IS NULL) AS v1,
             (l_quantity IS NOT NULL
               AND (l_quantity < 1.0 OR l_quantity > 50.0)) AS v2,
             (l_discount IS NOT NULL
               AND (l_discount < 0.0 OR l_discount > 0.08)) AS v3,
             (l_returnflag IS NOT NULL
               AND l_returnflag NOT IN ('A', 'N')) AS v4,
             (row_number() OVER (
               PARTITION BY l_orderkey, l_linenumber
               ORDER BY l_partkey ASC NULLS FIRST,
                 l_suppkey ASC NULLS FIRST,
                 l_quantity ASC NULLS FIRST,
                 l_extendedprice ASC NULLS FIRST,
                 l_discount ASC NULLS FIRST,
                 l_tax ASC NULLS FIRST,
                 l_returnflag ASC NULLS FIRST,
                 l_linestatus ASC NULLS FIRST,
                 l_shipdate ASC NULLS FIRST,
                 l_orderkey, l_linenumber) > 1) AS v5,
             (l_orderkey IS NOT NULL AND NOT EXISTS (
               SELECT 1 FROM orders o
               WHERE o.o_orderkey = l_orderkey)) AS v6
           FROM lineitem)
         SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
           l_quantity, l_extendedprice, l_discount, l_tax,
           l_returnflag, l_linestatus, l_shipdate,
           concat_ws(',',
             CASE WHEN v1 THEN 'r1_notnull_shipdate' END,
             CASE WHEN v2 THEN 'r2_range_quantity' END,
             CASE WHEN v3 THEN 'r3_range_discount' END,
             CASE WHEN v4 THEN 'r4_returnflag_domain' END,
             CASE WHEN v5 THEN 'r5_unique_line' END,
             CASE WHEN v6 THEN 'r6_fk_orderkey' END) AS violated_rules
         FROM f
         WHERE v1 OR v2 OR v3 OR v4 OR v5 OR v6""")))
}
