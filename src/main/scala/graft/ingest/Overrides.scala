package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Merge-with-manual-overrides semantics (SURVEY §7.4 risk 6;
  * reference `pypelib/amplicon/dispatch.py:26-28,118-127,361-377`):
  * the assignment table is machine-written AND hand-edited. Regenerating
  * it must:
  *  - keep every MANUAL row (no `__AUTO__` prefix) untouched — hand
  *    edits survive regeneration;
  *  - honor SKIP rows (they stay in the table, excluded downstream);
  *  - replace machine rows (`__AUTO__`-prefixed) with the fresh
  *    machine proposal — but only for keys without a manual row.
  *
  * This is an explicit overrides-table join, not a naive overwrite.
  */
object Overrides {

  val AutoPrefix = "__AUTO__"
  val Skip = "SKIP"

  /** `existing`: current table (key, assignment) where machine rows are
    * `__AUTO__x` and manual rows are plain (`SKIP` allowed).
    * `proposed`: fresh machine output (key, assignment), un-prefixed.
    * Returns the regenerated table. */
  def mergeAssignments(existing: DataFrame,
      proposed: DataFrame): DataFrame = {
    // null assignments count as MANUAL (a blank hand-edited cell must
    // survive, not be silently dropped by a null predicate and then
    // overwritten by a machine row)
    val manual = existing.filter(
      col("assignment").isNull ||
        !col("assignment").startsWith(AutoPrefix))
    val machine = proposed
      .join(manual.select("key"), Seq("key"), "left_anti")
      .select(col("key"),
        concat(lit(AutoPrefix), col("assignment")).as("assignment"))
    manual.unionByName(machine)
  }

  /** Downstream view: effective assignments — prefix stripped, SKIP
    * and null (unassigned) rows removed. */
  def effective(table: DataFrame): DataFrame =
    table
      .withColumn("assignment",
        regexp_replace(col("assignment"), s"^$AutoPrefix", ""))
      .filter(col("assignment").isNotNull && col("assignment") =!= Skip)

  // ---- dispatch target assignment + single-mode override
  //      (reference `dispatch.py:159-193` write_assignments) ----

  val Unknown = "UNKNOWN"

  /** Target per sample (dispatch.py:163-168): UNKNOWN when the
    * guess-target step reported any error code, else
    * `model.fwd_primer.rev_primer`.
    * guessed: (sample, model_name, fwd_primer, rev_primer);
    * errors: any DataFrame with a `sample` column (one row per error,
    * e.g. `Checks.pairingCodes` output). */
  def assignTargets(guessed: DataFrame, errors: DataFrame): DataFrame = {
    val errSamples = errors.select("sample").distinct()
      .withColumn("has_err", lit(true))
    guessed.join(errSamples, Seq("sample"), "left")
      .select(col("sample"),
        when(col("has_err"), lit(Unknown))
          .otherwise(concat_ws(".", col("model_name"),
            col("fwd_primer"), col("rev_primer"))).as("target"))
  }

  /** Single-target-mode override (dispatch.py:177-187): when the
    * dataset has EXACTLY two distinct targets, the minority one is
    * UNKNOWN, and the known target holds ≥ `threshold` of all samples,
    * stray UNKNOWN rows get `__AUTO__<top_target>` overrides — rows
    * with an existing (manual) override are untouched.
    *
    * Divergence noted: in the reference the threshold literally gates
    * only the log line (the override loop sits outside the `if`), and
    * the top/minor unpacking is dict-insertion-ordered. This implements
    * the documented intent — threshold-gated, majority-target — which
    * coincides with the reference whenever the rule fires in practice.
    *
    * assigned: (sample, target, override). The stats side is a 1-row
    * aggregate broadcast back across the table — no driver collect, no
    * shuffle of the fact side. */
  def singleModeOverride(assigned: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val stats = assigned.agg(
      countDistinct("target").as("n_targets"),
      count(lit(1)).as("n_total"),
      sum(when(col("target") === Unknown, 1L).otherwise(0L))
        .as("n_unknown"),
      max(when(col("target") =!= Unknown, col("target")))
        .as("top_target"),
      sum(when(col("target") =!= Unknown, 1L).otherwise(0L))
        .as("n_top"))
    val fire = col("n_targets") === 2 && col("n_unknown") > 0 &&
      col("n_top").cast("double") / col("n_total") >= threshold
    assigned.crossJoin(broadcast(stats.withColumn("fire", fire)
        .select("fire", "top_target")))
      .withColumn("override",
        when(col("fire") && col("target") === Unknown &&
            (col("override").isNull || col("override") === ""),
          concat(lit(AutoPrefix), col("top_target")))
          .otherwise(col("override")))
      .drop("fire", "top_target")
  }

  /** Effective target (dispatch.py:369):
    * `override.removeprefix('__AUTO__') or target`. */
  def effectiveTarget(assigned: DataFrame): DataFrame =
    assigned.withColumn("effective_target",
      coalesce(
        when(col("override").isNotNull && col("override") =!= "",
          regexp_replace(col("override"), s"^$AutoPrefix", "")),
        col("target")))

  // ---- gate query: 8/10 known + 2 UNKNOWN (one manual SKIP) — the
  // rule fires at exactly the 0.8 threshold, flips only the
  // override-free stray, and SKIP survives ----

  private val dispatchRows: Seq[(String, String, String)] =
    (1 to 8).map(i => (f"s$i%02d", "mcyE.f27.r338", "")) ++ Seq(
      ("s09", Unknown, ""),
      ("s10", Unknown, Skip))

  private def dispatchOracle: String = {
    val vals = dispatchRows
      .map { case (s, t, o) => s"('$s', '$t', '$o')" }.mkString(", ")
    s"""WITH a(sample, target, override) AS (VALUES $vals),
     s AS (SELECT count(DISTINCT target) AS n_targets,
             count(*) AS n_total,
             sum(CASE WHEN target = '$Unknown' THEN 1 ELSE 0 END)
               AS n_unknown,
             max(CASE WHEN target <> '$Unknown' THEN target END)
               AS top_target,
             sum(CASE WHEN target <> '$Unknown' THEN 1 ELSE 0 END)
               AS n_top
           FROM a),
     o AS (SELECT a.sample, a.target,
             CASE WHEN s.n_targets = 2 AND s.n_unknown > 0 AND
                 CAST(s.n_top AS DOUBLE) / s.n_total >= 0.8 AND
                 a.target = '$Unknown' AND
                 (a.override IS NULL OR a.override = '')
               THEN '$AutoPrefix' || s.top_target
               ELSE a.override END AS override
           FROM a, s)
     SELECT sample, target, override,
       coalesce(
         CASE WHEN override IS NOT NULL AND override <> ''
           THEN regexp_replace(override, '^$AutoPrefix', '') END,
         target) AS effective_target
     FROM o"""
  }

  val gates: Seq[Gate] = Seq(
    Gate("g_dispatch_override", (s, _) => {
      import s.implicits._
      effectiveTarget(singleModeOverride(
        dispatchRows.toDF("sample", "target", "override")))
    }, Some(dispatchOracle)))
}
