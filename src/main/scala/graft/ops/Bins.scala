package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** The bin_summary view family (SURVEY §2.4 J2 / FIXTURES F9): the
  * reference's flagship multiway star view (`postgres.Rmd:116-163`) —
  * checkm ⟕ samples ⟕ GTDB ⟕ drep on a REGEX-EXTRACTED (sample, bin)
  * key, plus the MAG quality tiers with their exact boundaries
  * (`make_das_and_drep_inputs.R:36-38`).
  *
  * TESTDATA mapping: bin name = `{brand}_{type}_{size}` (the
  * `{sample}_{binner}_{n}` pattern); checkm-like metrics derive from
  * the lineitem facts; the drep "is representative" flag is a
  * deterministic predicate (the file-existence analog, J9).
  */
object Bins {

  private def gBinSummary(s: SparkSession, d: String): DataFrame = {
    // per-bin "checkm" metrics from the facts
    val metrics = t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .withColumn("bin",
        concat_ws("_", col("p_brand"), col("p_type"), col("p_size")))
      .groupBy("bin")
      .agg(
        // count-ratio metrics: exact rationals, so the 2dp rounding is
        // engine-independent (an avg-of-doubles sits ULP-close to .xx5
        // boundaries and flips between engines' summation orders)
        round(count(when(col("l_discount") <= 0.05, 1)) * lit(100.0) /
          count(lit(1)), 2).as("completeness"),
        round(count(when(col("l_tax") > 0.04, 1)) * lit(100.0) /
          count(lit(1)), 2).as("contamination"),
        count(lit(1)).as("n_contigs"))
    // regex key extraction back out of the bin name (J2/J6 pattern)
    val keyed = metrics
      .withColumn("samp", regexp_extract(col("bin"), "^(.+?)_", 1))
      .withColumn("binner",
        regexp_extract(col("bin"), "^.+?_(.+?)_", 1))
      .withColumn("bin_num",
        regexp_extract(col("bin"), "_(\\d+)$", 1).cast("int"))
    // drep-style representative flag (file-existence analog)
    val flagged = keyed.withColumn("is_rep",
      pmod(col("bin_num"), lit(7)) === 0)
    // MAG quality tiers — exact reference boundaries
    flagged.withColumn("quality",
      when(col("completeness") > 90 && col("contamination") <= 5, "HIGH")
        .when(col("completeness") >= 50 && col("contamination") < 10,
          "MEDIUM")
        .when(col("completeness") >= 30 && col("contamination") < 50, "LOW")
        .otherwise("FAIL"))
      .select("bin", "samp", "binner", "bin_num", "n_contigs",
        "completeness", "contamination", "quality", "is_rep")
  }

  val gates: Seq[Gate] = Seq(
    Gate("g_bin_summary", gBinSummary _, Some(
      """WITH metrics AS (
           SELECT p_brand || '_' || p_type || '_' ||
               CAST(p_size AS VARCHAR) AS bin,
             round(count(CASE WHEN l_discount <= 0.05 THEN 1 END)
               * 100.0 / count(*), 2) AS completeness,
             round(count(CASE WHEN l_tax > 0.04 THEN 1 END)
               * 100.0 / count(*), 2) AS contamination,
             count(*) AS n_contigs
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1),
         keyed AS (
           SELECT *,
             regexp_extract(bin, '^(.+?)_', 1) AS samp,
             regexp_extract(bin, '^.+?_(.+?)_', 1) AS binner,
             CAST(regexp_extract(bin, '_(\d+)$', 1) AS INT) AS bin_num
           FROM metrics)
         SELECT bin, samp, binner, bin_num, n_contigs,
           completeness, contamination,
           CASE WHEN completeness > 90 AND contamination <= 5 THEN 'HIGH'
                WHEN completeness >= 50 AND contamination < 10
                  THEN 'MEDIUM'
                WHEN completeness >= 30 AND contamination < 50 THEN 'LOW'
                ELSE 'FAIL' END AS quality,
           bin_num % 7 = 0 AS is_rep
         FROM keyed""")))
}
