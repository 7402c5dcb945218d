package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Abundance math — the reference's single most load-bearing pattern
  * (SURVEY §2.5 A2): per-sample grouped-mutate normalizations.
  *
  * TPM pipeline (reference `code/postgres_scripts/tpm.R:18-35`):
  *   read_mapping → distinct → 2-hop join for target length →
  *   per-sample window sums → rpkm / tpm.
  * Mapped onto TESTDATA: sample ≈ l_suppkey, target ≈ l_partkey,
  * reads aligned ≈ Σ l_quantity, target length ≈ p_size.
  *
  * Invariant (tested): Σ tpm per sample = 1e6 (`tpm.R:25-30`).
  *
  * Scale posture: the aggregate shuffles once on (sample, target); the
  * window normalization then re-partitions by sample only. Both keys are
  * prefixes of a (sample, target) bucketing, so on a bucketed warehouse
  * table the whole pipeline is shuffle-free. The length dim (`part`) is
  * broadcast.
  */
object Abundance {

  /** The TPM/RPKM pipeline (flagship). */
  def tpm(s: SparkSession, d: String): DataFrame = {
    val counts = t(s, d, "lineitem")
      .groupBy(col("l_suppkey").as("sample"), col("l_partkey").as("target"))
      .agg(sum("l_quantity").as("n_aligned"))
    val lengths = broadcast(t(s, d, "part")
      .select(col("p_partkey").as("target"),
        col("p_size").cast("double").as("length")))
    val wSample = Window.partitionBy("sample")
    counts.join(lengths, Seq("target"))
      .withColumn("reads_per_base", col("n_aligned") / col("length"))
      .withColumn("sample_total", sum(col("n_aligned")).over(wSample))
      .withColumn("rpb_total", sum(col("reads_per_base")).over(wSample))
      .select(
        col("sample"), col("target"),
        round(col("n_aligned"), 2).as("n_aligned"),
        round(col("n_aligned") * lit(1e9) /
          (col("sample_total") * col("length")), 4).as("rpkm"),
        round(col("reads_per_base") * lit(1e6) / col("rpb_total"), 4)
          .as("tpm"))
  }

  /** A2 per-group relative abundance (reference `merge_bracken.R:64-65`:
    * rel_abund = x / sum(x) per sample) — window form, the preferred
    * shape (one shuffle, no self-join). */
  private def a2RelAbund(s: SparkSession, d: String): DataFrame = {
    val wSample = Window.partitionBy("sample")
    t(s, d, "lineitem")
      .groupBy(col("l_suppkey").as("sample"), col("l_partkey").as("target"))
      .agg(sum("l_quantity").as("n"))
      .withColumn("rel_abund",
        round(col("n") / sum(col("n")).over(wSample), 6))
      .select(col("sample"), col("target"), round(col("n"), 2).as("n"),
        col("rel_abund"))
  }

  /** The pipeline's tpm2 ARTIFACT, gated end-to-end: write the TPM
    * table through the K9 partitioned writer exactly as
    * `cli/Pipeline.run` does, read the files back, and hand the
    * read-back rows to the oracle — proving the write→read round trip
    * (partition-column encoding included), not just the query plan.
    * Read-back uses the writer's schema: partition-directory inference
    * would otherwise narrow the bigint sample key to int.
    *
    * The gate writes a deterministic 1-in-20 sample subset (AFTER the
    * window normalization, so every tpm value is identical to g_tpm's):
    * the round trip it proves — dynamic partition layout, key encoding,
    * schema'd read-back — is per-directory, so ~50 directories carry
    * the same evidence as ~1000 while keeping the gate write-bound on
    * data, not on small-file filesystem churn. Pipeline.run still
    * writes the full table. */
  private def gTpm2Table(s: SparkSession, d: String): DataFrame = {
    val out = tpm(s, d).filter(col("sample") % 20 === 0)
    val dir = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_tpm2_" + d.replaceAll("[^A-Za-z0-9]", "_")).getPath
    graft.io.Writers.writePartitioned(out, dir, Seq("sample"))
    s.read.schema(out.schema).parquet(dir)
      .select("sample", "target", "n_aligned", "rpkm", "tpm")
  }

  /** The flagship pipeline through the PURE SQL entry point —
    * `spark.sql` over registered views, no DataFrame API. The
    * reference's users reach the warehouse through dbplyr-COMPILED SQL
    * (`postgres.Rmd` passim), so the engine must accept the same
    * surface: one ANSI text runs on Spark here and on DuckDB as the
    * oracle, and must hash-match both g_tpm and each other. The
    * BROADCAST hint is the SQL spelling of the DataFrame form's
    * `broadcast(lengths)`. */
  private def gTpmSql(s: SparkSession, d: String): DataFrame = {
    t(s, d, "lineitem").createOrReplaceTempView("graft_sql_lineitem")
    t(s, d, "part").createOrReplaceTempView("graft_sql_part")
    s.sql(
      """WITH counts AS (
           SELECT l_suppkey AS sample, l_partkey AS target,
                  sum(l_quantity) AS n_aligned
           FROM graft_sql_lineitem GROUP BY 1, 2),
         joined AS (
           SELECT /*+ BROADCAST(p) */
                  c.sample, c.target, c.n_aligned,
                  CAST(p.p_size AS DOUBLE) AS length,
                  c.n_aligned / CAST(p.p_size AS DOUBLE) AS reads_per_base
           FROM counts c JOIN graft_sql_part p ON c.target = p.p_partkey)
         SELECT sample, target,
           round(n_aligned, 2) AS n_aligned,
           round(n_aligned * 1e9 /
             (sum(n_aligned) OVER (PARTITION BY sample) * length), 4)
             AS rpkm,
           round(reads_per_base * 1e6 /
             sum(reads_per_base) OVER (PARTITION BY sample), 4) AS tpm
         FROM joined""")
  }

  // g_tpm2_table must round-trip to the SAME rows the query computes,
  // so the artifact gate wraps the query's oracle with the gate's
  // sample-subset predicate (applied after normalization on both sides)
  private val tpmOracleSql: String =
    """WITH counts AS (
           SELECT l_suppkey AS sample, l_partkey AS target,
                  sum(l_quantity) AS n_aligned
           FROM lineitem GROUP BY 1, 2),
         joined AS (
           SELECT c.sample, c.target, c.n_aligned,
                  CAST(p.p_size AS DOUBLE) AS length,
                  c.n_aligned / CAST(p.p_size AS DOUBLE) AS reads_per_base
           FROM counts c JOIN part p ON c.target = p.p_partkey)
         SELECT sample, target,
           round(n_aligned, 2) AS n_aligned,
           round(n_aligned * 1e9 /
             (sum(n_aligned) OVER (PARTITION BY sample) * length), 4)
             AS rpkm,
           round(reads_per_base * 1e6 /
             sum(reads_per_base) OVER (PARTITION BY sample), 4) AS tpm
         FROM joined"""

  val gates: Seq[Gate] = Seq(
    Gate("g_tpm", (tpm _), Some(tpmOracleSql)),
    Gate("g_tpm_sql", gTpmSql _, Some(tpmOracleSql)),
    Gate("g_tpm2_table", gTpm2Table _,
      Some(s"SELECT * FROM ($tpmOracleSql) WHERE sample % 20 = 0")),
    Gate("a2_rel_abund", a2RelAbund _, Some(
      """WITH counts AS (
           SELECT l_suppkey AS sample, l_partkey AS target,
                  sum(l_quantity) AS n
           FROM lineitem GROUP BY 1, 2)
         SELECT sample, target, round(n, 2) AS n,
           round(n / sum(n) OVER (PARTITION BY sample), 6) AS rel_abund
         FROM counts""")))
}
