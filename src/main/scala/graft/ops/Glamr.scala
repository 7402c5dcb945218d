package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate

/** Reference-shaped pipelines over the reference's own schemas
  * (FIXTURES F1/F4/F7) — the §5 domain goldens: read-count funnel,
  * coverM ingest with rename maps, bracken merge + abundance matrix.
  * TESTDATA has no files of these shapes, so the gate queries run on
  * embedded fixtures; the functions take any DataFrame of the right
  * shape (a real deployment points them at `Readers.tsv` output).
  */
object Glamr {

  /** F1: read-count funnel (reference `postgres.Rmd:253-291`).
    * Input: (sample, read_state, fwd_read_count, rev_read_count) with
    * the ordered read_state factor. Unpivot direction → ordered lag →
    * percent retained/removed per (sample, direction). */
  val readStateOrder: Seq[String] = Seq(
    "raw_reads", "deduped_reads", "filt_and_trimmed_reads", "decon_reads")

  private def stateRank(c: Column): Column =
    readStateOrder.zipWithIndex.foldLeft(lit(-1)) { case (acc, (s, i)) =>
      when(c === s, i).otherwise(acc)
    }

  def readCountFunnel(readCounts: DataFrame): DataFrame = {
    val long = readCounts.selectExpr("sample", "read_state",
      """stack(2, 'fwd', fwd_read_count, 'rev', rev_read_count)
         as (direction, count)""")
      .withColumn("state_rank", stateRank(col("read_state")))
      // unknown states are dropped, not ranked -1 — a stray state would
      // otherwise sort before raw_reads and corrupt its percent_retained
      .filter(col("state_rank") >= 0)
    val w = Window.partitionBy("sample", "direction")
      .orderBy("state_rank")
    long
      .withColumn("prev", lag(col("count"), 1).over(w))
      .withColumn("percent_retained",
        round(col("count") * lit(100.0) / col("prev"), 4))
      .withColumn("percent_removed",
        round(lit(100.0) - col("percent_retained"), 4))
      .select("sample", "direction", "read_state", "state_rank",
        "count", "percent_retained", "percent_removed")
  }

  /** F4: coverM contig output rename map (reference
    * `postgres.Rmd:1682-1696`): tool column headers → warehouse names. */
  val covermRenames: Map[String, String] = Map(
    "Sample" -> "sample", "Contig" -> "contig", "Mean" -> "mean_cov",
    "Trimmed Mean" -> "trimmed_mean", "Covered Bases" -> "covered_bases",
    "Variance" -> "variance", "Length" -> "length",
    "Read Count" -> "read_count", "Reads per base" -> "reads_per_base",
    "RPKM" -> "rpkm", "TPM" -> "tpm")

  def renameCoverm(raw: DataFrame): DataFrame =
    covermRenames.foldLeft(raw) { case (df, (from, to)) =>
      if (df.columns.contains(from)) df.withColumnRenamed(from, to) else df
    }

  // ---- fixture-backed gate queries (no files of these shapes exist
  // in the driver's sfDir; DuckDB cannot see embedded fixtures →
  // rows-only check + the GlamrSpec goldens) ----

  private val readCountRows: Seq[(String, String, Long, Long)] = Seq(
    ("samp_1", "raw_reads", 1000L, 1000L),
    ("samp_1", "deduped_reads", 800L, 790L),
    ("samp_1", "filt_and_trimmed_reads", 400L, 395L),
    ("samp_1", "decon_reads", 100L, 99L),
    ("samp_2", "raw_reads", 500L, 500L),
    ("samp_2", "deduped_reads", 250L, 250L),
    ("samp_2", "filt_and_trimmed_reads", 125L, 125L),
    ("samp_2", "decon_reads", 25L, 20L))

  private val brackenRows
      : Seq[(String, String, Int, String, String, Long)] = Seq(
    ("s1", "gtdb", 100, "g__Alpha", "d__Bacteria;g__Alpha", 60L),
    ("s1", "gtdb", 200, "g__Beta", "d__Bacteria;g__Beta", 40L),
    ("s2", "gtdb", 100, "g__Alpha", "d__Bacteria;g__Alpha", 10L),
    ("s1", "refseq", 2, "d__Bacteria", "d__Bacteria", 999L),
    ("s1", "refseq", 400, "g__Delta", "d__Bacteria;g__Delta", 50L),
    ("s2", "refseq", 300, "g__Gamma", "d__Viruses;g__Gamma", 90L))

  private def fixtureReadCounts(s: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    import s.implicits._
    readCountRows
      .toDF("sample", "read_state", "fwd_read_count", "rev_read_count")
  }

  private def fixtureBracken(s: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    import s.implicits._
    brackenRows.toDF("sample", "db", "taxonomy_id", "name", "taxonomy",
      "new_est_reads")
  }

  // ---- DuckDB oracles: the fixture rows are embedded as a VALUES CTE
  // (generated from the SAME Scala constants the Spark side reads), so
  // the oracle re-derives the result from raw input independently ----

  private def funnelOracle: String = {
    val vals = readCountRows.map { case (sa, st, f, r) =>
      s"('$sa', '$st', CAST($f AS BIGINT), CAST($r AS BIGINT))"
    }.mkString(", ")
    val rankCase = readStateOrder.zipWithIndex
      .map { case (st, i) => s"WHEN '$st' THEN $i" }.mkString(" ")
    s"""WITH rc(sample, read_state, fwd_read_count, rev_read_count) AS
       (VALUES $vals),
     long AS (
       SELECT sample, read_state, 'fwd' AS direction,
              fwd_read_count AS "count" FROM rc
       UNION ALL
       SELECT sample, read_state, 'rev' AS direction,
              rev_read_count AS "count" FROM rc),
     ranked AS (
       SELECT *, CASE read_state $rankCase ELSE -1 END AS state_rank
       FROM long),
     lagged AS (
       SELECT *, lag("count") OVER (PARTITION BY sample, direction
         ORDER BY state_rank) AS prev
       FROM ranked WHERE state_rank >= 0)
     SELECT sample, direction, read_state, state_rank, "count",
       round("count" * CAST(100.0 AS DOUBLE) / prev, 4)
         AS percent_retained,
       round(CAST(100.0 AS DOUBLE) -
         round("count" * CAST(100.0 AS DOUBLE) / prev, 4), 4)
         AS percent_removed
     FROM lagged"""
  }

  private def brackenOracle: String = {
    val vals = brackenRows.map { case (sa, db, tid, nm, tax, n) =>
      s"('$sa', '$db', $tid, '$nm', '$tax', CAST($n AS BIGINT))"
    }.mkString(", ")
    s"""WITH br(sample, db, taxonomy_id, name, taxonomy, new_est_reads)
       AS (VALUES $vals),
     f AS (
       SELECT *, db || '_' || CAST(taxonomy_id AS VARCHAR) AS taxon
       FROM br
       WHERE NOT (db = 'refseq' AND
         (contains(coalesce(taxonomy, name), 'd__Bacteria') OR
          contains(coalesce(taxonomy, name), 'd__Archaea')))),
     r AS (
       SELECT *, round(new_est_reads /
         sum(new_est_reads) OVER (PARTITION BY sample), 6) AS rel_abund
       FROM f)
     SELECT taxon, name,
       coalesce(max(CASE WHEN sample = 's1' THEN rel_abund END),
         CAST(0.0 AS DOUBLE)) AS s1,
       coalesce(max(CASE WHEN sample = 's2' THEN rel_abund END),
         CAST(0.0 AS DOUBLE)) AS s2
     FROM r GROUP BY taxon, name"""
  }

  val gates: Seq[Gate] = Seq(
    Gate("g_funnel_fastp", (s, _) => readCountFunnel(fixtureReadCounts(s)),
      Some(funnelOracle)),
    Gate("g_bracken_matrix", (s, _) =>
      brackenMerge(fixtureBracken(s), Seq("s1", "s2"))._2, Some(brackenOracle)))

  /** F7: bracken merge (reference `merge_bracken.R:53-78`): per-sample
    * bracken tables tagged with (sample, db) → drop EVERY refseq row
    * whose taxonomy contains d__Bacteria or d__Archaea at any rank
    * (`merge_bracken.R:62-63` — those kingdoms come from the gtdb
    * database instead; a name-prefix filter would only catch the
    * domain-level rows) → wide counts matrix (taxa × samples, fill 0)
    * and relative-abundance matrix. `samples` pins the pivot columns
    * (explicit value list — no discovery scan). Input needs a
    * `taxonomy` lineage column; rows lacking one fall back to `name`. */
  def brackenMerge(tagged: DataFrame, samples: Seq[String])
      : (DataFrame, DataFrame) = {
    val taxCol =
      if (tagged.columns.contains("taxonomy"))
        coalesce(col("taxonomy"), col("name"))
      else col("name")
    val filtered = tagged.filter(
      !(col("db") === "refseq" &&
        (taxCol.contains("d__Bacteria") || taxCol.contains("d__Archaea"))))
      .withColumn("taxon", concat_ws("_", col("db"),
        col("taxonomy_id").cast("string")))
    val counts = filtered.groupBy("taxon", "name")
      .pivot("sample", samples)
      .agg(first(col("new_est_reads")))
      .na.fill(0)
    val wSample = Window.partitionBy("sample")
    val rel = filtered
      .withColumn("rel_abund", round(col("new_est_reads") /
        sum(col("new_est_reads")).over(wSample), 6))
      .groupBy("taxon", "name")
      .pivot("sample", samples)
      .agg(first(col("rel_abund")))
      .na.fill(0.0)
    (counts, rel)
  }
}
