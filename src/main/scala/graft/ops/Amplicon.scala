package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Amplicon table stages (SURVEY §2.10 / §3.3): the DADA2-adjacent
  * dataflow the reference computes around the external denoiser —
  * specifically the truncation-parameter search
  * (`ampliconTrunc.R:170-246`): per-cycle weighted mean quality →
  * sliding-window smoothing → argmax cutoff per group.
  *
  * Mapped onto TESTDATA: group ≈ event_type, cycle ≈ minute-of-hour,
  * quality ≈ value weighted by props.k — same operator chain
  * (A5 weighted mean → W7-style frame window → W2 argmax).
  */
object Amplicon {

  /** Generic truncation search: input (grp, cycle, q, w) →
    * (grp, best_cycle, best_q): the cycle maximizing the trailing
    * `win`-cycle average of the weighted mean quality, ties → the
    * EARLIEST cycle (deterministic, mirrors slice_max(with_ties=FALSE)). */
  def truncationSearch(profiles: DataFrame, win: Int): DataFrame = {
    val perCycle = profiles
      .groupBy("grp", "cycle")
      .agg((sum(col("q") * col("w")) / sum(col("w"))).as("wq"))
    val wSlide = Window.partitionBy("grp").orderBy("cycle")
      .rowsBetween(-(win - 1), Window.currentRow)
    val smoothed = perCycle
      .withColumn("slide_q", avg(col("wq")).over(wSlide))
    val wBest = Window.partitionBy("grp")
      .orderBy(round(col("slide_q"), 6).desc, col("cycle").asc)
    smoothed.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("grp"), col("cycle").as("best_cycle"),
        round(col("slide_q"), 4).as("best_q"))
  }

  private def gTruncSearch(s: SparkSession, d: String): DataFrame =
    truncationSearch(
      t(s, d, "events").select(
        col("event_type").as("grp"),
        minute(col("ts")).as("cycle"),
        col("value").as("q"),
        get_json_object(col("props"), "$.k").cast("int").as("w")),
      win = 5)

  /** Read-tracking funnel table (reference `ampliconTrunc.R:330-342`):
    * a per-entity wide table built by CHAINED LEFT JOINS of per-stage
    * counts, with final-over-initial retention. Stage tables are
    * filtered aggregates of one scan; the joins key on the entity and
    * broadcast when stages are small. */
  private def gReadTracking(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    def stage(et: String, name: String): DataFrame =
      ev.filter(col("event_type") === et)
        .groupBy("user_id").agg(count(lit(1)).as(name))
    val wide = stage("signup", "n_signup")
      .join(stage("view", "n_view"), Seq("user_id"), "left")
      .join(stage("click", "n_click"), Seq("user_id"), "left")
      .join(stage("purchase", "n_purchase"), Seq("user_id"), "left")
      .na.fill(0L, Seq("n_view", "n_click", "n_purchase"))
    wide.select(col("user_id"), col("n_signup"), col("n_view"),
      col("n_click"), col("n_purchase"),
      round(col("n_purchase") * lit(100.0) / col("n_signup"), 4)
        .as("pct_converted"))
  }

  /** amplicon_region_summary (reference `summarize_hmmscan.R:57-86`
    * + loader `postgres.Rmd:1996-2010`): per-read best model by
    * e-value, then per-model n_seqs + medians of the hmm/seq
    * coordinates and e-value/score, tax_group and gene derived from
    * the model name, sample/read_direction tagged by the loader.
    *
    * Deliberate divergence (cited): the reference's
    * `slice_min(with_ties = FALSE)` breaks e-value ties arbitrarily
    * (R comment says "pick one randomly"); here ties break on model
    * name, which is deterministic and therefore oracle-checkable.
    * R `median()` is linear interpolation = `percentile(0.5)`. */
  def regionSummary(tblout: DataFrame, sample: String,
      direction: String): DataFrame = {
    val wBest = Window.partitionBy("query_name")
      .orderBy(col("evalue").asc, col("target_name").asc)
    val best = tblout
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
    val m = col("hmm_model")
    best.groupBy(col("target_name").as("hmm_model"))
      .agg(count(lit(1)).as("n_seqs"),
        percentile(col("hmmfrom"), lit(0.5)).as("hmm_start_median"),
        percentile(col("hmm_to"), lit(0.5)).as("hmm_end_median"),
        percentile(col("evalue"), lit(0.5)).as("e_value_median"),
        percentile(col("score"), lit(0.5)).as("score_median"),
        percentile(col("alifrom"), lit(0.5)).as("seq_start_median"),
        percentile(col("ali_to"), lit(0.5)).as("seq_end_median"))
      .select(
        lit(sample).as("sample"), lit(direction).as("read_direction"),
        m, col("n_seqs"), col("hmm_start_median"),
        col("hmm_end_median"), col("e_value_median"),
        col("score_median"), col("seq_start_median"),
        col("seq_end_median"),
        when(m.contains("_bac"), "bacteria")
          .when(m.contains("_arc"), "archaea")
          .when(m.contains("_euk"), "eukaryote")
          .when(m.contains("_mito"), "mitochondria")
          .as("tax_group"),
        when(m.contains("16S"), "16S_rRNA")
          .when(m.contains("12S"), "12S_rRNA")
          .when(m.contains("18S"), "18S_rRNA")
          .when(m.contains("28S"), "28S_rRNA")
          .when(m.contains("23S"), "23S_rRNA")
          .when(m.contains("5S"), "5S_rRNA")
          .when(m.contains("5_8S"), "5.8S_rRNA")
          .as("gene"))
  }

  private def gRegionSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Amplicon.regionSummary(
      graft.io.Readers.parseTblout(
        s.createDataset(graft.io.Fixtures.tblout.split("\n").toSeq)),
      "samp_100", "fwd")
  }

  private def regionSummaryOracle: String = {
    val vals = graft.io.Fixtures.tblout.split("\n")
      .map(l => "('" + l.replace("'", "''") + "')").mkString(", ")
    val pat = "^" + Seq.fill(15)("(\\S+)").mkString("\\s+") +
      "\\s+(.*)$"
    s"""WITH raw(line) AS (VALUES $vals),
     p AS (SELECT regexp_extract(trim(line), '$pat',
             ['target_name', 'target_accession', 'query_name',
              'query_accession', 'hmmfrom', 'hmm_to', 'alifrom',
              'ali_to', 'envfrom', 'env_to', 'sq_len', 'strand',
              'evalue', 'score', 'bias', 'description']) AS g
           FROM raw
           WHERE NOT starts_with(line, '#')
             AND length(trim(line)) > 0),
     t AS (SELECT g.target_name, g.query_name,
             CAST(g.hmmfrom AS DOUBLE) AS hmmfrom,
             CAST(g.hmm_to AS DOUBLE) AS hmm_to,
             CAST(g.alifrom AS DOUBLE) AS alifrom,
             CAST(g.ali_to AS DOUBLE) AS ali_to,
             CAST(g.evalue AS DOUBLE) AS evalue,
             CAST(g.score AS DOUBLE) AS score
           FROM p),
     best AS (SELECT * FROM (SELECT *, row_number() OVER (
               PARTITION BY query_name
               ORDER BY evalue ASC, target_name ASC) AS rn FROM t)
           WHERE rn = 1)
     SELECT 'samp_100' AS sample, 'fwd' AS read_direction,
       target_name AS hmm_model, count(*) AS n_seqs,
       quantile_cont(hmmfrom, 0.5) AS hmm_start_median,
       quantile_cont(hmm_to, 0.5) AS hmm_end_median,
       quantile_cont(evalue, 0.5) AS e_value_median,
       quantile_cont(score, 0.5) AS score_median,
       quantile_cont(alifrom, 0.5) AS seq_start_median,
       quantile_cont(ali_to, 0.5) AS seq_end_median,
       CASE WHEN contains(target_name, '_bac') THEN 'bacteria'
            WHEN contains(target_name, '_arc') THEN 'archaea'
            WHEN contains(target_name, '_euk') THEN 'eukaryote'
            WHEN contains(target_name, '_mito') THEN 'mitochondria'
            END AS tax_group,
       CASE WHEN contains(target_name, '16S') THEN '16S_rRNA'
            WHEN contains(target_name, '12S') THEN '12S_rRNA'
            WHEN contains(target_name, '18S') THEN '18S_rRNA'
            WHEN contains(target_name, '28S') THEN '28S_rRNA'
            WHEN contains(target_name, '23S') THEN '23S_rRNA'
            WHEN contains(target_name, '5S') THEN '5S_rRNA'
            WHEN contains(target_name, '5_8S') THEN '5.8S_rRNA'
            END AS gene
     FROM best GROUP BY target_name"""
  }

  val gates: Seq[Gate] = Seq(
    Gate("g_trunc_search", gTruncSearch _, Some(
      """WITH per_cycle AS (
           SELECT event_type AS grp,
             CAST(minute(ts) AS INT) AS cycle,
             sum(value * CAST(json_extract_string(props,'$.k') AS INT)) /
               sum(CAST(json_extract_string(props,'$.k') AS INT)) AS wq
           FROM events GROUP BY 1, 2),
         smoothed AS (
           SELECT grp, cycle,
             avg(wq) OVER (PARTITION BY grp ORDER BY cycle
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS slide_q
           FROM per_cycle)
         SELECT grp, cycle AS best_cycle, round(slide_q, 4) AS best_q
         FROM (SELECT *, row_number() OVER (PARTITION BY grp
           ORDER BY round(slide_q, 6) DESC, cycle ASC) AS rn
           FROM smoothed) x
         WHERE rn = 1""")),
    Gate("g_read_tracking", gReadTracking _, Some(
      """WITH su AS (SELECT user_id, count(*) AS n_signup FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
         vw AS (SELECT user_id, count(*) AS n_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         ck AS (SELECT user_id, count(*) AS n_click FROM events
           WHERE event_type = 'click' GROUP BY user_id),
         pu AS (SELECT user_id, count(*) AS n_purchase FROM events
           WHERE event_type = 'purchase' GROUP BY user_id)
         SELECT su.user_id, su.n_signup,
           coalesce(vw.n_view, 0) AS n_view,
           coalesce(ck.n_click, 0) AS n_click,
           coalesce(pu.n_purchase, 0) AS n_purchase,
           round(coalesce(pu.n_purchase, 0) * 100.0 / su.n_signup, 4)
             AS pct_converted
         FROM su
         LEFT JOIN vw USING(user_id)
         LEFT JOIN ck USING(user_id)
         LEFT JOIN pu USING(user_id)""")),
    Gate("g_region_summary", gRegionSummary _, Some(regionSummaryOracle)))
}
