package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate

/** Primer-match scoring (reference `pypelib/amplicon/alignment.py:
  * 122-172` PrimerMatch + `hmm_summarize.py:156-280` get_mode) — the
  * last custom-code surface of SURVEY §2.10: score each read's
  * alignment against its model's primers, pick the best forward match
  * and the best reverse match to the right of it, then aggregate the
  * per-sample mode (top primer pair, model majority, clean-majority
  * flags, median scores).
  *
  * Relational formulation: the primer table is tiny (broadcast); the
  * per-side best match is a window argmin over (abs(score),
  * primer_idx) — primer_idx reproduces the reference's stable-sort
  * tie-break on primer list order. Everything downstream is counts +
  * windows; nothing leaves the executors.
  *
  * Documented divergences from the reference (bug-class, cited):
  *  - `hmm_summarize.py:186` counts the top primer BEFORE re-assigning
  *    it from the winning pair and line 196 assigns `rev_count =
  *    fwd_count` (a typo); here both counts are the occurrence counts
  *    of the winning pair's own primers.
  *  - score medians use percentile_cont interpolation (Spark
  *    `percentile` = DuckDB `quantile_cont`), not Python's
  *    exclusive-method `statistics.quantiles`.
  */
object Primers {

  /** Alignment direction (`alignment.py:27-34`): '+' with envfrom <
    * envto → fwd; '-' with envto < envfrom → rev; anything else is
    * unclear → null (the reference raises; a 100 TB ingest quarantines
    * instead). */
  def withDirection(aln: DataFrame): DataFrame =
    aln.withColumn("direction",
      when(col("strand") === "+" && col("envfrom") < col("envto"),
        "fwd")
        .when(col("strand") === "-" && col("envto") < col("envfrom"),
          "rev"))

  /** Per-alignment best fwd and rev primer matches.
    * aln: (qname, model, hmmfrom, hmmto, strand, envfrom, envto,
    * score) — one row per read (call after winner selection, e.g. the
    * W4 tie-discard; selection here is per ROW, exactly the
    * reference's per-alignment PrimerMatch loop).
    * primers: (hmm_name, primer_name, pdirection 'forward'|'reverse',
    * pstart, pend, pidx) with int coordinates.
    * Scores per `alignment.py:131-158`: ahead/trailing = clean; fwd
    * score anchors hmmfrom to the primer, rev score anchors hmmto.
    *
    * Shape: the primer table is a tiny dim, so it collapses to ONE
    * per-model array, broadcast once; best-match selection is a
    * per-row argmin fold over that array (filter/transform/aggregate
    * lambdas — the reference's Python min() loop as expressions). No
    * window, no self-join, zero shuffles: the match table costs one
    * narrow pass over the alignments, which is what lets primerMode's
    * two consumers stay cheap at 100 TB. */
  def scoreMatches(aln: DataFrame, primers: DataFrame): DataFrame = {
    val plist = primers.groupBy(col("hmm_name"))
      .agg(collect_list(struct(col("pidx"), col("primer_name"),
        col("pdirection"), col("pstart"), col("pend"))).as("plist"))

    // argmin by (abs(score), pidx) — pidx reproduces the reference's
    // stable-sort tie-break on primer list order, independent of the
    // non-deterministic collect_list ordering
    val bestT = "STRUCT<score: INT, clean: BOOLEAN, name: STRING, " +
      "pend: INT, pidx: INT>"
    def best(scored: String): String =
      s"""aggregate($scored, CAST(NULL AS $bestT),
        (acc, x) -> CASE
          WHEN acc IS NULL THEN x
          WHEN abs(x.score) < abs(acc.score) THEN x
          WHEN abs(x.score) = abs(acc.score) AND x.pidx < acc.pidx
            THEN x
          ELSE acc END)"""

    val fwdBest = best(
      """transform(
        filter(plist, p -> p.pdirection = 'forward'),
        p -> named_struct(
          'score', CASE WHEN p.pend < hmmfrom THEN hmmfrom - p.pend - 1
                        WHEN hmmto < p.pstart THEN hmmfrom - p.pstart
                        ELSE hmmfrom - p.pstart END,
          'clean', (p.pend < hmmfrom OR hmmto < p.pstart),
          'name', p.primer_name, 'pend', p.pend, 'pidx', p.pidx))""")

    // rev: best rev primer to the RIGHT of the fwd match
    // (alignment.py:56-72); with no fwd match, any rev primer competes
    val revBest = best(
      """transform(
        filter(plist, p -> p.pdirection = 'reverse' AND
          (fwd_best IS NULL OR fwd_best.pend < p.pstart)),
        p -> named_struct(
          'score', CASE WHEN p.pend < hmmfrom THEN hmmto - p.pend
                        WHEN hmmto < p.pstart THEN hmmto - p.pstart + 1
                        ELSE hmmto - p.pend END,
          'clean', (p.pend < hmmfrom OR hmmto < p.pstart),
          'name', p.primer_name, 'pend', p.pend, 'pidx', p.pidx))""")

    withDirection(aln)
      .join(broadcast(plist), col("model") === col("hmm_name"), "left")
      .withColumn("fwd_best", expr(fwdBest))
      .withColumn("rev_best", expr(revBest))
      .withColumn("fwd_primer", col("fwd_best.name"))
      .withColumn("fwd_score", col("fwd_best.score"))
      .withColumn("fwd_clean", col("fwd_best.clean"))
      .withColumn("rev_primer", col("rev_best.name"))
      .withColumn("rev_score", col("rev_best.score"))
      .withColumn("rev_clean", col("rev_best.clean"))
      .drop("hmm_name", "plist", "fwd_best", "rev_best")
  }

  /** Per-sample primer mode (`hmm_summarize.py:156-280` get_mode):
    * winning (fwd, rev, direction) pair by (pair count, fwd count,
    * rev count) with name tie-breaks, model majority among the pair's
    * alignments, clean-majority flag and median score per side.
    * matched: scoreMatches output plus a `sample` column.
    *
    * Scale shape: exactly TWO streaming passes over `matched`, both
    * map-side partial aggregations. No persist/checkpoint — a lazy
    * cache of the full match table would spill at 100 TB and an eager
    * localCheckpoint runs jobs at plan-build time and pins executor
    * blocks for the session lifetime; two passes that collapse to tiny
    * aggregates are cheaper and side-effect-free. (Identical exchange
    * subtrees between the two passes are additionally deduped by
    * Spark's ReuseExchange where plans line up.) Callers that stage
    * `matched` in the warehouse pay one pass. */
  def primerMode(matched: DataFrame): DataFrame = {
    // Pass 1: per-(sample, model, pair) cell counts; pair, per-side
    // and per-model totals then derive from the tiny aggregate with
    // windows. A window partition groups NULL keys together, which is
    // exactly the oracle's IS NOT DISTINCT FROM count semantics for
    // reads with no primer match on a side.
    val cells = m0(matched)
      .groupBy("sample", "model", "fwd_primer", "rev_primer",
        "direction")
      .agg(count(lit(1)).as("cn"))
    def wS(cs: String*) =
      Window.partitionBy(col("sample") +: cs.map(col): _*)
    // One ranking pass picks the winning pair AND its majority model
    // (hmm_summarize.py:222-227) together: pn/fc/rc and the name
    // tie-breaks are constant within a pair, so rows of the winning
    // pair sort first, and mn desc + model asc orders within it.
    val wTop = Window.partitionBy("sample")
      .orderBy(col("pn").desc, col("fc").desc, col("rc").desc,
        col("fwd_primer").asc_nulls_last,
        col("rev_primer").asc_nulls_last,
        col("direction").asc_nulls_last,
        col("mn").desc, col("model").asc)
    val top = cells
      .withColumn("pn",
        sum("cn").over(wS("fwd_primer", "rev_primer", "direction")))
      .withColumn("fc", sum("cn").over(wS("fwd_primer")))
      .withColumn("rc", sum("cn").over(wS("rev_primer")))
      .withColumn("mn", sum("cn").over(
        wS("fwd_primer", "rev_primer", "direction", "model")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("sample"), col("model").as("top_model"),
        col("fwd_primer").as("top_fwd"),
        col("rev_primer").as("top_rev"),
        col("direction").as("top_dir"),
        col("fc").as("fwd_count"), col("rc").as("rev_count"))

    // Pass 2: clean-majority flag + median score of the majority
    // subset (hmm_summarize.py:233-280), both sides fused into ONE
    // grouped pass via conditional aggregates. `top` is one row per
    // sample — AQE broadcasts it (no explicit hint: sample cardinality
    // is caller-controlled, a forced broadcast could exceed the limit).
    // Grouping by top's columns (functionally dependent on sample)
    // threads them through so `top` has exactly one consumer and the
    // match subtree is not re-planned a third time.
    val fHit = col("fwd_primer") <=> col("top_fwd") &&
      col("fwd_primer").isNotNull
    val rHit = col("rev_primer") <=> col("top_rev") &&
      col("rev_primer").isNotNull
    def sideAggs(hit: Column, cleanCol: String, scoreCol: String,
        p: String): Seq[Column] = Seq(
      sum(when(hit && col(cleanCol), 1).otherwise(0)).as(s"${p}_ncl"),
      sum(when(hit && !col(cleanCol), 1).otherwise(0)).as(s"${p}_ndt"),
      percentile(when(hit && col(cleanCol), col(scoreCol)), lit(0.5))
        .as(s"${p}_medcl"),
      percentile(when(hit && !col(cleanCol), col(scoreCol)), lit(0.5))
        .as(s"${p}_meddt"))
    val aggs = sideAggs(fHit, "fwd_clean", "fwd_score", "fwd") ++
      sideAggs(rHit, "rev_clean", "rev_score", "rev")
    def sideOut(p: String): Seq[Column] = Seq(
      // no matching rows on this side → NULL flag (the un-fused form
      // produced no row and left-joined to NULL)
      when(col(s"${p}_ncl") + col(s"${p}_ndt") > 0,
        col(s"${p}_ncl") > col(s"${p}_ndt")).as(s"${p}_clean"),
      when(col(s"${p}_ncl") > col(s"${p}_ndt"), col(s"${p}_medcl"))
        .otherwise(col(s"${p}_meddt")).as(s"${p}_med_score"))
    m0(matched)
      .join(top, Seq("sample"))
      .groupBy("sample", "top_model", "top_dir", "top_fwd",
        "fwd_count", "top_rev", "rev_count")
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("sample"), col("top_model").as("model"),
        col("top_dir").as("direction"),
        col("top_fwd").as("fwd_primer"), col("fwd_count"),
        col("top_rev").as("rev_primer"), col("rev_count")) ++
        sideOut("fwd") ++ sideOut("rev"): _*)
  }

  /** The columns primerMode actually consumes — pruning here keeps the
    * two passes' scan subtrees identical for exchange reuse. */
  private def m0(matched: DataFrame): DataFrame =
    matched.select("sample", "model", "fwd_primer", "fwd_score",
      "fwd_clean", "rev_primer", "rev_score", "rev_clean", "direction")

  // ---- gate fixture: one 16S sample, two primer pairs, clean and
  // dirty matches on both sides, one reverse-direction read on the
  // second pair ----

  // (hmm_name, primer_name, pdirection, pstart, pend, pidx)
  private[ops] val primerRows: Seq[(String, String, String, Int, Int,
      Int)] = Seq(
    ("16S", "f27", "forward", 8, 27, 0),
    ("16S", "f515", "forward", 515, 533, 1),
    ("16S", "r338", "reverse", 338, 355, 0),
    ("16S", "r806", "reverse", 787, 806, 1))

  // (qname, model, hmmfrom, hmmto, strand, envfrom, envto, score)
  private[ops] val alnRows: Seq[(String, String, Int, Int, String, Int,
      Int, Double)] = Seq(
    ("r1", "16S", 28, 337, "+", 1, 310, 95.0),
    ("r2", "16S", 30, 340, "+", 1, 311, 88.0),
    ("r3", "16S", 25, 335, "+", 2, 300, 76.0),
    ("r4", "16S", 516, 800, "-", 900, 30, 60.0),
    ("r5", "16S", 29, 336, "+", 1, 305, 91.0),
    ("r6", "16S", 27, 339, "+", 3, 320, 82.0),
    // 18S has no primers in the table → NULL fwd/rev primers; these
    // exercise the null-safe (<=>) pair/count joins in primerMode
    ("r7", "18S", 40, 400, "+", 5, 350, 70.0),
    ("r8", "18S", 42, 402, "+", 6, 352, 71.0))

  private def fixtureAln(s: SparkSession): DataFrame = {
    import s.implicits._
    alnRows.toDF("qname", "model", "hmmfrom", "hmmto", "strand",
      "envfrom", "envto", "score")
  }

  private def fixturePrimers(s: SparkSession): DataFrame = {
    import s.implicits._
    primerRows.toDF("hmm_name", "primer_name", "pdirection", "pstart",
      "pend", "pidx")
  }

  private def gMatch(s: SparkSession, d: String): DataFrame =
    scoreMatches(fixtureAln(s), fixturePrimers(s))
      .select("qname", "direction", "fwd_primer", "fwd_score",
        "fwd_clean", "rev_primer", "rev_score", "rev_clean")

  private def gMode(s: SparkSession, d: String): DataFrame =
    // 16S reads → samp_9 (real primer pair wins); 18S reads →
    // samp_null, whose winning pair is (NULL, NULL, fwd) — the gate
    // then checks the null-safe count joins against the oracle's
    // IS NOT DISTINCT FROM semantics.
    primerMode(
      scoreMatches(fixtureAln(s), fixturePrimers(s))
        .withColumn("sample",
          when(col("model") === "16S", "samp_9")
            .otherwise("samp_null")))

  // ---- DuckDB oracles: same fixture rows as VALUES, logic re-derived
  // step by step in SQL ----

  private def primerVals: String = primerRows.map { case (h, n, d2, s1,
      e, i) =>
    s"('$h', '$n', '$d2', CAST($s1 AS INT), CAST($e AS INT), " +
      s"CAST($i AS INT))"
  }.mkString(", ")

  private def alnVals: String = alnRows.map { case (q, m, hf, ht, st,
      ef, et, sc) =>
    s"('$q', '$m', CAST($hf AS INT), CAST($ht AS INT), '$st', " +
      s"CAST($ef AS INT), CAST($et AS INT), CAST($sc AS DOUBLE))"
  }.mkString(", ")

  private val matchCte: String =
    s"""aln(qname, model, hmmfrom, hmmto, strand, envfrom, envto,
       score) AS (VALUES $alnVals),
     primers(hmm_name, primer_name, pdirection, pstart, pend, pidx)
       AS (VALUES $primerVals),
     a AS (SELECT *, CASE
         WHEN strand = '+' AND envfrom < envto THEN 'fwd'
         WHEN strand = '-' AND envto < envfrom THEN 'rev' END
         AS direction FROM aln),
     fj AS (SELECT a.qname, p.primer_name, p.pend, p.pidx,
         CASE WHEN p.pend < a.hmmfrom THEN a.hmmfrom - p.pend - 1
           ELSE a.hmmfrom - p.pstart END AS fscore,
         (p.pend < a.hmmfrom OR a.hmmto < p.pstart) AS fclean
       FROM a JOIN primers p ON a.model = p.hmm_name
       WHERE p.pdirection = 'forward'),
     fsel AS (SELECT qname, primer_name AS fwd_primer,
         fscore AS fwd_score, fclean AS fwd_clean, pend AS fwd_pend
       FROM (SELECT *, row_number() OVER (PARTITION BY qname
           ORDER BY abs(fscore) ASC, pidx ASC) AS rn FROM fj)
       WHERE rn = 1),
     rj AS (SELECT a.qname, p.primer_name, p.pidx,
         CASE WHEN p.pend < a.hmmfrom THEN a.hmmto - p.pend
           WHEN a.hmmto < p.pstart THEN a.hmmto - p.pstart + 1
           ELSE a.hmmto - p.pend END AS rscore,
         (p.pend < a.hmmfrom OR a.hmmto < p.pstart) AS rclean
       FROM a JOIN primers p ON a.model = p.hmm_name
       LEFT JOIN fsel f ON a.qname = f.qname
       WHERE p.pdirection = 'reverse'
         AND (f.fwd_pend IS NULL OR f.fwd_pend < p.pstart)),
     rsel AS (SELECT qname, primer_name AS rev_primer,
         rscore AS rev_score, rclean AS rev_clean
       FROM (SELECT *, row_number() OVER (PARTITION BY qname
           ORDER BY abs(rscore) ASC, pidx ASC) AS rn FROM rj)
       WHERE rn = 1),
     matched AS (SELECT a.qname, a.model, a.direction,
         f.fwd_primer, f.fwd_score, f.fwd_clean,
         r.rev_primer, r.rev_score, r.rev_clean
       FROM a LEFT JOIN fsel f ON a.qname = f.qname
       LEFT JOIN rsel r ON a.qname = r.qname)"""

  private def matchOracle: String =
    s"""WITH $matchCte
     SELECT qname, direction, fwd_primer, fwd_score, fwd_clean,
       rev_primer, rev_score, rev_clean
     FROM matched"""

  private def modeOracle: String =
    s"""WITH $matchCte,
     m AS (SELECT CASE WHEN model = '16S' THEN 'samp_9'
             ELSE 'samp_null' END AS sample, * FROM matched),
     fc AS (SELECT sample, fwd_primer, count(*) AS fc FROM m
            GROUP BY sample, fwd_primer),
     rc AS (SELECT sample, rev_primer, count(*) AS rc FROM m
            GROUP BY sample, rev_primer),
     pairs AS (SELECT m.sample, m.fwd_primer, m.rev_primer,
         m.direction, count(*) AS pn
       FROM m GROUP BY m.sample, m.fwd_primer, m.rev_primer,
         m.direction),
     top AS (SELECT sample, fwd_primer AS top_fwd,
         rev_primer AS top_rev, direction AS top_dir,
         fc AS fwd_count, rc AS rev_count
       FROM (SELECT p.*, fc.fc, rc.rc, row_number() OVER (
             PARTITION BY p.sample ORDER BY p.pn DESC, fc.fc DESC,
             rc.rc DESC, p.fwd_primer ASC NULLS LAST,
             p.rev_primer ASC NULLS LAST,
             p.direction ASC NULLS LAST) AS rn
           FROM pairs p
           LEFT JOIN fc ON p.sample = fc.sample AND
             p.fwd_primer IS NOT DISTINCT FROM fc.fwd_primer
           LEFT JOIN rc ON p.sample = rc.sample AND
             p.rev_primer IS NOT DISTINCT FROM rc.rev_primer)
       WHERE rn = 1),
     mdl AS (SELECT sample, model
       FROM (SELECT m.sample, m.model, count(*) AS mn,
             row_number() OVER (PARTITION BY m.sample
               ORDER BY count(*) DESC, m.model ASC) AS rn
           FROM m JOIN top t ON m.sample = t.sample
           WHERE m.fwd_primer IS NOT DISTINCT FROM t.top_fwd
             AND m.rev_primer IS NOT DISTINCT FROM t.top_rev
             AND m.direction IS NOT DISTINCT FROM t.top_dir
           GROUP BY m.sample, m.model)
       WHERE rn = 1),
     fstat AS (SELECT m.sample,
         (sum(CASE WHEN m.fwd_clean THEN 1 ELSE 0 END) >
          sum(CASE WHEN NOT m.fwd_clean THEN 1 ELSE 0 END))
           AS fwd_clean,
         CASE WHEN sum(CASE WHEN m.fwd_clean THEN 1 ELSE 0 END) >
             sum(CASE WHEN NOT m.fwd_clean THEN 1 ELSE 0 END)
           THEN quantile_cont(CASE WHEN m.fwd_clean
             THEN CAST(m.fwd_score AS DOUBLE) END, 0.5)
           ELSE quantile_cont(CASE WHEN NOT m.fwd_clean
             THEN CAST(m.fwd_score AS DOUBLE) END, 0.5) END
           AS fwd_med_score
       FROM m JOIN top t ON m.sample = t.sample
       WHERE m.fwd_primer IS NOT DISTINCT FROM t.top_fwd
         AND m.fwd_primer IS NOT NULL
       GROUP BY m.sample),
     rstat AS (SELECT m.sample,
         (sum(CASE WHEN m.rev_clean THEN 1 ELSE 0 END) >
          sum(CASE WHEN NOT m.rev_clean THEN 1 ELSE 0 END))
           AS rev_clean,
         CASE WHEN sum(CASE WHEN m.rev_clean THEN 1 ELSE 0 END) >
             sum(CASE WHEN NOT m.rev_clean THEN 1 ELSE 0 END)
           THEN quantile_cont(CASE WHEN m.rev_clean
             THEN CAST(m.rev_score AS DOUBLE) END, 0.5)
           ELSE quantile_cont(CASE WHEN NOT m.rev_clean
             THEN CAST(m.rev_score AS DOUBLE) END, 0.5) END
           AS rev_med_score
       FROM m JOIN top t ON m.sample = t.sample
       WHERE m.rev_primer IS NOT DISTINCT FROM t.top_rev
         AND m.rev_primer IS NOT NULL
       GROUP BY m.sample)
     SELECT t.sample, mdl.model, t.top_dir AS direction,
       t.top_fwd AS fwd_primer, t.fwd_count,
       t.top_rev AS rev_primer, t.rev_count,
       f.fwd_clean, f.fwd_med_score, r.rev_clean, r.rev_med_score
     FROM top t
     LEFT JOIN mdl ON t.sample = mdl.sample
     LEFT JOIN fstat f ON t.sample = f.sample
     LEFT JOIN rstat r ON t.sample = r.sample"""

  val gates: Seq[Gate] = Seq(
    Gate("g_primer_match", gMatch _, Some(matchOracle)),
    Gate("g_primer_mode", gMode _, Some(modeOracle)))
}
