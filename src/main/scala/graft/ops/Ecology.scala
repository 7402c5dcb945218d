package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Community-diversity metrics — the alpha/beta-diversity summaries the
  * reference's community-composition layer feeds into its plots
  * (reference `code/plot_metacoder.R:28-60`, per-taxon abundance trees;
  * `code/tax_abund_from_contigs.R` builds the abundance substrate).
  * GLAMR stops at per-clade abundance tables; every downstream ecology
  * notebook then computes diversity indices from exactly this shape, so
  * the engine provides them as first-class aggregates.
  *
  * Mapped onto TESTDATA (the `a2_rel_abund` substrate): sample ≈
  * l_suppkey, taxon ≈ l_partkey, abundance = row count.
  *
  * ORACLE DISCIPLINE: Shannon entropy is deliberately absent — it
  * needs `ln`, which rides libm and cannot oracle bit-exactly across
  * engines (the `tx_lm_score` no-ln discipline). The Simpson family
  * covers the same filtering/ranking role in pure integer-derived
  * rational arithmetic: every metric here is an exact long-count ratio
  * with ONE final 6-dp-rounded division, so the gate hash cannot move
  * with summation order.
  *
  * Scale shape: alpha = one (sample, taxon) count aggregate (map-side
  * combined) + one per-sample aggregate — two shuffles, the second on
  * the sample key only. Beta = one self-join of the abundance table
  * shuffled on taxon + a sample-pair aggregate; the pair universe is
  * #samples², which in the reference's world is a bounded project-level
  * comparison set (samples per project, not corpus rows) — at 100 TB
  * the fact table is huge but the sample grid stays broadcast-sized,
  * and the taxon-keyed self-join is the only data-sized shuffle.
  */
object Ecology {

  /** Per-(sample, taxon) abundance counts — the vegan community
    * matrix in long form. One shuffle, map-side combined. */
  def abundance(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_suppkey").as("sample"),
        col("l_partkey").as("taxon"))
      .agg(count(lit(1)).as("n"))

  /** Alpha diversity per sample: richness S, total count N, Simpson
    * diversity 1−Σn²/N², inverse Simpson (Hill number of order 2)
    * N²/Σn², Berger–Parker dominance max(n)/N. All exact-integer
    * derived; each output ratio is a single 6-dp division. The squared
    * terms ride DECIMAL(38,0) — plain LONG n² wraps silently past
    * ~3e9 rows per group, and the 'exact at 100 TB' claim is the same
    * one `Skew.skewReport`/`joinCardinality` back with the identical
    * decimal discipline (HUGEINT on the oracle side). */
  def alphaDiversity(ab: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    ab.groupBy("sample")
      .agg(count(lit(1)).as("richness"),
        sum("n").as("n_total"),
        sum(col("n").cast(dec) * col("n").cast(dec)).as("sum_sq"),
        max("n").as("n_max"))
      .select(col("sample"), col("richness"), col("n_total"),
        round((col("n_total").cast(dec) * col("n_total").cast(dec)
            - col("sum_sq")).cast("double")
          / (col("n_total").cast(dec) * col("n_total").cast(dec))
            .cast("double"), 6)
          .as("simpson"),
        round((col("n_total").cast(dec) * col("n_total").cast(dec))
          .cast("double") / col("sum_sq").cast("double"), 6)
          .as("inv_simpson"),
        round(col("n_max").cast("double") / col("n_total"), 6)
          .as("berger_parker"))
  }

  /** Shannon entropy H = ln N − (Σ n·ln n)/N, Hill number of order 1
    * (exp H), and Pielou evenness H/ln S — the vegan `diversity()`
    * default and its companions, UNGATED library functions: `ln`
    * rides libm and cannot oracle bit-exactly across engines (the
    * no-ln gate discipline above), so these ship with property specs
    * (EcologySpec) instead of a DuckDB hash gate. The reference's
    * abundance substrate (`code/tax_abund_from_contigs.R`,
    * `code/plot_metacoder.R:28-60`) exists to feed exactly these
    * indices downstream.
    *
    * Scale shape: the ln-N-minus-mean-ln form needs ONE map-side-
    * combined aggregate per sample — no per-row p = n/N join/window
    * pass. H is clamped at 0 from below (the single-taxon case can
    * land an ulp under 0 in FP); Pielou is NULL for S = 1 (0/0, as
    * vegan's NaN). */
  def shannonDiversity(ab: DataFrame): DataFrame =
    ab.groupBy("sample")
      .agg(count(lit(1)).as("richness"),
        sum("n").as("n_total"),
        sum(col("n").cast("double") * log(col("n").cast("double")))
          .as("n_ln_n"))
      .select(col("sample"), col("richness"), col("n_total"),
        greatest(lit(0.0),
          log(col("n_total").cast("double"))
            - col("n_ln_n") / col("n_total").cast("double"))
          .as("shannon"))
      .withColumn("hill_q1", exp(col("shannon")))
      .withColumn("pielou",
        when(col("richness") > 1,
          col("shannon") / log(col("richness").cast("double"))))

  /** Bray–Curtis dissimilarity for every sample pair:
    * BC(a,b) = (N_a + N_b − 2·Σ_t min(n_ta, n_tb)) / (N_a + N_b),
    * plus the shared-taxon count. The shared-min sum comes from ONE
    * taxon-keyed self-join; samples with zero overlap still appear
    * (BC = 1) because the pair universe is the totals' own cross grid
    * (sample-count-sized, broadcast — not data-sized). */
  def brayCurtis(ab0: DataFrame): DataFrame = {
    // ab feeds the totals and both self-join sides — staged once per
    // execution (the unifrac/cooccurrence discipline)
    val ab = graft.io.Scratch.stage(ab0, "bray_ab")
    val totals = ab.groupBy("sample").agg(sum("n").as("n_tot"))
    val shared = ab.select(col("sample").as("sample_a"),
        col("taxon"), col("n").as("na"))
      .join(ab.select(col("sample").as("sample_b"), col("taxon"),
        col("n").as("nb")), "taxon")
      .filter(col("sample_a") < col("sample_b"))
      .groupBy("sample_a", "sample_b")
      .agg(sum(least(col("na"), col("nb"))).as("shared_min"),
        count(lit(1)).as("n_shared"))
    // hint discipline: a left-outer join can only broadcast its RIGHT
    // (build) side — a hint on the preserved grid would be silently
    // dropped (r13 HintErrorLogger finding). The pair-aggregated
    // `shared` is bounded by the pair universe, so IT carries the hint;
    // the cross grid broadcasts its right input (BNLJ needs one side).
    val grid = totals.select(col("sample").as("sample_a"),
        col("n_tot").as("n_tot_a"))
      .crossJoin(broadcast(totals.select(col("sample").as("sample_b"),
        col("n_tot").as("n_tot_b"))))
      .filter(col("sample_a") < col("sample_b"))
    grid.join(broadcast(shared), Seq("sample_a", "sample_b"), "left")
      .select(col("sample_a"), col("sample_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round((col("n_tot_a") + col("n_tot_b")
            - lit(2) * coalesce(col("shared_min"), lit(0L)))
          .cast("double") / (col("n_tot_a") + col("n_tot_b")), 6)
          .as("bray_curtis"))
  }

  /** Presence/absence beta diversity for every sample pair: Jaccard
    * dissimilarity 1 − |A∩B|/|A∪B| and Sørensen–Dice dissimilarity
    * 1 − 2|A∩B|/(|A|+|B|), the binary twins of Bray–Curtis (vegan's
    * `betadiver`). Same one taxon-keyed self-join + broadcast pair
    * grid; all counts exact longs, one 6-dp division per metric. */
  def betaPresence(ab0: DataFrame): DataFrame = {
    // same staging rationale as brayCurtis
    val ab = graft.io.Scratch.stage(
      ab0.select("sample", "taxon"), "beta_ab")
    val rich = ab.groupBy("sample").agg(count(lit(1)).as("s_rich"))
    val shared = ab.select(col("sample").as("sample_a"), col("taxon"))
      .join(ab.select(col("sample").as("sample_b"), col("taxon")),
        "taxon")
      .filter(col("sample_a") < col("sample_b"))
      .groupBy("sample_a", "sample_b")
      .agg(count(lit(1)).as("n_shared"))
    // same hint discipline as brayCurtis: broadcast the build sides
    // (cross right input; pair-bounded `shared`), never the preserved
    // left of a left-outer join
    val grid = rich.select(col("sample").as("sample_a"),
        col("s_rich").as("rich_a"))
      .crossJoin(broadcast(rich.select(col("sample").as("sample_b"),
        col("s_rich").as("rich_b"))))
      .filter(col("sample_a") < col("sample_b"))
    grid.join(broadcast(shared), Seq("sample_a", "sample_b"), "left")
      .select(col("sample_a"), col("sample_b"),
        col("rich_a"), col("rich_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("jaccard_dissim",
        round(lit(1.0) - col("n_shared").cast("double")
          / (col("rich_a") + col("rich_b") - col("n_shared")), 6))
      .withColumn("sorensen_dissim",
        round(lit(1.0) - lit(2.0) * col("n_shared").cast("double")
          / (col("rich_a") + col("rich_b")), 6))
  }

  /** Taxon co-occurrence stats over the top-K most prevalent taxa
    * (ties broken by taxon id): for each taxon pair, the number of
    * samples containing each and both, presence-Jaccard, and the
    * observed/expected lift n_both·N / (n_a·n_b) under the
    * independence null — the edge weights a co-occurrence-network
    * analysis thresholds on. K bounds the pair universe at K²/2
    * regardless of corpus size; the per-sample pair expansion is
    * ≤ K²/2 rows per sample, map-side combined away. */
  def cooccurrence(ab0: DataFrame, k: Int): DataFrame = {
    // the abundance table feeds three subtrees (sample count, top-K
    // prevalence, presence rows) — staged once per execution; the
    // sample count rides as a broadcast singleton instead of the
    // r16 form's eager driver count() (one fewer full derivation AND
    // no separate job at plan-construction time)
    val ab = graft.io.Scratch.stage(
      ab0.select("sample", "taxon"), "cooccur_ab")
    val nSamples = broadcast(
      ab.agg(count_distinct(col("sample")).as("n_samples")))
    val top = ab.groupBy("taxon").agg(count(lit(1)).as("prev"))
      .orderBy(col("prev").desc, col("taxon")).limit(k)
    val pres = ab.join(broadcast(top.select("taxon")), "taxon")
      .select("sample", "taxon")
    val pairs = pres.select(col("sample"), col("taxon").as("taxon_a"))
      .join(pres.select(col("sample"), col("taxon").as("taxon_b")),
        "sample")
      .filter(col("taxon_a") < col("taxon_b"))
      .groupBy("taxon_a", "taxon_b")
      .agg(count(lit(1)).as("n_both"))
    // same hint discipline: the K²-bounded `pairs` is the build side
    val grid = top.select(col("taxon").as("taxon_a"),
        col("prev").as("n_a"))
      .crossJoin(broadcast(top.select(col("taxon").as("taxon_b"),
        col("prev").as("n_b"))))
      .filter(col("taxon_a") < col("taxon_b"))
    grid.join(broadcast(pairs), Seq("taxon_a", "taxon_b"), "left")
      .crossJoin(nSamples)
      .select(col("taxon_a"), col("taxon_b"), col("n_a"), col("n_b"),
        coalesce(col("n_both"), lit(0L)).as("n_both"),
        col("n_samples"))
      .withColumn("jaccard",
        round(col("n_both").cast("double")
          / (col("n_a") + col("n_b") - col("n_both")), 6))
      .withColumn("lift",
        round((col("n_both") * col("n_samples")).cast("double")
          / (col("n_a") * col("n_b")), 6))
      .drop("n_samples")
  }

  /** Lineage depth of the synthesized part taxonomy (brand →
    * brand;type → brand;type;szNN — `tax.Lineage.lineageCol`). */
  val TreeDepth = 3

  /** Branch-level community table over the part taxonomy: per
    * (sample, branch) SUBTREE read counts, where a branch is any
    * lineage prefix (the edge above that node, unit length). One
    * broadcast dim join + a depth-bounded explode + ONE map-side-
    * combined aggregate — the `t3_subtree_rollup` ancestor-explode
    * shape (reference `tax_abund_from_contigs.R:72-88`), keyed by
    * sample. Every read contributes exactly TreeDepth branch rows, so
    * Σ_branches n = TreeDepth · N_sample (the exactness `unifrac`
    * relies on to recover N without a second scan). */
  def branchAbundance(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val dims = broadcast(part.select(
      col("p_partkey"),
      col("p_brand").as("n1"),
      concat_ws(";", col("p_brand"), col("p_type")).as("n2"),
      graft.tax.Lineage.lineageCol.as("n3")))
    lineitem.join(dims, col("l_partkey") === col("p_partkey"))
      .select(col("l_suppkey").as("sample"),
        explode(array(col("n1"), col("n2"), col("n3"))).as("branch"))
      .groupBy("sample", "branch")
      .agg(count(lit(1)).as("n"))
  }

  /** UniFrac beta diversity for every sample pair — the TREE-aware
    * counterpart of `brayCurtis`/`betaPresence` (Lozupone & Knight's
    * unweighted / weighted UniFrac, the standard phylogenetic beta
    * metrics the reference's community tables feed into; unit branch
    * lengths on the fixed-depth lineage tree).
    *
    * Unweighted = unique-branch share of the union tree:
    * (b_A + b_B − 2·shared) / (b_A + b_B − shared) — branch-set
    * Jaccard dissimilarity, exact longs.
    *
    * Weighted (normalized) = Σ_b |p_A(b) − p_B(b)| / Σ_b (p_A + p_B)
    * with p_X(b) = n_Xb / N_X. The float-free identity this gate
    * rides: multiply through by N_A·N_B and use
    * Σ_all-branches n_Xb = d·N_X (d = TreeDepth), so
    *
    *   w_num = 2d·N_A·N_B − 2·Σ_{shared b} min(n_Ab·N_B, n_Bb·N_A)
    *   weighted = w_num / (2d·N_A·N_B)
    *
    * — branches private to either sample are folded in closed form,
    * so ONE branch-keyed inner self-join covers the whole union (the
    * Bray–Curtis shape), and every term is exact DECIMAL(38,0)
    * (HUGEINT on the oracle side): products are ≤ 2d·N_A·N_B ≈ 6e24
    * at 1e12 reads/sample — far under decimal38. The gate emits the
    * exact numerator AS A STRING (the `wg_pagerank` pr_num
    * discipline) plus the two 6-dp divisions.
    *
    * Scale shape: the branch-keyed self-join is the only data-sized
    * shuffle; totals and the pair aggregate are sample-count-bounded
    * (broadcast), same as the other beta gates. */
  def unifrac(bt0: DataFrame, depth: Int = TreeDepth): DataFrame = {
    val dec = "decimal(38,0)"
    // the branch table feeds SIX subtrees below (both sides of the
    // shared self-join, and the per-sample totals referenced by ta /
    // tb / both grid sides) — staged once (Scratch, within this
    // execution) so the join+explode+aggregate derivation runs one
    // time instead of once per reference
    val bt = graft.io.Scratch.stage(bt0, "unifrac_bt")
    // in-plan depth guard (no extra pass): Σ_branches n = depth · N
    // holds for any table `branchAbundance` built — a caller passing
    // a mismatched depth (or a non-branch table) would otherwise
    // silently de-exact every numerator. assert_true rides the same
    // projection; passing rows add coalesce(NULL, 0).
    val tot = bt.groupBy("sample")
      .agg(sum("n").as("t_sum"), count(lit(1)).as("n_branches"))
      .select(col("sample"),
        expr(s"CAST(t_sum DIV $depth AS BIGINT) + coalesce(CAST(" +
          s"assert_true(t_sum % $depth = 0, 'unifrac: branch-table " +
          s"sum not divisible by depth $depth — wrong depth or not " +
          s"a branchAbundance table') AS BIGINT), CAST(0 AS BIGINT))")
          .as("n_reads"),
        col("n_branches"))
    val ta = tot.select(col("sample").as("sample_a"),
      col("n_reads").as("n_reads_a"))
    val tb = tot.select(col("sample").as("sample_b"),
      col("n_reads").as("n_reads_b"))
    val shared = bt.select(col("sample").as("sample_a"), col("branch"),
        col("n").as("na"))
      .join(bt.select(col("sample").as("sample_b"), col("branch"),
        col("n").as("nb")), "branch")
      .filter(col("sample_a") < col("sample_b"))
      .join(broadcast(ta), "sample_a")
      .join(broadcast(tb), "sample_b")
      .groupBy("sample_a", "sample_b")
      .agg(count(lit(1)).as("shared_branches"),
        sum(least(col("na").cast(dec) * col("n_reads_b").cast(dec),
          col("nb").cast(dec) * col("n_reads_a").cast(dec)))
          .as("min_sum"))
    // hint discipline (r13): broadcast the build sides — the cross
    // grid's right input and the pair-bounded `shared` — never the
    // preserved left of the left-outer join
    val grid = tot.select(col("sample").as("sample_a"),
        col("n_reads").as("n_reads_a"),
        col("n_branches").as("branches_a"))
      .crossJoin(broadcast(tot.select(col("sample").as("sample_b"),
        col("n_reads").as("n_reads_b"),
        col("n_branches").as("branches_b"))))
      .filter(col("sample_a") < col("sample_b"))
    val denom = (lit(2 * depth) * col("n_reads_a").cast(dec)
      * col("n_reads_b").cast(dec)).cast(dec)
    val wNum = (denom - lit(2)
      * coalesce(col("min_sum"), lit(new java.math.BigDecimal(0))))
      .cast(dec)
    val sh = coalesce(col("shared_branches"), lit(0L))
    grid.join(broadcast(shared), Seq("sample_a", "sample_b"), "left")
      .select(col("sample_a"), col("sample_b"),
        col("n_reads_a"), col("n_reads_b"),
        col("branches_a"), col("branches_b"),
        sh.as("shared_branches"),
        round((col("branches_a") + col("branches_b") - lit(2) * sh)
          .cast("double")
          / (col("branches_a") + col("branches_b") - sh), 6)
          .as("unifrac_unweighted"),
        wNum.cast("string").as("w_num"),
        round(wNum.cast("double") / denom.cast("double"), 6)
          .as("unifrac_weighted"))
  }

  // ---- gates ----

  /** Pair-grid gates run on a bounded comparison set — the GateK
    * lowest sample ids — because beta diversity is a project-level
    * analysis (samples per project, not corpus rows): the pair
    * universe must stay fixed as the fact table scales 100×. */
  val GateK = 64

  private def bounded(ab: DataFrame): DataFrame = {
    val keep = ab.select("sample").distinct()
      .orderBy("sample").limit(GateK)
    ab.join(broadcast(keep), "sample")
  }

  /** The same bounded comparison set applied to the FACT table before
    * any derivation: the GateK lowest sample keys present. Pushing the
    * bound below the build (instead of bounding the derived community
    * table) keeps the expensive stages — the ×depth branch explode,
    * the (sample, taxon) aggregate — on a 64-sample slice instead of
    * the full corpus: at sf10 that is ~64/100k of the fact rows. The
    * kept set is IDENTICAL (every fact row yields community rows, so
    * distinct samples of the derived table ≡ distinct keys of the
    * facts), which the unchanged oracles replay. */
  private def boundedFacts(lineitem: DataFrame): DataFrame = {
    val keep = lineitem.select(col("l_suppkey")).distinct()
      .orderBy("l_suppkey").limit(GateK)
    lineitem.join(broadcast(keep), "l_suppkey")
  }

  private def a14Alpha(s: SparkSession, d: String): DataFrame =
    alphaDiversity(abundance(t(s, d, "lineitem")))

  private def a15Bray(s: SparkSession, d: String): DataFrame =
    brayCurtis(abundance(boundedFacts(t(s, d, "lineitem"))))

  private def a16Beta(s: SparkSession, d: String): DataFrame =
    betaPresence(abundance(boundedFacts(t(s, d, "lineitem"))))

  private def ecoCooccur(s: SparkSession, d: String): DataFrame =
    cooccurrence(abundance(t(s, d, "lineitem")), 40)

  private def ecoUnifrac(s: SparkSession, d: String): DataFrame =
    unifrac(branchAbundance(boundedFacts(t(s, d, "lineitem")),
      t(s, d, "part")))

  private val abundanceSql =
    """ab0 AS (
         SELECT l_suppkey AS sample, l_partkey AS taxon,
           count(*) AS n
         FROM lineitem GROUP BY 1, 2)"""

  // bounded comparison set: GateK lowest sample ids (mirrors `bounded`)
  private val boundedSql =
    s"""keep AS (
         SELECT DISTINCT sample FROM ab0 ORDER BY sample LIMIT $GateK),
       ab AS (SELECT ab0.* FROM ab0 JOIN keep USING (sample))"""

  val gates: Seq[Gate] = Seq(
    Gate("a14_alpha_diversity", a14Alpha _, Some(
      s"""WITH $abundanceSql,
         ab AS (SELECT * FROM ab0),
         agg AS (
           SELECT sample, count(*) AS richness,
             CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sum_sq,
             max(n) AS n_max
           FROM ab GROUP BY 1)
         SELECT sample, richness, n_total,
           round(CAST(CAST(n_total AS HUGEINT) * n_total - sum_sq
               AS DOUBLE)
             / CAST(CAST(n_total AS HUGEINT) * n_total AS DOUBLE), 6)
             AS simpson,
           round(CAST(CAST(n_total AS HUGEINT) * n_total AS DOUBLE)
             / CAST(sum_sq AS DOUBLE), 6) AS inv_simpson,
           round(CAST(n_max AS DOUBLE) / n_total, 6) AS berger_parker
         FROM agg""")),
    Gate("a15_bray_curtis", a15Bray _, Some(
      s"""WITH $abundanceSql,
         $boundedSql,
         totals AS (SELECT sample, sum(n) AS n_tot FROM ab GROUP BY 1),
         shared AS (
           SELECT a.sample AS sample_a, b.sample AS sample_b,
             sum(least(a.n, b.n)) AS shared_min,
             count(*) AS n_shared
           FROM ab a JOIN ab b
             ON a.taxon = b.taxon AND a.sample < b.sample
           GROUP BY 1, 2),
         grid AS (
           SELECT ta.sample AS sample_a, ta.n_tot AS n_tot_a,
             tb.sample AS sample_b, tb.n_tot AS n_tot_b
           FROM totals ta JOIN totals tb ON ta.sample < tb.sample)
         SELECT g.sample_a, g.sample_b,
           coalesce(s.n_shared, 0) AS n_shared,
           round(CAST(g.n_tot_a + g.n_tot_b
               - 2 * coalesce(s.shared_min, 0) AS DOUBLE)
             / (g.n_tot_a + g.n_tot_b), 6) AS bray_curtis
         FROM grid g LEFT JOIN shared s
           ON s.sample_a = g.sample_a AND s.sample_b = g.sample_b""")),
    Gate("a16_beta_presence", a16Beta _, Some(
      s"""WITH $abundanceSql,
         $boundedSql,
         rich AS (SELECT sample, count(*) AS s_rich FROM ab GROUP BY 1),
         shared AS (
           SELECT a.sample AS sample_a, b.sample AS sample_b,
             count(*) AS n_shared
           FROM ab a JOIN ab b
             ON a.taxon = b.taxon AND a.sample < b.sample
           GROUP BY 1, 2),
         grid AS (
           SELECT ra.sample AS sample_a, ra.s_rich AS rich_a,
             rb.sample AS sample_b, rb.s_rich AS rich_b
           FROM rich ra JOIN rich rb ON ra.sample < rb.sample)
         SELECT g.sample_a, g.sample_b, g.rich_a, g.rich_b,
           coalesce(s.n_shared, 0) AS n_shared,
           round(1.0 - CAST(coalesce(s.n_shared, 0) AS DOUBLE)
             / (g.rich_a + g.rich_b - coalesce(s.n_shared, 0)), 6)
             AS jaccard_dissim,
           round(1.0 - 2.0 * CAST(coalesce(s.n_shared, 0) AS DOUBLE)
             / (g.rich_a + g.rich_b), 6) AS sorensen_dissim
         FROM grid g LEFT JOIN shared s
           ON s.sample_a = g.sample_a AND s.sample_b = g.sample_b""")),
    Gate("eco_cooccur", ecoCooccur _, Some(
      s"""WITH $abundanceSql,
         ns AS (SELECT count(DISTINCT sample) AS n FROM ab0),
         top AS (
           SELECT taxon, count(*) AS prev FROM ab0 GROUP BY 1
           ORDER BY prev DESC, taxon LIMIT 40),
         pres AS (
           SELECT ab0.sample, ab0.taxon FROM ab0
           JOIN top ON top.taxon = ab0.taxon),
         pairs AS (
           SELECT a.taxon AS taxon_a, b.taxon AS taxon_b,
             count(*) AS n_both
           FROM pres a JOIN pres b
             ON a.sample = b.sample AND a.taxon < b.taxon
           GROUP BY 1, 2),
         grid AS (
           SELECT ta.taxon AS taxon_a, ta.prev AS n_a,
             tb.taxon AS taxon_b, tb.prev AS n_b
           FROM top ta JOIN top tb ON ta.taxon < tb.taxon)
         SELECT g.taxon_a, g.taxon_b, g.n_a, g.n_b,
           coalesce(p.n_both, 0) AS n_both,
           round(CAST(coalesce(p.n_both, 0) AS DOUBLE)
             / (g.n_a + g.n_b - coalesce(p.n_both, 0)), 6) AS jaccard,
           round(CAST(coalesce(p.n_both, 0) * (SELECT n FROM ns)
               AS DOUBLE) / (g.n_a * g.n_b), 6) AS lift
         FROM grid g LEFT JOIN pairs p
           ON p.taxon_a = g.taxon_a AND p.taxon_b = g.taxon_b""")),
    // same branch derivation (the t3 ancestor-explode idiom), same
    // bounded comparison set, HUGEINT min-products, VARCHAR numerator
    Gate("eco_unifrac", ecoUnifrac _, Some(
      s"""WITH bt0 AS (
           SELECT l_suppkey AS sample, branch, count(*) AS n FROM (
             SELECT l_suppkey, p_brand AS branch
             FROM lineitem JOIN part ON l_partkey = p_partkey
             UNION ALL
             SELECT l_suppkey, p_brand || ';' || p_type
             FROM lineitem JOIN part ON l_partkey = p_partkey
             UNION ALL
             SELECT l_suppkey,
               p_brand || ';' || p_type || ';sz'
                 || CAST(p_size AS VARCHAR)
             FROM lineitem JOIN part ON l_partkey = p_partkey)
           GROUP BY 1, 2),
         keepu AS (
           SELECT DISTINCT sample FROM bt0 ORDER BY sample
           LIMIT $GateK),
         bt AS (SELECT bt0.* FROM bt0 JOIN keepu USING (sample)),
         tot AS (
           SELECT sample, CAST(sum(n) // $TreeDepth AS HUGEINT)
             AS n_reads, count(*) AS n_branches
           FROM bt GROUP BY 1),
         shared AS (
           SELECT a.sample AS sample_a, b.sample AS sample_b,
             count(*) AS shared_branches,
             sum(least(CAST(a.n AS HUGEINT) * tb.n_reads,
                       CAST(b.n AS HUGEINT) * ta.n_reads)) AS min_sum
           FROM bt a JOIN bt b
             ON a.branch = b.branch AND a.sample < b.sample
             JOIN tot ta ON ta.sample = a.sample
             JOIN tot tb ON tb.sample = b.sample
           GROUP BY 1, 2),
         grid AS (
           SELECT a.sample AS sample_a, b.sample AS sample_b,
             a.n_reads AS n_reads_a, b.n_reads AS n_reads_b,
             a.n_branches AS branches_a, b.n_branches AS branches_b
           FROM tot a JOIN tot b ON a.sample < b.sample)
         SELECT g.sample_a, g.sample_b,
           CAST(g.n_reads_a AS BIGINT) AS n_reads_a,
           CAST(g.n_reads_b AS BIGINT) AS n_reads_b,
           g.branches_a, g.branches_b,
           coalesce(s.shared_branches, 0) AS shared_branches,
           round(CAST(g.branches_a + g.branches_b
               - 2 * coalesce(s.shared_branches, 0) AS DOUBLE)
             / (g.branches_a + g.branches_b
               - coalesce(s.shared_branches, 0)), 6)
             AS unifrac_unweighted,
           CAST(${2 * TreeDepth} * g.n_reads_a * g.n_reads_b
             - 2 * coalesce(s.min_sum, 0) AS VARCHAR) AS w_num,
           round(CAST(${2 * TreeDepth} * g.n_reads_a * g.n_reads_b
               - 2 * coalesce(s.min_sum, 0) AS DOUBLE)
             / CAST(${2 * TreeDepth} * g.n_reads_a * g.n_reads_b
               AS DOUBLE), 6) AS unifrac_weighted
         FROM grid g LEFT JOIN shared s
           ON s.sample_a = g.sample_a AND s.sample_b = g.sample_b""")))
}
