package graft.tax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** The `tax_abund_from_contigs` pipeline (reference
  * `code/tax_abund_from_contigs.R:54-94`, §3 lifecycle): per-contig LCA
  * assignments ⟕ per-contig abundance → per-taxon abundance twice over:
  * `abund_direct` (contigs assigned exactly to the node) and
  * `abund_w_subtax` (node + all descendants).
  *
  * The reference enumerates descendants by shelling out to `taxonkit
  * list` per tax_id; here the rollup is the ancestor-prefix explode of
  * the contig's lineage — one distributed pass, no per-node queries
  * (SURVEY §2.8 T3). The reference's own sanity check — the two
  * measures must differ somewhere or the rollup is broken
  * (`tax_abund_from_contigs.R:90-92`) — is exposed as `assertRollup`.
  */
object TaxAbund {

  /** contigLca: (contig, lineage) — F3's `_contig_lca.tsv` essence;
    * contigAbund: (contig, tpm) — F4's coverM essence.
    * Returns (node, abund_w_subtax, abund_direct). LEFT join, matching
    * the reference (`tax_abund_from_contigs.R:59-60`): a contig with an
    * LCA assignment but no abundance row still surfaces its taxon nodes
    * (with null abundance) instead of vanishing. */
  def taxAbundFromContigs(contigLca: DataFrame,
      contigAbund: DataFrame): DataFrame = {
    val joined = contigLca.join(contigAbund, Seq("contig"), "left")
      .withColumn("parts", split(col("lineage"), ";"))
    joined
      .select(col("tpm"), col("lineage"),
        posexplode(Lineage.prefixesOfParts(col("parts")))
          .as(Seq("depth", "node")))
      .groupBy("node")
      .agg(
        round(sum("tpm"), 6).as("abund_w_subtax"),
        round(sum(when(col("node") === col("lineage"), col("tpm"))
          .otherwise(0.0)), 6).as("abund_direct"))
  }

  /** The reference's embedded invariant: abort when the rollup is a
    * no-op (every node's w_subtax equals its direct abundance). */
  def assertRollup(abund: DataFrame): Unit = {
    val differing = abund
      .filter(col("abund_w_subtax") =!= col("abund_direct")).count()
    require(differing > 0,
      "rollup produced no internal-node aggregation — " +
        "abund_w_subtax == abund_direct everywhere " +
        "(tax_abund_from_contigs.R:90-92 invariant)")
  }

  // fixture-backed gate query (F3/F6 shapes); the DuckDB oracle embeds
  // the same rows as a VALUES CTE and re-derives the ancestor-prefix
  // rollup independently (unnest(generate_series) + list_slice)
  private val lcaRows: Seq[(String, String)] = Seq(
    ("c1", "Bacteria;Proteobacteria;Ecoli"),
    ("c2", "Bacteria;Proteobacteria"),
    ("c3", "Bacteria;Firmicutes;Bacillus"),
    ("c4", "Archaea;Euryarchaeota"),
    ("c5", "Bacteria"))

  private val abundRows: Seq[(String, Double)] = Seq(
    ("c1", 10.0), ("c2", 20.0), ("c3", 5.0), ("c4", 2.5), ("c5", 1.0))

  private def fixtureLca(s: SparkSession): DataFrame = {
    import s.implicits._
    lcaRows.toDF("contig", "lineage")
  }

  private def fixtureAbund(s: SparkSession): DataFrame = {
    import s.implicits._
    abundRows.toDF("contig", "tpm")
  }

  private def gTaxAbund(s: SparkSession, d: String): DataFrame = {
    val out = taxAbundFromContigs(fixtureLca(s), fixtureAbund(s))
    assertRollup(out)
    out
  }

  private def taxAbundOracle: String = {
    val lcaVals = lcaRows.map { case (c, l) => s"('$c', '$l')" }
      .mkString(", ")
    val abVals = abundRows
      .map { case (c, t) => s"('$c', CAST($t AS DOUBLE))" }.mkString(", ")
    s"""WITH lca(contig, lineage) AS (VALUES $lcaVals),
     ab(contig, tpm) AS (VALUES $abVals),
     j AS (SELECT l.lineage, a.tpm
           FROM lca l LEFT JOIN ab a USING (contig)),
     e AS (SELECT tpm, lineage,
             array_to_string(list_slice(parts, 1, d), ';') AS node
           FROM (SELECT tpm, lineage,
                   string_split(lineage, ';') AS parts,
                   unnest(generate_series(1,
                     len(string_split(lineage, ';')))) AS d
                 FROM j))
     SELECT node, round(sum(tpm), 6) AS abund_w_subtax,
       round(sum(CASE WHEN node = lineage THEN tpm
         ELSE CAST(0.0 AS DOUBLE) END), 6) AS abund_direct
     FROM e GROUP BY node"""
  }

  val gates: Seq[Gate] = Seq(
    Gate("g_tax_abund_contigs", gTaxAbund _, Some(taxAbundOracle)))
}
