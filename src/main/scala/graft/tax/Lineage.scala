package graft.tax

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Taxonomy / hierarchy operators T1-T5 (SURVEY §2.8) — the
  * domain-specific core of the reference.
  *
  * TESTDATA has no taxonomy table, so a 3-level lineage is synthesized
  * from `part`: `p_brand ; p_type ; szNN` — structurally identical to the
  * reference's `kingdom;...;species` strings (`postgres.Rmd:180,669,865`),
  * and deep enough to exercise split, rollup, LCA and edge aggregation.
  *
  * Scale design — the key move is T3: the reference shells out to
  * `taxonkit list` per tax_id to enumerate descendants
  * (`tax_abund_from_contigs.R:72-88`), an O(nodes × subtree) loop. Here
  * the rollup is a single pass: explode each fact's ANCESTOR PREFIX list
  * and aggregate by ancestor — no recursion, no closure table, one
  * shuffle. Depth is bounded (taxonomy ranks ≤ ~10), so the explode
  * fan-out is a small constant factor.
  */
object Lineage {

  /** The synthesized lineage column over `part`. */
  def lineageCol: Column =
    concat_ws(";", col("p_brand"), col("p_type"),
      concat(lit("sz"), col("p_size")))

  /** Prefix list from an already-split token array column. */
  def prefixesOfParts(parts: Column): Column =
    transform(
      sequence(lit(1), size(parts)),
      i => array_join(slice(parts, lit(1), i), ";"))

  /** T1 lineage split to rank columns (reference
    * `separate(taxonomy, Domain…Species, ";")` `merge_kraken_tax.R:36-51`). */
  private def t1Split(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .withColumn("lineage", lineageCol)
      // one split, referenced three times: a non-cheap expression with
      // multiple references stays materialized (CollapseProject only
      // inlines cheap or single-use expressions)
      .withColumn("parts", split(col("lineage"), ";"))
      .select(
        col("p_partkey"), col("lineage"),
        element_at(col("parts"), 1).as("l_brand"),
        element_at(col("parts"), 2).as("l_type"),
        element_at(col("parts"), 3).as("l_size"))

  /** T2 LCA per group via the custom Aggregator (reference `MakeLCA`
    * `AnnotateContigs.pl:996-1032`): collapse each brand's lineages to
    * their common prefix. */
  private def t2Lca(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .withColumn("lineage", lineageCol)
      .groupBy("p_brand")
      .agg(Lca.lca(col("lineage")).as("lca"))

  /** T3 subtree rollup — abundance INCLUDING descendants per node
    * (reference `tax_abund_from_contigs.R:72-88`), via ancestor-prefix
    * explode. `abund_direct` counts only facts sitting exactly on the
    * node; the reference's invariant `abund_w_subtax ≠ abund_direct` on
    * internal nodes (`tax_abund_from_contigs.R:90-92`) is asserted in
    * tests. */
  private def t3Rollup(s: SparkSession, d: String): DataFrame = {
    // Known-depth lineage → build the prefix strings as plain concat
    // columns and explode an array of (node, is_leaf) structs: fully
    // codegen'd, no lambda re-evaluation, no per-prefix split/slice
    // allocations (the generic prefixesOfParts form measured 4.5s vs
    // ~1s here at sf0.1). Unknown-depth data uses prefixesOfParts.
    val dims = broadcast(t(s, d, "part").select(
      col("p_partkey"),
      col("p_brand").as("n1"),
      concat_ws(";", col("p_brand"), col("p_type")).as("n2"),
      lineageCol.as("n3")))
    t(s, d, "lineitem")
      .join(dims, col("l_partkey") === col("p_partkey"))
      .select(col("l_quantity"), posexplode(array(
        struct(col("n1").as("node"), lit(0).as("is_leaf")),
        struct(col("n2").as("node"), lit(0).as("is_leaf")),
        struct(col("n3").as("node"), lit(1).as("is_leaf"))))
        .as(Seq("depth", "nl")))
      .groupBy(col("nl.node").as("node"))
      .agg(
        round(sum("l_quantity"), 2).as("abund_w_subtax"),
        round(sum(when(col("nl.is_leaf") === 1, col("l_quantity"))
          .otherwise(0.0)), 2).as("abund_direct"))
  }

  /** T5 taxonomy-tree edge aggregation for Cytoscape-style output
    * (reference `AnnotateContigs.pl:697-707,919-935`): (parent, child,
    * rank) edges with summed abundance. */
  private def t5Edges(s: SparkSession, d: String): DataFrame = {
    val facts = t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          concat(lit("sz"), col("p_size")).as("p_sz"))),
        col("l_partkey") === col("p_partkey"))
    val brandType = facts.groupBy(
      col("p_brand").as("parent"), col("p_type").as("child"))
      .agg(round(sum("l_quantity"), 2).as("abund"),
        count(lit(1)).as("n_facts"))
      .withColumn("rank", lit("type"))
    val typeSize = facts.groupBy(
      col("p_type").as("parent"), col("p_sz").as("child"))
      .agg(round(sum("l_quantity"), 2).as("abund"),
        count(lit(1)).as("n_facts"))
      .withColumn("rank", lit("size"))
    brandType.unionByName(typeSize)
      .select("rank", "parent", "child", "abund", "n_facts")
  }

  val gates: Seq[Gate] = Seq(
    Gate("t1_lineage_split", t1Split _, Some(
      """SELECT p_partkey,
         p_brand || ';' || p_type || ';sz' || CAST(p_size AS VARCHAR)
           AS lineage,
         p_brand AS l_brand, p_type AS l_type,
         'sz' || CAST(p_size AS VARCHAR) AS l_size
         FROM part""")),
    // Closed-form LCA for the fixed 3-level lineage: extend the prefix
    // while the level is constant within the group. (The Spark side uses
    // the general Aggregator; depth-3 makes the oracle expressible.)
    Gate("t2_lca", t2Lca _, Some(
      """SELECT p_brand,
         CASE WHEN count(DISTINCT p_type) = 1 THEN
           CASE WHEN count(DISTINCT p_size) = 1 THEN
             min(p_brand) || ';' || min(p_type) || ';sz' ||
               CAST(min(p_size) AS VARCHAR)
           ELSE min(p_brand) || ';' || min(p_type) END
         ELSE min(p_brand) END AS lca
         FROM part GROUP BY p_brand""")),
    Gate("t3_subtree_rollup", t3Rollup _, Some(
      """WITH facts AS (
           SELECT l_quantity, p_brand, p_type,
             p_brand || ';' || p_type || ';sz' || CAST(p_size AS VARCHAR)
               AS lineage
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         lvl AS (
           SELECT p_brand AS node, l_quantity, 0 AS is_leaf FROM facts
           UNION ALL
           SELECT p_brand || ';' || p_type, l_quantity, 0 FROM facts
           UNION ALL
           SELECT lineage, l_quantity, 1 FROM facts)
         SELECT node,
           round(sum(l_quantity), 2) AS abund_w_subtax,
           round(sum(CASE WHEN is_leaf = 1 THEN l_quantity ELSE 0 END), 2)
             AS abund_direct
         FROM lvl GROUP BY node""")),
    Gate("t5_tree_edges", t5Edges _, Some(
      """WITH facts AS (
           SELECT l_quantity, p_brand, p_type,
             'sz' || CAST(p_size AS VARCHAR) AS p_sz
           FROM lineitem JOIN part ON l_partkey = p_partkey)
         SELECT 'type' AS rank, p_brand AS parent, p_type AS child,
           round(sum(l_quantity),2) AS abund, count(*) AS n_facts
         FROM facts GROUP BY p_brand, p_type
         UNION ALL
         SELECT 'size', p_type, p_sz,
           round(sum(l_quantity),2), count(*)
         FROM facts GROUP BY p_type, p_sz""")))
}
