package graft.tax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** T4: lineage-based greedy set cover (reference
  * `AnnotateContigs.pl:541-554`): sort candidate lineages by
  * (uniq desc, score desc, completeness desc), accept a lineage if it
  * still covers ≥1 unaccounted gene, remove covered genes, repeat.
  *
  * The greedy loop is inherently sequential, but its input is the
  * per-lineage AGGREGATE table (thousands of rows, not the raw
  * gene×hit facts) — so the distributed plan computes the aggregates
  * and the driver runs the loop, then the accepted set broadcasts back
  * as a filter. This is the documented deviation from pure-DataFrame
  * (SURVEY §2.8 T4); it is bounded by lineage count, never by read
  * count.
  *
  * Determinism (SURVEY §7.4 risk 5): the reference's 3-key sort leaves
  * ties unordered; we add the lineage string as the final tie-break.
  */
object SetCover {

  /** One candidate lineage with its aggregate stats and covered set. */
  case class Candidate(lineage: String, uniq: Long, score: Double,
      completeness: Double, genes: Seq[String])

  /** Driver-side greedy loop. Input rows are per-lineage aggregates;
    * returns accepted lineages in acceptance order. */
  def greedy(cands: Seq[Candidate]): Seq[String] = {
    val sorted = cands.sortBy(c =>
      (-c.uniq, -c.score, -c.completeness, c.lineage))
    val covered = scala.collection.mutable.HashSet.empty[String]
    val accepted = scala.collection.mutable.ArrayBuffer.empty[String]
    sorted.foreach { c =>
      if (c.genes.exists(g => !covered.contains(g))) {
        accepted += c.lineage
        covered ++= c.genes
      }
    }
    accepted.toSeq
  }

  /** Distributed wrapper: aggregate gene-hit facts per lineage (the A6
    * stats), collect THE AGGREGATES, run the greedy loop, and return
    * facts filtered to accepted lineages via a broadcast isin. Expects
    * columns (gene, lineage, score, uniq: boolean).
    *
    * The score sum aggregates in DECIMAL then casts to double: the
    * greedy sort compares scores for ties, and a partition-order-
    * dependent double sum would make the acceptance order
    * nondeterministic across runs/engines (the fitCentroids mean
    * discipline). */
  def screenLineages(facts: DataFrame): (Seq[String], DataFrame) = {
    val agg = facts.groupBy("lineage").agg(
      sum(when(col("uniq"), 1L).otherwise(0L)).as("uniq"),
      sum(col("score").cast("decimal(28,6)")).cast("double").as("score"),
      countDistinct("gene").as("n_genes"),
      sort_array(collect_set(col("gene"))).as("genes"))
    val cands = agg.collect().map { r =>
      Candidate(r.getAs[String]("lineage"), r.getAs[Long]("uniq"),
        r.getAs[Double]("score"),
        r.getAs[Long]("n_genes").toDouble,
        r.getAs[scala.collection.Seq[String]]("genes").toSeq)
    }.toSeq
    val accepted = greedy(cands)
    val kept = facts.filter(
      col("lineage").isin(accepted.map(x => x: Any): _*))
    (accepted, kept)
  }

  // ---- gate query ----

  /** The T4 gate's fact table: parts as "gene hits" — gene = the size
    * class, lineage = brand;type, score = retail price, uniq = every
    * third part. Cardinalities (≈ few-k lineages over a ≤50-gene
    * universe) keep the oracle's sequential replay cheap while the
    * greedy loop still makes real skip/accept decisions. */
  private def t4Facts(s: SparkSession, d: String): DataFrame =
    graft.io.Inputs.t(s, d, "part").select(
      concat(lit("g"), col("p_size")).as("gene"),
      concat_ws(";", col("p_brand"), col("p_type")).as("lineage"),
      col("p_retailprice").as("score"),
      (col("p_partkey") % 3 === 0).as("uniq"))

  /** T4 driver gate: the accepted-lineage table in acceptance order.
    * The greedy loop runs driver-side (SURVEY §2.8's sanctioned
    * deviation) but is fully deterministic — sort key
    * (uniq desc, score desc, n_genes desc, lineage) with an exact
    * decimal score — so the DuckDB oracle replays the SAME single-pass
    * scan over the identically-sorted aggregate as a recursive CTE and
    * must reproduce every accept/skip decision and the order. */
  private def t4SetCover(s: SparkSession, d: String): DataFrame = {
    val (accepted, _) = screenLineages(t4Facts(s, d))
    import s.implicits._
    accepted.zipWithIndex
      .map { case (l, i) => (i + 1, l) }
      .toDF("ord", "lineage")
  }

  val gates: Seq[Gate] = Seq(
    Gate("t4_set_cover", t4SetCover _, Some(
      """WITH RECURSIVE agg AS (
           SELECT lineage,
             sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS uniq,
             CAST(sum(CAST(score AS DECIMAL(28,6))) AS DOUBLE) AS score,
             count(DISTINCT gene) AS n_genes,
             list_sort(list_distinct(list(gene))) AS genes
           FROM (
             SELECT 'g' || CAST(p_size AS VARCHAR) AS gene,
               p_brand || ';' || p_type AS lineage,
               p_retailprice AS score,
               p_partkey % 3 = 0 AS uniq
             FROM part)
           GROUP BY lineage),
         ranked AS (
           SELECT *, row_number() OVER (ORDER BY uniq DESC, score DESC,
             n_genes DESC, lineage ASC) AS rn
           FROM agg),
         step AS (
           SELECT 0 AS rn, CAST([] AS VARCHAR[]) AS covered,
             CAST(NULL AS VARCHAR) AS accepted, 0 AS ord
           UNION ALL
           SELECT r.rn,
             CASE WHEN len(list_filter(r.genes,
                 g -> NOT list_contains(s.covered, g))) > 0
               THEN list_sort(list_distinct(
                 list_concat(s.covered, r.genes)))
               ELSE s.covered END,
             CASE WHEN len(list_filter(r.genes,
                 g -> NOT list_contains(s.covered, g))) > 0
               THEN r.lineage ELSE CAST(NULL AS VARCHAR) END,
             s.ord + CASE WHEN len(list_filter(r.genes,
                 g -> NOT list_contains(s.covered, g))) > 0
               THEN 1 ELSE 0 END
           FROM step s JOIN ranked r ON r.rn = s.rn + 1)
         SELECT CAST(ord AS INT) AS ord, accepted AS lineage
         FROM step WHERE accepted IS NOT NULL""")))
}
