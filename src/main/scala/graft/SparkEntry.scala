package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one operator from the SURVEY §2 inventory
  * (key prefix = the §2 id: a=aggregation, j=join, w=window, p=pivot,
  * t=taxonomy, f=scalar-function family, g=GLAMR pipeline, d=dedup,
  * x=similarity, tx=text-analysis, s=source reader, st=streaming).
  * `oracleSql` holds the DuckDB-equivalent SQL for every
  * SQL-expressible entry; the rest get the driver's rows-only check and
  * a golden ScalaTest spec instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The TPM pipeline (reference `code/postgres_scripts/tpm.R:18-35`) —
    * ingest, 2-hop broadcast join, per-sample window normalization. */
  def entry(spark: SparkSession): DataFrame =
    ops.Abundance.tpm(spark, "/root/testdata/sf0.001")

  /** Every gate, module by module: the single source of truth that
    * `queries` and `oracleSql` below, the diagnostic main and
    * SparkEntrySpec's distinct-name guard read. A module's gates are
    * served only if it is listed here. */
  val gates: Seq[Gate] =
    Seq(
      ops.Relational.gates, ops.ScaleOps.gates,
      ops.TemporalJoins.gates, ops.Windows.gates,
      ops.Pivots.gates, ops.Abundance.gates,
      ops.Amplicon.gates, ops.Bins.gates,
      ops.Checks.gates, ops.Cdc.gates,
      ops.Expectations.gates, ops.WebGraph.gates,
      ops.Ecology.gates, ops.Skew.gates,
      ops.Glamr.gates, ops.Primers.gates,
      tax.Lineage.gates, tax.SetCover.gates,
      tax.TaxAbund.gates, text.TextOps.gates, text.Html.gates,
      dedup.Dedup.gates, sim.Similarity.gates,
      ingest.Overrides.gates, io.SourceQueries.gates,
      io.WarehouseIngest.gates, io.CatalogIngest.gates,
      streaming.Streams.gates, multimodal.Multimodal.gates).flatten

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    gates.flatMap(g => g.oracle.map(g.name -> _)).toMap
}

/** One gate: its key, the query it runs on an sf dir, and the
  * DuckDB SQL that re-derives its result (None when the operator is not
  * SQL-expressible and a golden spec checks it instead). Declared in the
  * module that implements it, so a job's call site names that module. */
final case class Gate(name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Gate {
  /** The oracle of gate `name` among `gates`: for a gate whose result
    * must equal another gate's bit for bit. */
  def oracleOf(gates: Seq[Gate], name: String): Option[String] =
    gates.find(_.name == name).flatMap(_.oracle)
}
