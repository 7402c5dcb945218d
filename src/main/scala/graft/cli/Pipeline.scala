package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end ETL driver (SURVEY §7.1 `cli/Main`): the Snakemake-DAG
  * analog as plain Scala control flow calling engine stages.
  *
  * Stages mirror the reference's nightly cycle:
  *  1. incremental ingest (anti-join; only unseen samples land),
  *  2. warehouse build (bucketed facts, broadcast dims as views),
  *  3. derived tables (TPM via window normalization → partitioned
  *     parquet, the `compute("tpm2")` analog),
  *  4. views (the bin_summary-style star join),
  *  5. invariant assertions (the reference's embedded checks as a
  *     gate, not a comment).
  *
  * Usage: graft.Pipeline <sfDir> <warehouseDir>
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, whDir) = args.take(2)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$whDir/catalog")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, whDir)
    spark.stop()
  }

  /** The publish-gate expectation suite: row-local only, so the gate
    * costs ONE projection on the scan it already pays — no shuffle.
    * Holds on clean driver data; a dirty batch's violating rows land
    * in `$whDir/quarantine` instead of the warehouse (PipelineSpec
    * feeds one and asserts the hold-back). */
  private val publishRules = Seq(
    graft.ops.Expectations.NotNull("p1_orderkey", "l_orderkey"),
    graft.ops.Expectations.InRange("p2_quantity", "l_quantity",
      1.0, 50.0),
    graft.ops.Expectations.NotNull("p3_sample", "sample"))

  /** `maxJoinFanout`: the star-join pre-flight veto threshold — the
    * run aborts if the exact predicted output/input row ratio of the
    * facts × dim join exceeds it (an exploding key: bad dim dedup, a
    * hot sentinel value). At 100 TB the per-key-count pre-flight is
    * the difference between a one-line veto and a dead shuffle. */
  def run(spark: SparkSession, sfDir: String, whDir: String,
      maxJoinFanout: Double = 8.0,
      maxMixDrift: Double = 0.5): Unit = {
    // 0. publish gate: the incoming batch is split on the expectation
    //    suite BEFORE anything lands — violating rows are quarantined
    //    (with the rules they broke) for triage, the clean side flows
    //    on. The reference's embedded checks abort the whole load; the
    //    quarantine form keeps the good rows moving, which is what a
    //    nightly at scale actually wants.
    val rawFacts = graft.io.Inputs.t(spark, sfDir, "lineitem")
      .withColumn("sample", col("l_suppkey"))
    val marked = graft.ops.Expectations.mark(rawFacts, publishRules)
    graft.io.Writers.overwriteStaged(
      marked.filter(col("violated_rules") =!= ""),
      s"$whDir/quarantine")
    val nQuar = spark.read.parquet(s"$whDir/quarantine").count()
    println(s"[pipeline] publish gate: $nQuar rows quarantined")

    // 1. incremental ingest: lineitem keyed by l_suppkey ("sample")
    val facts = marked.filter(col("violated_rules") === "")
      .drop("violated_rules")
    // samples that are genuinely new THIS cycle — captured before the
    // append makes them "loaded" (drives the partition-scoped tpm2
    // refresh and the compaction below); sample counts are bounded
    // (SURVEY §1.1), so the staged set is control-plane sized. Staged,
    // not persisted: the append below writes to the path this set
    // reads, which makes Spark rebuild a cached frame over it as
    // "rows not yet loaded", i.e. empty
    val newFacts = graft.ingest.Incremental.newRows(facts,
      graft.ingest.Incremental.loadedKeys(
        spark, s"$whDir/lineitem_inc", "sample"), "sample")
    val freshSamples = graft.io.Scratch.stage(
      newFacts.select("sample").distinct(), "fresh_samples")
    val nFreshSamples = freshSamples.count()

    // 1x. mix-drift monitor (publish-gate companion, BEFORE anything
    //     lands): total-variation drift of the incoming fresh rows'
    //     l_returnflag mix against the already-published warehouse
    //     (`Checks.distributionDrift` — exact numerators, one scan
    //     per side). Past `maxMixDrift` the cycle is vetoed — a batch
    //     whose category mix jumps is the classic silent upstream
    //     breakage (wrong file, truncated export, schema drift) and
    //     cheaper to stop here than to unpublish.
    // Hadoop-FS existence check (not java.io.File): a local-only
    // check would read any non-local warehouse as "first load" and
    // silently disable this veto exactly where it matters
    if (nFreshSamples > 0 && graft.ingest.Incremental
          .pathExists(spark, s"$whDir/lineitem_inc")) {
      val sided = spark.read.parquet(s"$whDir/lineitem_inc")
        .select(col("l_returnflag"), lit(0).as("side"))
        .unionByName(newFacts
          .select(col("l_returnflag"), lit(1).as("side")))
      val tvRow = graft.ops.Checks
        .distributionDrift(sided, "l_returnflag", "side")
        .agg(sum("tv_contrib")).head
      // SUM over zero rows (or an all-NULL side: every tv_contrib is
      // NULL when one side's total is 0) is NULL — that means one
      // side was empty, which is "nothing to compare", not drift
      if (tvRow.isNullAt(0)) {
        println("[pipeline] mix drift: one side empty, skipped")
      } else {
        val tv = tvRow.getDouble(0)
        println(f"[pipeline] mix drift (l_returnflag, published vs " +
          f"fresh): TV=$tv%.6f")
        require(tv <= maxMixDrift,
          f"mix-drift veto: incoming batch shifts the l_returnflag mix " +
            f"by TV=$tv%.4f > $maxMixDrift%.4f — inspect the batch " +
            "(Checks.distributionDrift per-category rows) before " +
            "publishing")
      }
    } else println("[pipeline] mix drift: first load or empty " +
      "batch, skipped")
    val appended = graft.ingest.Incremental.appendIncremental(
      spark, facts, s"$whDir/lineitem_inc", "sample")
    println(s"[pipeline] ingest: $appended new rows " +
      s"($nFreshSamples new samples)")

    // 1a. maintenance: compact the incrementally-appended fact dir —
    //     each append adds another file set; without this the
    //     small-file count grows without bound. Scoped to the sample
    //     partitions touched THIS cycle (the only ones that can have
    //     gained files) and skipped entirely on a no-op ingest, so the
    //     maintenance cost tracks the delta, not the table. MUST run
    //     before any downstream stage resolves the directory's file
    //     listing (a DataFrame's file index snapshots at read time, so
    //     compacting under an already-built plan would break it).
    if (appended > 0) {
      val nDirs = graft.warehouse.Warehouse.compactPartitions(
        spark, s"$whDir/lineitem_inc", Seq("sample"),
        onlyPartitions = Some(freshSamples))
      println(s"[pipeline] compact: rewrote $nDirs sample partitions")
    } else println("[pipeline] compact: nothing appended, skipped")

    // 1b. regenerate the dispatch-assignments table, preserving manual
    //     edits and SKIPs (Overrides semantics). The machine proposal
    //     is the dispatch flow (dispatch.py:159-193): guess a target
    //     per sample (dominant returnflag = the detected model), flag
    //     low-coverage samples as errors -> UNKNOWN, then apply the
    //     single-target-mode >=80% override before merging.
    val assignPath = s"$whDir/assignments"
    import org.apache.spark.sql.expressions.Window
    val perMode = facts.groupBy("sample", "l_returnflag")
      .agg(count(lit(1)).as("n"))
    val wTop = Window.partitionBy("sample")
      .orderBy(col("n").desc, col("l_returnflag").asc)
    val guessed = perMode
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("sample").cast("string").as("sample"),
        col("l_returnflag").as("model_name"),
        lit(null: String).as("fwd_primer"),
        lit(null: String).as("rev_primer"))
    // detection "errors": samples with too few rows to call a target
    val errors = facts.groupBy(col("sample").cast("string").as("sample"))
      .agg(count(lit(1)).as("n")).filter(col("n") < 3)
    val assigned = graft.ingest.Overrides.singleModeOverride(
      graft.ingest.Overrides.assignTargets(guessed, errors)
        .withColumn("override", lit("")))
    val proposed = graft.ingest.Overrides.effectiveTarget(assigned)
      .select(col("sample").as("key"),
        col("effective_target").as("assignment"))
    // Hadoop-FS existence check — a java.io.File check would treat any
    // non-local warehouse as absent and destroy manual edits on rerun
    val existing =
      if (graft.ingest.Incremental.pathExists(spark, assignPath))
        spark.read.parquet(assignPath)
      else proposed.limit(0)
    val merged = graft.ingest.Overrides.mergeAssignments(existing, proposed)
    // staged write + rename: breaks the read-overwrite cycle without
    // collecting the table through the driver
    graft.io.Writers.overwriteStaged(merged, assignPath)
    val back = spark.read.parquet(assignPath)
    val nEff = graft.ingest.Overrides.effective(back).count()
    println(s"[pipeline] assignments: ${back.count()} total, " +
      s"$nEff effective")

    // 2. dims as views (broadcast-sized)
    Seq("part", "supplier", "customer", "nation", "region")
      .foreach { n =>
        graft.io.Writers.createView(
          graft.io.Inputs.t(spark, sfDir, n), s"dim_$n")
      }

    // 3. derived table: TPM → partitioned parquet (the tpm2 analog).
    //    TPM normalizes PER SAMPLE, so a per-sample partition refresh
    //    is semantically exact: on rerun only the samples that
    //    actually arrived this cycle are recomputed and rewritten;
    //    untouched sample partitions keep their files. First run (or
    //    nothing new) → full write / no-op respectively.
    val tpmPath = s"$whDir/tpm2"
    val tpm = graft.ops.Abundance.tpm(spark, sfDir)
    if (!graft.ingest.Incremental.pathExists(spark, tpmPath)) {
      graft.io.Writers.writePartitioned(tpm, tpmPath, Seq("sample"))
      println("[pipeline] tpm2: full build")
    } else if (nFreshSamples > 0) {
      val delta = tpm.join(broadcast(freshSamples), Seq("sample"),
        "left_semi")
      graft.io.Writers.refreshPartitions(delta, tpmPath, Seq("sample"))
      println(s"[pipeline] tpm2: refreshed $nFreshSamples sample " +
        "partitions")
    } else println("[pipeline] tpm2: no new samples, artifact untouched")

    // 4a. shuffle pre-flight (the f_skew_report / f_join_cardinality
    //     diagnostics as a pipeline stage, quarantine-precedent shape):
    //     exact join cardinality + key skew of the star join, computed
    //     at per-key-count cost BEFORE the facts shuffle. Explosion
    //     (fanout beyond `maxJoinFanout`) vetoes the run; heavy skew
    //     is reported so the operator can route the join through
    //     `Skew.saltedJoin` / AQE skew handling.
    val factsInc = spark.read.parquet(s"$whDir/lineitem_inc")
    val pf = graft.ops.Skew.joinPreflight(factsInc, "l_partkey",
      spark.table("dim_part"), "p_partkey")
    println(f"[pipeline] preflight star join: inner=${pf.innerRows} " +
      f"fanout=${pf.fanout}%.3f max_pair=${pf.maxPairRows} " +
      f"gini=${pf.leftGini}%.4f max_share=${pf.leftMaxShare}%.6f")
    require(pf.fanout <= maxJoinFanout,
      f"join pre-flight veto: star join would emit ${pf.innerRows} " +
        f"rows from ${pf.nLeftRows} facts (fanout ${pf.fanout}%.2f > " +
        f"$maxJoinFanout%.2f, worst key ${pf.maxPairRows} rows) — " +
        "dedup the dim key or route through Skew.saltedJoin")
    if (pf.leftMaxShare > 0.2)
      println(f"[pipeline] preflight WARNING: hot key holds " +
        f"${pf.leftMaxShare * 100}%.1f%% of fact rows " +
        f"(gini ${pf.leftGini}%.4f) — consider Skew.saltedJoin")

    // 4. star view over the ingested facts
    val star = factsInc
      .join(broadcast(spark.table("dim_part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        2).as("revenue"))
    graft.io.Writers.createView(star, "brand_revenue")

    // 5. invariants (reference: abort on violation,
    //    tax_abund_from_contigs.R:90-92 style)
    val badTpm = spark.read.parquet(s"$whDir/tpm2")
      .groupBy("sample").agg(sum("tpm").as("s"))
      .filter(abs(col("s") - 1e6) > 1.0).count()
    require(badTpm == 0, s"TPM invariant violated for $badTpm samples")
    val rows = spark.table("brand_revenue").count()
    require(rows > 0, "star view is empty")
    println(s"[pipeline] ok: tpm2 + brand_revenue ($rows brands)")
  }
}
