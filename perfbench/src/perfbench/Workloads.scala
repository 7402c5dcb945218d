package perfbench

import scala.collection.mutable
import scala.util.Random

object Workloads {

  /** The GLAMR warehouse and ingestion surface: a gate from each of the
    * a/j/w/p/t/g/cdc/k/s families; the a family's is the exact
    * percentiles. `g_tpm2_table` (the TPM table written partitioned
    * through `io.Writers`) and `j5b_bloom_incremental` (the
    * `ingest.Incremental` load filter) keep the write path measured,
    * `j_interval_overlap` keeps `ops.TemporalJoins`.
    * `s15d_catalog_dump` also feeds the oracle of `k10_compaction_plan`. */
  val warehouseGates: Seq[String] = Seq(
    "a17_exact_percentiles", "j2_star_join", "w2_top1_per_group",
    "p1_pivot_wide", "t2_lca", "g_tpm2_table", "k10_compaction_plan",
    "s15d_catalog_dump", "j5b_bloom_incremental", "j_interval_overlap",
    "cdc_snapshot_diff")

  /** The training-data surface: the blocking, LSH and tokenizer gates
    * the ROADMAP names (`d_blocking_methods`, `d_minhash_lsh_pairs`,
    * `tx_bpe_tokens`) plus a light text, a similarity and a streaming
    * gate. */
  val curationGates: Seq[String] = Seq(
    "d_blocking_methods", "d_minhash_lsh_pairs", "tx_bpe_tokens",
    "tx_quality", "x_embed_norm", "st_sessionize")

  /** Modules the workloads report by gate family, plus "other" (the
    * harness's own jobs). Both workloads report the same list, so their
    * per-layer records have the same names. */
  val gateModules: Seq[String] =
    (warehouseGates ++ curationGates).flatMap(Rules.moduleOfGate).distinct
      .sorted :+ "other"

  /** Engine objects reported by call site, across gate families: the
    * jobs the write path's own code launches, whichever gate calls it. */
  val siteModules: Seq[String] = Seq("io.Writers", "ingest.Incremental")

  /** Warm passes are as many as a run's time budget allows: the JIT is
    * still compiling through the first ones, so their median is what
    * keeps `pass_s` steady. */
  val byName: Map[String, Queries] = Seq(
    new Queries("warehouse_queries", warehouseGates, minWarm = 3),
    new Queries("curation_queries", curationGates, minWarm = 3))
    .map(w => w.name -> w).toMap
}

/** Gate loop: the workload's gates in one seed-shuffled order, a cold
  * pass whose consumer writes each result for the oracle check, then
  * warm passes whose consumer is the result checksum, compared with the
  * written result's. */
final class Queries(val name: String, gates: Seq[String], minWarm: Int) {

  def run(h: Harness): WorkloadOut = {
    val spark = h.spark
    val registry = graft.SparkEntry.queries
    val missing = gates.filterNot(registry.contains)
    require(missing.isEmpty, s"$name names unknown gates: $missing")
    val order = new Random(h.args.seed).shuffle(gates.sorted)
    val resultDir = s"${h.args.work}/results"
    val oracle = graft.SparkEntry.oracleSql
    val OutDir = """__OUTDIR__/([A-Za-z0-9_]+)/""".r
    val oracleInputs = gates.flatMap(g => oracle.get(g).toSeq
      .flatMap(q => OutDir.findAllMatchIn(q).map(_.group(1))))
      .distinct.filterNot(gates.contains)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${h.args.work}/oracle_sql.json"),
      Json.obj(gates.sorted.filter(oracle.contains)
        .map(g => g -> Json.str(oracle(g)))))
    var attempted = 0
    val failures = mutable.LinkedHashMap[String, String]()
    val refs = mutable.Map[String, (Long, BigDecimal)]()
    val mismatches = mutable.ArrayBuffer[String]()

    def step(g: String)(consume: org.apache.spark.sql.DataFrame => Unit)
        : Option[(String, Double)] = {
      attempted += 1
      spark.sparkContext.setJobDescription(s"gate:$g")
      try {
        val (_, sec) = h.span("step", g)(consume(registry(g)(spark, h.args.data)))
        Some(g -> sec)
      } catch {
        case e: Throwable =>
          failures.getOrElseUpdate(g, s"${e.getClass.getName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(300))
          System.err.println(s"[perfbench] FAILED $g: ${failures(g)}")
          None
      } finally spark.sparkContext.setJobDescription(null)
    }

    val passes = h.loop(minWarm) { (i, traced) =>
      val p = h.pass(i, cold = i == 0, traced) {
        if (i == 0) order.flatMap(g => step(g)(df =>
          df.write.mode("overwrite").parquet(s"$resultDir/$g")))
        else order.flatMap { g =>
          var got: (Long, BigDecimal) = null
          val r = step(g)(df => got = Main.checksum(df))
          if (r.nonEmpty && refs.get(g).exists(_ != got))
            mismatches += s"$g pass $i: $got != ${refs(g)}"
          r
        }
      }
        // outside the timed pass: the reference each warm pass must match,
      // and the results other gates' oracles read
      if (i == 0) {
        order.filterNot(failures.contains).foreach { g =>
          refs(g) = Main.checksum(spark.read.parquet(s"$resultDir/$g"))
        }
        oracleInputs.foreach { d =>
          try registry(d)(spark, h.args.data).write.mode("overwrite")
            .parquet(s"$resultDir/$d")
          catch { case e: Throwable => failures(d) = e.getClass.getName }
        }
      }
      p
    }
    val warm = passes.filterNot(_.cold).filterNot(_.traced)
    val samples = warm.flatMap(_.steps.map(_._2))
    val (tailP, tailV) =
      if (samples.isEmpty) (0, 0.0) else Rules.tailPercentile(samples)
    val gateMedians = order.flatMap { g =>
      val xs = warm.flatMap(_.steps.filter(_._1 == g).map(_._2))
      if (xs.isEmpty) None else Some(g -> Rules.median(xs))
    }
    WorkloadOut(passes, attempted, failures.size,
      Seq(("gates_ran", failures.isEmpty,
          failures.map { case (g, e) => s"$g: $e" }.mkString("; ")),
        ("warm_checksums_match_written_results", mismatches.isEmpty,
          mismatches.take(5).mkString("; "))),
      if (gateMedians.isEmpty) Nil
      else Seq(("query_geomean_s", Rules.geomean(gateMedians.map(_._2)), "s")),
      Seq("query_p50_s" -> Json.num(if (samples.isEmpty) 0.0 else Rules.median(samples)),
        "query_tail" -> Json.obj(Seq("percentile" -> tailP.toString,
          "s" -> Json.num(tailV), "samples" -> samples.size.toString)),
        "gate_order" -> Json.arr(order.map(Json.str)),
        "gate_median_s" -> Json.obj(gateMedians.map { case (g, m) =>
          g -> Json.num(m) }),
        "reference_checksums" -> Json.obj(order.filter(refs.contains).map {
          g => g -> Json.arr(Seq(refs(g)._1.toString,
            Json.str(refs(g)._2.toString)))
        })))
  }
}
