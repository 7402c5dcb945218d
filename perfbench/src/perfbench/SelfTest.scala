package perfbench

import org.apache.spark.sql.SparkSession

/** Self-tests of the harness's own rules. Exits non-zero on the first
  * failed assertion group; `perfbench/run.py --selftest` runs it.
  *  - the prefix → module rule maps every gate key in the registry, and
  *    every family row is used by some key;
  *  - the tail-percentile rule picks the highest percentile with at
  *    least 10 samples above it;
  *  - a synthetic job whose call site names engine frames lands in the
  *    innermost engine module, through the real listener;
  *  - the same seed gives the same gate order. */
object SelfTest {
  private var failures = 0

  private def check(what: String)(ok: Boolean): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val keys = graft.SparkEntry.queries.keys.toSeq.sorted
    val unmapped = keys.filter(k => Rules.moduleOfGate(k).isEmpty)
    check(s"prefix rule maps all ${keys.size} gate keys " +
      s"(unmapped: ${unmapped.mkString(",")})")(unmapped.isEmpty)
    val unused = Rules.familyModule.keySet -- keys.map(Rules.family)
    check(s"every family row is used (unused: ${unused.mkString(",")})")(
      unused.isEmpty)
    check("temporal joins map to ops.TemporalJoins")(
      Seq("j_asof_click", "j_range_bucket", "j_interval_overlap",
        "j_resample_ffill").forall(
        Rules.moduleOfGate(_).contains("ops.TemporalJoins")) &&
        Rules.moduleOfGate("j_salted_skew").contains("ops.Relational") &&
        Rules.moduleOfGate("j2_star_join").contains("ops.Relational"))
    check("families: s15d→s, tx_bm25→tx, wg_pagerank→wg, cdc_apply→cdc")(
      Seq("s15d_catalog_dump" -> "s", "tx_bm25" -> "tx",
        "wg_pagerank" -> "wg", "cdc_apply" -> "cdc", "j5b_bloom" -> "j")
        .forall { case (k, f) => Rules.family(k) == f })

    val seq = (1 to 100).map(_.toDouble)
    check("100 samples: p90, 10 above")(Rules.tailPercentile(seq) == (90, 90.0))
    check("200 samples: capped at p90")(
      Rules.tailPercentile((1 to 200).map(_.toDouble)) == (90, 180.0))
    check("40 samples: the 11th largest, p75")(
      Rules.tailPercentile(seq.take(40)) == (75, 30.0))
    check("28 samples: the 11th largest, p64")(
      Rules.tailPercentile(seq.take(28)) == (64, 18.0))
    check("15 samples: too few, the median")(
      Rules.tailPercentile(seq.take(15)) == (50, 8.0))
    check("median of an even count averages the middle two")(
      Rules.median(Seq(4.0, 1, 3, 2)) == 2.5)
    check("geomean of 1, 4 and 16 is 4")(
      math.abs(Rules.geomean(Seq(1.0, 4, 16)) - 4.0) < 1e-12)

    check("class → module")(
      Rules.moduleOfClass("graft.ingest.Incremental$").contains("ingest.Incremental") &&
        Rules.moduleOfClass("graft.dedup.Dedup$$anonfun$1").contains("dedup") &&
        Rules.moduleOfClass("graft.text.Html$").contains("text") &&
        Rules.moduleOfClass("perfbench.Main$").isEmpty)
    syntheticJob()

    val a = new scala.util.Random(7L).shuffle(Workloads.warehouseGates.sorted)
    val b = new scala.util.Random(7L).shuffle(Workloads.warehouseGates.sorted)
    val c = new scala.util.Random(8L).shuffle(Workloads.warehouseGates.sorted)
    check("same seed, same gate order; another seed, another order")(
      a == b && a != c)

    println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures FAILED"}")
    if (failures > 0) sys.exit(1)
  }

  /** Run a real job under a synthetic call site and read its module back
    * through the tracer. */
  private def syntheticJob(): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .appName("perfbench-selftest").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer
    tracer.attach(spark)
    val sc = spark.sparkContext
    val sites = Seq(
      Seq("org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
        "graft.ingest.Incremental$.newRowsBloom(Incremental.scala:105)",
        "graft.ops.ScaleOps$.j5bBloomIncremental(ScaleOps.scala:77)",
        "perfbench.Queries.run(Workloads.scala:10)") -> "ingest.Incremental",
      Seq("graft.io.Writers$.writePartitioned(Writers.scala:130)",
        "graft.ops.Abundance$.gTpm2Table(Abundance.scala:97)") -> "io.Writers",
      Seq("graft.dedup.Dedup$.ngramJaccardPairs(Dedup.scala:10)",
        "graft.dedup.Dedup$$anonfun$1.apply(Dedup.scala:20)") -> "dedup",
      Seq("perfbench.Main$.main(Main.scala:1)") -> "other")
    sites.foreach { case (frames, _) =>
      sc.setLocalProperty("callSite.short", "count at Synthetic.scala:1")
      sc.setLocalProperty("callSite.long", frames.mkString("\n"))
      sc.parallelize(1 to 4, 2).count()
    }
    sc.setLocalProperty("callSite.short", null)
    sc.setLocalProperty("callSite.long", null)
    Tracer.drain(sc)
    val got = tracer.jobs.toSeq.map(j => Rules.moduleOfCallSite(j.callSite))
    check(s"synthetic jobs map by call site (got ${got.mkString(",")})")(
      got == sites.map(_._2))
    tracer.detach(spark)
    spark.stop()
  }
}
