package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftSparkBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution,
  SQLExecution}

/** Per-gate diagnostics: writes `<outDir>/<gate>.txt` for each gate
  * with three parts —
  *  1. the Spark job count of a WARM run (one untimed warmup run first,
  *     so plans and codegen compile outside the counted run); every
  *     convergence or materialization action is at least one job, so
  *     this is the loop-barrier evidence. Next to it, the classes the
  *     warm run compiled (Spark's `CodegenMetrics`): the ones the
  *     generated-class cache did not hold;
  *  2. the AQE plan after that run, whose formatted explain shows both
  *     the Final Plan (runtime join rewrites, coalesced shuffles) and
  *     the Initial Plan;
  *  3. the non-adaptive plan: the formatted explain of an
  *     AdaptiveSparkPlan never prints `[codegen id : n]`, so
  *     WholeStageCodegen-span evidence needs a plan planned with AQE
  *     off (codegen collapse is orthogonal to AQE).
  * Usage: graft.Profile <sfDir> <outDir> [gates,csv] — every registry
  * gate when no list is given. The last line printed is the classes
  * compiled over the whole run: the working set of the generated-class
  * cache while it evicts nothing. */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.Profile <sfDir> <outDir> [gates,csv]")
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val names = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.gates.map(_.name))
    val queries = SparkEntry.queries
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })

    // executes the gate's OWN QueryExecution (a write would plan a new
    // one), so its AdaptiveSparkPlan is the final plan afterwards
    def run(gate: String): QueryExecution = {
      val qe = queries(gate)(spark, sfDir).queryExecution
      SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
      qe
    }
    def jobsSoFar(): Int = {
      GraftSparkBridge.drainListenerBus(spark.sparkContext)
      jobs.get()
    }
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiles0 = compiles()

    Files.createDirectories(outDir)
    names.foreach { g =>
      run(g)
      val before = jobsSoFar()
      val compiledBefore = compiles()
      val qe = run(g)
      val n = jobsSoFar() - before
      val compiled = compiles() - compiledBefore
      val aqe = qe.explainString(FormattedMode)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val noAqe =
        try queries(g)(spark, sfDir).queryExecution
          .explainString(FormattedMode)
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      Files.writeString(outDir.resolve(s"$g.txt"),
        s"# $g on $sfDir\n\n== Jobs (warm run) ==\n$n\n\n" +
          s"== Codegen compiles (warm run) ==\n$compiled\n\n" +
          s"== AQE plan after the warm run ==\n$aqe\n" +
          s"== Non-adaptive plan ==\n$noAqe")
      println(s"jobs $g $n compiles $compiled")
    }
    println(s"compiles total ${compiles() - compiles0}")
    spark.stop()
  }
}
