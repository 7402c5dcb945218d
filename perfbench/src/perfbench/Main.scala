package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The engine benchmark's JVM side. One client thread drives one
  * `local[nproc]` session through the gate functions of
  * `SparkEntry.queries` in closed loops, and writes one JSON record:
  * end-to-end metrics for an untraced run, per-layer metrics for a
  * traced one.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE [--spans FILE]
  * `perfbench/run.py` generates the inputs and calls this. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String,
      spans: String)

  def parse(a: Array[String]): Args = {
    require(a.length % 2 == 0, s"expected --key value pairs: ${a.mkString(" ")}")
    val m = a.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"),
      m.getOrElse("spans", ""))
  }

  /** Set-ups per run; `setup_s` is their median. The first also pays
    * JVM class loading, so the median is a warm set-up. */
  val Setups = 4

  /** Same policy as `graft.Bench`: above this 1-minute load the run
    * warns, and with SPARK_GRAFT_REQUIRE_IDLE set it refuses to run. */
  val IdleLoadThreshold = 1.0

  def loadAvg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** The box's CPU time counters (the `cpu` line of /proc/stat, in
    * ticks); on a VM the eighth is the time the hypervisor gave this
    * box's CPUs to someone else. */
  def cpuTicks(): Seq[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").toSeq.drop(1).map(_.toLong)
    finally src.close()
  }

  /** Share of the box's CPU time stolen by the hypervisor since `from`. */
  def stealShare(from: Seq[Long]): Double = {
    val d = cpuTicks().zip(from).map { case (a, b) => a - b }
    if (d.size < 8) 0.0 else d(7).toDouble / math.max(1L, d.take(8).sum)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workloads.byName.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; known: " +
        Workloads.byName.keys.toSeq.sorted.mkString(", ")))
    val loadStart = loadAvg()
    val ticksStart = cpuTicks()
    if (loadStart > IdleLoadThreshold) {
      System.err.println(f"[perfbench] WARNING: load_avg_start=$loadStart%.2f" +
        f" > $IdleLoadThreshold%.1f: the box is busy and timings are inflated")
      if (sys.env.contains("SPARK_GRAFT_REQUIRE_IDLE")) {
        System.err.println("[perfbench] refusing to measure: " +
          "SPARK_GRAFT_REQUIRE_IDLE is set and the box is not idle")
        sys.exit(3)
      }
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val setupTimes = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val s = session(cores, args.work)
      footerReads(s, args.data)
      val sec = (System.nanoTime() - t0) / 1e9
      if (i < Setups) s.stop()
      sec
    }
    val spark = SparkSession.active
    spark.sparkContext.setLogLevel("WARN")
    val h = new Harness(spark, args, cores)
    val out = workload.run(h)
    h.finish(workload.name)
    val record = h.record(workload, out, setupTimes, loadStart, ticksStart)
    Files.writeString(Paths.get(args.out), record)
    if (args.spans.nonEmpty) h.writeSpans(args.spans)
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "30s")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()

  /** Footer reads: one metadata-only count per input table. */
  def footerReads(spark: SparkSession, dir: String): Unit =
    graft.Tables.names.filter(n => new File(s"$dir/$n.parquet").exists)
      .foreach(n => graft.Tables.t(spark, dir, n).count())

  /** Order-independent checksum: row count plus the sum of a 64-bit hash
    * over all columns. Hashing every column keeps every computed column
    * in the plan, as a noop write would. */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name)) // maps are not hashable
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** One pass (or the cold pass) as the harness saw it. */
final case class PassRec(index: Int, cold: Boolean, traced: Boolean,
    spanId: String, seconds: Double, steps: Seq[(String, Double)],
    compiles: Long, compileNs: Long, filesDiscovered: Long,
    listingJobs: Long)

/** What a workload hands back: passes, failures, check outcomes, its
  * own end-to-end metrics (besides setup and pass times) and record
  * detail. */
final case class WorkloadOut(passes: Seq[PassRec], attempted: Int,
    failed: Int, checks: Seq[(String, Boolean, String)],
    e2e: Seq[(String, Double, String)], detail: Seq[(String, String)])

/** Harness state shared by the workloads: spans, tracing, counters. */
final class Harness(val spark: SparkSession, val args: Main.Args,
    val cores: Int) {
  import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  val tracer = new Tracer
  private var attached = false
  val spans = mutable.ArrayBuffer[Span]()
  /** "h0" is the workload span; everything else nests under it. */
  private var stack: List[String] = List("h0")
  private var nextId = 0
  val startMs: Long = System.currentTimeMillis()
  setSpanProp()

  /** Close the workload span once the workload has run. */
  def finish(name: String): Unit =
    spans += Span("h0", "", "workload", name, startMs,
      System.currentTimeMillis())

  private def openSpan(): String = {
    nextId += 1
    val id = s"h$nextId"
    stack = id :: stack
    setSpanProp()
    id
  }

  private def closeSpan(id: String, kind: String, name: String,
      parent: String, start: Long, end: Long): Unit = {
    stack = stack.tail
    setSpanProp()
    spans += Span(id, parent, kind, name, start, end)
  }

  private def setSpanProp(): Unit = {
    val cur = stack.headOption.getOrElse("")
    spark.sparkContext.setLocalProperty(Tracer.SpanProp, cur)
    tracer.currentSpan = cur
  }

  /** Run `body` inside a span; returns its result and wall seconds.
    * Steps drain the listener bus after the clock stops, so every event
    * of the step is filed under it. */
  def span[T](kind: String, name: String)(body: => T): (T, Double) = {
    val parent = stack.headOption.getOrElse("")
    val id = openSpan()
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var end = start
    try {
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      end = System.currentTimeMillis()
      System.err.println(f"[perfbench] $kind%-5s $name%-26s $sec%7.3fs")
      (r, sec)
    } finally {
      if (end == start) end = System.currentTimeMillis()
      if (attached) Tracer.drain(spark.sparkContext)
      closeSpan(id, kind, name, parent, start, end)
    }
  }

  def setTracing(on: Boolean): Unit =
    if (on != attached) {
      if (on) tracer.attach(spark) else tracer.detach(spark)
      attached = on
    }

  /** One timed pass: `body` runs the steps and returns their timings. */
  def pass(index: Int, cold: Boolean, traced: Boolean)(
      body: => Seq[(String, Double)]): PassRec = {
    setTracing(traced)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n0 = CodeGenerator.compileTime
    val f0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val l0 = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    val idBefore = nextId + 1
    val (steps, sec) =
      span("pass", if (cold) "cold" else s"warm$index")(body)
    PassRec(index, cold, traced, s"h$idBefore", sec, steps,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
      CodeGenerator.compileTime - n0,
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - f0,
      HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount - l0)
  }

  /** Closed loop: the cold pass, then warm passes until `seconds` have
    * gone by since the cold pass began and at least `minWarm` ran. A
    * traced run alternates traced and untraced warm passes, so the
    * tracing overhead is measured inside one run; it runs at least one
    * of each. */
  def loop(minWarm: Int)(runPass: (Int, Boolean) => PassRec): Seq[PassRec] = {
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer(runPass(0, args.trace))
    val least = if (args.trace) math.max(2, minWarm) else minWarm
    var i = 1
    while (i <= least || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      passes += runPass(i, args.trace && i % 2 == 1)
      i += 1
    }
    setTracing(false)
    passes.toSeq
  }

  /** The innermost enclosing span of `kind` for any span id. */
  private def enclosing(kind: String): String => Option[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    def up(id: String, depth: Int): Option[Span] = byId.get(id) match {
      case Some(s) if s.kind == kind => Some(s)
      case Some(s) if depth < 16 => up(s.parent, depth + 1)
      case _ => None
    }
    id => up(id, 0)
  }

  /** Job and stage spans from the listener, under their harness span. */
  def sparkSpans: Seq[Span] = {
    val js = tracer.jobs.toSeq.map(j =>
      Span(s"j${j.id}", j.span, "job", j.callSite.linesIterator
        .find(_.contains("graft.")).getOrElse("").trim, j.startMs, j.endMs))
    val ss = tracer.stages.values.toSeq.map(s =>
      Span(s"s${s.key}", s"j${s.job}", "stage", s"${s.numTasks} tasks",
        s.submitMs, s.endMs))
    js ++ ss
  }

  /** Self time of each span: its duration less the union of its
    * children's intervals. */
  def selfTimes(all: Seq[Span]): Map[String, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      s.id -> math.max(0L, (s.endMs - s.startMs) - covered)
    }.toMap
  }

  def writeSpans(path: String): Unit = {
    val all = spans.toSeq ++ sparkSpans
    val lines = all.sortBy(_.startMs).map(s => Json.obj(Seq(
      "id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
      "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString)))
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
    System.err.println(s"[perfbench] spans: ${all.size} written to $path")
  }

  /** The per-layer metrics of a traced run, each per traced warm pass
    * unless its name says otherwise. */
  def layerMetrics(out: WorkloadOut): Seq[(String, Double, String)] = {
    val warm = out.passes.filterNot(_.cold)
    val traced = warm.filter(_.traced)
    val untraced = warm.filterNot(_.traced)
    require(traced.nonEmpty && untraced.nonEmpty,
      "a traced run needs a traced and an untraced warm pass")
    val n = traced.size.toDouble
    val ids = traced.map(_.spanId).toSet
    val passOf = enclosing("pass").andThen(_.map(_.id))
    val stepOf = enclosing("step")
    val jobsIn = tracer.jobs.toSeq.filter(j => passOf(j.span).exists(ids))
    val jobIds = jobsIn.map(_.id).toSet
    val stagesIn = tracer.stages.values.toSeq.filter(s => jobIds(s.job))
    val plansIn = tracer.plans.toSeq.filter(p => passOf(p.span).exists(ids))
    val submitted = stagesIn.map(_.key.takeWhile(_ != '.').toInt).toSet
    val skipped = jobsIn.flatMap(_.stageIds).distinct.count(s => !submitted(s))
    val runMs = stagesIn.map(_.runMs).sum
    val mb = 1024.0 * 1024.0
    val wallMs = traced.map(_.seconds * 1000.0).sum
    def per(v: Double) = v / n

    val tracedSpans = {
      val harness = spans.toSeq.filter(s => passOf(s.id).exists(ids))
      val keep = harness.map(_.id).toSet
      val js = sparkSpans.filter(s => s.kind == "job" && keep(s.parent))
      val jk = js.map(_.id).toSet
      harness ++ js ++ sparkSpans.filter(s => s.kind == "stage" && jk(s.parent))
    }
    val self = selfTimes(tracedSpans)
    def selfOf(kinds: Set[String]) = per(tracedSpans
      .filter(s => kinds(s.kind)).map(s => self(s.id)).sum / 1000.0)

    // every job under its gate's family module; jobs an engine object
    // of `siteModules` launched also under that object
    val busy = mutable.LinkedHashMap[String, Double]()
    val jobsBy = mutable.LinkedHashMap[String, Double]()
    (Workloads.gateModules ++ Workloads.siteModules).foreach { m =>
      busy(m) = 0.0; jobsBy(m) = 0.0 }
    val stageRun = stagesIn.groupBy(_.job).view.mapValues(_.map(_.runMs).sum).toMap
    def file(m: String, j: JobRec): Unit = {
      busy(m) += stageRun.getOrElse(j.id, 0L).toDouble
      jobsBy(m) += 1
    }
    jobsIn.foreach { j =>
      val gate = stepOf(j.span).map(_.name).getOrElse("")
      file(Rules.moduleOfGate(gate).filter(busy.contains).getOrElse("other"), j)
      Some(Rules.moduleOfCallSite(j.callSite))
        .filter(Workloads.siteModules.contains).foreach(file(_, j))
    }
    val busyTotal = math.max(1.0, stageRun.values.sum.toDouble)

    val left = scratchMb()
    Seq(
      ("spark.jobs", per(jobsIn.size), "count"),
      ("spark.stages", per(stagesIn.size), "count"),
      ("spark.stages_skipped", per(skipped), "count"),
      ("spark.tasks", per(stagesIn.map(_.tasks).sum), "count"),
      ("spark.failed_tasks", per(stagesIn.map(_.failedTasks).sum), "count"),
      ("spark.task_run_s", per(runMs / 1000.0), "s"),
      ("spark.task_cpu_s", per(stagesIn.map(_.cpuNs).sum / 1e9), "s"),
      ("spark.gc_s", per(stagesIn.map(_.gcMs).sum / 1000.0), "s"),
      ("spark.sched_wait_s", per(stagesIn.map(_.schedMs).sum / 1000.0), "s"),
      ("spark.single_task_stage_s", per(stagesIn.filter(_.numTasks == 1)
        .map(s => s.endMs - s.submitMs).sum / 1000.0), "s"),
      ("spark.core_busy", runMs / math.max(1.0, wallMs * cores), "share"),
      ("spark.shuffle_write_mb", per(stagesIn.map(_.shuffleWrite).sum / mb), "MB"),
      ("spark.shuffle_read_mb", per(stagesIn.map(_.shuffleRead).sum / mb), "MB"),
      ("spark.spill_mb", per(stagesIn.map(_.spill).sum / mb), "MB"),
      ("spark.input_mb", per(stagesIn.map(_.input).sum / mb), "MB"),
      ("spark.output_mb", per(stagesIn.map(_.output).sum / mb), "MB"),
      ("spark.peak_exec_mem_mb",
        (0L +: stagesIn.map(_.peakMem)).max / mb, "MB"),
      ("plan.queries", per(plansIn.size), "count"),
      ("plan.plan_ms", per(plansIn.map(_.planMs).sum), "ms"),
      ("plan.exchanges", per(plansIn.map(_.exchanges).sum), "count"),
      ("plan.scans", per(plansIn.map(_.scans).sum), "count"),
      ("plan.wscg_spans", per(plansIn.map(_.wscgSpans).sum), "count"),
      ("plan.fallback_ops", per(plansIn.map(_.fallbackOps).sum), "count"),
      ("codegen.compiles", per(traced.map(_.compiles).sum), "count"),
      ("codegen.compile_ms", per(traced.map(_.compileNs).sum / 1e6), "ms"),
      ("codegen.cold_compiles", out.passes.head.compiles.toDouble, "count"),
      ("codegen.cold_compile_ms", out.passes.head.compileNs / 1e6, "ms"),
      ("io.files_discovered", per(traced.map(_.filesDiscovered).sum), "count"),
      ("io.listing_jobs", per(traced.map(_.listingJobs).sum), "count"),
      ("io.files_written", per(plansIn.map(_.filesWritten).sum), "count"),
      ("io.store_mb", per(plansIn.map(_.bytesWritten).sum / mb), "MB"),
      ("scratch.stage_mb", left("stage"), "MB"),
      ("scratch.stream_mb", left("stream"), "MB"),
      ("scratch.other_mb", left("other"), "MB"),
      ("scratch.left_mb", left.values.sum, "MB"),
      ("span.pass_self_s", selfOf(Set("pass")), "s"),
      ("span.step_self_s", selfOf(Set("step")), "s"),
      ("span.job_self_s", selfOf(Set("job")), "s"),
      ("span.stage_s", selfOf(Set("stage")), "s"),
      ("trace.overhead_s", Rules.median(traced.map(_.seconds)) -
        Rules.median(untraced.map(_.seconds)), "s"),
      ("jvm.peak_rss_mb", Main.peakRssMb(), "MB")
    ) ++ busy.toSeq.flatMap { case (m, v) =>
      Seq((s"$m.busy_share", v / busyTotal, "share"),
        (s"$m.jobs", per(jobsBy(m)), "count"))
    }
  }

  /** MB left under this run's java.io.tmpdir, split by who wrote it:
    * `io.Scratch` staging, streaming checkpoints, everything else. */
  def scratchMb(): Map[String, Double] = {
    val root = new File(sys.props("java.io.tmpdir"))
    val by = mutable.Map("stage" -> 0.0, "stream" -> 0.0, "other" -> 0.0)
    Option(root.listFiles).getOrElse(Array.empty[File]).foreach { f =>
      val k =
        if (f.getName.startsWith("graft_stage_scratch")) "stage"
        else if (f.getName.startsWith("graft_st_scratch")) "stream"
        else "other"
      by(k) += Main.dirBytes(f) / (1024.0 * 1024.0)
    }
    by.toMap
  }

  def record(w: Queries, out: WorkloadOut, setupTimes: Seq[Double],
      loadStart: Double, ticksStart: Seq[Long]): String = {
    val untracedWarm = out.passes.filterNot(_.cold).filterNot(_.traced)
    val metrics: Seq[(String, Double, String)] =
      if (args.trace) layerMetrics(out)
      else Seq(
        ("setup_s", Rules.median(setupTimes), "s"),
        ("cold_pass_s", out.passes.head.seconds, "s"),
        ("pass_s", Rules.median(untracedWarm.map(_.seconds)), "s")) ++ out.e2e
    val conf = spark.sparkContext.getConf.getAll.toSeq.sorted
    val box = Seq(
      "nproc" -> cores.toString,
      "load_avg_start" -> Json.num(loadStart),
      "load_avg_end" -> Json.num(Main.loadAvg()),
      "cpu_steal_share" -> Json.num(Main.stealShare(ticksStart)),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "java" -> Json.str(sys.props("java.version")),
      "client_threads" -> "1")
    val passes = out.passes.map(p => Json.obj(Seq(
      "index" -> p.index.toString, "cold" -> p.cold.toString,
      "traced" -> p.traced.toString, "s" -> Json.num(p.seconds),
      "steps" -> Json.arr(p.steps.map { case (n, s) =>
        Json.arr(Seq(Json.str(n), Json.num(s))) }))))
    Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "seed" -> args.seed.toString,
      "trace" -> args.trace.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "checks" -> Json.arr(out.checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString,
          "detail" -> Json.str(d))) }),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "detail" -> Json.obj(Seq(
        "box" -> Json.obj(box),
        "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
        "setup_s" -> Json.arr(setupTimes.map(Json.num)),
        "passes" -> Json.arr(passes)) ++ out.detail)))
  }
}
