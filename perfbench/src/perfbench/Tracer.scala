package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of a traced run. The nesting is workload → pass → step (a
  * gate) → Spark job → stage; `parent` is the enclosing span's id. Times
  * are epoch ms. */
final case class Span(id: String, parent: String, kind: String,
    name: String, startMs: Long, endMs: Long)

final class JobRec(val id: Int, val span: String, val callSite: String,
    val startMs: Long, val stageIds: Seq[Int]) {
  var endMs: Long = startMs
}

final class StageRec(val key: String, val job: Int, val submitMs: Long) {
  var endMs, runMs, cpuNs, gcMs, schedMs, shuffleWrite, shuffleRead,
    spill, input, output, peakMem = 0L
  var numTasks, tasks, failedTasks = 0
}

/** Physical-plan counts of one executed query. */
final class PlanRec(val span: String, val planMs: Long, val exchanges: Int,
    val scans: Int, val wscgSpans: Int, val fallbackOps: Int,
    val filesWritten: Long, val bytesWritten: Long)

/** Everything the traced run registers: a SparkListener for jobs, stages
  * and tasks, and a QueryExecutionListener for planning time and the
  * executed plans. It sees only what those public hooks report. The
  * harness tags every job with the innermost open span through the
  * `SpanProp` local property. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.LinkedHashMap[String, StageRec]()
  val plans = mutable.ArrayBuffer[PlanRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageSubmit = mutable.HashMap[String, Long]()
  private val executionSite = mutable.HashMap[Long, String]()
  /** The innermost open span on the harness thread; plans are filed
    * under it (the harness drains the bus before it moves on). */
  @volatile var currentSpan: String = ""

  private def key(stageId: Int, attempt: Int) = s"$stageId.$attempt"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // the result stage is created last and carries the job's call site;
    // jobs that adaptive execution or a broadcast submits from Spark's
    // own threads have none, so they take their SQL execution's
    val own = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val site = if (own.contains("graft.")) own
      else prop(SQLExecution.EXECUTION_ID_KEY).flatMap(i => executionSite.get(i.toLong))
        .getOrElse(own)
    jobs += new JobRec(e.jobId, prop(Tracer.SpanProp).getOrElse(""), site,
      e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { executionSite(s.executionId) = s.details }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stageSubmit(key(i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val r = stageRec(i.stageId, i.attemptNumber())
      r.numTasks = i.numTasks
      r.endMs = i.completionTime.getOrElse(System.currentTimeMillis())
    }

  private def stageRec(stageId: Int, attempt: Int): StageRec = {
    val k = key(stageId, attempt)
    stages.getOrElseUpdate(k, new StageRec(k, stageJob.getOrElse(stageId, -1),
      stageSubmit.getOrElse(k, System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stageRec(e.stageId, e.stageAttemptId)
    r.tasks += 1
    if (!e.taskInfo.successful) r.failedTasks += 1
    r.schedMs += math.max(0L, e.taskInfo.launchTime - r.submitMs)
    val m = e.taskMetrics
    if (m != null) {
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.diskBytesSpilled
      r.input += m.inputMetrics.bytesRead
      r.output += m.outputMetrics.bytesWritten
      r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val nodes = Tracer.nodes(qe.executedPlan)
    def written(metric: String) = nodes.collect {
      case d: DataWritingCommandExec =>
        d.cmd.metrics.get(metric).map(_.value).getOrElse(0L)
    }.sum
    val rec = new PlanRec(currentSpan, planMs,
      nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      nodes.count {
        case _: DataSourceScanExec | _: BatchScanExec => true
        case _ => false
      },
      nodes.count(_.isInstanceOf[WholeStageCodegenExec]),
      nodes.count {
        case _: WholeStageCodegenExec | _: InputAdapter => false
        case p => p.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback]))
      },
      written("numFiles"), written("numOutputBytes"))
    synchronized { plans += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    Tracer.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Every operator of an executed plan: the final adaptive plan, the
    * plans inside query stages, subqueries and write commands. A reused
    * exchange counts once, where it was built. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
