package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The job-local property that tags every Spark job with the phase of the
  * query run that submitted it. Jobs started while the DataFrame is being
  * built (checkpoints, Lloyd rounds, streams run to memory) are construct. */
object Phase {
  val Key = "perfbench.phase"
  val Construct = "construct"
  val Exec = "exec"
}

final case class JobRec(id: Int, phase: String, startMs: Long) {
  var endMs: Long = startMs
}

final case class StageRec(id: Int, phase: String, jobId: Int, submitMs: Long, endMs: Long,
    tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, inBytes: Long, inRows: Long, outBytes: Long, outRows: Long)

/** One finished SQL execution: its planning phases as (start, end) epoch ms
  * and the shape of its final (post-AQE) physical plan. */
final case class QeRec(phases: Map[String, (Long, Long)], exchanges: Int,
    codegenStages: Int, codegenFallbacks: Int) {
  def endMs: Long = if (phases.isEmpty) Long.MinValue else phases.values.map(_._2).max
}

/** What one query run caused, as the listeners saw it. `sqlSpans` are the
  * (start, end) epoch ms of every finished SQL execution. */
final case class Events(jobs: Seq[JobRec], stages: Seq[StageRec], qes: Seq[QeRec],
    sqlSpans: Seq[(Long, Long)], batchCommitMs: Seq[Long])

/** Benchmark-side listeners for one traced pass. Events arrive on Spark's
  * listener threads; [[take]] hands the query thread everything delivered
  * so far, after it drained the bus, so "so far" means "everything the
  * query just run caused". */
final class Collector extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.Map.empty[Int, JobRec]
  private val stageOwner = mutable.Map.empty[Int, (Int, String)]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val commitMs = mutable.ArrayBuffer.empty[Long] // one per stream batch
  private val sqlStart = mutable.Map.empty[Long, Long]
  private val sqlSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Phase.Key)))
      .getOrElse("other")
    val j = JobRec(e.jobId, phase, e.time)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = (e.jobId, phase))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val (jobId, phase) = stageOwner.getOrElse(i.stageId, (-1, "other"))
    val end = i.completionTime.getOrElse(System.currentTimeMillis())
    stages += StageRec(i.stageId, phase, jobId, i.submissionTime.getOrElse(end), end,
      i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStart(s.executionId) = s.time }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized { sqlStart.remove(s.executionId).foreach(t => sqlSpans += ((t, s.time))) }
    case _ =>
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, s) => k -> (s.startTimeMs, s.endTimeMs) }
    val facts = PlanFacts(qe.executedPlan)
    Collector.this.synchronized {
      qes += QeRec(phases, facts.exchanges, facts.codegenStages, facts.fallbacks)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val logs = Seq("walCommit", "commitOffsets").flatMap(k => Option(p.durationMs.get(k)))
        .map(_.longValue).sum
      val state = p.stateOperators.map(_.commitTimeMs).sum
      Collector.this.synchronized { commitMs += logs + state }
    }
  }

  /** SQL and stream listeners are per session; the Spark listener is
    * per context, so it is added once. */
  def register(sc: SparkContext, sessions: Seq[SparkSession]): Unit = {
    sc.addSparkListener(this)
    sessions.foreach { s =>
      s.listenerManager.register(queries)
      s.streams.addListener(streams)
    }
  }

  def unregister(sc: SparkContext, sessions: Seq[SparkSession]): Unit = {
    sc.removeSparkListener(this)
    sessions.foreach { s =>
      s.listenerManager.unregister(queries)
      s.streams.removeListener(streams)
    }
  }

  /** Everything recorded since the last call. */
  def take(): Events = synchronized {
    val out = Events(jobs.toList, stages.toList, qes.toList, sqlSpans.toList, commitMs.toList)
    jobs.clear(); jobById.clear(); stageOwner.clear(); stages.clear(); qes.clear()
    commitMs.clear(); sqlStart.clear(); sqlSpans.clear()
    out
  }
}

final case class PlanFacts(exchanges: Int, codegenStages: Int, fallbacks: Int)

object PlanFacts {
  /** Counts over the final plan: AQE wrappers and query stages are opened,
    * subquery plans included, reused exchanges not counted twice. */
  def apply(root: SparkPlan): PlanFacts = {
    var ex, wsc, fb = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        other match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => ex += 1
          case _: WholeStageCodegenExec => wsc += 1
          case _ =>
        }
        fb += other.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(root)
    PlanFacts(ex, wsc, fb)
  }
}

/** The layer split of one traced query run. Times in seconds; `traceS` is
  * what tracing added after the run (bus drain and bookkeeping). */
final case class OpTrace(name: String, wallS: Double, constructS: Double, planS: Double,
    execS: Double, metrics: Map[String, Double], spans: Seq[Span], traceS: Double = 0.0)

final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long) {
  def durMs: Long = endMs - startMs
}

object OpTrace {
  private var nextSpan = 0L
  private def span(parent: Long, name: String, s: Long, e: Long): Span = {
    nextSpan += 1
    Span(nextSpan, parent, name, s, math.max(s, e))
  }

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (open) total += curE - curS
    total
  }

  /** Build the split of one query run from its two phase windows (epoch ms
    * for span placement, nanoTime seconds for the walls) and the events the
    * run caused. Each part is timed on its own: construct by the query
    * thread, plan by the trackers of the SQL executions that ended in the
    * exec window, exec by Spark's SQL execution start/end events (minus
    * the planning inside them). Exec time outside any SQL execution, or an
    * execution the listeners missed, leaves a residual against the wall. */
  def apply(name: String, cores: Int, c0: Long, c1: Long, e1: Long, constructS: Double,
      wallS: Double, events: Events): OpTrace = {
    val Events(jobs, stages, qes, sqlSpans, batchCommitMs) = events
    val execQes = qes.filter(_.endMs > c1)
    val planIv = execQes.flatMap(_.phases.values)
    val planMs = unionMs(planIv, c1, e1)
    val planS = planMs / 1e3
    val execS = (unionMs(sqlSpans ++ planIv, c1, e1) - planMs) / 1e3
    val planEnd = (planIv.map(_._2).filter(_ <= e1) :+ c1).max
    val execStages = stages.filter(_.phase == Phase.Exec)
    val stageBusyS = unionMs(execStages.map(s => (s.submitMs, s.endMs)), c1, e1) / 1e3
    val execRunS = execStages.map(_.runMs).sum / 1e3
    def sum(f: StageRec => Long): Double = stages.map(f).sum.toDouble
    val metrics = Map(
      "construct_jobs" -> jobs.count(_.phase == Phase.Construct).toDouble,
      "exchanges" -> execQes.map(_.exchanges).sum.toDouble,
      "codegen_stages" -> execQes.map(_.codegenStages).sum.toDouble,
      "codegen_fallbacks" -> execQes.map(_.codegenFallbacks).sum.toDouble,
      "jobs" -> jobs.count(_.phase == Phase.Exec).toDouble,
      "stages" -> execStages.size.toDouble,
      "tasks" -> execStages.map(_.tasks).sum.toDouble,
      "driver_gap_s" -> math.max(0.0, execS - stageBusyS),
      "executor_run_s" -> sum(_.runMs) / 1e3,
      "executor_cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec_run_s" -> execRunS,
      "executor_slot_s" -> execS * cores,
      "gc_s" -> sum(_.gcMs) / 1e3,
      "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "shuffle_read_bytes" -> sum(_.shuffleRead),
      "spill_bytes" -> sum(_.spill),
      "input_bytes" -> sum(_.inBytes),
      "input_rows" -> sum(_.inRows),
      "output_bytes" -> sum(_.outBytes),
      "output_rows" -> sum(_.outRows),
      "stream_batches" -> batchCommitMs.size.toDouble,
      "stream_commit_s" -> batchCommitMs.sum / 1e3,
      "split_residual_s" -> math.abs(wallS - (constructS + planS + execS)))
    val root = span(0, s"query:$name", c0, e1)
    val construct = span(root.id, "construct", c0, c1)
    val plan = span(root.id, "plan", (planIv.map(_._1).filter(_ >= c1) :+ planEnd).min, planEnd)
    val exec = span(root.id, "exec", planEnd, e1)
    val jobSpans = jobs.map { j =>
      j.id -> span(if (j.phase == Phase.Construct) construct.id else exec.id,
        s"job:${j.id}", j.startMs, j.endMs)
    }.toMap
    val stageSpans = stages.map { s =>
      span(jobSpans.get(s.jobId).map(_.id).getOrElse(root.id), s"stage:${s.id}", s.submitMs, s.endMs)
    }
    OpTrace(name, wallS, constructS, planS, execS, metrics,
      Seq(root, construct, plan, exec) ++ jobSpans.values.toSeq.sortBy(_.id) ++ stageSpans)
  }

  /** Self time of each span: its duration minus the part its children cover. */
  def selfMs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.durMs - unionMs(kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)),
        s.startMs, s.endMs))
    }.toMap
  }
}
