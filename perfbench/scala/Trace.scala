package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one shot, one phase of a shot (build or sink), one job or one
  * stage. Times are epoch milliseconds; `parent` is the id of the causing
  * span and `shot` the id of the shot it belongs to. */
final case class Span(id: String, name: String, parent: String, shot: String,
                      start: Long, end: Long) {
  def dur: Double = (end - start) / 1e3
}

/** Counters of one phase of a shot, filled from task and plan events. */
final class Counts {
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Long): Unit = add(k, v.toDouble)
  def add(k: String, v: Double): Unit = c(k) += v
  def max(k: String, v: Long): Unit = c(k) = math.max(c(k), v.toDouble)
}

/** Listens to the Spark scheduler and to query executions. Jobs carry the
  * shot id and phase as local properties set by the harness thread, so
  * attribution does not depend on event timing. Everything stays in memory
  * until the run ends. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val ShotKey = "perfbench.shot"
  val PhaseKey = "perfbench.phase"

  private val jobStart = mutable.HashMap.empty[Int, (Long, String, String)]
  private val stageOwner = mutable.HashMap.empty[Int, (Int, String, String)]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** (shot, phase) -> counters. */
  val counts = mutable.HashMap.empty[(String, String), Counts]
  /** Query executions seen: (analysis start ms, plan seconds, node counts). */
  val executions = mutable.ArrayBuffer.empty[(Long, Double, Map[String, Int])]

  private def bump(shot: String, phase: String) =
    counts.getOrElseUpdate((shot, phase), new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val shot = props.flatMap(p => Option(p.getProperty(ShotKey))).getOrElse("")
    if (shot.nonEmpty) {
      val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
      jobStart(e.jobId) = (e.time, shot, phase)
      e.stageIds.foreach(s => stageOwner(s) = (e.jobId, shot, phase))
      bump(shot, phase).add("jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, shot, phase) =>
      spans += Span(s"job${e.jobId}", "job", s"$shot/$phase", shot, t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageOwner.get(si.stageId).foreach { case (job, shot, phase) =>
      val c = bump(shot, phase)
      c.add("stages", 1)
      c.add("tasks", si.numTasks)
      for (a <- si.submissionTime; b <- si.completionTime)
        spans += Span(s"stage${si.stageId}.${si.attemptNumber()}", "stage", s"job$job", shot, a, b)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (_, shot, phase) =>
      val c = bump(shot, phase)
      val info = e.taskInfo
      if (info.failed || info.killed) c.add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val run = m.executorRunTime / 1e3
        c.add("task_run_s", run)
        c.add("task_cpu_s", m.executorCpuTime / 1e9)
        c.add("gc_s", m.jvmGCTime / 1e3)
        c.add("sched_delay_s", math.max(0.0, info.duration / 1e3 - run -
          (m.executorDeserializeTime + m.resultSerializationTime) / 1e3))
        c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        c.add("spill_disk_bytes", m.diskBytesSpilled)
        c.max("peak_exec_mem_bytes", m.peakExecutionMemory)
        c.add("scan_rows", m.inputMetrics.recordsRead)
        c.add("scan_bytes", m.inputMetrics.bytesRead)
        c.add("write_rows", m.outputMetrics.recordsWritten)
        c.add("write_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planS = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum / 1e3
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val nodes = Tracer.planShape(qe.executedPlan)
    synchronized { executions += ((start, planS, nodes)) }
  }

  /** Waits (up to 10 s) until every traced job has ended and no span or
    * query-execution event has arrived for 200 ms: the listener buses are
    * asynchronous. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = (-1, -1)
    def now = synchronized((spans.size, executions.size))
    while (System.nanoTime() < deadline && (synchronized(jobStart.nonEmpty) || last != now)) {
      last = now
      Thread.sleep(200)
    }
  }
}

object Tracer {
  /** Node counts of an executed plan, looking through adaptive and query
    * stage wrappers and into subqueries. */
  def planShape(plan: SparkPlan): Map[String, Int] = {
    val n = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case s: QueryStageExec => visit(s.plan)
        case other =>
          other match {
            case _: ShuffleExchangeExec => n("exchanges") += 1
            case _: SortExec => n("sorts") += 1
            case _: SortMergeJoinExec => n("smj") += 1
            case _: BroadcastHashJoinExec => n("bhj") += 1
            case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => n("nested_loop") += 1
            case w: WindowExec if w.partitionSpec.isEmpty => n("window_unpartitioned") += 1
            case _: InMemoryTableScanExec => n("inmem_scans") += 1
            case _ =>
          }
          other.children.foreach(visit)
          other.subqueries.foreach(visit)
      }
    }
    visit(plan)
    n.toMap
  }

  /** Length of the union of intervals (seconds). */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
