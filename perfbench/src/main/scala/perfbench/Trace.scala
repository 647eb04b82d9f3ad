package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{ExecutionEnd, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Per-layer counters gathered from OUTSIDE the library, from Spark's
  * public listener events: jobs, stages and task metrics, AQE plan
  * updates, and for every SQL execution its `qe.tracker` phases and
  * final-plan exchanges. Registered only in a traced run, so the
  * untraced run measures the program alone.
  *
  * Only work the client's timed calls launch is counted: the harness
  * sets a job group around each call (`build|<op>` while a DataFrame is
  * constructed, `exec|<op>` while an action runs), and jobs, stages,
  * tasks and SQL executions are attributed through it. Set-up and the
  * harness's own untimed work run outside these groups.
  */
final class Trace extends SparkListener {
  private val jobsByGroup = scala.collection.mutable.Map[String, Long]()
  private val timedStages = scala.collection.mutable.Set[Int]()
  private val timedExecutions = scala.collection.mutable.Set[Long]()
  private var stages, tasks = 0L
  private var runMs, cpuNs, gcMs = 0L
  private var shuffleWrite, shuffleRead, spill = 0L
  private var peakExecMem = 0L
  private var inBytes, inRecords, outBytes, outRecords = 0L
  private var aqeUpdates, exchanges = 0L
  private var analysisMs, optimizationMs, planningMs = 0L
  private var events = 0L

  private def timed(group: Option[String]): Boolean =
    group.exists(g => g.startsWith("build|") || g.startsWith("exec|"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (timed(g)) {
      jobsByGroup(g.get) = jobsByGroup.getOrElse(g.get, 0L) + 1
      timedStages ++= e.stageIds
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    if (timedStages(e.stageInfo.stageId)) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    if (m != null && timedStages(e.stageId)) {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      inBytes += m.inputMetrics.bytesRead
      inRecords += m.inputMetrics.recordsRead
      outBytes += m.outputMetrics.bytesWritten
      outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      events += 1
      if (timed(s.jobGroupId)) timedExecutions += s.executionId
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      events += 1
      if (timedExecutions(u.executionId)) aqeUpdates += 1
    }
    case end: SparkListenerSQLExecutionEnd =>
      val counted = synchronized { events += 1; timedExecutions(end.executionId) }
      if (counted) ExecutionEnd.queryExecution(end).foreach { qe =>
        val ph = qe.tracker.phases
        def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
        val ex = Trace.exchanges(qe.executedPlan)
        synchronized {
          analysisMs += ms("analysis")
          optimizationMs += ms("optimization")
          planningMs += ms("planning")
          exchanges += ex
        }
      }
    case _ =>
  }

  /** Listener buses deliver asynchronously: wait until no new event has
    * arrived for two consecutive polls (bounded), so totals read after
    * the run include every finished task.
    */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    var polls = 0
    while (quiet < 2 && polls < 50) {
      Thread.sleep(100)
      val now = synchronized(events)
      if (now == last) quiet += 1 else quiet = 0
      last = now
      polls += 1
    }
  }

  /** Jobs of the timed calls whose group id (`<phase>|<op name>`)
    * matches `pred`.
    */
  def jobs(pred: String => Boolean): Long =
    synchronized(jobsByGroup.collect { case (g, n) if pred(g) => n }.sum)

  def snapshot(): Map[String, Double] = synchronized {
    val mb = 1024.0 * 1024.0
    Map(
      "catalyst.analysis_s" -> analysisMs / 1e3,
      "catalyst.optimization_s" -> optimizationMs / 1e3,
      "catalyst.planning_s" -> planningMs / 1e3,
      "catalyst.aqe_updates" -> aqeUpdates.toDouble,
      "catalyst.exchanges" -> exchanges.toDouble,
      "exec.jobs" -> jobsByGroup.values.sum.toDouble,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> tasks.toDouble,
      "exec.task_run_s" -> runMs / 1e3,
      "exec.task_cpu_s" -> cpuNs / 1e9,
      "exec.gc_s" -> gcMs / 1e3,
      "exec.shuffle_write_mb" -> shuffleWrite / mb,
      "exec.shuffle_read_mb" -> shuffleRead / mb,
      "exec.spill_mb" -> spill / mb,
      "exec.peak_exec_mem_mb" -> peakExecMem / mb,
      "tables.scan_mb" -> inBytes / mb,
      "tables.scan_rows" -> inRecords.toDouble,
      "sink.mb_written" -> outBytes / mb,
      "sink.rows_written" -> outRecords.toDouble)
  }
}

object Trace {
  /** Shuffle and broadcast exchanges of the FINAL (post-AQE) plan, each
    * materialized stage counted once.
    */
  def exchanges(root: SparkPlan): Int = {
    val seen = new java.util.IdentityHashMap[AnyRef, AnyRef]()
    var n = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeExec | _: BroadcastExchangeExec => n += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => if (seen.put(q.plan, q.plan) == null) walk(q.plan)
        case _: ReusedExchangeExec => // counted where it first ran
        case _ =>
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(root)
    n
  }

  /** Whole-stage codegen compiles so far, and the mean compile time in
    * seconds over the histogram's sample (it keeps no exact sum).
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean / 1e3)
  }

  /** Builds so far of every bounded family cache (`graft.ops.LruCache`)
    * held by the library's singleton objects, found by reflection.
    */
  def lruBuilds(): Long = {
    val holders = Seq("graft.queries.PipelineQueries$", "graft.ops.Graphs$",
      "graft.ops.Vectors$", "graft.functions.ChDialect$")
    holders.iterator.flatMap { cn =>
      val cls = Class.forName(cn)
      val obj = cls.getField("MODULE$").get(null)
      cls.getDeclaredFields.iterator.flatMap { f =>
        f.setAccessible(true)
        f.get(obj) match {
          case c: graft.ops.LruCache[_, _] => Some(c.builds.get())
          case _ => None
        }
      }
    }.sum
  }
}
