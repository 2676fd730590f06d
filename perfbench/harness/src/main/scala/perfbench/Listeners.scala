package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Task, job and stage counters read from Spark's listener events.
  *
  * The harness sets the id of the span it is in (a build or an execute
  * call) as a local property on its own thread; every job carries it, and
  * stages and tasks inherit it from the first job that lists them. The
  * counters are cheap and always on, because `task_cpu_s` is an end-to-end
  * metric. Job and stage spans are kept only while `recordSpans` is set.
  * All callbacks arrive on the listener bus thread; the harness reads the
  * results only after draining the bus.
  */
final class TaskCounters(spanKey: String) extends SparkListener {
  import TaskCounters._

  @volatile var recordSpans = false

  final class Agg {
    var jobs, stages, tasks, cpuNs, runMs, gcMs, delayMs = 0L
    var shuffleWriteB, shuffleReadB, fetchWaitMs, spillB = 0L
    var scanB, scanRows = 0L
  }
  val aggs = mutable.HashMap[Long, Agg]()
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  /** (owner span, finish time in epoch ms) of every task, for late tasks. */
  val taskEnds = mutable.ArrayBuffer[(Long, Long)]()

  private val jobOwner = mutable.HashMap[Int, Long]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stageJob = mutable.HashMap[Int, Int]()

  private def agg(owner: Long) = aggs.getOrElseUpdate(owner, new Agg)
  private def stageOwner(stageId: Int): Long =
    stageJob.get(stageId).flatMap(jobOwner.get).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(spanKey)))
      .map(_.toLong).getOrElse(-1L)
    jobOwner(e.jobId) = owner
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    agg(owner).jobs += 1
    if (recordSpans) jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      jobs += JobRec(e.jobId, jobOwner.getOrElse(e.jobId, -1L), s, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    agg(stageOwner(i.stageId)).stages += 1
    if (recordSpans) for (s <- i.submissionTime; c <- i.completionTime)
      stages += StageRec(i.stageId, i.attemptNumber(), stageJob.getOrElse(i.stageId, -1), s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val owner = stageOwner(e.stageId)
    val a = agg(owner)
    val info = e.taskInfo
    a.tasks += 1
    taskEnds += ((owner, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      // the scheduler delay as Spark's own status pages define it
      val duration = info.finishTime - info.launchTime
      val fetching =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      a.delayMs += math.max(0L, duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - fetching)
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillB += m.diskBytesSpilled
      a.scanB += m.inputMetrics.bytesRead
      a.scanRows += m.inputMetrics.recordsRead
    }
  }
}

object TaskCounters {
  final case class JobRec(jobId: Int, owner: Long, start: Long, end: Long)
  final case class StageRec(stageId: Int, attempt: Int, jobId: Int, start: Long, end: Long)
}

/** Planning-phase, rule and write-command figures of every executed
  * QueryExecution, from Spark's public QueryExecutionListener. Records only
  * while `on` is set. The analysis of the DataFrame a build returns happens
  * before it executes, in its own tracker, which the harness reads itself. */
final class PlanCounters extends QueryExecutionListener {
  import PlanCounters._
  @volatile var on = false

  val recs = mutable.ArrayBuffer[PlanRec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = if (on) {
    val rec = summary(qe.tracker, Some(qe))
    if (rec.at > 0) synchronized { recs += rec }
  }
}

object PlanCounters {
  /** Figures of one planning tracker, and of the write commands in the
    * executed plan when `executed` is given. `at` is 0 when no phase ran. */
  def summary(t: QueryPlanningTracker, executed: Option[QueryExecution]): PlanRec = {
    val phases = t.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val rules = t.rules.toSeq
    val graft = rules.filter(_._1.startsWith("graft.")).map(_._2)
    // the write commands' own SQL metrics (BasicWriteJobStatsTracker)
    val writes = executed.toSeq.flatMap { qe =>
      try qe.executedPlan.collect { case w: DataWritingCommandExec => w.cmd.metrics }
      catch { case _: Throwable => Nil }
    }
    def sum(k: String) = writes.flatMap(_.get(k)).map(_.value).sum
    PlanRec(if (phases.isEmpty) 0L else phases.values.map(_.endTimeMs).max,
      ms("analysis"), ms("optimization"), ms("planning"),
      rules.map(_._2.totalTimeNs).sum, graft.map(_.totalTimeNs).sum,
      graft.map(_.numInvocations).sum, graft.map(_.numEffectiveInvocations).sum,
      writes.size, sum("numFiles"), sum("numOutputRows"), sum("numOutputBytes"),
      sum("taskCommitTime") + sum("jobCommitTime"))
  }

  /** `at` is the end of the execution's last planning phase (epoch ms),
    * which the harness uses to find the query that ran it. */
  final case class PlanRec(at: Long, analysisMs: Long, optimizationMs: Long,
                           planningMs: Long, rulesNs: Long, graftNs: Long,
                           graftRuns: Long, graftEffective: Long, writes: Int,
                           files: Long, rows: Long, bytes: Long, commitMs: Long)
}
