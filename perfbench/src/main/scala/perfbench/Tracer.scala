package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark stage of a traced job: its interval, when its first task
  * launched, and every task's run time. */
final class StageTrace(val id: Int, val sparkJob: Int) {
  var submitMs = 0L
  var endMs = 0L
  var firstLaunchMs = Long.MaxValue
  val taskMs = mutable.ArrayBuffer[Long]()
}

/** Spans and counters of one benchmark job. The harness sets the job's
  * `build` (the catalog entry's `fn` call) and `execute` (the `collect()`
  * action) intervals; the listeners fill in everything Spark reports while
  * the job is current. Times are epoch milliseconds, as Spark's events. */
final class JobTrace(val seq: Int, val name: String) {
  var startMs, buildEndMs, endMs = 0L
  val sparkJobs = mutable.LinkedHashMap[Int, Array[Long]]() // id -> (start, end)
  val stages = mutable.LinkedHashMap[Int, StageTrace]()
  var tasks, taskFailures, taskBusyMs, taskCpuNs, gcMs = 0L
  var shuffleWriteB, shuffleReadB, spillB, inputB, inputRows, outputB, writeTaskMs = 0L
  var planMs, optimizeMs, exchanges, nestedLoopJoins = 0L
  var batches, batchMs, commitMs, statePartitions, stateRows, stateB, streamRows = 0L

  /** Spark jobs started inside the `build` span (fits run eagerly there). */
  def buildSparkJobs: Int = sparkJobs.values.count(_(0) < buildEndMs)

  /** Milliseconds of the job covered by at least one Spark job. */
  def sparkUnionMs: Long = {
    val iv = sparkJobs.values.map(a => (a(0), if (a(1) > 0) a(1) else endMs)).toSeq.sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    for ((s, e) <- iv) {
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    covered
  }

  /** Summed wait between each stage's submission and its first task. */
  def schedWaitMs: Long = stages.values.collect {
    case s if s.firstLaunchMs != Long.MaxValue && s.submitMs > 0 =>
      math.max(0L, s.firstLaunchMs - s.submitMs)
  }.sum

  /** Max ÷ median task time of the worst stage (1 for single-task stages). */
  def stageSkew: Double = stages.values.filter(_.taskMs.nonEmpty).map { s =>
    val t = s.taskMs.sorted
    t.last.toDouble / math.max(1L, t(t.size / 2))
  }.foldLeft(0.0)(math.max)
}

/** The traced run's listeners: Spark jobs, stages and tasks; SQL planning
  * phases and executed plans; streaming micro-batch progress. Every event
  * is charged to the job that is current when it is delivered. The harness
  * drains the listener bus before a job starts and again as soon as its
  * action returns, then clears `current`, so neither earlier events nor
  * the job's output checks are charged to it. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var current: JobTrace = null
  private val stageOwner = mutable.HashMap[Int, JobTrace]()

  private object Plans extends AdaptiveSparkPlanHelper

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = current
    if (j != null) {
      j.sparkJobs(e.jobId) = Array(e.time, 0L)
      e.stageInfos.foreach { si =>
        stageOwner(si.stageId) = j
        j.stages.getOrElseUpdate(si.stageId, new StageTrace(si.stageId, e.jobId))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val j = current
    if (j != null) j.sparkJobs.get(e.jobId).foreach(_(1) = e.time)
  }

  private def stage(id: Int): Option[StageTrace] =
    stageOwner.get(id).flatMap(_.stages.get(id))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).foreach(_.submitMs = e.stageInfo.submissionTime.getOrElse(0L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).foreach(_.endMs = e.stageInfo.completionTime.getOrElse(0L))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stage(e.stageId).foreach(s => s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { j =>
      val ms = e.taskInfo.duration
      j.tasks += 1
      if (e.reason != Success) j.taskFailures += 1
      j.taskBusyMs += ms
      j.stages.get(e.stageId).foreach(_.taskMs += ms)
      val m = e.taskMetrics
      if (m != null) {
        j.taskCpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputB += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
        j.outputB += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) j.writeTaskMs += ms
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val j = current
      if (j != null) {
        val ph = qe.tracker.phases
        j.planMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        j.optimizeMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        j.exchanges += Plans.collectWithSubqueries(qe.executedPlan) {
          case x: ShuffleExchangeLike => x
        }.size
        j.nestedLoopJoins += Plans.collectWithSubqueries(qe.executedPlan) {
          case x: BroadcastNestedLoopJoinExec => x
          case x: CartesianProductExec => x
        }.size
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Micro-batch progress of the streaming queries a job runs. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val j = current
      if (j != null) {
        val p = e.progress
        val ops = p.stateOperators
        j.batches += 1
        j.batchMs += p.batchDuration
        j.commitMs += ops.map(_.commitTimeMs).sum
        j.streamRows += p.numInputRows
        if (ops.nonEmpty) {
          j.statePartitions = math.max(j.statePartitions, ops.map(_.numShufflePartitions).max)
          j.stateRows = ops.map(_.numRowsTotal).sum
          j.stateB = ops.map(_.memoryUsedBytes).sum
        }
      }
    }
  }
}
