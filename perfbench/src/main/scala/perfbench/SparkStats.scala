package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one job group. The harness names a group `<seq>:<layer>`,
  * so every Spark job is tied to the op execution and the layer call
  * that launched it. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var skippedStages = 0
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var taskCpuNs = 0L
  var stragglerMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var outputBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  /** (start ms, end ms) of each finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Driver-side planning phases of one executed query, from its
  * `QueryPlanningTracker`. */
final case class Phases(startMs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long)

/** Listens through Spark's public listener APIs and aggregates per job
  * group. Callbacks arrive on Spark's listener threads, so every access
  * goes through this object's lock. */
final class SparkStats extends SparkListener with QueryExecutionListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmittedMs = mutable.HashMap.empty[Int, Long]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val phases = mutable.ArrayBuffer.empty[Phases]
  private var started = 0
  private var ended = 0

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    jobStages(e.jobId) = e.stageIds
    stats(g).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("unattributed")
      stageGroup(e.stageInfo.stageId) = g
      stageSubmittedMs(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stats(g).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, "unattributed"))
    s.tasks += 1
    if (e.reason != org.apache.spark.Success) s.failedTasks += 1
    val dur = e.taskInfo.duration
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += dur
    Option(e.taskMetrics).foreach { m =>
      s.taskMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMemBytes = math.max(s.peakExecMemBytes, m.peakExecutionMemory)
      s.outputBytes += m.outputMetrics.bytesWritten
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      stageTaskMs.remove(id).filter(_.nonEmpty).foreach { ds =>
        val sorted = ds.sorted
        stats(stageGroup.getOrElse(id, "unattributed")).stragglerMs +=
          sorted.last - sorted(sorted.length / 2)
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    val g = jobGroup.remove(e.jobId).getOrElse("unattributed")
    val s = stats(g)
    val t0 = jobStart.remove(e.jobId).getOrElse(e.time)
    s.jobIntervals += (t0 -> e.time)
    // a stage of the job that was not submitted while the job ran was
    // skipped: its shuffle output already existed
    jobStages.remove(e.jobId).foreach { ids =>
      s.skippedStages += ids.count(id => stageSubmittedMs.get(id).forall(_ < t0))
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    val start = p.values.map(_.startTimeMs).minOption.getOrElse(0L)
    phases += Phases(start, ms("analysis"), ms("optimization"), ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  /** Waits until every started job has ended, then a little longer for
    * the query-execution callbacks that follow them. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(started != ended) &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(100)
  }

  /** Groups whose name starts with `<seq>:`, keyed by layer name. */
  def groupsOf(seq: Int): Map[String, GroupStats] = synchronized {
    val pfx = s"$seq:"
    groups.collect { case (k, v) if k.startsWith(pfx) =>
      k.stripPrefix(pfx) -> v }.toMap
  }

  /** Planning phases that started inside [fromMs, toMs]. */
  def phasesBetween(fromMs: Long, toMs: Long): Seq[Phases] = synchronized {
    phases.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq
  }
}
