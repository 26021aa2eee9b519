package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span (a row's call or action, or a stream phase). */
final class Agg {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuNs, gcMs, taskWaitMs = 0L
  var inputRows, inputBytes, scanBytes = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  var planMs = 0L
  var maxSkew = 0.0
  def add(o: Agg): Agg = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs; taskWaitMs += o.taskWaitMs
    inputRows += o.inputRows; inputBytes += o.inputBytes; scanBytes += o.scanBytes
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes; planMs += o.planMs
    maxSkew = math.max(maxSkew, o.maxSkew)
    this
  }
}

/** Spark-listener collector for the traced run. Jobs are attributed to the
  * span named by the `perfbench.span` local property at submission; every
  * job, stage and task tallies into that span's [[Agg]]. Query-execution
  * events add Catalyst planning time and the scan nodes' file bytes. */
class Collector extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val SpanKey = "perfbench.span"
  private val aggs = mutable.HashMap[String, Agg]()
  private val stageSpan = mutable.HashMap[Int, String]()
  private val stageSubmit = mutable.HashMap[Int, Long]()
  private val stageReads = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  /** (span, jobId, start ms, end ms) of every finished job. */
  val jobs = mutable.ArrayBuffer[(String, Int, Long, Long)]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()
  /** (span, stageId, submit ms, complete ms, tasks) of every stage. */
  val stages = mutable.ArrayBuffer[(String, Int, Long, Long, Int)]()
  private val blocks = mutable.HashMap[String, Long]()
  private var blockTotal = 0L
  var storagePeak = 0L

  def agg(span: String): Agg = synchronized(aggs.getOrElseUpdate(span, new Agg))
  def sum(pred: String => Boolean): Agg = synchronized {
    aggs.filter { case (k, _) => pred(k) }.values.foldLeft(new Agg)(_ add _)
  }
  def resetStoragePeak(): Unit = synchronized { storagePeak = blockTotal }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("-")
    agg(span).jobs += 1
    jobStart(e.jobId) = (span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) => jobs += ((span, e.jobId, t0, e.time)) }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    agg(stageSpan.getOrElse(id, "-")).stages += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val span = stageSpan.getOrElse(info.stageId, "-")
    stages += ((span, info.stageId, stageSubmit.getOrElse(info.stageId, 0L),
      info.completionTime.getOrElse(0L), info.numTasks))
    stageReads.remove(info.stageId).foreach { reads =>
      if (reads.size >= 2 && reads.exists(_ > 0)) {
        val s = reads.sorted
        val med = math.max(1L, s(s.size / 2))
        val a = agg(span)
        a.maxSkew = math.max(a.maxSkew, s.last.toDouble / med)
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageSpan.getOrElse(e.stageId, "-"))
    a.tasks += 1
    if (e.taskInfo.failed) a.failedTasks += 1 // killed tasks (a stopped stream) do not count
    a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId,
      e.taskInfo.launchTime))
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.inputRows += m.inputMetrics.recordsRead; a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val read = m.shuffleReadMetrics.totalBytesRead
      a.shuffleRead += read; a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += read
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      blockTotal -= blocks.remove(id).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val size = info.memSize + info.diskSize
        blocks(id) = size; blockTotal += size
      }
      storagePeak = math.max(storagePeak, blockTotal)
    }
  }

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = onQe(qe)
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = onQe(qe)

  /** Span that query-execution events are charged to. These events arrive
    * on the listener bus, so the caller drains the bus before changing it. */
  @volatile var current: String = "-"

  /** Planning time (optimizer + physical planner) and scan file bytes of
    * one SQL execution. */
  private def onQe(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
    val span = current
    val phases = qe.tracker.phases
    val planMs = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val scan = try {
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .map(s => s.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum
    } catch { case _: Throwable => 0L }
    synchronized { val a = agg(span); a.planMs += planMs; a.scanBytes += scan }
  }
}

/** Live heap: heap in use right after a full collection, sampled at fixed
  * points of a run (after each timed row, after each stream phase). */
object Heap {
  private val taken = mutable.ArrayBuffer[Double]()
  def samples: Seq[Double] = taken.toSeq
  def reset(): Unit = taken.clear()
  def sample(): Double = {
    // The second collection also takes what the context cleaner released
    // after the first one.
    System.gc()
    Thread.sleep(50)
    System.gc()
    val mb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    taken += mb
    mb
  }
}
