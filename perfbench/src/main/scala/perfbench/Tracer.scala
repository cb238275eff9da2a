package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run learns about one call. Wall-clock fields are
  * epoch milliseconds, the clock Spark stamps its events with. Listener
  * callbacks fill it on the bus thread; the runner reads it only after
  * draining the bus at the end of the call. */
final class CallTrace(val seq: Int, val name: String, val family: String) {
  var startMs = 0L
  var endMs = 0L
  var buildStartMs = 0L
  var buildEndMs = 0L
  var queries = 0
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var exchanges = 0
  val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var emptyTasks = 0
  var taskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var cachedPeakBytes = 0L

  def wallMs: Long = endMs - startMs
  def buildMs: Long = buildEndMs - buildStartMs

  /** Union of this call's job intervals, clipped to the call, in ms. */
  def jobUnionMs: Long = selfTimes("exec")

  /** Splits the call's wall time into layer self times: `exec` is the
    * union of job intervals; `catalyst` the planning phases outside jobs;
    * `core` the rest of the graft build call; `driver` whatever remains
    * (action bookkeeping, AQE re-planning between stages, result
    * handling). The four always sum to the call's wall time. */
  lazy val selfTimes: Map[String, Long] = {
    val n = math.max(0L, endMs - startMs).toInt
    val owner = new Array[Byte](n) // 0 driver, 1 core, 2 catalyst, 3 exec
    def mark(s: Long, e: Long, layer: Byte): Unit = {
      var i = math.max(0L, s - startMs).toInt
      val hi = math.min(n.toLong, e - startMs).toInt
      while (i < hi) { if (owner(i) < layer) owner(i) = layer; i += 1 }
    }
    mark(buildStartMs, buildEndMs, 1)
    phases.foreach { case (_, s, e) => mark(s, e, 2) }
    jobs.values.foreach { case (s, e) => mark(s, e, 3) }
    val counts = new Array[Long](4)
    owner.foreach(o => counts(o) += 1)
    Map("driver" -> counts(0), "core" -> counts(1), "catalyst" -> counts(2),
      "exec" -> counts(3))
  }
}

/** The traced run's hooks: a `SparkListener` for jobs, stages, tasks and
  * block updates, and a `QueryExecutionListener` for Catalyst phase times
  * and executed plans. Jobs are attributed to calls through the job group
  * the runner sets per call; query events, which carry no group, go to the
  * call in progress (calls are sequential and the bus is drained between
  * them). */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile private var current: CallTrace = null
  private val byGroup = TrieMap.empty[String, CallTrace]
  private val byStage = TrieMap.empty[Int, CallTrace]
  private val byJob = TrieMap.empty[Int, CallTrace]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  val calls = mutable.ArrayBuffer.empty[CallTrace]

  def begin(group: String, c: CallTrace): Unit = {
    byGroup(group) = c
    calls += c
    current = c
  }

  def end(): Unit = current = null

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
    group.flatMap(byGroup.get).foreach { c =>
      byJob(e.jobId) = c
      e.stageIds.foreach(byStage(_) = c)
      c.jobs(e.jobId) = (e.time, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    byJob.get(e.jobId).foreach { c =>
      c.jobs.get(e.jobId).foreach { case (s, _) => c.jobs(e.jobId) = (s, e.time) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    byStage.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    byStage.get(e.stageId).foreach { c =>
      c.tasks += 1
      if (e.reason != TaskSuccess) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
          c.emptyTasks += 1
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += size - rddBlocks.getOrElse(key, 0L)
      if (size > 0) rddBlocks(key) = size else rddBlocks.remove(key)
      val c = current
      if (c != null) c.cachedPeakBytes = math.max(c.cachedPeakBytes, cachedBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val c = current
    if (c != null) {
      c.queries += 1
      qe.tracker.phases.foreach { case (phase, p) =>
        c.phases += ((phase, p.startTimeMs, p.endTimeMs))
        phase match {
          case "analysis" => c.analysisMs += p.durationMs
          case "optimization" => c.optimizationMs += p.durationMs
          case "planning" => c.planningMs += p.durationMs
          case _ =>
        }
      }
      c.exchanges += PlanWalk.collect(qe.executedPlan) { case x: Exchange => x }.size
    }
  }
}

object Tracer {
  val JobGroupKey = "spark.jobGroup.id"
  private object PlanWalk extends AdaptiveSparkPlanHelper
}
