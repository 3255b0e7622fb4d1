package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What a benchmark call does, for attributing its jobs to a layer. */
object Kind extends Enumeration {
  /** builds a DataFrame (planning; snapshot reads launch jobs here) */
  val Build = Value("build")
  /** runs an action whose output the benchmark drains */
  val Action = Value("action")
  /** writes output through a DataFrameWriter file sink */
  val Write = Value("write")
  /** builds a stored artifact (the IVF index lifecycle) */
  val ArtifactBuild = Value("artifact_build")
  /** reads a stored artifact (IVF probe, snapshot table read) */
  val ArtifactServe = Value("artifact_serve")
}

/** A benchmark call into the program: one span under the run. */
final case class Call(id: Int, name: String, kind: Kind.Value,
                      startMs: Long, var endMs: Long = 0L)

/** Task metrics summed over one stage. */
final class StageAgg(val stageId: Int) {
  var jobId = -1
  var submitMs = 0L
  var doneMs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var peakMem = 0L
  var spill = 0L
  var inBytes = 0L
  var inRecords = 0L
  var outBytes = 0L
  var outRecords = 0L
  var shWriteBytes = 0L
  var shWriteRecords = 0L
  var shWriteNs = 0L
  var shReadBytes = 0L
  var shFetchWaitMs = 0L

  /** scan: reads input; sink: writes output; exchange: writes shuffle. */
  def layer: String =
    if (outBytes > 0) "sink"
    else if (inBytes > 0) "scan"
    else if (shWriteBytes > 0) "exchange"
    else "compute"
}

final case class JobRec(jobId: Int, callId: Int, startMs: Long,
                        var endMs: Long = 0L)

/** Spark-side counters of the traced run. Filled on the listener-bus
  * thread while `enabled`; read by the benchmark only after the bus has
  * drained. */
object Trace {
  @volatile var enabled = false
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageAgg]()
  val taskSpans = mutable.ArrayBuffer[(Long, Long)]()
  var queryExecutions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); taskSpans.clear()
    queryExecutions = 0L; analysisMs = 0L; optimizationMs = 0L; planningMs = 0L
  }

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg(id))

  def jobStart(e: SparkListenerJobStart): Unit = synchronized {
    val call = Option(e.properties).flatMap(p => Option(p.getProperty(CallProp)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = JobRec(e.jobId, call, e.time)
    e.stageIds.foreach(s => stage(s).jobId = e.jobId)
  }

  def jobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  def stageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.doneMs = e.stageInfo.completionTime.getOrElse(0L)
  }

  def taskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.spill += m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecords += m.outputMetrics.recordsWritten
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shWriteNs += m.shuffleWriteMetrics.writeTime
      s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shFetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    }
  }

  def queryExecution(qe: QueryExecution): Unit = synchronized {
    queryExecutions += 1
    val ph = qe.tracker.phases
    analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
  }

  /** Local property that tags every job with the benchmark call running it. */
  val CallProp = "perfbench.call"
}

/** Scheduler events: jobs, stages and per-task metrics. */
final class LayerListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.enabled) Trace.jobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (Trace.enabled) Trace.jobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Trace.enabled) Trace.stageCompleted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (Trace.enabled) Trace.taskEnd(e)
}

/** Query executions and their Catalyst phase times. Registered through
  * `spark.sql.queryExecutionListeners`, so every session the program
  * clones gets one. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.enabled) Trace.queryExecution(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (Trace.enabled) Trace.queryExecution(qe)
}
