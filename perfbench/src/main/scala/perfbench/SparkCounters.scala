package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Harness-side Spark listener: per job, the call span that submitted it
  * (from [[Tracer.SpanProperty]]), its call site and the summed task
  * metrics of its stages; plus the peak bytes of cached RDD blocks.
  * Attached only in traced passes. */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val stagesById = mutable.Map.empty[Int, StageAgg]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .flatMap(_.toIntOption).getOrElse(0)
    // the result stage is the job's newest; a reused shuffle stage keeps
    // the call site of the job that created it
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobsById(e.jobId) = Job(e.jobId, span, e.time, e.stageIds, site)
    e.stageIds.foreach(id => stagesById.getOrElseUpdate(id, new StageAgg))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stagesById.getOrElseUpdate(e.stageId, new StageAgg)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskRunMs += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesById.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).completed = true
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = info.memSize + info.diskSize
      cachedNow -= rddBlocks.getOrElse(key, 0L)
      if (size > 0) rddBlocks(key) = size else rddBlocks.remove(key)
      cachedNow += size
      cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }

  def jobs: Seq[Job] = synchronized(jobsById.values.toSeq)
  def cachedPeakBytes: Long = synchronized(cachedPeak)

  /** Stages a job actually ran: skipped stages (reused shuffle output)
    * never complete, and a stage shared with an earlier job is counted
    * under the job that ran it. */
  def ranStages(job: Job, seen: mutable.Set[Int]): Seq[StageAgg] = synchronized {
    job.stageIds.flatMap { id =>
      stagesById.get(id).filter(s => s.completed && s.tasks > 0 && seen.add(id))
    }
  }
}

object SparkCounters {
  final class StageAgg {
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inBytes = 0L
    var inRecords = 0L
    var outBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var completed = false
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
  }

  final case class Job(id: Int, span: Int, startMs: Long, stageIds: Seq[Int],
                       callSite: String) {
    var endMs: Long = -1L
  }
}

/** Planning phases of every query execution, kept as intervals; they are
  * attributed to call spans by time (the harness runs one call at a time). */
final class PlanPhases extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]

  private def record(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    Seq("optimization", "planning").flatMap(p.get).foreach { s =>
      phases += ((s.startTimeMs, s.endTimeMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def intervalsMs: Seq[(Long, Long)] = synchronized(phases.toSeq)
}
