package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark job/stage spans and task-metric sums, collected only while a
  * traced pass runs. Jobs and stages are later attributed to operations
  * by time: the loop has one client, so operations never overlap. */
final class SparkRecorder extends SparkListener {
  final class Stage(val id: Int, val attempt: Int) {
    var name = ""
    var submitMs = 0L
    var completeMs = 0L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
    var peakExecMem = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int]) { var endMs = 0L }

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = Job(e.jobId, e.time, e.stageIds)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.name = i.name
    s.submitMs = i.submissionTime.getOrElse(0L)
    s.completeMs = i.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null) s.taskMs += info.duration
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      // the formula of Spark's own stage page
      if (info != null) s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobs.toSeq.map(j => Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "stages" -> j.stageIds))
  }

  def stagesJson: Seq[Map[String, Any]] = synchronized {
    stages.values.toSeq.filter(_.completeMs > 0).map { s =>
      val sorted = s.taskMs.sorted
      Map("id" -> s.id, "attempt" -> s.attempt, "name" -> s.name,
        "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs, "tasks" -> s.tasks,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "sched_delay_ms" -> s.schedDelayMs,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_write_records" -> s.shuffleWriteRecords,
        "fetch_wait_ms" -> s.fetchWaitMs, "spill_bytes" -> s.spillBytes,
        "peak_exec_mem_bytes" -> s.peakExecMem, "input_bytes" -> s.inputBytes,
        "input_records" -> s.inputRecords, "output_bytes" -> s.outputBytes,
        "task_ms_max" -> sorted.lastOption.getOrElse(0L),
        "task_ms_median" -> (if (sorted.isEmpty) 0L else sorted(sorted.size / 2)))
    }
  }
}

/** Micro-batch progress of every streaming query, collected only while
  * a traced pass runs. */
final class StreamRecorder extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val state = p.stateOperators.toSeq
    batches += Map(
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "duration_ms" -> p.batchDuration,
      "add_batch_ms" -> d.getOrElse("addBatch", 0L),
      "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
      "state_commit_ms" -> state.map(_.commitTimeMs).sum,
      "state_rows_updated" -> state.map(_.numRowsUpdated).sum,
      "state_mem_bytes" -> state.map(_.memoryUsedBytes).sum,
      "input_rows" -> p.numInputRows)
  }
}
