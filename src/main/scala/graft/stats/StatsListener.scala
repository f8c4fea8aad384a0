package graft.stats

import graft.JoinStats
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Measurement harness — the reference's JoinStats/TaskReport capture
  * (JoinStats.java:6-43: per-job wall times, Hadoop Counters,
  * map/reduce TaskReports; aggregated in JoinSimulation.java:24-70)
  * re-expressed from Spark listener events:
  *
  *  - task durations  ← onTaskEnd (≙ TaskReport finish-start)
  *  - record counters ← taskMetrics output/shuffle metrics
  *    (≙ MAP_OUTPUT_RECORDS / REDUCE_OUTPUT_RECORDS lookups,
  *    JoinSimulation.java:161-162)
  *  - wall time       ← nanoTime around the action
  *    (≙ JobUtils.time, JobUtils.java:17-31)
  *  - job/stage counts, executor run and GC time — the per-query cost
  *    split Explain and GraphScale print (job-count overhead vs shuffle
  *    volume vs compute)
  */
class StatsListener extends SparkListener {
  private val durations = mutable.ArrayBuffer.empty[Long]
  private var jobs = 0
  private var stages = 0
  private var shuffleRecords = 0L
  private var shuffleBytes = 0L
  private var shuffleReadBytes = 0L
  private var outputRecords = 0L
  private var runMs = 0L
  private var gcMs = 0L

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    if (t.taskInfo != null && t.taskMetrics != null) {
      durations += (t.taskInfo.finishTime - t.taskInfo.launchTime)
      shuffleRecords += t.taskMetrics.shuffleWriteMetrics.recordsWritten
      shuffleBytes += t.taskMetrics.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += t.taskMetrics.shuffleReadMetrics.totalBytesRead
      outputRecords += t.taskMetrics.outputMetrics.recordsWritten
      runMs += t.taskMetrics.executorRunTime
      gcMs += t.taskMetrics.jvmGCTime
    }
  }

  def snapshot(wallSec: Double, stageTimes: Seq[Double]): JoinStats = synchronized {
    JoinStats(
      wallClockSec = wallSec,
      stageTimesSec = stageTimes,
      outputRecords = outputRecords,
      shuffleRecordsWritten = shuffleRecords,
      shuffleBytesWritten = shuffleBytes,
      taskDurationsMs = durations.toSeq,
      jobs = jobs,
      stages = stages,
      shuffleBytesRead = shuffleReadBytes,
      executorRunMs = runMs,
      gcMs = gcMs)
  }
}

object Measure {

  /** Run `action` under a fresh listener; return its result + stats.
    * Listener registration is per-measurement so concurrent queries
    * don't pollute each other's counters (single-driver harness, like
    * the reference's sequential simulation loop). The listener bus is
    * drained on both sides: before registering, so events still queued
    * from earlier actions are not counted, and after the action, so its
    * own trailing task/stage events are. */
  def measured[A](spark: SparkSession)(action: => A): (A, JoinStats) = {
    val sc = spark.sparkContext
    org.apache.spark.graft.SparkBridge.waitForListenerBus(sc, 30000)
    val l = new StatsListener
    sc.addSparkListener(l)
    val t0 = System.nanoTime()
    try {
      val a = action
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.SparkBridge.waitForListenerBus(sc, 30000)
      (a, l.snapshot(wall, Seq.empty))
    } finally sc.removeSparkListener(l)
  }
}
