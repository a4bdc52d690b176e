package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Scheduler and executor counters, read from Spark's public listener
  * events. Jobs keep their start and end times so a caller can tell which
  * part of an interval had a job running; tasks keep their duration per
  * stage so the worst stage's skew can be computed.
  */
final class LayerListener extends SparkListener {
  import LayerListener.{Totals, Window}

  private var totals = Totals()
  private val jobStart = mutable.LinkedHashMap.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    totals.tasks += 1
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      totals.taskRunMs += m.executorRunTime
      totals.taskCpuNs += m.executorCpuTime
      totals.gcMs += m.jvmGCTime
      totals.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      totals.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      totals.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      totals.peakExecMemBytes = math.max(totals.peakExecMemBytes, m.peakExecutionMemory)
      totals.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Counters gathered since the last call, which starts a new window.
    * Drain the listener bus before calling, or late events are missed.
    */
  def take(): Window = synchronized {
    val worstSkew = taskMs.valuesIterator.filter(_.size >= 2).map { ds =>
      val sorted = ds.sorted
      val med = sorted((sorted.size - 1) / 2).toDouble
      sorted.last / math.max(med, 1.0)
    }.foldLeft(1.0)(math.max)
    val w = Window(totals, jobIntervals.toVector, worstSkew)
    totals = Totals()
    jobIntervals.clear()
    taskMs.clear()
    w
  }
}

object LayerListener {
  final case class Totals(
      var stages: Long = 0, var tasks: Long = 0,
      var taskRunMs: Long = 0, var taskCpuNs: Long = 0, var gcMs: Long = 0,
      var shuffleReadBytes: Long = 0, var shuffleWriteBytes: Long = 0,
      var spillBytes: Long = 0, var peakExecMemBytes: Long = 0,
      var outputBytes: Long = 0)

  /** One window of counters; `jobs` are (start, end) in epoch ms. */
  final case class Window(totals: Totals, jobs: Vector[(Long, Long)], worstSkew: Double) {
    def jobCount: Int = jobs.size

    /** Jobs whose start lies in [fromMs, toMs]. */
    def jobsStartedIn(fromMs: Long, toMs: Long): Int = jobs.count { case (s, _) => s >= fromMs && s <= toMs }

    /** Milliseconds of [fromMs, toMs] during which no job was running. */
    def noJobMs(fromMs: Long, toMs: Long): Long = {
      val clipped = jobs.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var reach = fromMs
      clipped.foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
      (toMs - fromMs) - covered
    }
  }
}
