package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler._

/** Spark-side counters of one measured window, from Spark's own listener
  * API. Jobs are attributed to the job group that was set around the
  * public call that started them (see [[Trace.span]]).
  */
final case class SparkCounters(
    executorCpuS: Double, gcS: Double, shuffleReadMb: Double,
    shuffleWriteMb: Double, spillMb: Double, bytesWrittenMb: Double,
    jobs: Long, tasks: Long, taskSkew: Double, idleS: Double,
    jobsByGroup: Map[String, Long])

final class Trace(sc: SparkContext) extends SparkListener {
  private val Mb = 1024.0 * 1024.0
  private var cpuNs, gcMs, shRead, shWrite, spill, written, tasks = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobEnd = mutable.Map.empty[Int, Long]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var windowStart = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    jobGroup(e.jobId) = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      written += m.outputMetrics.bytesWritten
    }
  }

  /** Start a fresh window. */
  def reset(): Unit = {
    ListenerDrain.drain(sc)
    synchronized {
      cpuNs = 0; gcMs = 0; shRead = 0; shWrite = 0; spill = 0; written = 0; tasks = 0
      jobStart.clear(); jobEnd.clear(); jobGroup.clear(); taskMs.clear()
      windowStart = System.currentTimeMillis()
    }
  }

  /** Counters since the last [[reset]]. */
  def read(): SparkCounters = {
    val windowEnd = System.currentTimeMillis()
    ListenerDrain.drain(sc)
    synchronized {
      // the slowest task over the median task, in the worst stage; stages
      // whose slowest task is under 50 ms are scheduling noise and skipped
      val skew = taskMs.values.filter(d => d.size >= 2 && d.max >= 50).map { d =>
        val s = d.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }.foldLeft(1.0)(math.max)
      // time in the window with no job running: query planning, codegen
      // and collects
      val intervals = jobStart.toSeq.map { case (j, t0) =>
        (math.max(t0, windowStart), math.min(jobEnd.getOrElse(j, windowEnd), windowEnd))
      }.filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L; var reach = windowStart
      for ((a, b) <- intervals) {
        val from = math.max(a, reach)
        if (b > from) { busy += b - from; reach = b }
      }
      SparkCounters(
        executorCpuS = cpuNs / 1e9, gcS = gcMs / 1e3,
        shuffleReadMb = shRead / Mb, shuffleWriteMb = shWrite / Mb,
        spillMb = spill / Mb, bytesWrittenMb = written / Mb,
        jobs = jobStart.size.toLong, tasks = tasks, taskSkew = skew,
        idleS = math.max(0L, windowEnd - windowStart - busy) / 1e3,
        jobsByGroup = jobGroup.values.groupBy(identity).map { case (g, v) => g -> v.size.toLong })
    }
  }
}

object Trace {
  /** Run `body` under job group `group`, so its jobs are attributed to it. */
  def span[T](sc: SparkContext, group: String)(body: => T): T = {
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }
}
