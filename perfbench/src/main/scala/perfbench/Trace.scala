package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-span Spark counters, gathered by a listener registered from the
  * benchmark (the engine itself is not instrumented).
  *
  * A span is named by the `perfbench.span` local property the benchmark
  * sets around each call it makes into the engine; Spark copies local
  * properties to the jobs a thread submits (and to broadcast and
  * subquery threads), so every job lands in the span of the operation
  * that caused it. Jobs submitted with no span count as `unattributed`.
  */
final class Trace extends SparkListener {
  import Trace._

  private val spans = mutable.LinkedHashMap.empty[String, Counters]
  private val jobSpan = mutable.HashMap.empty[Int, String]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private var totalJobs = 0L
  private var maxId = -1

  private def of(span: String): Counters = spans.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
      .getOrElse(Unattributed)
    totalJobs += 1
    maxId = math.max(maxId, e.jobId)
    jobSpan(e.jobId) = span
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(stageSpan(_) = span)
    of(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val span = jobSpan.remove(e.jobId).getOrElse(Unattributed)
    val start = jobStartMs.remove(e.jobId).getOrElse(e.time)
    of(span).jobIntervals += ((start, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, Unattributed)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, Unattributed))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesWritten += m.outputMetrics.bytesWritten
      if (m.outputMetrics.recordsWritten > 0) c.filesWritten += 1
    }
  }

  /** Total jobs seen, whatever their span. */
  def jobs: Long = synchronized(totalJobs)

  /** The highest job id seen. Spark numbers the jobs of a SparkContext
    * 0, 1, 2, ..., so a listener registered before the first job that
    * misses no event has seen `maxJobId + 1` jobs. */
  def maxJobId: Int = synchronized(maxId)

  def snapshot(): Map[String, Counters] = synchronized {
    spans.map { case (k, v) => k -> v.copy() }.toMap
  }
}

object Trace {
  val Property = "perfbench.span"
  val Unattributed = "unattributed"

  final class Counters {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    var bytesWritten, filesWritten = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

    def copy(): Counters = {
      val c = new Counters
      c.jobs = jobs; c.stages = stages; c.tasks = tasks
      c.runMs = runMs; c.cpuNs = cpuNs; c.gcMs = gcMs
      c.shuffleReadBytes = shuffleReadBytes; c.shuffleWriteBytes = shuffleWriteBytes
      c.spillBytes = spillBytes; c.bytesWritten = bytesWritten
      c.filesWritten = filesWritten
      c.jobIntervals ++= jobIntervals
      c
    }
  }

  /** Milliseconds of [from, to] during which no job of `intervals` ran. */
  def idleMs(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (to - from) - covered
  }

  /** How many of `intervals` do not lie inside [from, to] (1 ms of
    * slack each side for rounding): jobs a span claims although they ran
    * outside the operation that set it. */
  def outside(from: Long, to: Long, intervals: Seq[(Long, Long)]): Int =
    intervals.count { case (s, e) => s < from - 1 || e > to + 1 }

  /** Run `body` with every job it submits attributed to `span`. */
  def span[T](sc: SparkContext, span: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, span)
    try body finally sc.setLocalProperty(Property, prev)
  }
}
