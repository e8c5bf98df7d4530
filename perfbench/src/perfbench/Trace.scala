package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call at a layer boundary. Spans of one request share
  * `request`; `parent` is the id of the enclosing span (0 for the
  * request root).
  */
final case class Span(request: String, id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder; a disabled tracer runs the body and keeps
  * nothing, so the untraced run pays no recording cost.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var nextId = 0

  def span[A](request: String, parent: Int, name: String)(body: Int => A): A =
    if (!enabled) body(-1)
    else {
      nextId += 1
      val id = nextId
      val t0 = System.nanoTime()
      try body(id)
      finally spans += Span(request, id, parent, name, t0, System.nanoTime())
    }
}

/** Scheduler counters of the jobs that ran under one job group. */
final class GroupStats {
  var jobsStarted, jobsEnded, stages, tasks = 0
  var taskBusyMs, taskCpuNs, gcMs, schedWaitMs = 0L
  var inputBytes, inputRecords = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  val stageIntervals = ArrayBuffer[(Long, Long)]()
}

/** Attributes every job, stage and task to the job group
  * (`sc.setJobGroup(requestId)`) it ran under. All mutation happens on
  * the listener-bus thread; readers call `stats` only after `drain`.
  */
final class GroupListener extends SparkListener {
  private val groups      = new ConcurrentHashMap[String, GroupStats]()
  private val jobGroup    = new ConcurrentHashMap[Int, String]()
  private val stageGroup  = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()

  private def of(group: String): GroupStats = groups.computeIfAbsent(group, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(stageGroup.put(_, g))
    val s = of(g)
    s.jobsStarted += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val s = of(jobGroup.getOrDefault(e.jobId, ""))
    s.jobsEnded += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = of(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    s.stages += 1
    val start = e.stageInfo.submissionTime.getOrElse(stageSubmit.getOrDefault(e.stageInfo.stageId, 0L))
    s.stageIntervals += ((start, e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = of(stageGroup.getOrDefault(e.stageId, ""))
    s.tasks += 1
    val submitted = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
    s.schedWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
    val m = e.taskMetrics
    if (m != null) {
      s.taskBusyMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait until every event posted so far has been delivered, then
    * check the accounting: every job seen started has been seen ended.
    */
  def drain(sc: SparkContext, group: String): GroupStats = {
    org.apache.spark.perfbench.BusDrain.drain(sc)
    synchronized {
      val s = of(group)
      require(s.jobsStarted == s.jobsEnded,
        s"listener accounting: group $group saw ${s.jobsStarted} jobs start but ${s.jobsEnded} end")
      groups.remove(group)
      s
    }
  }
}

object Intervals {
  /** Milliseconds of [from, to] covered by the union of `xs`. */
  def covered(xs: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curA  = Long.MinValue
    var curB  = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
