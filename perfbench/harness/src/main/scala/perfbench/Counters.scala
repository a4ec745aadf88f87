package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._

/** Scheduler counters of one job group (one operation call). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var exchangeStages = 0L
  var taskAttempts = 0L
  var tasksOk = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var outputRows = 0L
  /** (start, end) epoch-ms intervals of this group's jobs. */
  val jobIntervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's own SparkListener. Every operation runs under a job
  * group the benchmark sets, so jobs, stages and tasks are attributed
  * to the operation from outside the program. When tracing is on it
  * also records job and stage spans, parented to the operation's action
  * span through the job group. */
final class Counters(trace: Trace) extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String, Int)]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  /** job group -> (epoch ms, span id) marks: a job's parent is the
    * span marked last at or before the job started */
  private val marks = new ConcurrentHashMap[String, Vector[(Long, Int)]]()

  def mark(group: String, spanId: Int): Unit =
    marks.merge(group, Vector((System.currentTimeMillis(), spanId)), _ ++ _)

  private def parentAt(group: String, ms: Long): Int =
    Option(marks.get(group)).flatMap(_.filter(_._1 <= ms).lastOption.map(_._2)).getOrElse(0)

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  def take(group: String): GroupStats = {
    marks.remove(group)
    val s = groups.remove(group)
    if (s == null) new GroupStats else s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      val id = trace.newId()
      jobStart.put(e.jobId, (e.time, g, id))
      jobSpan.put(e.jobId, id)
      e.stageIds.foreach { s => stageGroup.put(s, g); stageJob.putIfAbsent(s, e.jobId) }
      stats(g).synchronized { stats(g).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val st = jobStart.remove(e.jobId)
    if (st != null) {
      val (t0, g, id) = st
      val s = stats(g)
      s.synchronized { s.jobIntervals += ((t0, e.time)) }
      trace.add(id, parentAt(g, t0), "job", s"job ${e.jobId}",
        trace.epochMsToUs(t0), trace.epochMsToUs(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = stageGroup.get(info.stageId)
    if (g != null) {
      val s = stats(g)
      val m = info.taskMetrics
      s.synchronized {
        s.stages += 1
        if (m != null && (m.shuffleReadMetrics.totalBytesRead > 0 ||
            m.shuffleWriteMetrics.bytesWritten > 0)) s.exchangeStages += 1
      }
      for (t0 <- info.submissionTime; t1 <- info.completionTime) {
        val job = stageJob.get(info.stageId)
        trace.add(trace.newId(), jobSpan.getOrDefault(job, 0), "stage",
          s"stage ${info.stageId}", trace.epochMsToUs(t0), trace.epochMsToUs(t1))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null) {
      val s = stats(g)
      val m = e.taskMetrics
      s.synchronized {
        s.taskAttempts += 1
        if (e.taskInfo.successful) s.tasksOk += 1
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRows += m.inputMetrics.recordsRead
          s.outputBytes += m.outputMetrics.bytesWritten
          s.outputRows += m.outputMetrics.recordsWritten
        }
      }
    }
  }
}
