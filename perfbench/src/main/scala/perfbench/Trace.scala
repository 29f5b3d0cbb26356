package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval. Times are epoch milliseconds (fractional for
  * spans the harness times itself, whole for scheduler events). `qp`
  * is the query-pass id every span of one query execution shares. */
final case class Span(qp: String, kind: String, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Aggregated task metrics of one stage. */
final class StageAgg {
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var waitMs = 0.0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
}

final case class JobRec(id: Int, start: Long, end: Long, stageIds: Seq[Int],
    viaTables: Boolean)
final case class StageRec(id: Int, submit: Long, end: Long, agg: StageAgg)

/** Records job, stage and task events while attached to the context.
  * Scheduler events arrive on the listener bus thread, so every access
  * goes through `this` as the lock. */
final class SchedTrace extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int], Boolean)]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageAgg = mutable.Map.empty[Int, StageAgg]
  private val jobsDone = mutable.ArrayBuffer.empty[JobRec]
  private val stagesDone = mutable.ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val viaTables = e.stageInfos.exists(_.details.contains("graft.tables.Tables"))
    jobStart(e.jobId) = (e.time, e.stageIds, viaTables)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, stages, viaTables) =>
      jobsDone += JobRec(e.jobId, t0, e.time, stages, viaTables)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmit(e.stageInfo.stageId) = t
    stageAgg.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val t0 = stageSubmit.remove(id)
      .orElse(e.stageInfo.submissionTime).getOrElse(0L)
    val t1 = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    stagesDone += StageRec(id, t0, t1, stageAgg.remove(id).getOrElse(new StageAgg))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
    stageSubmit.get(e.stageId).foreach { s =>
      a.waitMs += math.max(0L, e.taskInfo.launchTime - s).toDouble
    }
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime.toDouble
      a.cpuMs += m.executorCpuTime / 1e6
      a.gcMs += m.jvmGCTime.toDouble
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Completed jobs and stages recorded so far; clears the buffers. */
  def drain(): (Seq[JobRec], Seq[StageRec]) = synchronized {
    val r = (jobsDone.toList, stagesDone.toList)
    jobsDone.clear(); stagesDone.clear()
    r
  }
}

/** Interval arithmetic over spans. */
object Spans {
  /** Length of the union of `kids`, clipped to [s, e]. */
  def covered(s: Double, e: Double, kids: Seq[(Double, Double)]): Double = {
    val clipped = kids.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Span time minus the part its children cover. */
  def self(s: Double, e: Double, kids: Seq[(Double, Double)]): Double =
    (e - s) - covered(s, e, kids)

  def within(s: Double, e: Double, t: Double): Boolean = t >= s && t < e
}
