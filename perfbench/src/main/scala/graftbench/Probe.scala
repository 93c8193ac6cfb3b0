package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Counters of one job group: a `pass/key/phase` string the driver sets
  * before each call into the library. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var retries = 0L
  var schedWaitMs = 0L
  var scanRows = 0L
  var scanBytes = 0L
  var scanTasks = 0L
  var writeBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def json: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
    "spill" -> spill, "retries" -> retries, "sched_wait_ms" -> schedWaitMs,
    "scan_rows" -> scanRows, "scan_bytes" -> scanBytes,
    "scan_tasks" -> scanTasks, "write_bytes" -> writeBytes,
    "task_ms" -> Json.arr(taskMs.toSeq))
}

/** The benchmark's Spark listener.
  *
  * Untraced it only follows the cached RDD blocks. Traced (switched per
  * pass) it also keeps every counter of [[Counts]], a span per job and
  * stage, and the last physical plan of each SQL execution. Everything
  * stays in memory and is read after
  * [[org.apache.spark.BenchBridge.drainListeners]]. */
final class Probe extends SparkListener {
  /** Switched by the driver between passes, after the bus is drained. */
  @volatile var traced = false
  val counts = mutable.LinkedHashMap.empty[String, Counts]
  /** (kind, id, group, start epoch ms, end epoch ms, parent job id) */
  val spans = mutable.ArrayBuffer.empty[(String, Int, String, Long, Long, Int)]
  /** Peak bytes of cached or checkpointed RDD blocks, per pass. */
  val cachedPeak = mutable.Map.empty[String, Long]
  /** Job group of each SQL execution's jobs, and its latest plan. */
  val executionGroup = mutable.Map.empty[Long, String]
  val executionPlan = mutable.Map.empty[Long, SparkPlanInfo]

  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageFirstLaunch = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val blocks = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  @volatile var currentPass: String = "setup"

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  private def of(group: String): Counts = counts.getOrElseUpdate(group, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    e.stageIds.foreach { s => stageGroup.getOrElseUpdate(s, g); stageJob.getOrElseUpdate(s, e.jobId) }
    if (traced) {
      of(g).jobs += 1
      jobStart(e.jobId) = (g, e.time)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => executionGroup.getOrElseUpdate(id.toLong, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (traced) jobStart.remove(e.jobId).foreach { case (g, t0) =>
      spans += (("job", e.jobId, g, t0, e.time, -1))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.getOrElseUpdate(e.stageInfo.stageId, groupOf(e.properties))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!traced) return
    val i = e.stageInfo
    val g = stageGroup.getOrElse(i.stageId, "none")
    val c = of(g)
    c.stages += 1
    for (sub <- i.submissionTime; first <- stageFirstLaunch.get(i.stageId))
      c.schedWaitMs += math.max(0L, first - sub)
    for (sub <- i.submissionTime; end <- i.completionTime)
      spans += (("stage", i.stageId, g, sub, end, stageJob.getOrElse(i.stageId, -1)))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    if (traced) {
      val prev = stageFirstLaunch.getOrElse(e.stageId, Long.MaxValue)
      stageFirstLaunch(e.stageId) = math.min(prev, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!traced) return
    val c = of(stageGroup.getOrElse(e.stageId, "none"))
    val m = e.taskMetrics
    c.tasks += 1
    if (e.reason != Success) c.retries += 1
    c.taskMs += e.taskInfo.duration
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.writeBytes += m.outputMetrics.bytesWritten
      val in = m.inputMetrics
      if (in.bytesRead > 0 || in.recordsRead > 0) {
        c.scanRows += in.recordsRead
        c.scanBytes += in.bytesRead
        c.scanTasks += 1
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedNow += size - blocks.getOrElse(id, 0L)
      if (size == 0L) blocks.remove(id) else blocks(id) = size
      val p = currentPass
      cachedPeak(p) = math.max(cachedPeak.getOrElse(p, 0L), cachedNow)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => executionPlan(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate => executionPlan(u.executionId) = u.sparkPlanInfo
      case _ =>
    }
  }
}
