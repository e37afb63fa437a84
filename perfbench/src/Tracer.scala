package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.SchedulerBridge
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._

/** The traced run's view of the scheduler: a listener registered by the
  * benchmark (never by the program) that collects each op's jobs and
  * stages. Ops run one at a time, so after an op returns and the bus is
  * drained, every job recorded since the previous op belongs to it;
  * jobs whose group is not the op's (threads that never saw the group)
  * still count toward the op and are also counted as unattributed.
  * A stage is a map stage when it produces shuffle output — the rule
  * [[graft.plans.JobEventLog]] uses.
  */
final class Tracer(sc: SparkContext) extends SparkListener {

  private final class StageAcc {
    var isMap = false
    var submitMs = -1L
    var completeMs = -1L
    var completed = false
    var failedTasks = 0
    var cpuNs = 0L
    var gcMs = 0L
    var spillBytes = 0L
    var peakMem = 0L
    var swBytes = 0L
    var swRecords = 0L
    var fetchWaitMs = 0L
    var inRecords = 0L
    var inBytes = 0L
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
    val taskReadBytes = mutable.ArrayBuffer.empty[Long]
  }

  private val jobGroups = mutable.ArrayBuffer.empty[String]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAcc]
  private var selfNs = 0L

  sc.addSparkListener(this)

  private def timed(f: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    f
    selfNs += System.nanoTime() - t
  }

  private def acc(stageId: Int, attempt: Int): StageAcc =
    stages.getOrElseUpdate((stageId, attempt), new StageAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobGroups += Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val a = acc(si.stageId, si.attemptNumber())
    a.isMap = SchedulerBridge.producesShuffleOutput(si)
    a.submitMs = si.submissionTime.getOrElse(-1L)
    a.completeMs = si.completionTime.getOrElse(-1L)
    a.completed = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val a = acc(e.stageId, e.stageAttemptId)
    if (e.reason != org.apache.spark.Success) a.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.spillBytes += m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.swBytes += m.shuffleWriteMetrics.bytesWritten
      a.swRecords += m.shuffleWriteMetrics.recordsWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.inRecords += m.inputMetrics.recordsRead
      a.inBytes += m.inputMetrics.bytesRead
      a.taskRunMs += m.executorRunTime
      a.taskReadBytes += m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** Seconds spent inside this listener's callbacks so far. */
  def selfSeconds: Double = synchronized(selfNs / 1e9)

  def begin(group: String): Unit = sc.setJobGroup(group, group)

  /** Drop everything recorded since the last op (warm-up, checks). */
  def discard(): Unit = {
    sc.clearJobGroup()
    ListenerBusDrain(sc)
    synchronized { jobGroups.clear(); stages.clear() }
  }

  /** Close op `group` that ran over [startMs, endMs]: its jobs and
    * completed stages, with the raw counters `run.py` turns into
    * metrics. */
  def end(group: String, startMs: Long, endMs: Long): Map[String, Any] = {
    sc.clearJobGroup()
    ListenerBusDrain(sc)
    synchronized {
      val rec = Map(
        "start_ms" -> startMs, "end_ms" -> endMs,
        "jobs" -> jobGroups.size,
        "jobs_unattributed" -> jobGroups.count(_ != group),
        "stages" -> stages.values.filter(_.completed).map { a =>
          val srBytes = a.taskReadBytes.sum
          Map(
            "map" -> a.isMap, "submit_ms" -> a.submitMs, "complete_ms" -> a.completeMs,
            "tasks" -> a.taskRunMs.size, "failed_tasks" -> a.failedTasks,
            "run_s" -> a.taskRunMs.sum / 1e3, "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
            "spill_mb" -> a.spillBytes / 1048576.0, "peak_mem_mb" -> a.peakMem / 1048576.0,
            "sw_mb" -> a.swBytes / 1048576.0, "sw_records" -> a.swRecords,
            "sr_mb" -> srBytes / 1048576.0, "fetch_wait_s" -> a.fetchWaitMs / 1e3,
            "in_records" -> a.inRecords, "in_mb" -> a.inBytes / 1048576.0,
            "task_run_ms" -> a.taskRunMs.toSeq,
            "task_read_bytes" -> (if (srBytes > 0) a.taskReadBytes.toSeq else Seq.empty))
        }.toSeq)
      jobGroups.clear()
      stages.clear()
      rec
    }
  }
}
