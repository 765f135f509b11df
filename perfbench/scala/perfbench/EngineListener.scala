package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Engine-layer counters from Spark's public listener bus, attributed to
  * the benchmark phase (query group, stream rung, pipeline stage) that
  * was current when each job started. The phase is a global label, so
  * jobs the engine runs on its own threads (stream triggers, table
  * appends) land in the phase during which they were submitted. */
final class EngineListener extends SparkListener {
  @volatile var phase: String = "setup"
  /** While off, jobs are attributed to the phase `untraced`. */
  @volatile var on: Boolean = true
  private var selfNs = 0L

  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shReadB, shWriteB, spillB = 0L
    var serialStageMs = 0L
    val skews = mutable.ArrayBuffer.empty[Double]
  }

  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def acc(p: String): Acc = accs.getOrElseUpdate(p, new Acc)

  private def timed(body: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    body
    selfNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = if (on) phase else "untraced"
    acc(p).jobs += 1
    e.stageIds.foreach(s => stagePhase(s) = p)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val a = acc(stagePhase.getOrElse(e.stageId, phase))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shReadB += m.shuffleReadMetrics.totalBytesRead
      a.shWriteB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    val a = acc(stagePhase.getOrElse(info.stageId, phase))
    a.stages += 1
    val times = stageTaskMs.remove((info.stageId, info.attemptNumber()))
      .getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
    if (info.numTasks == 1)
      for (s <- info.submissionTime; c <- info.completionTime) a.serialStageMs += c - s
    if (times.length >= 2) {
      val med = times(times.length / 2).max(1L)
      a.skews += times.last.toDouble / med
    }
    stagePhase.remove(info.stageId)
  }

  /** One record per phase with its totals, and the listener's own cost. */
  def writeTo(out: Out): Unit = synchronized {
    out.rec("listener", "self_s" -> selfNs / 1e9)
    accs.foreach { case (p, a) =>
      out.rec("engine", "phase" -> p, "jobs" -> a.jobs, "stages" -> a.stages,
        "tasks" -> a.tasks, "task_run_s" -> a.runMs / 1e3,
        "task_cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
        "shuffle_read_mb" -> a.shReadB / 1e6,
        "shuffle_write_mb" -> a.shWriteB / 1e6, "spill_mb" -> a.spillB / 1e6,
        "serial_stage_s" -> a.serialStageMs / 1e3, "skews" -> a.skews.toSeq)
    }
  }
}
