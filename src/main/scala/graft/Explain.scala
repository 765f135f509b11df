package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Plan-audit tool: `runMain graft.Explain <query> [sfDir]` prints the
  * formatted physical plan of one SparkEntry query, executes it (noop
  * write), and lists per-stage task counts and times — the fastest way to
  * see whether an expensive kernel stage actually ran at full parallelism
  * or collapsed onto one task. Conf A/B runs go through
  * `SPARK_GRAFT_SESSION_CONF` ([[Sessions.local]]).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <queryName> [sfDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.local(appName = s"graft-explain-$name")
    val stages = ArrayBuffer.empty[(Int, String, Int, Long, Long, Long, Long)]
    val details = ArrayBuffer.empty[(Int, String)]
    val jobs = ArrayBuffer.empty[(Int, Seq[Int], String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        val desc = Option(ev.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(ev.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs += ((ev.jobId, ev.stageIds, desc.take(160)))
      }
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val ms = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        val tm = si.taskMetrics
        stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(60), si.numTasks, ms,
          tm.executorRunTime, tm.executorCpuTime / 1000000, tm.jvmGCTime))
        if (si.numTasks == 1) details += ((si.stageId,
          si.rddInfos.map(r => s"rdd ${r.id} ${r.name} @ ${r.callSite}")
            .mkString("\n")))
      }
    })
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - t0) / 1e9
    // listener events are asynchronous: drain the bus before reading
    org.apache.spark.sql.graftbridge.drainListenerBus(spark)
    println(f"%nTIMED: $name = $total%.3f s (construction excluded)%n")
    println("stage  tasks  wall_ms   run_ms   cpu_ms    gc_ms  name")
    stages.sortBy(_._1).foreach { case (id, nm, tasks, ms, run, cpu, gc) =>
      println(f"$id%5d  $tasks%5d  $ms%7d  $run%7d  $cpu%7d  $gc%7d  $nm")
    }
    // SPARK_GRAFT_STAGE_DETAILS=1: full callsite stack of each 1-task
    // stage — serial stages are where local-mode walls hide, and the
    // one-line name often truncates the interesting frame
    if (sys.env.get("SPARK_GRAFT_STAGE_DETAILS").contains("1")) {
      println("jobs (id, stages, description/callsite):")
      jobs.foreach { case (id, ss, d) => println(f"  job $id%3d  stages ${ss.mkString(",")}%-12s  $d") }
      details.foreach { case (id, d) =>
        println(s"--- stage $id details ---"); println(d)
      }
    }
    spark.stop()
  }
}
