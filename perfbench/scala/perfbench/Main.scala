package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the record file, the span
  * recorder, the engine listener and the run's parameters. */
final case class Ctx(spark: SparkSession, out: Out, trace: Trace,
                     engine: EngineListener, seed: Long, seconds: Double,
                     dataDir: String, tmpRoot: String, queries: Seq[String]) {
  /** Labels engine jobs started from now on (see [[EngineListener]]). */
  def phase(p: String): Unit = engine.phase = p
}

/** One benchmark workload. `prepare` is the repeatable part of set-up
  * (timed three times, median reported); `warmup` runs once before the
  * measured phase; `measure` runs about `seconds` of units of work;
  * `check` verifies the program's outputs and records the verdicts. */
trait Workload {
  def prepare(ctx: Ctx, attempt: Int): Unit
  def warmup(ctx: Ctx): Unit
  def measure(ctx: Ctx): Unit
  def check(ctx: Ctx): Unit
}

/** JVM entry point, started by `perfbench/run.py`:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *  <tmpRoot> <recordFile> <query,query,...>`; the last argument names
  * the `SparkEntry` queries of the batch workload. */
object Main {
  def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, tmpRoot, recFile, queries) = args
    val out = new Out(recFile)
    val w: Workload = workload match {
      case "batch_queries" => new BatchWorkload
      case "stream_events" => new StreamWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(cpus = cpus.toString, appName = s"perfbench-$workload")
    val sessionS = sec(t0)
    val engine = new EngineListener
    if (trace == "1") spark.sparkContext.addSparkListener(engine)
    val ctx = Ctx(spark, out, new Trace(trace == "1", s"$workload-$seed"), engine,
      seed.toLong, seconds.toDouble, dataDir, tmpRoot, queries.split(",").toSeq)
    try {
      ctx.trace.on = false
      val prepares = (0 until 3).map { i =>
        val t = System.nanoTime(); w.prepare(ctx, i); sec(t)
      }
      ctx.phase("warmup")
      val t1 = System.nanoTime()
      w.warmup(ctx)
      out.rec("setup", "cpus" -> cpus, "session_s" -> sessionS,
        "prepare_s" -> prepares, "warmup_s" -> sec(t1))
      ctx.trace.on = ctx.trace.enabled
      w.measure(ctx)
      ctx.phase("check")
      w.check(ctx)
      if (ctx.trace.enabled) {
        // a traced run measures every layer: the other workload's in a
        // reduced form (one cold batch pass; a five-version light rung and
        // a two-version backlog), and one pass of the lake pipeline; its
        // set-up runs untraced, like the run's own
        val reduced = ctx.copy(seconds = 0)
        ctx.trace.on = false
        if (workload == "batch_queries") {
          val s = new StreamWorkload(minLight = 5, outage = 2, cycles = 1)
          s.prepare(reduced, 0); s.warmup(reduced)
          ctx.trace.on = true; ctx.engine.on = true
          s.measure(reduced); s.check(reduced)
        } else {
          val b = new BatchWorkload
          b.prepare(reduced, 0)
          ctx.trace.on = true; ctx.engine.on = true
          b.measure(reduced)
        }
        new LakePipeline().run(ctx)
        ctx.trace.on = false
        KernelProbe.run(ctx)
        ctx.trace.writeTo(out)
        engine.writeTo(out)
      }
      val rt = Runtime.getRuntime
      out.rec("jvm", "heap_used_mb" -> (rt.totalMemory() - rt.freeMemory()) / 1e6)
      out.rec("done")
    } finally {
      out.close()
      spark.stop()
    }
  }
}
