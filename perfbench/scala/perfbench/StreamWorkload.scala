package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.functions.TableLog

/** `stream_events`: an open loop. The generator (the driver thread)
  * appends one seed-generated version of events `(user_id, value,
  * created_ms)` to a TableLog on a fixed schedule (`tick_ms`), with
  * Zipf(1.0) keys over 200,000 users; a version-offset tail
  * (`readTailVersions`) feeds a filter → groupBy(user_id) update-mode
  * sum/count/max aggregation. Phases: a `light` rung (the per-commit and
  * per-trigger fixed costs), then `cycles` outages (the query stops while
  * the generator appends `outage` versions of the heavy rate's size), each
  * followed by a restart from the checkpoint that catches up on the
  * backlog (per-row operator and state-store cost). Every append and
  * every trigger progress is recorded; latencies, lag and coverage are
  * computed from the records. `minLight` sizes the light rung. */
final class StreamWorkload(minLight: Int = 20, outage: Int = 3, cycles: Int = 3)
    extends Workload {
  private val users = 200000
  // one version per second keeps the light rung below saturation on a
  // 4-core machine: an append (~0.3 s) and a trigger (~0.5 s) fit a tick
  private val TickMs = 1000L
  private val LightRate = 10000.0   // events/s
  private val HeavyRate = 100000.0  // events/s, the outage's version size
  private var dir, ckpt = ""
  private var first = 0L                       // the table's first version
  private var head = 0L                        // last committed version
  private val processed = new AtomicLong(-1L)  // end offset of last trigger
  @volatile private var rung = "warmup"
  private var query: StreamingQuery = _
  private var rnd: SplittableRandom = _
  private var generated = 0L

  // Zipf(1.0) over `users` keys by inverse CDF
  private lazy val cdf: Array[Double] = {
    val w = Array.tabulate(users)(i => 1.0 / (i + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def zipf(): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    (if (i >= 0) i else -i - 1).min(users - 1).toLong
  }

  /** `n` events; `created_ms` is stamped with the due time at append. */
  private def events(ctx: Ctx, n: Int): DataFrame = {
    import ctx.spark.implicits._
    val rows = Array.fill(n) {
      // value in cents, so sums are exact in any order
      (zipf(), (-50.0 * math.log(1.0 - rnd.nextDouble()) * 100).toLong)
    }
    generated += n
    rows.toSeq.toDF("user_id", "value")
  }

  def prepare(ctx: Ctx, attempt: Int): Unit = {
    rnd = new SplittableRandom(ctx.seed)
    generated = 0L
    dir = s"${ctx.tmpRoot}/stream$attempt/events"
    ckpt = s"${ctx.tmpRoot}/stream$attempt/checkpoint"
    // the first version fixes the schema; its one event (value 0) is
    // before the stream's start and below the filter
    TableLog.appendBatch(events(ctx, 1).withColumn("value", lit(0L))
      .withColumn("created_ms", lit(System.currentTimeMillis())), dir, "gen", 0L)
    first = TableLog.latest(ctx.spark, dir).get.version
    head = first
  }

  private def start(ctx: Ctx): StreamingQuery =
    TableLog.readTailVersions(ctx.spark, dir, since = Some(first))
      .filter(col("value") >= 100L)
      .groupBy(col("user_id"))
      .agg(sum(col("value")).as("total"), count(lit(1)).as("n"), max(col("value")).as("top"))
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt)
      .queryName("perfbench_stream").start()

  /** Appends `versions` versions of `rate` events/s, one per tick, each
    * due at a fixed time from now (`onSchedule`), or back to back; records due,
    * start and end of every append. */
  private def generate(ctx: Ctx, label: String, rate: Double, versions: Int,
                       tickMs: Long, onSchedule: Boolean = true): Unit = {
    val perVersion = math.max(1, (rate * tickMs / 1000).round.toInt)
    val batches = (0 until versions).map(_ => events(ctx, perVersion))
    val t0 = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (df, i) =>
      val due = if (onSchedule) t0 + i * tickMs else System.currentTimeMillis()
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val s = System.currentTimeMillis()
      ctx.trace.span("tablelog", "appendBatch") {
        TableLog.appendBatch(df.withColumn("created_ms", lit(due)), dir, "gen", head + 1)
      }
      head += 1
      ctx.out.rec("version", "v" -> head, "rung" -> label, "rows" -> perVersion,
        "due_ms" -> due, "start_ms" -> s, "end_ms" -> System.currentTimeMillis())
    }
  }

  /** Waits (bounded) until the query's last trigger covers `head`. */
  private def drain(limitMs: Long): Boolean = {
    val until = System.currentTimeMillis() + limitMs
    while (processed.get() < head && System.currentTimeMillis() < until) Thread.sleep(10)
    processed.get() >= head
  }

  def warmup(ctx: Ctx): Unit = {
    ctx.spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        // the session's other streaming queries (a traced run's pipeline)
        if (p.name == "perfbench_stream") {
          p.sources.headOption.flatMap(s => Option(s.endOffset)).foreach(o =>
            processed.set(o.trim.stripPrefix("\"").stripSuffix("\"").toLong))
          ctx.out.rec("trigger", "rung" -> rung, "progress" -> Json.Raw(p.json))
        }
      }
    })
    query = start(ctx)
    // light versions last and five of them: after two, the light rung's
    // first versions still took up to twice as long as its later ones
    runRung(ctx, "warmup", HeavyRate, 1)
    runRung(ctx, "warmup", LightRate, 5)
  }

  private def runRung(ctx: Ctx, label: String, rate: Double, versions: Int): Unit = {
    rung = label
    ctx.phase(s"stream.$label")
    ctx.out.rec("rung", "rung" -> label, "rate" -> rate, "tick_ms" -> TickMs,
      "start_ms" -> System.currentTimeMillis())
    generate(ctx, label, rate, versions, TickMs)
    drain(5000)
  }

  /** The light rung (the run's seconds, and >= 20 versions so that its
    * median has 10 samples beyond it); then the outage cycles: heavy
    * versions appended back to back, the restart from the checkpoint and
    * the catch-up. */
  def measure(ctx: Ctx): Unit = {
    runRung(ctx, "light", LightRate,
      math.max(minLight, (ctx.seconds * 1000 / TickMs).toInt))
    for (_ <- 0 until cycles) outageCycle(ctx)
    query.stop()
  }

  private def outageCycle(ctx: Ctx): Unit = {
    // the consumer is down while the producer keeps appending
    query.stop()
    rung = "outage"
    ctx.phase("stream.outage")
    val backlogFrom = head
    val rowsBefore = generated
    generate(ctx, "outage", HeavyRate, outage, TickMs, onSchedule = false)
    rung = "catchup"
    ctx.phase("stream.catchup")
    val t = System.currentTimeMillis()
    query = ctx.trace.span("streaming", "restart")(start(ctx))
    val ok = drain(30000)
    ctx.out.rec("catchup", "from_v" -> backlogFrom, "to_v" -> head,
      "events" -> (generated - rowsBefore), "restart_ms" -> t, "caught_up" -> ok)
  }

  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val latest = TableLog.latest(spark, dir).get.version
    val all = TableLog.read(spark, dir)
    val stored = all.count()
    val expect = all.filter(col("value") >= 100L).groupBy(col("user_id"))
      .agg(sum(col("value")).as("total"), count(lit(1)).as("n")).cache()
    // the aggregation's final state, read back through the state store
    val state = spark.read.format("statestore").load(ckpt)
      .selectExpr("key.user_id AS user_id", "value.*")
    val got = state.select(col("user_id"), col(state.columns(1)).as("total"),
      col(state.columns(2)).as("n")).cache()
    val missing = expect.exceptAll(got).count()
    val extra = got.exceptAll(expect).count()
    expect.unpersist(); got.unpersist()
    ctx.out.rec("table", "versions" -> latest, "rows" -> stored,
      "bytes" -> TableLog.latest(spark, dir).get.bytes)
    ctx.out.rec("check", "name" -> "stream_state", "ok" -> (missing == 0 && extra == 0 &&
      latest == head && stored == generated),
      "detail" -> (s"state rows missing=$missing extra=$extra head=$head latest=$latest " +
        s"stored=$stored generated=$generated state_cols=${state.columns.mkString(",")}"))
  }
}
