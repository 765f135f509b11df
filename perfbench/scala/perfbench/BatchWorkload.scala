package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.queries._

/** `batch_queries`: a closed loop of one client over the engine's batch
  * query surface (`SparkEntry.queries`, grouped by their `QueryGroup`).
  * Each pass runs every selected query once, in an order shuffled from
  * the seed; a query is planned (DataFrame construction + physical plan)
  * and then executed through a no-op write, which materializes every
  * row. The warm-up pass executes each query through `collect` instead
  * and records its result fingerprint for the correctness gate.
 *
 * A pass takes about `PassSeconds` on a 4-core machine, and a run makes
 * `1 + seconds / PassSeconds` passes (rounded): the same number in every
 * run with the same `seconds`, because passes keep getting faster as the
 * JIT warms up and a run that fits one more pass would read faster. The
 * first pass still runs the no-op write path cold, so `perfbench/stats.py`
 * leaves it out when there are more. */
final class BatchWorkload extends Workload {
  private val PassSeconds = 5.0
  private val groups: Seq[(String, QueryGroup)] = Seq(
    "CoreOps" -> CoreOps, "WindowOps" -> WindowOps, "ExtraOps" -> ExtraOps,
    "MiscOps" -> MiscOps, "JoinOps" -> JoinOps, "TextOps" -> TextOps,
    "DedupOps" -> DedupOps, "SimilarityOps" -> SimilarityOps,
    "MultimodalOps" -> MultimodalOps, "MlOps" -> MlOps,
    "PipelineOps" -> PipelineOps, "CurationOps" -> CurationOps,
    "SketchOps" -> SketchOps, "GovernanceOps" -> GovernanceOps,
    "ScaleOps" -> ScaleOps)

  private var selected: Seq[(String, String, QueryGroup#Q)] = Nil

  def prepare(ctx: Ctx, attempt: Int): Unit = {
    selected = for {
      (g, qg) <- groups
      (name, fn) <- qg.queries.toSeq.sortBy(_._1)
      if ctx.queries.contains(name)
    } yield (g, name, fn)
    // open the tables the kernel queries read (file listing + footer)
    Seq("documents", "embeddings", "events").foreach(t =>
      graft.Tables(ctx.spark, ctx.dataDir, t).schema)
  }

  private def plan(ctx: Ctx, name: String, fn: QueryGroup#Q): (DataFrame, Double) =
    ctx.trace.span("queries.plan", name) {
      val t = System.nanoTime()
      val df = fn(ctx.spark, ctx.dataDir)
      df.queryExecution.executedPlan
      (df, Main.sec(t))
    }

  def warmup(ctx: Ctx): Unit = selected.foreach { case (g, name, fn) =>
    val (df, _) = plan(ctx, name, fn)
    val rows = df.collect()
    ctx.out.rec("fingerprint", "query" -> name, "group" -> g,
      "rows" -> rows.length, "hash" -> Fingerprint.of(rows))
  }

  def measure(ctx: Ctx): Unit = {
    val rnd = new Random(ctx.seed)
    val passes = 1 + (ctx.seconds / PassSeconds).round.toInt
    for (pass <- 0 until passes) {
      // a traced run measures every other pass untraced: the difference
      // is the tracing overhead
      val traced = ctx.trace.enabled && pass % 2 == 0
      ctx.trace.on = traced
      ctx.engine.on = traced
      val tp = System.nanoTime()
      rnd.shuffle(selected).foreach { case (g, name, fn) =>
        ctx.phase(g)
        ctx.trace.span("queries", g) {
          val (df, planS) = plan(ctx, name, fn)
          val t = System.nanoTime()
          val err = ctx.trace.span("queries.exec", name) {
            try { df.write.format("noop").mode("overwrite").save(); "" }
            catch { case e: Exception => String.valueOf(e.getMessage).take(300) }
          }
          ctx.out.rec("query", "pass" -> pass, "query" -> name, "group" -> g,
            "plan_s" -> planS, "exec_s" -> Main.sec(t), "error" -> err)
        }
      }
      ctx.out.rec("pass", "pass" -> pass, "s" -> Main.sec(tp), "traced" -> traced)
    }
  }

  def check(ctx: Ctx): Unit = ()
}

/** Order-free fingerprint of a collected result: the sum, modulo 2^64,
  * of a 64-bit hash of each row's canonical text. */
object Fingerprint {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach { r =>
      val bytes = canon(r).getBytes("UTF-8")
      h += scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x5bd1e995).toLong << 32 ^
        scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x1b873593).toLong & 0xffffffffL
    }
    java.lang.Long.toHexString(h)
  }
}
