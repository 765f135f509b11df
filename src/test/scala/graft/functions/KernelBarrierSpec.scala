package graft.functions

import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

/** The barrier keeps a filter above it and is otherwise invisible: column
  * pruning still narrows its child, and batch, adaptive and streaming
  * planning all accept it and leave no operator behind. */
class KernelBarrierSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def docs = Tables(spark, sf(), "documents")

  test("a filter on a kernel's output stays above the barrier; pruning narrows the child") {
    val df = KernelBarrier.over(docs.select($"doc_id", $"lang", native.tokens($"text").as("toks")))
      .filter(size($"toks") >= 1)
      .select($"doc_id", size($"toks").as("n"))
    val plan = df.queryExecution.optimizedPlan
    val barrier = plan.collectFirst { case b: KernelBarrier => b }.get
    assert(barrier.child.output.map(_.name) == Seq("doc_id", "toks"), plan)
    assert(!barrier.child.exists(_.isInstanceOf[Filter]), s"a filter passed the barrier:\n$plan")
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("ReadSchema: struct<doc_id:bigint,text:string>"), exec)
    val want = docs.select($"doc_id", size(native.tokens($"text")).as("n"))
      .filter($"n" >= 1).as[(Long, Int)].collect().sorted.toSeq
    assert(df.as[(Long, Int)].collect().sorted.toSeq == want)
  }

  test("adaptive re-planning accepts the barrier above and below a shuffle") {
    val counts = KernelBarrier.over(docs.repartition(3))
      .groupBy($"lang").agg(count(lit(1)).as("n"))
    val df = KernelBarrier.over(counts).join(docs.select($"lang", $"doc_id"), "lang")
      .groupBy($"lang").agg(max($"n").as("n"), count(lit(1)).as("m"))
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val exec = df.queryExecution.executedPlan
    assert(exec.isInstanceOf[AdaptiveSparkPlanExec] &&
      exec.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan, exec)
    assert(collect(exec) { case s: ShuffleQueryStageExec => s }.nonEmpty, exec)
    val want = docs.groupBy($"lang").agg(count(lit(1)).as("n"), count(lit(1)).as("m"))
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(got == want)
  }

  test("a streaming aggregation over the barrier passes the streaming checks and runs") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[String]
    val words = KernelBarrier.over(in.toDF().select(native.tokens($"value").as("toks")))
      .filter(size($"toks") >= 2)
      .select(explode($"toks").as("w"))
    val q = words.groupBy($"w").count().writeStream
      .format("memory").queryName("kernel_barrier_t").outputMode("complete").start()
    try {
      in.addData("a b", "c", "a d")
      q.processAllAvailable()
      in.addData("b b")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("kernel_barrier_t").as[(String, Long)].collect().sorted.toSeq
    assert(got == Seq("a" -> 2L, "b" -> 3L, "d" -> 1L))
  }
}
