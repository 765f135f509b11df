package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.examples.{IndexFollower, TrainingDataPipeline}
import graft.functions.{AnnIndex, TableLog}

/** The composed lake pipeline over `documents ⋈ embeddings`, measured by
  * the stream workload's traced run. One pass, in a fresh directory:
  * ingest (8 appends at seed-chosen doc_id boundaries) → dedup verdicts
  * (the MinHash state pipeline over the version tail) → compact + vacuum
  * → follow (ANN + dedup index from the change feed) → curate + token
  * budget → takedown of 20 seed-chosen documents. The takedown is checked
  * here; the curated count and token budget are recorded and checked by
  * `perfbench/stats.py` against the corpus's recorded values. */
final class LakePipeline {
  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val corpus = graft.Tables(spark, ctx.dataDir, "documents")
      .join(graft.Tables(spark, ctx.dataDir, "embeddings")
        .withColumnRenamed("vec_id", "doc_id"), "doc_id")
      .select($"doc_id", $"text", $"lang", $"source", $"embedding")
      .cache()
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    runPass(ctx, corpus, ids, new Random(ctx.seed))
    corpus.unpersist(true)
  }

  private def stage[T](ctx: Ctx, name: String)(body: => T): T = {
    ctx.phase(s"pipeline.$name")
    val t = System.nanoTime()
    val r = ctx.trace.span("pipeline", name)(body)
    ctx.out.rec("stage", "stage" -> name, "s" -> Main.sec(t))
    r
  }

  private def runPass(ctx: Ctx, input: DataFrame, pids: Array[Long], rnd: Random): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val root = s"${ctx.tmpRoot}/pipeline"
    val corpusDir = s"$root/corpus"
    val verdictDir = s"$root/verdicts"
    val handoffDir = s"$root/handoff"
    val ddxDir = s"$root/dedup_index"
    val t0 = System.nanoTime()

    val nb = 8
    val cuts = (0L +: (1 until nb).map(_ => pids(1 + rnd.nextInt(pids.length - 1))).sorted
      :+ Long.MaxValue).distinct
    stage(ctx, "ingest") {
      cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), b) =>
        ctx.trace.span("tablelog", "appendBatch") {
          TableLog.appendBatch(input.filter($"doc_id" >= lo && $"doc_id" < hi),
            corpusDir, "ingest", b.toLong)
        }
        if (b == 0) TableLog.trackStats(spark, corpusDir, Seq("doc_id"))
      }
    }
    stage(ctx, "dedup_verdicts") {
      val q = graft.streaming.Dedup.minhashVerdicts(
          TableLog.readTailVersions(spark, corpusDir, since = Some(-1L))
            .select($"doc_id", $"text", $"doc_id".as("seq"))
            .as[(Long, String, Long)])
        .toDF("doc_id", "seq", "root_doc", "is_keeper")
        .writeStream.format("parquet").option("path", verdictDir)
        .option("checkpointLocation", s"$root/verdict_ck")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    stage(ctx, "compact") {
      TableLog.compact(spark, corpusDir, targetBytes = 32L << 20, layoutBy = Seq("doc_id"))
    }
    stage(ctx, "vacuum")(TableLog.vacuum(spark, corpusDir, graceMs = 600000L))
    val ann = AnnIndex.build(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL("vec_id LONG, embedding ARRAY<FLOAT>")),
      "perfbench_ann", planes = 8, buckets = 16)
    stage(ctx, "follow") {
      IndexFollower.catchUp(spark, corpusDir, s"$root/follower_state", ann, ddxDir)
    }
    val (curated, budget) = stage(ctx, "curate") {
      TableLog.read(spark, corpusDir).drop("embedding").write.parquet(handoffDir)
      val n = TrainingDataPipeline.curate(spark, handoffDir, verdictDir).count()
      val b = TrainingDataPipeline.tokenBudget(spark, handoffDir, verdictDir)
        .agg(sum($"token_budget")).as[Long].collect().headOption.getOrElse(0L)
      (n, b)
    }
    val victims = rnd.shuffle(pids.toSeq).take(20).sorted
    val td = stage(ctx, "takedown") {
      IndexFollower.takedown(spark, corpusDir, ddxDir, ann, victims)
    }
    val total = Main.sec(t0)
    val keepers = spark.read.parquet(verdictDir).filter($"is_keeper").count()
    val left = TableLog.read(spark, corpusDir).filter($"doc_id".isin(victims: _*)).count()
    val rows = TableLog.read(spark, corpusDir).count()
    ctx.out.rec("pipeline", "s" -> total, "docs" -> pids.length,
      "keepers" -> keepers, "curated" -> curated, "token_budget" -> budget,
      "files_live" -> TableLog.latest(spark, corpusDir).map(_.files.length).getOrElse(0))
    ctx.out.rec("check", "name" -> "pipeline.takedown", "ok" -> (td.corpusRows == victims.length &&
      left == 0 && rows == pids.length - victims.length),
      "detail" -> s"removed ${td.corpusRows} of ${victims.length}, $left victims left, $rows rows")
  }
}
