package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge

import graft.{SparkSuite, Tables}

/** The widening helpers decide from the scan's file listing: the split
  * count equals the scan's `getNumPartitions`, and the byte gate the
  * optimizer's size estimate, with no SQL execution and no job. */
class QueryGroupSpec extends SparkSuite {

  private object G extends QueryGroup {
    def queries: Map[String, Q] = Map.empty
    def oracle: Map[String, String] = Map.empty
    def splits(df: DataFrame): Int = scanSplits(df)
    def narrowHeavy(df: DataFrame, bytes: Long): Boolean = narrowHeavyScan(df, bytes)
    def widened(df: DataFrame): DataFrame = widen(df)(identity)
    val gates: Seq[Long] = Seq(0L, SpreadDocKernel, SpreadRowKernel, SpreadAggScan)
  }

  /** `body`'s result and the SQL executions it started. */
  private def sqlExecutionsDuring[A](body: => A): (A, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ =>
      }
    }
    graftbridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      graftbridge.drainListenerBus(spark)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def assertSameDecisions(df: DataFrame, label: String): Unit = {
    val want = df.rdd.getNumPartitions
    val (got, executions) = sqlExecutionsDuring(G.splits(df))
    assert(got == want, s"$label: $got splits from the listing, the scan plans $want")
    assert(executions == 0, s"$label: the split count ran $executions SQL execution(s)")
    val target = spark.sparkContext.defaultParallelism
    for (bytes <- G.gates) {
      val old = df.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(bytes) && want < target
      assert(G.narrowHeavy(df, bytes) == old, s"$label: narrowHeavyScan($bytes) changed")
    }
  }

  test("the split count and the byte gate equal the scan's on every test table, with no SQL execution") {
    val sfs = Seq("sf0.001", "sf0.01", "sf0.1").filter(d => new java.io.File(sf(d)).isDirectory)
    assert(sfs.contains("sf0.001"))
    for (d <- sfs; t <- Tables.names) assertSameDecisions(Tables(spark, sf(d), t), s"$d/$t")
    val events = Tables(spark, sf(), "events")
    val (wide, executions) = sqlExecutionsDuring(G.widened(events))
    assert(executions == 0 && wide.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("the split count equals the scan's on many files of many row groups, and under a small split size") {
    val dir = java.nio.file.Files.createTempDirectory("graft_splits").toString + "/t.parquet"
    spark.range(0, 300000, 1, 5).selectExpr("id", "cast(id * 7 AS string) AS s")
      .write.option("parquet.block.size", 256 * 1024).parquet(dir)
    val df = spark.read.parquet(dir)
    assertSameDecisions(df, "5 files")
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "65536")
    try {
      val small = spark.read.parquet(dir)
      assert(small.rdd.getNumPartitions > spark.sparkContext.defaultParallelism,
        "vacuity: a small split size must cut the files into more splits than cores")
      assertSameDecisions(small, "64 KiB splits")
    } finally spark.conf.set(key, saved)
  }

  test("a frame that is not one file scan is rejected, naming its leaves") {
    val a = Tables(spark, sf(), "nation")
    val err = intercept[IllegalArgumentException](G.splits(a.join(a, "n_nationkey")))
    assert(err.getMessage.contains("Relation"), err.getMessage)
  }
}
