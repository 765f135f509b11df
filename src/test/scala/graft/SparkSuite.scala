package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + helpers for all suites (one JVM-wide session). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `body`'s result and the number of Spark jobs it started (the
    * listener bus is drained before and after, so no job is missed or
    * counted from before). */
  def jobsDuring[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.sql.graftbridge.drainListenerBus(spark)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Stop a ProcessingTime-triggered query without interrupting a
    * mid-commit micro-batch: `stop()` interrupts the stream thread, and an
    * interrupt landing inside a state-store commit logs a
    * CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT ERROR (benign but noisy).
    * Waiting for the trigger gap first keeps test logs ERROR-free.
    * (`processAllAvailable` is not usable here — it need not terminate
    * once processing-time timeouts are registered.)
    */
  def stopQuiesced(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (q.status.isTriggerActive && System.nanoTime() < deadline) Thread.sleep(10)
    q.stop()
  }

  /** `build` over a parquet file stream, run once per element of
    * `batches`: each batch is appended to the source, then the query
    * starts from the same checkpoint and runs until it has processed it,
    * so every batch after the first arrives after a restart. Returns the
    * file sink's rows and the checkpoint dir. */
  def runRestarting(batches: org.apache.spark.sql.DataFrame*)(
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, String) = {
    val Seq(src, ckpt, out) = Seq("src", "ckpt", "out")
      .map(n => java.nio.file.Files.createTempDirectory(s"graft_restart_$n").toString)
    batches.foreach { b =>
      b.coalesce(1).write.mode("append").parquet(src)
      val q = build(spark.readStream.schema(b.schema).parquet(src))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    (spark.read.parquet(out), ckpt)
  }

  /** Run `body` with the RocksDB state store provider (required by the
    * transformWithState operators), restoring the previous provider after.
    */
  def withRocksDBState[A](body: => A): A = withStateStoreProvider(
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Run `body` with the given state store provider class, restoring the
    * previous provider after.
    */
  def withStateStoreProvider[A](providerClass: String)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, providerClass)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSuite {
  lazy val session: SparkSession = Sessions.local("4", "graft-test")
}
