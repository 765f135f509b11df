package graft.tools

import java.nio.file.Files

import graft.Sessions
import graft.functions.TableLog

/** Multi-writer commit contention, standalone (a harness of its own so
  * the group-commit fold is measured without a 6-minute streaming
  * suite around it): N driver threads with DISTINCT
  * runKeys interleave 1k-row batches into ONE table. The final
  * manifest must hold every batch — a mismatch prints a NEGATIVE rate
  * so a lost batch can never read as fast. Prints one JSON line with
  * commits/s at 2, 4 and 8 writers.
  *
  * `--fork`: the CROSS-PROCESS leg — the same contention with N real
  * JVMs ([[MwChild]] via [[ForkedJvm]]) instead of threads, so no
  * group-commit queue or store mutex can quietly serialize the
  * writers; a start barrier keeps Spark startup jitter out of the
  * window. The commit path is the [[graft.functions.CommitStore]] CAS
  * alone (hard-link publish on `file:`). Rates are NOT comparable to
  * the thread rows (per-process sessions, no fold across processes);
  * the row exists to measure the contract where it is hardest. */
object MwBench {

  /** One forked-contention run: N child JVMs, distinct runKeys, shared
    * table; returns commits/s over [barrier-release, last child's done
    * stamp], negative on any lost/duplicated batch. */
  private def forkRun(spark: org.apache.spark.sql.SparkSession,
                      writers: Int, batches: Int, rows: Int): Double = {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_mwf")
    val dir = root.toString + "/t"
    val barrier = root.resolve("barrier")
    // schema-setting warm batch so children race appends, not the
    // first-ever-append schema election
    locally {
      import spark.implicits._
      TableLog.appendBatch(
        Seq.tabulate(rows)(i => (900000000L + i, "warm")).toDF("id", "v")
          .coalesce(1), dir, "warm", 0L)
    }
    val procs = (0 until writers).map { w =>
      val results = root.resolve(s"results-$w")
      (w, results, ForkedJvm.spawn("graft.tools.MwChild",
        Seq(dir, s"w$w", "0", batches.toString, rows.toString,
          results.toString, barrier.toString)))
    }
    val deadline = System.currentTimeMillis() + 120000L
    while ((0 until writers).exists(w =>
        !java.nio.file.Files.exists(barrier.resolve(s"ready-w$w")))) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("a fork child never became ready")
      Thread.sleep(20)
    }
    java.nio.file.Files.write(barrier.resolve("go"), Array.empty[Byte])
    val t0 = System.currentTimeMillis()
    procs.foreach { case (w, _, p) =>
      require(p.waitFor(5, java.util.concurrent.TimeUnit.MINUTES) &&
        p.exitValue() == 0, s"fork child $w failed")
    }
    val tEnd = procs.map { case (_, r, _) =>
      java.nio.file.Files.readAllLines(r).asScala
        .find(_.startsWith("done:")).map(_.stripPrefix("done:").toLong)
        .getOrElse(Long.MaxValue)
    }.max
    val sec = (tEnd - t0) / 1e3
    val read = TableLog.read(spark, dir)
    val expect = (writers * batches + 1).toLong * rows
    val ok = TableLog.rows(spark, dir) == expect &&
      read.count() == expect &&
      read.select("id").distinct().count() == expect
    (if (ok) 1 else -1) * writers * batches / sec
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--fork")) {
      val spark = Sessions.local(cpus = "8", appName = "graft-mwbench-fork")
      forkRun(spark, 2, 6, 1000) // JIT/classload warmup pass, unrecorded
      val f2 = forkRun(spark, 2, 12, 1000)
      val f4 = forkRun(spark, 4, 12, 1000)
      // 8 × 4-core children saturate the 32-thread box — this leg
      // measures the commit protocol under full-machine contention,
      // not headroom scaling
      val f8 = forkRun(spark, 8, 12, 1000)
      println(f"""{"multi_writer_fork2_commits_per_sec":$f2%.1f,"multi_writer_fork4_commits_per_sec":$f4%.1f,"multi_writer_fork8_commits_per_sec":$f8%.1f}""")
      spark.stop()
      return
    }
    val spark = Sessions.local(appName = "graft-mwbench")
    import spark.implicits._
    val mwRows = 1000
    val mwBatches = 8
    def rmTemp(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
    def mwRun(writers: Int): Double = {
      val mwRoot = Files.createTempDirectory("graft_mw")
      val mwDir = mwRoot.toString + "/t"
      def mwDf(w: Int, b: Int) =
        Seq.tabulate(mwRows)(i =>
          (w * 1000000000L + b * 10000L + i, s"w$w-b$b", 0L))
          .toDF("doc_id", "text", "seq").coalesce(1)
      TableLog.appendBatch(mwDf(99, 0), mwDir, "warm", 0L) // schema + JIT
      val threads = (0 until writers).map { w =>
        new Thread(() => (0 until mwBatches).foreach { b =>
          TableLog.appendBatch(mwDf(w, b), mwDir, s"w$w", b.toLong)
        })
      }
      val t = System.nanoTime()
      threads.foreach(_.start())
      threads.foreach(_.join())
      val sec = (System.nanoTime() - t) / 1e9
      val ok = TableLog.rows(spark, mwDir) ==
        (writers * mwBatches + 1).toLong * mwRows
      rmTemp(mwRoot)
      (if (ok) 1 else -1) * writers * mwBatches / sec
    }
    mwRun(2) // JIT/classload warmup pass, unrecorded
    val r2 = mwRun(2)
    val r4 = mwRun(4)
    val r8 = mwRun(8)
    println(f"""{"multi_writer_commits_per_sec":$r2%.1f,"multi_writer4_commits_per_sec":$r4%.1f,"multi_writer8_commits_per_sec":$r8%.1f}""")
    spark.stop()
  }
}
