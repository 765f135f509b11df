package graft.sources

import graft.SparkSuite
import graft.functions.{ManifestFileIndex, TableLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The round-14 DSv2 spike widened to the full lake surface: v2 WRITES
  * (batch + exactly-once streaming, committed through the same
  * appendBatch path as v1) and the v2 MICRO-BATCH tail (version
  * offsets, the v1 source delegated to as the control plane). The
  * judge is parity: a table written and tailed entirely through v2
  * must be indistinguishable — rows, ledger, change feed — from the
  * v1 faces. */
class TableLogV2StreamSpec extends SparkSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_dsv2s").toString + "/t"
  private def ckpt(): String =
    java.nio.file.Files.createTempDirectory("graft_dsv2s_ck").toString

  private def batch(b: Int, n: Int = 100): DataFrame =
    Seq.tabulate(n)(i => (b * 1000L + i, s"v$b-$i")).toDF("id", "v")

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("v2 batch write appends through the commit path; overwrite is rejected") {
    val dir = fresh()
    TableLog.appendBatch(batch(0).coalesce(1), dir, "boot", 0L)
    batch(1).write.format("tablelogv2").mode("append").save(dir)
    val m = TableLog.latest(spark, dir).get
    assert(m.rows == 200L && m.op == "append")
    assert(m.commits.keys.exists(_.startsWith("batchwrite-")),
      s"the v2 batch write must carry a writer identity: ${m.commits.keys}")
    assert(canon(TableLog.read(spark, dir)) ==
      canon(batch(0).unionAll(batch(1))))
    // no staging debris
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_staging")), "staging dir leaked")
    intercept[Exception] {
      batch(2).write.format("tablelogv2").mode("overwrite").save(dir)
    }
    assert(TableLog.rows(spark, dir) == 200L)
  }

  test("v2 batch save CREATES a fresh table — the engine hands getTable the query schema") {
    val dir = fresh()
    batch(0).write.format("tablelogv2").mode("append").save(dir)
    val m = TableLog.latest(spark, dir).get
    assert(m.rows == 100L && m.op == "append")
    assert(m.schema.get.fieldNames.toSeq == Seq("id", "v"),
      "the first save must record the query schema")
    assert(canon(spark.read.format("tablelogv2").load(dir)) ==
      canon(batch(0)))
  }

  test("v2 batch write: schema drift is rejected loudly, nothing lands") {
    val dir = fresh()
    TableLog.appendBatch(batch(0).coalesce(1), dir, "boot", 0L)
    val e = intercept[Exception] {
      Seq((1L, 2.5)).toDF("id", "score")
        .write.format("tablelogv2").mode("append").save(dir)
    }
    assert(e.getMessage.contains("schema") || e.getMessage.contains("DATA"),
      e.getMessage)
    assert(TableLog.rows(spark, dir) == 100L)
  }

  test("v2 streaming write CREATES the table and is exactly-once across a checkpointed restart") {
    val dir = fresh()
    val ck = ckpt()
    val in = MemoryStream[(Long, String)]
    def start() = in.toDF().toDF("id", "v")
      .writeStream.format("tablelogv2")
      .option("path", dir).option("checkpointLocation", ck)
      .outputMode("append").start()
    in.addData((0L, "a"), (1L, "b"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val m1 = TableLog.latest(spark, dir).get
    assert(m1.rows == 2L, "the first epoch must create the table")
    assert(m1.schema.get.fieldNames.toSeq == Seq("id", "v"))
    // restart from the same checkpoint: the engine may replay the last
    // epoch; the ledger must fence it (same runKey — checkpoint-derived)
    in.addData((2L, "c"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = TableLog.read(spark, dir)
    assert(got.count() == 3L, s"rows doubled or lost: ${canon(got)}")
    assert(got.select($"id").distinct().count() == 3L)
    assert(TableLog.latest(spark, dir).get.commits.size == 1,
      "one checkpoint must be ONE writer identity")
  }

  test("v2 micro-batch tail: backlog then live appends, version offsets, file pruning per window") {
    val dir = fresh()
    val ck = ckpt()
    val out = ckpt() + "/out"
    TableLog.appendBatch(batch(0).coalesce(1), dir, "r", 0L)
    TableLog.appendBatch(batch(1).coalesce(1), dir, "r", 1L)
    val q = spark.readStream.format("tablelogv2")
      .option("since", "-1").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 200L)
      // live appends keep flowing, one version per window
      TableLog.appendBatch(batch(2).coalesce(1), dir, "r", 2L)
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 300L)
    } finally q.stop()
    assert(canon(spark.read.parquet(out)) ==
      canon(TableLog.read(spark, dir)))
  }

  test("v2 tail restart resumes from the checkpointed version exactly once") {
    val dir = fresh()
    val ck = ckpt()
    val out = ckpt() + "/out"
    TableLog.appendBatch(batch(0).coalesce(1), dir, "r", 0L)
    def start() = spark.readStream.format("tablelogv2")
      .option("since", "-1").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    TableLog.appendBatch(batch(1).coalesce(1), dir, "r", 1L) // offline commit
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == 200L, "a version was re-emitted or skipped")
    assert(canon(got) == canon(TableLog.read(spark, dir)))
  }

  test("the all-v2 round trip: v2 streaming write -> v2 micro-batch tail, with pushed filters pruning per window") {
    val src = fresh()
    val dst = ckpt() + "/out"
    val ckW = ckpt()
    val ckR = ckpt()
    val in = MemoryStream[(Long, String)]
    in.addData((0L, "keep"), (1L, "drop"))
    val w = in.toDF().toDF("id", "v").coalesce(1)
      .writeStream.format("tablelogv2")
      .option("path", src).option("checkpointLocation", ckW)
      .outputMode("append").start()
    try {
      w.processAllAvailable()
      TableLog.trackStats(spark, src, Seq("id"))
      in.addData((1000L, "keep2"))
      w.processAllAvailable()
      val r = spark.readStream.format("tablelogv2")
        .option("since", "-1").load(src)
        .filter($"id" >= 1000L) // pushed: prunes pre-1000 files per window
        .writeStream.format("parquet").option("path", dst)
        .option("checkpointLocation", ckR).outputMode("append").start()
      try r.processAllAvailable() finally r.stop()
    } finally w.stop()
    val got = spark.read.parquet(dst)
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(1000L))
  }

  test("the change feed of a table written ENTIRELY through v2 matches the v1 feed contract") {
    val dir = fresh()
    val ck = ckpt()
    val in = MemoryStream[(Long, String)]
    in.addData((0L, "a"), (1L, "b"), (2L, "c"))
    val w = in.toDF().toDF("id", "v").coalesce(1)
      .writeStream.format("tablelogv2")
      .option("path", dir).option("checkpointLocation", ck)
      .outputMode("append").start()
    try w.processAllAvailable() finally w.stop()
    TableLog.deleteIn(spark, dir, "id", Seq(1L))
    val (feed, v) = TableLog.readChanges(spark, dir, -1L)
    assert(v == 1L)
    val f = feed.get
    assert(f.filter($"_change_type" === "append").count() == 3L)
    val dels = f.filter($"_change_type" === "delete").collect()
    assert(dels.length == 1 && dels(0).getLong(0) == 1L)
  }

  test("v2 tail honors maxVersionsPerTrigger — the delegated v1 control plane caps each window") {
    val dir = fresh()
    val ck = ckpt()
    (0 until 10).foreach(b =>
      TableLog.appendBatch(batch(b, 50).coalesce(1), dir, "r", b.toLong))
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("tablelogv2")
      .option("since", "-1").option("maxVersionsPerTrigger", "2").load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.add(df.count()); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = sizes.asScala.toVector
    assert(got.sum == 500L, s"rows lost or doubled across windows: $got")
    assert(got.forall(_ <= 100L),
      s"a window exceeded the 2-version cap: $got")
    assert(got.count(_ > 0) >= 5, s"backlog not actually windowed: $got")
  }

  test("a capped v2 tail restart delivers exactly once") {
    val dir = fresh()
    val ck = ckpt()
    val windows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    def append(b: Int): Unit =
      TableLog.appendBatch(batch(b, 50).coalesce(1), dir, "r", b.toLong)
    def start() = spark.readStream.format("tablelogv2")
      .option("since", "-1").option("maxVersionsPerTrigger", "2").load(dir)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (df: DataFrame, _: Long) =>
        windows.add(df.select("id").as[Long].collect().toSeq); ()
      }.start()
    (0 until 3).foreach(append)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // offline commits: the restart resumes at the checkpointed version 2,
    // and its first capped window is counted from there, not from since
    (3 until 8).foreach(append)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    val got = windows.asScala.toVector.filter(_.nonEmpty)
    assert(got.flatten.sorted == (0 until 8).flatMap(b => b * 1000L until b * 1000L + 50),
      s"rows lost or re-emitted across the restart: ${got.map(_.size)}")
    assert(got.forall(_.size <= 100), s"a window exceeded the 2-version cap: ${got.map(_.size)}")
    assert(got.size == 5, s"backlog not windowed 2 versions at a time: ${got.map(_.size)}")
  }

  test("Trigger.AvailableNow on the v2 tail drains the backlog in capped batches, then stops") {
    val dir = fresh()
    (0 until 6).foreach(b =>
      TableLog.appendBatch(batch(b, 50).coalesce(1), dir, "r", b.toLong))
    val windows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = spark.readStream.format("tablelogv2")
      .option("since", "-1").option("maxVersionsPerTrigger", "2").load(dir)
      .writeStream.option("checkpointLocation", ckpt())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        windows.add(df.select("id").as[Long].collect().sorted.toSeq); ()
      }.start()
    try assert(q.awaitTermination(120000L), "the AvailableNow query did not stop")
    finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = windows.asScala.toVector
    assert(got == (0 until 6).grouped(2).map(_.flatMap(b =>
        b * 1000L until b * 1000L + 50)).toVector,
      s"the backlog was not drained 2 versions at a time: ${got.map(_.size)}")
  }

  test("SQL INSERT INTO a tablelogv2 table commits through the append path") {
    val dir = fresh()
    TableLog.appendBatch(batch(0).coalesce(1), dir, "boot", 0L)
    spark.sql("DROP TABLE IF EXISTS dsv2_ins")
    spark.sql(s"CREATE TABLE dsv2_ins USING tablelogv2 OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT INTO dsv2_ins VALUES (7777, 'sql-row'), (7778, 'sql-row2')")
      val m = TableLog.latest(spark, dir).get
      assert(m.rows == 102L && m.op == "append",
        s"SQL insert did not land as a committed append: $m")
      assert(TableLog.read(spark, dir)
        .filter($"v".startsWith("sql-row")).count() == 2L)
      // the catalog-cached relation serves its pinned snapshot; REFRESH
      // re-resolves — the standard external-commit contract
      spark.sql("REFRESH TABLE dsv2_ins")
      assert(spark.sql("SELECT count(*) FROM dsv2_ins").head().getLong(0) == 102L)
    } finally spark.sql("DROP TABLE dsv2_ins")
  }

  test("readChangeFeed on the v2 stream redirects loudly to the v1 face") {
    val dir = fresh()
    TableLog.appendBatch(batch(0).coalesce(1), dir, "r", 0L)
    val e = intercept[Exception] {
      spark.readStream.format("tablelogv2")
        .option("readChangeFeed", "true").option("since", "-1").load(dir)
        .writeStream.format("noop").start().processAllAvailable()
    }
    assert(e.getMessage.contains("tablelog") ||
      Option(e.getCause).exists(_.getMessage.contains("tablelog")),
      s"wrong error: ${e.getMessage}")
  }
}
