package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The fluent facade: element-wise ops on typed streams, SDF-style frame
  * ops, and the updating (update-output-mode) grouped aggregation — the
  * docs' canonical `sdf[sdf.name=='Alice'].amount.sum()` flow
  * (docs/source/dataframes.rst:38-46).
  */
object GraftFrameSpec {
  // sink target: static so the executor-side ForeachWriter (same JVM in
  // local mode) and the test assertion see the same collection
  val sunk = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}

class GraftFrameSpec extends SparkSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("GraftStream: map/filter/flatten/union on a typed stream") {
    val in = MemoryStream[Int]
    val s = new GraftStream(in.toDS())
    val out = s.map(i => Seq(i, i * 10)).flatten[Int].filter(_ % 2 == 0).remove(_ > 100)
    val q = out.sinkToList("gs_t")
    in.addData(1, 2, 3, 11)
    q.processAllAvailable(); q.stop()
    val got = spark.table("gs_t").as[Int].collect().sorted
    assert(got.toSeq == Seq(2, 10, 20, 30)) // 110 removed, odds filtered
  }

  test("reenter: nlargest chained after a running groupby sum (updating " +
    "composition, dataframe/core.py:200-227 Frames contract)") {
    val in = MemoryStream[(String, Double)]
    val gf = new GraftStream(in.toDS()).toDF
      .pluck("_1", "_2")
      .groupby("_1").sumOf("_2")
    // continuation: a SECOND relational stage (sort + limit) over the
    // updating aggregate — rejected inside one streaming query, legal here
    val q = gf.reenter("reenter_top") { agg =>
      agg.orderBy(desc("sum__2"), asc("_1")).limit(2)
    }
    try {
      // pandas-modeled oracle: running per-key sums, top 2 by (sum desc,
      // key asc) — each emission REPLACES the previous result
      def expectTop2(rows: (String, Double)*): Unit = {
        val want = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
          .sortBy { case (k, s) => (-s, k) }.take(2)
        val got = spark.table("global_temp.reenter_top")
          .as[(String, Double)].collect().toSeq
          .sortBy { case (k, s) => (-s, k) }
        assert(got == want, s"got $got want $want")
      }
      val b1 = Seq(("a", 5.0), ("b", 9.0), ("c", 1.0))
      in.addData(b1); q.processAllAvailable()
      expectTop2(b1: _*)
      // batch 2 revises the ranking: c overtakes both, a overtakes b
      val b2 = Seq(("c", 20.0), ("a", 6.0))
      in.addData(b2); q.processAllAvailable()
      expectTop2(b1 ++ b2: _*)
      assert(spark.table("global_temp.reenter_top").count() == 2) // replaced, not appended
    } finally {
      q.stop()
      GraftFrame.dropReentered(spark, "reenter_top")
    }
    // cleanup released the view and its epoch caches
    assert(!spark.catalog.tableExists("global_temp.reenter_top"))
  }

  test("sink: runs f per element executor-side (ForeachWriter, no driver collect)") {
    val in = MemoryStream[Int]
    GraftFrameSpec.sunk.clear()
    val q = new GraftStream(in.toDS()).map(_ * 2).sink { i =>
      GraftFrameSpec.sunk.add(i) // executor thread in local mode (same JVM)
    }
    in.addData(1, 2, 3); q.processAllAvailable()
    in.addData(4); q.processAllAvailable(); q.stop()
    import scala.jdk.CollectionConverters._
    assert(GraftFrameSpec.sunk.asScala.toSeq.sorted == Seq(2, 4, 6, 8))
  }

  test("mapAsync: ordered emission — output order matches input order per " +
    "partition despite uneven per-element latency (core.py:722-835 contract)") {
    val ds = spark.range(0, 100, 1, 2).as[Long]
    val out = new GraftStream(ds).mapAsync { i =>
      if (i % 7 == 0) Thread.sleep(1) // uneven latency must not reorder
      i * 2
    }.ds.collect()
    // collect() concatenates partitions in order; mapPartitions preserves
    // order within each, so the full sequence is order-preserved
    assert(out.toSeq == (0L until 100L).map(_ * 2))
  }

  test("mapAsync parallelism>1: in-flight overlap within a partition, " +
    "still ordered (core.py:722-835 bounded-parallelism contract)") {
    val ds = spark.range(0, 32, 1, 1).as[Long] // ONE partition
    def run(par: Int): (Seq[Long], Long) = {
      val t0 = System.nanoTime()
      val out = new GraftStream(ds).mapAsync({ i => Thread.sleep(25); i * 2 }, par)
        .ds.collect().toSeq
      (out, (System.nanoTime() - t0) / 1000000)
    }
    val (seqOut, seqMs) = run(1)   // 32 × 25ms ≈ 800ms sequential
    val (parOut, parMs) = run(8)   // ⌈32/8⌉ × 25ms ≈ 100ms overlapped
    assert(seqOut == (0L until 32L).map(_ * 2))
    assert(parOut == seqOut) // ordered emission regardless of completion order
    // generous bound: parallel must beat sequential by ≥ 2× (true ratio ~8×)
    assert(parMs * 2 < seqMs, s"no overlap: sequential ${seqMs}ms, parallel ${parMs}ms")
  }

  test("mapAsync stopOnException=false (reference default): failing elements " +
    "are dropped, the rest flow on in order (core.py:755)") {
    val ds = spark.range(0, 10, 1, 1).as[Long]
    def boom(i: Long): Long =
      if (i % 3 == 0) throw new RuntimeException(s"boom $i") else i * 2
    // sequential path
    val seq1 = new GraftStream(ds).mapAsync(boom _).ds.collect().toSeq
    assert(seq1 == Seq(2L, 4L, 8L, 10L, 14L, 16L))
    // overlapped path: same drops, same order
    val par = new GraftStream(ds).mapAsync(boom _, parallelism = 4).ds.collect().toSeq
    assert(par == seq1)
  }

  test("mapAsync stopOnException=true: the exception propagates and fails the job") {
    val ds = spark.range(0, 10, 1, 1).as[Long]
    def boom(i: Long): Long =
      if (i == 5) throw new RuntimeException("boom 5") else i
    // the task failures below are the behavior under test — mute the
    // executor's ERROR logging for their duration to keep logs clean
    spark.sparkContext.setLogLevel("OFF")
    try {
      val eSeq = intercept[org.apache.spark.SparkException] {
        new GraftStream(ds).mapAsync(boom _, stopOnException = true).ds.collect()
      }
      assert(eSeq.getMessage.contains("boom 5") ||
        Option(eSeq.getCause).exists(_.getMessage.contains("boom 5")))
      val ePar = intercept[org.apache.spark.SparkException] {
        new GraftStream(ds).mapAsync(boom _, parallelism = 4, stopOnException = true)
          .ds.collect()
      }
      assert(ePar.getMessage.contains("boom 5") ||
        Option(ePar.getCause).exists(_.getMessage.contains("boom 5")))
    } finally spark.sparkContext.setLogLevel("WARN")
  }

  test("docs flagship: filter name == Alice, running grouped sum, update mode") {
    val in = MemoryStream[(String, Double)]
    val sdf = new GraftFrame(in.toDF().toDF("name", "amount"))
    val agg = sdf.where(col("name") === "Alice").groupby("name").sumOf("amount")
    val q = agg.writeStream.format("memory").queryName("alice_t").outputMode("update").start()
    in.addData(("Alice", 50.0), ("Bob", 100.0)); q.processAllAvailable()
    in.addData(("Alice", 200.0)); q.processAllAvailable(); q.stop()
    // update mode: one row per batch where the group changed; last is the total
    val got = spark.table("alice_t").as[(String, Double)].collect().map(_._2).sorted
    assert(got.toSeq == Seq(50.0, 250.0))
  }

  test("GraftFrame batch ops: assign/query/astype/valueCounts/nlargest") {
    val df = Seq(("a", 1.0), ("b", 2.0), ("a", 3.0)).toDF("k", "v")
    val f = new GraftFrame(df)
    assert(f.assign("v2", col("v") * 2).df.select(sum("v2")).head().getDouble(0) == 12.0)
    assert(f.query("v > 1.5").df.count() == 2)
    assert(f.astype("v", "long").df.schema("v").dataType.typeName == "long")
    val vc = f.valueCounts("k").df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(vc == Map("a" -> 2L, "b" -> 1L))
    assert(f.nlargest(1, "v").df.head().getDouble(1) == 3.0)
    // df.round(n): non-tie values as pandas; a .5 tie rounds half up
    // (pandas rounds half to even: 2.5 -> 2.0)
    val rounded = new GraftFrame(Seq(1.26, 2.04, 2.5).toDF("v")).roundTo("v", 1).df
    assert(rounded.as[Double].collect().toSeq == Seq(1.3, 2.0, 2.5))
    assert(new GraftFrame(Seq(2.5).toDF("v")).roundTo("v", 0).df.as[Double].head() == 3.0)
    // set_index: the index column orders the rolling windows
    val byV = f.setIndex("v").globalWindow().cumsum("v").df
      .select("v", "expanding_v").as[(Double, Double)].collect().toMap
    assert(f.setIndex("v").indexCol == "v" && byV == Map(1.0 -> 1.0, 2.0 -> 3.0, 3.0 -> 6.0))
    // groupby var/std: sample moments (ddof = 1); one row gives null (pandas NaN)
    def moments(g: GroupedGraftFrame => GraftFrame) =
      g(f.groupby("k")).df.as[(String, Option[Double])].collect().toMap
    assert(moments(_.varOf("v")) == Map("a" -> Some(2.0), "b" -> None))
    assert(moments(_.stdOf("v")) == Map("a" -> Some(math.sqrt(2.0)), "b" -> None))
  }

  test("rolling/expanding/cumulative facade matches pandas-style semantics") {
    val df = Seq(("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 3.0), ("b", 4, 10.0), ("b", 5, 20.0))
      .toDF("k", "ts", "v")
    val f = new GraftFrame(df, indexCol = "ts")
    // rolling(2).<agg> per key over the trailing 2 rows (a partial
    // window at each key's first row)
    val rolling = Seq[(String, GraftFrame => GraftFrame, Map[Int, Double])](
      ("sum", _.rollingSum("v", 2, "k"), Map(1 -> 1.0, 2 -> 3.0, 3 -> 5.0, 4 -> 10.0, 5 -> 30.0)),
      ("mean", _.rollingMean("v", 2, "k"), Map(1 -> 1.0, 2 -> 1.5, 3 -> 2.5, 4 -> 10.0, 5 -> 15.0)),
      ("min", _.rollingMin("v", 2, "k"), Map(1 -> 1.0, 2 -> 1.0, 3 -> 2.0, 4 -> 10.0, 5 -> 10.0)),
      ("max", _.rollingMax("v", 2, "k"), Map(1 -> 1.0, 2 -> 2.0, 3 -> 3.0, 4 -> 10.0, 5 -> 20.0)),
      ("aggregate(max - min)",
        _.rollingApply(2, a => array_max(a) - array_min(a), "v", "k"),
        Map(1 -> 0.0, 2 -> 1.0, 3 -> 1.0, 4 -> 0.0, 5 -> 10.0)))
    for ((name, op, want) <- rolling) {
      val got = op(f).df.select("ts", "rolling_v").as[(Int, Double)].collect().toMap
      assert(got == want, s"rolling $name")
    }
    val cum = f.cumsum("v", "k").df
      .select("ts", "expanding_v").as[(Int, Double)].collect().toMap
    assert(cum == Map(1 -> 1.0, 2 -> 3.0, 3 -> 6.0, 4 -> 10.0, 5 -> 30.0))
    val em = f.expandingMean("v", "k").df
      .select("ts", "expanding_v").as[(Int, Double)].collect().toMap
    assert(em(3) == 2.0 && em(5) == 15.0)
  }

  test("frequencies: running count per distinct value in update mode") {
    val in = MemoryStream[String]
    val q = new GraftStream(in.toDS()).frequencies
      .writeStream.format("memory").queryName("freq_t").outputMode("update").start()
    in.addData("x", "y", "x"); q.processAllAvailable()
    in.addData("x"); q.processAllAvailable(); q.stop()
    // update mode emits revised counts; latest per value wins
    val got = spark.table("freq_t").as[(String, Long)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
    assert(got == Map("x" -> 3L, "y" -> 1L))
  }

  test("unique: streaming dedupe drops duplicates across micro-batches") {
    val in = MemoryStream[(String, Double)]
    val sdf = new GraftFrame(in.toDF().toDF("k", "v"))
    val q = sdf.unique("k").writeStream
      .format("memory").queryName("uniq_t").outputMode("append").start()
    in.addData(("a", 1.0), ("b", 2.0), ("a", 9.0)); q.processAllAvailable()
    in.addData(("b", 9.0), ("c", 3.0)); q.processAllAvailable(); q.stop()
    val got = spark.table("uniq_t").as[(String, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq("a", "b", "c"))
    assert(got.toMap == Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0)) // first kept
  }

  test("timedWindow watermark: late data beyond the watermark is dropped " +
    "(beyond the reference, which ignores out-of-order data entirely)") {
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val sdf = new GraftFrame(in.toDF().toDF("ts", "v"), indexCol = "ts")
    val agg = sdf.timedWindow("10 seconds", "5 seconds").sumOf("v")
    val q = agg.writeStream.format("memory").queryName("wm_t").outputMode("append").start()
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${s / 60}%02d:${s % 60}%02d")
    in.addData((t(1), 1.0), (t(5), 2.0)); q.processAllAvailable()
    // advance event time far past the first window; watermark = 100 - 5s
    in.addData((t(100), 50.0)); q.processAllAvailable()
    // this late row's window [0,10) is already finalized → dropped
    in.addData((t(3), 99.0)); q.processAllAvailable(); q.stop()
    val got = spark.table("wm_t").select("sum_v").as[Double].collect().sorted
    // append emits only finalized windows: [0,10) = 3.0 (no 99 included);
    // the [100,110) window is not finalized so not emitted
    assert(got.toSeq == Seq(3.0))
  }

  test("sessionWindow: gap-merged per-key sessions close at the watermark") {
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = new GraftFrame(in.toDF().toDF("ts", "k", "v"), indexCol = "ts")
    val agg = sdf.sessionWindow("10 seconds", "0 seconds", "k").countAll()
    val q = agg.writeStream.format("memory").queryName("sess_t").outputMode("append").start()
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${s / 60}%02d:${s % 60}%02d")
    // key a: events at 1, 8, 15 chain into ONE session (gaps < 10s);
    // key b: events at 2 and 30 are TWO sessions (28s gap)
    in.addData((t(1), "a", 1.0), (t(8), "a", 1.0), (t(2), "b", 1.0))
    q.processAllAvailable()
    in.addData((t(15), "a", 1.0), (t(30), "b", 1.0))
    q.processAllAvailable()
    in.addData((t(300), "c", 1.0)) // advance watermark far past all sessions
    q.processAllAvailable(); q.stop()
    val got = spark.table("sess_t").selectExpr("k", "count")
      .as[(String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(("a", 3L), ("b", 1L), ("b", 1L)))
  }

  test("timedWindowUnique: the first arrival of a key in each window is kept") {
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = new GraftFrame(in.toDF().toDF("ts", "k", "v"), indexCol = "ts")
    val q = sdf.timedWindowUnique("10 seconds", "0 seconds", "k").writeStream
      .format("memory").queryName("twu_t").outputMode("append").start()
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // window [0,10): a at t1 kept, a at t5 dropped (in the batch and a
    // batch later); window [10,20): a is new again
    in.addData((t(1), "a", 1.0), (t(3), "b", 2.0))
    q.processAllAvailable()
    in.addData((t(5), "a", 9.0), (t(12), "a", 7.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("twu_t").select("k", "v").as[(String, Double)].collect().sorted.toSeq
    assert(got == Seq(("a", 1.0), ("a", 7.0), ("b", 2.0)))
  }

  test("timedWindowUniqueLast: duplicate key replaces the buffered element") {
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = new GraftFrame(in.toDF().toDF("ts", "k", "v"), indexCol = "ts")
    val q = sdf.timedWindowUniqueLast("10 seconds", "0 seconds", "k").writeStream
      .format("memory").queryName("twul_t").outputMode("update").start()
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // window [0,10): k=a appears at t1 (v=1) and t5 (v=9) → last (9) kept
    in.addData((t(1), "a", 1.0), (t(3), "b", 2.0), (t(5), "a", 9.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("twul_t").select("k", "v").as[(String, Double)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).last }
    assert(got == Map("a" -> 9.0, "b" -> 2.0))
  }

  test("rolling facade: keyed path plans a partitioned WindowExec; " +
    "un-keyed requires explicit globalWindow() opt-in") {
    val df = Seq(("a", 1, 1.0), ("b", 2, 2.0)).toDF("k", "ts", "v")
    val f = new GraftFrame(df, indexCol = "ts")
    // keyed: the physical plan's window operator must be partitioned
    // (no "No Partition Defined" single-task funnel)
    val plan = f.rollingSum("v", 2, "k").df.queryExecution.executedPlan.toString()
    assert(plan.contains("Window"))
    assert(plan.contains("partitionBy") || !plan.contains("No Partition Defined"))
    assert(f.rollingSum("v", 2, "k").df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.forall(_.partitionSpec.nonEmpty))
    // un-keyed without opt-in: refused at plan-construction time
    intercept[IllegalArgumentException] { f.rollingSum("v", 2) }
    // explicit opt-in reproduces the reference's global stream
    val g = f.globalWindow().rollingSum("v", 2).df
      .select("ts", "rolling_v").as[(Int, Double)].collect().toMap
    assert(g == Map(1 -> 1.0, 2 -> 3.0))
  }

  test("rollingQuantile: all-null frame yields null, not an error") {
    val df = Seq(("a", 1, None: Option[Double]), ("a", 2, None), ("a", 3, Some(4.0)))
      .toDF("k", "ts", "v")
    val f = new GraftFrame(df, indexCol = "ts")
    val got = f.rollingQuantile("v", 2, 0.5, "k").df
      .select("ts", "rolling_v").as[(Int, Option[Double])].collect().toMap
    assert(got(1).isEmpty && got(2).isEmpty && got(3).contains(4.0))
  }

  test("timedWindowUniqueLast tieBreak: equal index values resolve by the tie column") {
    val in = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val sdf = new GraftFrame(in.toDF().toDF("ts", "seq", "k", "v"), indexCol = "ts")
    val q = sdf.timedWindowUniqueLast("10 seconds", "0 seconds", Seq("k"), Some("seq"))
      .writeStream.format("memory").queryName("twul_tb").outputMode("update").start()
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // same key, SAME timestamp, different arrival seq → largest seq wins
    in.addData((t(1), 1L, "a", 1.0), (t(1), 2L, "a", 9.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("twul_tb").select("k", "v").as[(String, Double)].collect()
    assert(got.toSeq == Seq(("a", 9.0)))
  }

  test("timedWindow: tumbling event-time aggregation with watermark") {
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val sdf = new GraftFrame(in.toDF().toDF("ts", "v"), indexCol = "ts")
    val agg = sdf.timedWindow("10 seconds", "0 seconds").sumOf("v")
    val q = agg.writeStream.format("memory").queryName("tw_t").outputMode("update").start()
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    in.addData((t(1), 1.0), (t(5), 2.0), (t(15), 10.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("tw_t").select("sum_v").as[Double].collect().sorted
    assert(got.toSeq == Seq(3.0, 10.0))
  }
}
