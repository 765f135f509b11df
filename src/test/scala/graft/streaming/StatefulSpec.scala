package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming stateful operators, driven the way the reference's tests
  * drive emits (test_core.py / test_dataframes.py pattern): push chunks
  * through MemoryStream across several micro-batches and compare with the
  * all-at-once oracle computed in plain Scala.
  */
class StatefulSpec extends SparkSuite {

  test("ewmAlpha: com/span/halflife/alpha conversions match the reference") {
    // dataframe/core.py:694-718: com=(span-1)/2; com=1/decay-1; com=(1-a)/a
    assert(Stateful.ewmAlpha(com = Some(1.0)) == 0.5)
    assert(Stateful.ewmAlpha(span = Some(3.0)) == 0.5)      // com = 1
    assert(Stateful.ewmAlpha(alpha = Some(0.25)) == 0.25)   // round-trips
    val aH = Stateful.ewmAlpha(halflife = Some(1.0))        // decay = 0.5
    assert(math.abs(aH - 0.5) < 1e-12)
    intercept[IllegalArgumentException](Stateful.ewmAlpha())
    intercept[IllegalArgumentException](
      Stateful.ewmAlpha(com = Some(1.0), span = Some(3.0)))
    intercept[IllegalArgumentException](Stateful.ewmAlpha(span = Some(0.5)))
    intercept[IllegalArgumentException](Stateful.ewmAlpha(alpha = Some(1.5)))
  }
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def drain[T](q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable(); q.stop()
  }

  test("scan: per-key running sum across micro-batches matches prefix sums") {
    val in = MemoryStream[(Int, Long, Double)]
    val out = Stateful.scan(in.toDS(), 0.0)((s, v) => (s + v, s + v))
    val q = out.toDF("key", "seq", "running").writeStream
      .format("memory").queryName("scan_t").outputMode("append").start()
    in.addData((1, 1L, 1.0), (1, 2L, 2.0), (2, 3L, 10.0))
    q.processAllAvailable()
    in.addData((1, 4L, 3.0), (2, 5L, 20.0)) // state must survive the batch boundary
    drain(q)
    val got = spark.table("scan_t").as[(Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq((1, 1L, 1.0), (1, 2L, 3.0), (1, 4L, 6.0), (2, 3L, 10.0), (2, 5L, 30.0)))
  }

  test("scanFromFirst: no-start accumulate seeds from the first element") {
    // reference test_core.py no-start accumulate: emits 0 1 3 6 10 — the
    // first element passes through un-folded (core.py:946-949)
    val in = MemoryStream[(Int, Long, Long)]
    val out = Stateful.scanFromFirst(in.toDS())(_ + _)
    val q = out.toDF("key", "seq", "running").writeStream
      .format("memory").queryName("sff_t").outputMode("append").start()
    in.addData((1, 1L, 0L), (1, 2L, 1L), (1, 3L, 2L))
    q.processAllAvailable()
    in.addData((1, 4L, 3L), (1, 5L, 4L), (2, 6L, 7L)) // seed survives batches; keys independent
    drain(q)
    val got = spark.table("sff_t").as[(Int, Long, Long)].collect().sortBy(_._2)
    assert(got.filter(_._1 == 1).map(_._3).toSeq == Seq(0L, 1L, 3L, 6L, 10L))
    assert(got.filter(_._1 == 2).map(_._3).toSeq == Seq(7L)) // fresh key: seeded, emitted as-is
  }

  test("slidingWindow: trailing-3 sums match brute force incl. batch splits") {
    val xs = (1 to 10).map(i => (1, i.toLong, i.toDouble))
    val in = MemoryStream[(Int, Long, Double)]
    val out = Stateful.slidingWindow(in.toDS(), 3)(_.sum)
    val q = out.toDF("key", "seq", "wsum").writeStream
      .format("memory").queryName("slide_t").outputMode("append").start()
    xs.grouped(4).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    q.stop()
    val got = spark.table("slide_t").as[(Int, Long, Double)].collect()
      .sortBy(_._2).map(_._3).toSeq
    val want = (1 to 10).map(i => (math.max(1, i - 2) to i).sum.toDouble)
    assert(got == want)
  }

  test("slidingWindow: returnPartial=false suppresses the warm-up rows") {
    val in = MemoryStream[(Int, Long, Double)]
    val out = Stateful.slidingWindow(in.toDS(), 3, returnPartial = false)(_.sum)
    val q = out.toDF("key", "seq", "wsum").writeStream
      .format("memory").queryName("slide_full_t").outputMode("append").start()
    in.addData((1, 1L, 1.0), (1, 2L, 2.0), (1, 3L, 3.0), (1, 4L, 4.0))
    drain(q)
    val got = spark.table("slide_full_t").as[(Int, Long, Double)].collect().sortBy(_._2)
    assert(got.map(_._2).toSeq == Seq(3L, 4L)) // first emit once window is full
    assert(got.map(_._3).toSeq == Seq(6.0, 9.0))
  }

  test("partitionN: groups of 3 with remainder carried across batches") {
    val in = MemoryStream[(Int, Long, Int)]
    val out = Stateful.partitionN(in.toDS(), 3)
    val q = out.toDF("key", "group").writeStream
      .format("memory").queryName("part_t").outputMode("append").start()
    in.addData((1, 1L, 10), (1, 2L, 20)) // incomplete: nothing emitted
    q.processAllAvailable()
    assert(spark.table("part_t").count() == 0)
    in.addData((1, 3L, 30), (1, 4L, 40))
    drain(q)
    val got = spark.table("part_t").as[(Int, Seq[Int])].collect()
    assert(got.toSeq == Seq((1, Seq(10, 20, 30))))
  }

  test("partitionN timeout: idle partial group is flushed (reference timeout=)") {
    // NOTE: processAllAvailable does not terminate reliably once
    // processing-time timeouts are registered — poll the sink instead.
    val in = MemoryStream[(Int, Long, String)]
    val out = Stateful.partitionN(in.toDS(), 3, timeoutMs = 500)
    val q = out.toDF("key", "group").writeStream
      .format("memory").queryName("pn_to").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      in.addData((1, 1L, "a"), (1, 2L, "b")) // partial: 2 of 3
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var got = Seq.empty[(Int, Seq[String])]
      while (got.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(200)
        got = spark.table("pn_to").as[(Int, Seq[String])].collect().toSeq
      }
      assert(got == Seq((1, Seq("a", "b")))) // partial group flushed on timeout
    } finally stopQuiesced(q)
  }

  test("partitionN timeout deadline is fixed at first element, not pushed by arrivals") {
    // reference core.py:1163-1166 arms the timer once at len(buffer)==1;
    // a steady trickle (300 ms cadence < 800 ms timeout) must still flush
    // ~800 ms after the FIRST element — re-arm-per-arrival semantics
    // would defer the flush until after arrivals stop (~3.8 s here)
    val in = MemoryStream[(Int, Long, String)]
    val out = Stateful.partitionN(in.toDS(), 100, timeoutMs = 800)
    val q = out.toDF("key", "group").writeStream
      .format("memory").queryName("pn_fix").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      val t0 = System.nanoTime()
      var flushedAtMs = -1L
      var seq = 0L
      while (flushedAtMs < 0 && (System.nanoTime() - t0) < 10L * 1000 * 1000 * 1000) {
        seq += 1
        in.addData((1, seq, s"e$seq"))
        Thread.sleep(300)
        if (spark.table("pn_fix").count() > 0)
          flushedAtMs = (System.nanoTime() - t0) / 1000000
      }
      assert(flushedAtMs > 0, "no flush despite 800ms deadline")
      assert(flushedAtMs < 5000,
        s"flush at ${flushedAtMs}ms — deadline was pushed out by arrivals")
    } finally stopQuiesced(q)
  }

  test("partitionNIncremental (transformWithState/ListState) matches partitionN") {
    withRocksDBState {
      val in = MemoryStream[(Int, Long, String)]
      val out = Stateful.partitionNIncremental(in.toDS(), 3)
      val q = out.toDF("key", "group").writeStream
        .format("memory").queryName("pni_t").outputMode("append").start()
      in.addData((1, 1L, "a"), (1, 2L, "b")); q.processAllAvailable()
      assert(spark.table("pni_t").count() == 0) // partial stays buffered
      in.addData((1, 3L, "c"), (1, 4L, "d"), (2, 5L, "x"))
      q.processAllAvailable(); q.stop()
      val got = spark.table("pni_t").as[(Int, Seq[String])].collect()
      // key 1 completes a group of 3 across batches; "d"/key-2 stay partial
      assert(got.toSeq == Seq((1, Seq("a", "b", "c"))))
    }
  }

  test("a transformWithState operator on the HDFS-backed state store fails loudly") {
    // the TWS operators (Dedup, Windows, Stateful, Flow) need RocksDB's
    // column families; on the default provider the query must fail and
    // name the provider, never run on without its state
    val provider =
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    withStateStoreProvider(provider) {
      val in = MemoryStream[(Int, Long, String)]
      val q = Stateful.partitionNIncremental(in.toDS(), 3).toDF("key", "group")
        .writeStream.format("memory").queryName("pni_hdfs_t")
        .outputMode("append").start()
      try {
        in.addData((1, 1L, "a"), (1, 2L, "b"))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          q.processAllAvailable())
        val msg = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
        assert(msg.contains("STATE_STORE_MULTIPLE_COLUMN_FAMILIES"), msg)
        assert(msg.contains("HDFSBackedStateStoreProvider"), msg)
      } finally q.stop()
    }
  }

  test("ewmMean: matches the pandas adjust=true recurrence") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    val alpha = 0.5
    val in = MemoryStream[(Int, Long, Double)]
    val out = Stateful.ewmMean(in.toDS(), alpha)
    val q = out.toDF("key", "seq", "ewm").writeStream
      .format("memory").queryName("ewm_t").outputMode("append").start()
    xs.zipWithIndex.grouped(2).foreach { chunk =>
      in.addData(chunk.map { case (x, i) => (1, i.toLong, x) })
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("ewm_t").as[(Int, Long, Double)].collect().sortBy(_._2).map(_._3)
    // oracle: y_t = Σ x_i (1-α)^(t-i) / Σ (1-α)^(t-i)
    val want = xs.indices.map { t =>
      val w = (0 to t).map(i => math.pow(1 - alpha, t - i))
      (0 to t).map(i => xs(i) * w(i)).sum / w.sum
    }
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12, s"$g vs $w") }
  }

  test("uniqueLru: bounded history readmits evicted values") {
    val in = MemoryStream[(Int, Long, String)]
    val out = Stateful.uniqueLru(in.toDS(), maxsize = 2)
    val q = out.toDF("key", "seq", "v").writeStream
      .format("memory").queryName("uniq_t").outputMode("append").start()
    // a b a(dup, refreshes a) c(evicts b — least recent) b(readmitted)
    in.addData((1, 1L, "a"), (1, 2L, "b"), (1, 3L, "a"), (1, 4L, "c"), (1, 5L, "b"))
    drain(q)
    val got = spark.table("uniq_t").as[(Int, Long, String)].collect().sortBy(_._2).map(_._3)
    assert(got.toSeq == Seq("a", "b", "c", "b"))
  }

  test("uniqueLruIncremental (transformWithState/MapState) matches uniqueLru, " +
    "incl. mid-batch eviction + cross-batch bounded state") {
    withRocksDBState {
      val in = MemoryStream[(Int, Long, String)]
      val out = Stateful.uniqueLruIncremental(in.toDS(), maxsize = 2)
      val q = out.toDF("key", "seq", "v").writeStream
        .format("memory").queryName("uniqi_t").outputMode("append").start()
      // same one-batch scenario as the uniqueLru spec: per-INSERT eviction
      // means b (evicted mid-batch by c) is readmitted within the batch
      in.addData((1, 1L, "a"), (1, 2L, "b"), (1, 3L, "a"), (1, 4L, "c"), (1, 5L, "b"))
      q.processAllAvailable()
      // bounded state across batches: the retained set is {c, b} — a was
      // evicted, so it re-emits (and its insert evicts c, which re-emits too)
      in.addData((1, 6L, "a"), (1, 7L, "c"))
      q.processAllAvailable(); q.stop()
      val got = spark.table("uniqi_t").as[(Int, Long, String)].collect().sortBy(_._2)
      assert(got.map(_._3).toSeq == Seq("a", "b", "c", "b", "a", "c"))
    }
  }
}
