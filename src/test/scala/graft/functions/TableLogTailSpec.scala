package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The version-offset streaming tail ([[TableLog.readTailVersions]] /
  * [[TableLog.readTailWhere]]): manifest-transactional micro-batches,
  * per-batch stats pruning through the [[ManifestFileIndex]], loud
  * retention edges, and checkpointed exactly-once restarts — with the
  * read position owned by the engine's offsets WAL, capped or not. */
class TableLogTailSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_vtail").toString + "/t"

  private def ckpt(): String =
    java.nio.file.Files.createTempDirectory("graft_vtail_ck").toString

  /** Delete every entry of a checkpoint log dir whose base name fails
    * `keep` — with its `.crc` sidecar, or the local FS flags the later
    * re-write as tampering. Reconstructs a crash between the engine's
    * offsets-log write and its commit-log write. */
  private def scrub(dir: java.io.File, keep: String => Boolean): Unit =
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      val base = f.getName.stripPrefix(".").stripSuffix(".crc")
      if (!keep(base)) f.delete()
    }

  /** One single-file batch with `ts` spanning [b*100, b*100+99]. */
  private def batch(b: Int) = Seq.tabulate(100)(i => (b * 100L + i, s"v$b-$i"))
    .toDF("ts", "v").coalesce(1)

  test("version tail streams the backlog and live appends exactly once; rewrites and orphans never emit") {
    val dir = freshTable()
    TableLog.appendBatch(batch(0), dir, "r", 0L)
    TableLog.appendBatch(batch(1), dir, "r", 1L)
    // an orphaned append-named file NOT in any manifest (a writer that
    // crashed between landing files and committing): the glob tail's
    // documented at-least-once leak, which the manifest path must not have
    val orphanSrc = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("a1-")).head
    java.nio.file.Files.copy(orphanSrc.toPath,
      new java.io.File(dir, "a9-orphan-of-a-crashed-commit.parquet").toPath)
    val q = TableLog.readTailVersions(spark, dir, since = Some(-1L))
      .writeStream.format("memory").queryName("vtail_basic")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("vtail_basic").count() == 200L,
        "backlog must be the manifests' appends only — orphan leaked or rows lost")
      // maintenance rewrites are CDC-invisible
      TableLog.compact(spark, dir, targetBytes = 1L << 20)
      TableLog.vacuum(spark, dir, graceMs = 600000L)
      q.processAllAvailable()
      assert(spark.table("vtail_basic").count() == 200L,
        "compaction rewrites re-emitted through the version tail")
      TableLog.appendBatch(batch(2), dir, "r", 2L)
      q.processAllAvailable()
      val got = spark.table("vtail_basic").select("ts").as[Long].collect().sorted.toSeq
      assert(got == (0L until 300L), s"tail diverged: ${got.length} rows")
      // a delete commits a new version but emits nothing
      assert(TableLog.delete(spark, dir, col("ts") < 100L) == 100L)
      q.processAllAvailable()
      assert(spark.table("vtail_basic").count() == 300L,
        "a delete version leaked rows into the tail")
    } finally q.stop()
  }

  test("readTailWhere prunes each micro-batch's files through the manifest stats — file-list asserted") {
    val dir = freshTable()
    TableLog.appendBatch(batch(0), dir, "boot", 0L)
    TableLog.trackStats(spark, dir, Seq("ts"))
    // stat-carrying backlog: ts spans [100,199], [200,299], [300,399]
    (1 to 3).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val q = TableLog.readTailWhere(spark, dir, "ts", 250L, 320L, since = Some(-1L))
      .writeStream.format("memory").queryName("vtail_where")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("vtail_where").select("ts").as[Long].collect().sorted.toSeq
        == (250L to 320L), "range rows wrong")
      // the first batch's scan: the stat-less boot file (version 0,
      // pre-registration) survives conservatively; of the stat-carrying
      // files (versions 2-4) only the two whose recorded spans intersect
      // [250,320] are opened
      val opened = ManifestFileIndex.lastListed.toSet
      assert(opened.exists(_.startsWith("a0-")) && opened.size == 3 &&
        opened.exists(_.startsWith("a3-")) && opened.exists(_.startsWith("a4-")),
        s"backlog scan opened the wrong files: $opened")
      // a live append entirely OUTSIDE the range: its version becomes a
      // batch whose scan prunes the file at the manifest level
      ManifestFileIndex.lastListed = Seq("sentinel")
      TableLog.appendBatch(batch(9), dir, "r", 9L) // ts [900,999]
      q.processAllAvailable()
      assert(ManifestFileIndex.lastListed.isEmpty,
        s"out-of-range append file was opened: ${ManifestFileIndex.lastListed}")
      assert(spark.table("vtail_where").count() == 71L)
      // a live append INSIDE the range flows through
      TableLog.appendBatch(
        Seq.tabulate(10)(i => (300L + i, s"late-$i")).toDF("ts", "v").coalesce(1),
        dir, "r", 10L)
      q.processAllAvailable()
      assert(spark.table("vtail_where").count() == 81L,
        "in-range live append rows lost")
    } finally q.stop()
  }

  test("no false pruning: a filter on a stats-less column opens every delta file") {
    val dir = freshTable()
    (0 until 2).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    // no trackStats, no layout: `v` has no recorded bounds anywhere
    val q = TableLog.readTailVersions(spark, dir, since = Some(-1L))
      .filter(col("v") === "v1-7")
      .writeStream.format("memory").queryName("vtail_conservative")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("vtail_conservative").count() == 1L)
      assert(ManifestFileIndex.lastListed.size == 2,
        s"stats-less columns must keep every file: ${ManifestFileIndex.lastListed}")
    } finally q.stop()
  }

  test("checkpointed restart resumes at the committed version offset — no re-emission, no loss") {
    val dir = freshTable()
    val ck = ckpt()
    val out = ckpt() + "/out"
    (0 until 2).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    // the file sink both supports checkpoint recovery and is itself
    // exactly-once, so the output row multiset IS the delivery record
    def start() = TableLog.readTailVersions(spark, dir, since = Some(-1L))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 200L)
    // offline appends while the consumer is down
    (2 until 4).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = spark.read.parquet(out).select("ts").as[Long].collect().sorted.toSeq
      assert(got == (0L until 400L),
        s"restart re-emitted or lost rows: ${got.length} rows")
    } finally q2.stop()
  }

  test("consumer-first: an explicit schema tails a table that does not exist yet") {
    val dir = freshTable()
    val q = TableLog.readTailVersions(spark, dir,
        schema = Some(batch(0).schema))
      .writeStream.format("memory").queryName("vtail_first")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("vtail_first").isEmpty)
      TableLog.appendBatch(batch(0), dir, "r", 0L)
      q.processAllAvailable()
      assert(spark.table("vtail_first").count() == 100L)
    } finally q.stop()
  }

  test("maxVersionsPerTrigger bounds each micro-batch to a version window over a deep backlog") {
    val dir = freshTable()
    (0 until 10).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = TableLog.readTailVersions(spark, dir, since = Some(-1L),
        maxVersionsPerTrigger = Some(3))
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count(); sizes.synchronized { sizes += n }; ()
      }.start()
    try {
      q.processAllAvailable()
      val got = sizes.synchronized(sizes.filter(_ > 0).toList)
      assert(got == List(300L, 300L, 300L, 100L),
        s"backlog was not admitted in 3-version windows: $got")
    } finally q.stop()
  }

  test("the resolved default `since` is pinned in the checkpoint — a crash-replayed first batch still carries its rows") {
    val dir = freshTable()
    val ck = ckpt()
    (0 until 2).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val counts = scala.collection.mutable.Map.empty[Long, Long]
    def start() = TableLog.readTailVersions(spark, dir) // default since = head NOW
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val n = df.count(); counts.synchronized { counts(id) = n }; ()
      }.start()
    val q1 = start()
    try {
      (2 until 4).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
      q1.processAllAvailable()
    } finally q1.stop()
    val firstRun = counts.synchronized(counts.toMap)
    assert(firstRun.values.sum == 200L)
    assert(firstRun.getOrElse(0L, 0L) > 0L,
      s"fixture vacuity: batch 0 carried no rows in run 1 ($firstRun)")
    // reconstruct "crashed right after logging offsets/0": batch 0 is in
    // the offset WAL, nothing is committed. The engine then replays
    // batch 0 with start = None — the one replay shape that consults
    // `since`. A default re-resolved to the CURRENT head (which includes
    // the logged versions) would make the replay silently EMPTY; the
    // persisted resolution must re-deliver the identical rows. (.crc
    // sidecars go too, or the local FS flags the re-write as tampering.)
    scrub(new java.io.File(s"$ck/commits"), _ => false)
    scrub(new java.io.File(s"$ck/offsets"), _ == "0")
    counts.synchronized(counts.clear())
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(counts.synchronized(counts.get(0L)) == Some(firstRun(0L)),
        s"the None-start replay of batch 0 lost rows: " +
          s"${counts.synchronized(counts.toMap)} vs first run $firstRun")
    } finally q2.stop()
  }

  test("an explicit since above the head emits nothing until the head passes it") {
    val dir = freshTable()
    (0 until 3).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val q = TableLog.readTailVersions(spark, dir, since = Some(5L))
      .writeStream.format("memory").queryName("vtail_future")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("vtail_future").isEmpty,
        "versions at or below `since` leaked")
      TableLog.appendBatch(batch(3), dir, "r", 3L) // head 3, still <= 5
      q.processAllAvailable()
      assert(spark.table("vtail_future").isEmpty,
        "a head below `since` must offer nothing — offering it rewinds " +
          "later batches below the requested start")
      (4 until 7).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
      q.processAllAvailable()
      val got = spark.table("vtail_future").select("ts").as[Long].collect().sorted.toSeq
      assert(got == (600L until 700L), s"expected exactly version 6's rows: ${got.take(5)}")
    } finally q.stop()
  }

  test("maxVersionsPerTrigger survives a restart: capped offers stay monotone, nothing re-emits") {
    val dir = freshTable()
    val ck = ckpt()
    val out = ckpt() + "/out"
    (0 until 8).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    // since = -1 with a cap: after the first run commits version 7, a
    // restart that counted its window from `since` would offer offsets
    // behind the checkpoint and a later window starting from one of
    // them would re-deliver versions 3..7 (the rewind this spec pins
    // out); counting from the engine's recovered start keeps offers at
    // >= 7
    def start() = TableLog.readTailVersions(spark, dir, since = Some(-1L),
        maxVersionsPerTrigger = Some(3))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 800L)
    (8 until 10).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = spark.read.parquet(out).select("ts").as[Long].collect().sorted.toSeq
      assert(got == (0L until 1000L),
        s"rewound offers re-emitted or lost rows: ${got.length} rows, " +
          s"dups=${got.groupBy(identity).count(_._2.length > 1)}")
    } finally q2.stop()
  }

  test("a capped→uncapped→capped option sequence never rewinds offers below the committed offset") {
    val dir = freshTable()
    val ck = ckpt()
    val out = ckpt() + "/out"
    (0 until 4).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    def start(cap: Option[Int]) = TableLog.readTailVersions(spark, dir,
        since = Some(-1L), maxVersionsPerTrigger = cap)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    val q1 = start(Some(2))
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 400L)
    // a long UNCAPPED leg: the checkpoint commits through 11 — a
    // re-capped leg below that counted its window from anything but
    // the committed offset (the capped leg's last offer, 3) would offer
    // 3+2=5, an offset BEHIND the committed one, re-emitting versions
    // 4..11 after the engine logs the rewind
    (4 until 12).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val q2 = start(None)
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(out).count() == 1200L)
    (12 until 14).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val q3 = start(Some(2))
    try {
      q3.processAllAvailable()
      val got = spark.read.parquet(out).select("ts").as[Long].collect().sorted.toSeq
      assert(got == (0L until 1400L),
        s"re-enabled cap rewound below the committed offset: ${got.length} " +
          s"rows, dups=${got.groupBy(identity).count(_._2.length > 1)}")
    } finally q3.stop()
  }

  test("capped crash replay re-runs the logged window, then moves on") {
    val dir = freshTable()
    val ck = ckpt()
    (0 until 6).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val seen = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    def start() = TableLog.readTailVersions(spark, dir, since = Some(-1L),
        maxVersionsPerTrigger = Some(2))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val ts = df.select("ts").as[Long].collect().sorted.toSeq
        seen.synchronized { seen(id) = ts }; ()
      }.start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val firstRun = seen.synchronized(seen.toMap)
    assert(firstRun == Map(0L -> (0L until 200L), 1L -> (200L until 400L),
        2L -> (400L until 600L)),
      s"fixture: the backlog was not windowed 2 versions at a time: " +
        firstRun.view.mapValues(_.size).toMap)
    // "crashed right after logging offsets/1": batch 1's window (1, 3]
    // is in the offsets WAL, only batch 0 is committed
    scrub(new java.io.File(s"$ck/commits"), _ == "0")
    scrub(new java.io.File(s"$ck/offsets"), Set("0", "1"))
    (6 until 8).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    seen.synchronized(seen.clear())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = seen.synchronized(seen.toMap)
    assert(got.get(1L) == firstRun.get(1L),
      s"the replay did not re-deliver the logged window: ${got.get(1L).map(_.size)}")
    assert(got.get(2L) == Some(400L until 600L),
      s"the window after the replay did not start at the logged end: " +
        got.view.mapValues(_.headOption).toMap)
    assert(got.keySet == Set(1L, 2L, 3L) && got(3L) == (600L until 800L),
      s"rows lost or re-emitted after the replay: ${got.view.mapValues(_.size).toMap}")
    // the read position lives in the offsets WAL alone: the source's
    // checkpoint metadata holds the resolved `since` and nothing else
    val meta = new java.io.File(s"$ck/sources/0").list()
      .filterNot(_.endsWith(".crc")).toSet
    assert(meta == Set("since-resolved"), s"source checkpoint files: $meta")
  }

  test("progress reports the uncapped head as latestOffset") {
    val dir = freshTable()
    (0 until 6).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val q = TableLog.readTailVersions(spark, dir, since = Some(-1L),
        maxVersionsPerTrigger = Some(2))
      .writeStream.format("noop").outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = q.recentProgress.head.sources.head
      assert(first.latestOffset == "5" && first.endOffset == "1",
        s"versions behind head not visible: latest=${first.latestOffset} " +
          s"end=${first.endOffset}")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog in capped batches, then stops") {
    val dir = freshTable()
    val ck = ckpt()
    (0 until 6).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val seen = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    def run(): Unit = {
      val q = TableLog.readTailVersions(spark, dir, since = Some(-1L),
          maxVersionsPerTrigger = Some(2))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val ts = df.select("ts").as[Long].collect().sorted.toSeq
          seen.synchronized { seen(id) = ts }; ()
        }.start()
      try assert(q.awaitTermination(120000L), "the AvailableNow query did not stop")
      finally q.stop()
    }
    run()
    assert(seen.synchronized(seen.toMap) == Map(0L -> (0L until 200L),
        1L -> (200L until 400L), 2L -> (400L until 600L)),
      "the backlog was not drained 2 versions at a time: " +
        seen.synchronized(seen.toMap).view.mapValues(_.size).toMap)
    // a second run from the same checkpoint drains only what landed since
    (6 until 8).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    seen.synchronized(seen.clear())
    run()
    assert(seen.synchronized(seen.toMap) == Map(3L -> (600L until 800L)),
      "the restarted AvailableNow run re-emitted or lost rows: " +
        seen.synchronized(seen.toMap).view.mapValues(_.size).toMap)
  }

  test("a live tail survives vacuum reclaiming its consumed files") {
    val dir = freshTable()
    (0 until 2).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val q = TableLog.readTailVersions(spark, dir, since = Some(-1L))
      .writeStream.format("memory").queryName("vtail_reclaim")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a full rewrite supersedes the a0-/a1- files; then enough
      // one-row appends (the tail keeping up, its lease following it)
      // push their manifests out of retention, and a zero-grace vacuum
      // really deletes the consumed files under the live tail
      TableLog.compact(spark, dir, targetBytes = 1L << 20)
      val extra = TableLog.KeepManifests + 2
      (0 until extra).foreach { i =>
        TableLog.appendBatch(batch(10 + i).limit(1), dir, "r", 10L + i)
        q.processAllAvailable()
      }
      TableLog.vacuum(spark, dir, graceMs = 0L)
      val a01 = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("a0-") || f.getName.startsWith("a1-"))
      assert(a01.isEmpty, s"early append files not reclaimed: ${a01.map(_.getName).toSeq}")
      TableLog.appendBatch(batch(50), dir, "r", 50L)
      q.processAllAvailable()
      val got = spark.table("vtail_reclaim").select("ts").as[Long].collect().sorted.toSeq
      val want = (0L until 200L) ++ (0 until extra).map(i => (10L + i) * 100L) ++
        (5000L until 5100L)
      assert(got == want, s"tail diverged across file reclamation: ${got.length} rows")
    } finally q.stop()
  }

  test("a mid-stream evolve fails the tail loudly — restart re-pins and the added column flows") {
    val dir = freshTable()
    val ck = ckpt()
    (0 until 2).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Long)]
    def start() = TableLog.readTailVersions(spark, dir, since = Some(-1L))
      .writeStream.outputMode("append").option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        if (n > 0) seen.synchronized { seen += ((df.columns.toSeq, n)) }; ()
      }.start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(seen.synchronized(seen.map(_._2).sum) == 200L)
      // legal additive evolution + a new-shape append while the tail runs:
      // the pinned plan would silently DROP the added column from here on
      val evolved = batch(0).schema.add("extra",
        org.apache.spark.sql.types.StringType, nullable = true)
      TableLog.evolve(spark, dir, evolved)
      TableLog.appendBatch(batch(2).withColumn("extra", lit("x")), dir, "r2", 0L)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      assert(e.getMessage.contains("schema drift under a live tail") ||
        Option(e.getCause).exists(_.getMessage.contains("schema drift under a live tail")),
        s"wrong failure: ${e.getMessage}")
      assert(seen.synchronized(seen.map(_._2).sum) == 200L,
        "rows of the drifted batch were delivered before the failure")
    } finally q1.stop()
    // the documented recovery: restart the query — the source re-pins the
    // table's CURRENT schema and the un-delivered versions replay with
    // the added column present
    seen.synchronized(seen.clear())
    val q2 = start()
    try {
      q2.processAllAvailable()
      // only the failed (uncommitted) window replays — the 200 rows the
      // first leg committed must NOT re-emit
      val rows = seen.synchronized(seen.toList)
      assert(rows.map(_._2).sum == 100L,
        s"restart lost or re-emitted rows: $rows")
      assert(rows.forall(_._1 == Seq("ts", "v", "extra")),
        s"re-pinned batches must carry the evolved schema: ${rows.map(_._1)}")
    } finally q2.stop()
  }

  test("a mid-stream dropColumn fails the tail loudly before any silently null-filled row") {
    val dir = freshTable()
    (0 until 2).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    val q = TableLog.readTailVersions(spark, dir, since = Some(-1L))
      .writeStream.format("memory").queryName("vtail_drop_drift")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("vtail_drop_drift").count() == 200L)
      TableLog.dropColumn(spark, dir, "v")
      TableLog.appendBatch(Seq.tabulate(5)(i => 900L + i).toDF("ts"),
        dir, "r2", 0L)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("schema drift under a live tail") ||
        Option(e.getCause).exists(_.getMessage.contains("schema drift under a live tail")),
        s"wrong failure: ${e.getMessage}")
      assert(spark.table("vtail_drop_drift").count() == 200L,
        "null-filled rows of the dropped-column era were delivered")
    } finally q.stop()
  }

  test("consumer-first drift: a first commit that disagrees with the explicit schema fails the tail") {
    val dir = freshTable()
    val q = TableLog.readTailVersions(spark, dir, schema = Some(batch(0).schema))
      .writeStream.format("memory").queryName("vtail_first_drift")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // the writer arrives with a DIFFERENT shape than the consumer pinned
      TableLog.appendBatch(batch(0).withColumn("extra", lit(1)), dir, "w", 0L)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("schema drift under a live tail") ||
        Option(e.getCause).exists(_.getMessage.contains("schema drift under a live tail")),
        s"wrong failure: ${e.getMessage}")
      // the error must name the actual cause — a pinned-vs-recorded
      // mismatch of the EXPLICIT schema, not a phantom mid-stream evolve
      val full = e.getMessage +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(full.contains("schema passed at stream creation"),
        s"explicit-schema drift blamed on a mid-stream evolve: $full")
      assert(spark.table("vtail_first_drift").isEmpty,
        "rows were delivered under a schema the table never committed")
    } finally q.stop()
  }

  test("an explicit schema differing in FIELD ORDER only gets the order-specific error") {
    val dir = freshTable()
    (0 until 1).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    // same fields, reversed order: sameSchema is order-sensitive (the
    // scan binds columns positionally against the pinned schema), so
    // this must fail — but the error has to say ORDER, not "evolve"
    val reversed = org.apache.spark.sql.types.StructType(
      batch(0).schema.fields.reverse)
    val q = TableLog.readTailVersions(spark, dir, schema = Some(reversed))
      .writeStream.format("memory").queryName("vtail_order_drift")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      TableLog.appendBatch(batch(1), dir, "r", 1L)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val full = e.getMessage +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(full.contains("FIELD ORDER only"),
        s"order-only mismatch not named as such: $full")
      assert(spark.table("vtail_order_drift").isEmpty)
    } finally q.stop()
  }

  test("steady-state CDC deltas touch only the NEW segments, and survive a mid-span segment fold") {
    val dir = freshTable()
    (0 until 24).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
    // a 2-version delta over a 24-segment table: the structural fast
    // path loads exactly the two delta segments, never the other 22
    val before = TableLog.segmentTouches.get()
    val (d, _) = TableLog.appendsSince(spark, dir, 21L, 23L)
    assert(d.get.count() == 200L)
    val touched = TableLog.segmentTouches.get() - before
    assert(touched <= 2L,
      s"a 2-append delta touched $touched segments — O(live) resolution is back")
    // force a size-tiered fold mid-span: the merge commit fails the
    // structural check and the full diff must still yield exactly the
    // appended rows (nothing from the folded segments re-emits)
    val saved = TableLog.MaxSegments
    TableLog.MaxSegments = 4
    try {
      (24 until 28).foreach(b => TableLog.appendBatch(batch(b), dir, "r", b.toLong))
      val (d2, _) = TableLog.appendsSince(spark, dir, 23L, 27L)
      assert(d2.get.select("ts").as[Long].collect().sorted.toSeq
        == (2400L until 2800L), "delta wrong across a segment fold")
    } finally TableLog.MaxSegments = saved
  }

  test("a lagging REGISTERED tail survives an aggressive vacuum through its lease") {
    val dir = freshTable()
    val ck = ckpt()
    val out = ckpt() + "/out"
    val total = TableLog.KeepManifests + 8
    (0 until 2).foreach(b => TableLog.appendBatch(batch(b).limit(2), dir, "r", b.toLong))
    def start() = TableLog.readTailVersions(spark, dir, since = Some(-1L))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      // commit() — the lease hook — runs at the NEXT trigger's cleanup
      // (DSv1 contract); a second batch forces it deterministically
      TableLog.appendBatch(batch(2).limit(2), dir, "r", 2L)
      q1.processAllAvailable()
    } finally q1.stop()
    val leaseV = TableLog.leases(spark, dir)
      .collectFirst { case (id, (v, _)) if id.startsWith("tail-") => v }
    assert(leaseV.exists(_ >= 1L), s"no tail lease renewed: " +
      s"${TableLog.leases(spark, dir)}")
    // the consumer goes away while the writer runs far ahead — an
    // unregistered consumer at this lag would lose its delta to vacuum
    // (the beyond-retention spec below pins that failure)
    (3 until total).foreach(b =>
      TableLog.appendBatch(batch(b).limit(2), dir, "r", b.toLong))
    TableLog.vacuum(spark, dir, graceMs = 0L)
    assert(TableLog.retainedVersions(spark, dir).min == leaseV.get,
      s"lease at $leaseV did not hold the floor: " +
        s"${TableLog.retainedVersions(spark, dir)}")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = spark.read.parquet(out).select("ts").as[Long].collect()
      assert(got.length == total * 2 && got.distinct.length == got.length,
        s"the registered lagging tail lost or re-emitted rows: ${got.length}")
    } finally q2.stop()
  }

  test("a start version beyond retention fails loudly, not silently empty") {
    val dir = freshTable()
    (0 until TableLog.KeepManifests + 4).foreach(b =>
      TableLog.appendBatch(batch(b).limit(1), dir, "r", b.toLong))
    // grace 0 prunes the manifest tail past KeepManifests immediately
    // (the data files all stay referenced by the surviving manifests)
    TableLog.vacuum(spark, dir, graceMs = 0L)
    val q = TableLog.readTailVersions(spark, dir, since = Some(0L))
      .writeStream.format("memory").queryName("vtail_retention")
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("left retention") ||
      Option(e.getCause).exists(_.getMessage.contains("left retention")),
      s"wrong failure: ${e.getMessage}")
  }
}
