package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming-path benchmark (fills BASELINE.md's engine-side rows):
  *  - update-mode grouped aggregation throughput over micro-batches
  *    (MemoryStream fed in chunks, state in the state store);
  *  - keyed stateful scan (accumulate) throughput;
  *  - checkpoint recovery latency: restart a stateful query over
  *    ~100k rows of state and time start → first batch committed.
  * Prints one JSON line.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(appName = "graft-streambench")
    // state-store commits scale with shuffle partitions; size them to the
    // micro-batch volume (10k rows), not the batch default — at real scale
    // batches are millions of rows and the wide setting wins again.
    // SPARK_GRAFT_STREAM_PARTS overrides for the scaling legs: the 20×
    // corpus pushes 2M-row single batches through these partitions, so
    // the narrow setting measures per-core throughput there and the wide
    // one the scale-out recovery (both reported in BASELINE.md).
    val streamParts = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "4")
    spark.conf.set("spark.sql.shuffle.partitions", streamParts)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val events = Tables(spark, sfDir, "events")
      .select($"user_id", $"value", $"event_id")
      .as[(Long, Double, Long)].collect()
    val chunks = events.grouped(10000).toSeq

    // 1) update-mode grouped aggregation (streamz groupby().sum() analog)
    val aggIn = MemoryStream[(Long, Double, Long)]
    val aggQ = aggIn.toDF().toDF("user_id", "value", "event_id")
      .groupBy($"user_id").agg(sum($"value").as("total"), count(lit(1)).as("n"))
      .writeStream.format("noop").outputMode("update").start()
    val t0 = System.nanoTime()
    chunks.foreach { c => aggIn.addData(c); aggQ.processAllAvailable() }
    val aggSec = (System.nanoTime() - t0) / 1e9
    aggQ.stop()

    // 2) keyed stateful scan (streamz accumulate analog)
    val scanIn = MemoryStream[(Long, Long, Double)]
    val scanQ = graft.streaming.Stateful
      .scan(scanIn.toDS(), 0.0) { (s, v) => val s2 = s + v; (s2, s2) }
      .writeStream.format("noop").outputMode("append").start()
    val t1 = System.nanoTime()
    chunks.foreach { c =>
      scanIn.addData(c.map { case (u, v, e) => (u, e, v) })
      scanQ.processAllAvailable()
    }
    val scanSec = (System.nanoTime() - t1) / 1e9
    scanQ.stop()

    // 3) checkpoint recovery: all rows through a stateful scan, restart,
    //    one small new batch; time restart → first commit
    val src = Files.createTempDirectory("graft_sb_src").toString
    val ckpt = Files.createTempDirectory("graft_sb_ckpt").toString
    events.map { case (u, v, e) => (u, e, v) }.toSeq
      .toDF("k", "seq", "v").write.mode("append").parquet(src)
    def startScan() = {
      val ds = spark.readStream
        .schema("k LONG, seq LONG, v DOUBLE").parquet(src)
        .selectExpr("k as _1", "seq as _2", "v as _3").as[(Long, Long, Double)]
      graft.streaming.Stateful.scan(ds, 0.0) { (s, v) => val s2 = s + v; (s2, s2) }
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt).outputMode("append").start()
    }
    val q1 = startScan(); q1.processAllAvailable(); q1.stop()
    Seq((1L, Long.MaxValue, 1.0)).toDF("k", "seq", "v")
      .write.mode("append").parquet(src)
    val t2 = System.nanoTime()
    val q2 = startScan(); q2.processAllAvailable()
    val recoverSec = (System.nanoTime() - t2) / 1e9
    q2.stop()

    // ---- file-fed one-big-batch harness (the r14 envelope note's fix):
    // the MemoryStream-fed one-batch stages timed the driver-side encode
    // of the full tuple array plus a ~108 MiB task-binary broadcast —
    // harness cost a real source never pays. Each stage now streams the
    // SAME batch from parquet: a seed file primes state/JIT/codegen,
    // then the full dataset lands as new files and is consumed as ONE
    // micro-batch, so the timed section is scan + operator +
    // state-commit cost — what a backlogged production stream pays.
    val fileFeedRoot = Files.createTempDirectory("graft_sb_filefeed")
    val eventsDf = Tables(spark, sfDir, "events")
      .select($"user_id", $"value", $"event_id")
    val eventsSchema = "user_id LONG, value DOUBLE, event_id LONG"
    def fileFed(name: String, seed: org.apache.spark.sql.DataFrame,
        full: org.apache.spark.sql.DataFrame, schema: String, mode: String)(
        q: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Double = {
      val dir = s"$fileFeedRoot/$name"
      seed.coalesce(1).write.parquet(dir)
      val query = q(spark.readStream.schema(schema).parquet(dir))
        .writeStream.format("noop").outputMode(mode).start()
      query.processAllAvailable() // warm on the seed file
      full.write.mode("append").parquet(dir)
      val t = System.nanoTime()
      query.processAllAvailable()
      val sec = (System.nanoTime() - t) / 1e9
      query.stop()
      sec
    }

    // 4) the same grouped aggregation at production batch size (all rows
    //    in ONE micro-batch): per-batch state-commit fixed cost (~1 s,
    //    which dominates the 10k-row chunks above) amortizes away —
    //    this is the sustained rate a backlogged/high-volume stream sees
    val bigAggSec = fileFed("bigagg", eventsDf.limit(1000), eventsDf,
        eventsSchema, "update")(df =>
      df.groupBy($"user_id")
        .agg(sum($"value").as("total"), count(lit(1)).as("n")))

    // 5) trivial stateless pipeline (the reference's own ~300k events/s
    //    single-thread ceiling is for exactly this shape: map+filter, no
    //    state): one batch through select/filter to a noop sink
    val mapSec = fileFed("map", eventsDf.limit(1000), eventsDf,
        eventsSchema, "append")(df =>
      df.filter($"value" > 0).select($"user_id", ($"value" * 2).as("v2")))

    // 6) streaming near-dup dedup (Dedup.minhashVerdicts): docs/s through
    //    signature + banding + two chained transformWithState stages —
    //    the per-doc cost of the streaming ingest-dedup stage (RocksDB
    //    provider, as the 100 TB deployment would run)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val docs = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, text) => (id, text, id) }
    val dedupIn = MemoryStream[(Long, String, Long)]
    val dedupQ = graft.streaming.Dedup.minhashVerdicts(dedupIn.toDS())
      .writeStream.format("noop").outputMode("append").start()
    dedupIn.addData(docs.take(100).toSeq); dedupQ.processAllAvailable() // warm
    val t5 = System.nanoTime()
    docs.drop(100).grouped(2000).foreach { c =>
      dedupIn.addData(c.toSeq); dedupQ.processAllAvailable()
    }
    val dedupSec = (System.nanoTime() - t5) / 1e9
    dedupQ.stop()

    // 7) streaming sequence packing (Packing.pack): placement-assignment
    //    throughput — state is ONE long per shard, so this is the per-row
    //    floor of an emit-per-element stateful op (contrast with the scan
    //    above, whose state is also tiny, and dedup, whose state is wide)
    val packSec = fileFed("pack", eventsDf.limit(1000), eventsDf,
        eventsSchema, "append")(df =>
      graft.streaming.Packing.pack(
        df.select(pmod($"user_id", lit(8)).cast("long"), $"event_id",
          (lit(100L) + pmod($"event_id", lit(400))).cast("long"))
          .as[(Long, Long, Long)], 8192L).toDF())

    // 8) streaming curation chain (Curate.normalize → qualityHeuristics):
    //    docs/s through the full stateless per-document gate stack — the
    //    live-ingest cost of the scrub/quality stage (no state, so this
    //    measures the per-row kernel + regex chain, not the state store)
    val docsDf = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val curSec = fileFed("curate", docsDf.limit(100), docsDf,
        "doc_id LONG, text STRING", "append")(df =>
      graft.streaming.Curate.qualityHeuristics(
        graft.streaming.Curate.normalize(df, "text"),
        "text_norm", 5L, 3.0, 10.0, 2L,
        Seq("the", "a", "and", "of", "to", "in")))

    // 9) windowed HLL distinct (streaming.Sketches.windowedDistinct):
    //    rows/s through the sketch aggregation — per-window state is one
    //    256-byte buffer, so this measures the md5+register update rate,
    //    the bounded-state alternative to exact streaming distinct
    val hllSec = fileFed("hll", eventsDf.limit(1000), eventsDf,
        eventsSchema, "update")(df =>
      graft.streaming.Sketches.windowedDistinct(
        df.withColumn("ts", timestamp_seconds($"event_id" % 7200)),
        "ts", "1 hour", "48 hours", Nil, $"user_id"))

    // 10) stream-stream interval join (Joins.interval): rows/s through
    //     the watermarked time-range join — both sides buffered in join
    //     state keyed by event_type, eviction driven by the two-sided
    //     band condition; measures the state insert+probe rate of the
    //     streaming twin of join_range_band
    val evRows = Tables(spark, sfDir, "events")
      .select($"event_id", $"event_type", unix_micros($"ts").as("us"))
      .as[(Long, String, Long)].collect().sortBy(_._3)
    val ivL = MemoryStream[(Long, String, Long)]
    val ivR = MemoryStream[(Long, String, Long)]
    def ivSide(in: MemoryStream[(Long, String, Long)]) =
      in.toDF().toDF("event_id", "event_type", "us")
        .withColumn("ts", timestamp_micros($"us"))
    val ivQ = graft.streaming.Joins
      .interval(ivSide(ivL), ivSide(ivR), "event_type", "ts", 60)
      .writeStream.format("noop").outputMode("append").start()
    // warm with the earliest-timestamp PREFIX only, then time the
    // disjoint remainder: replaying rows older than the warm-up's
    // advanced watermark would drop them as late while still counting
    // them in the throughput denominator (r8 ADVICE)
    val (ivWarm, ivRest) = evRows.splitAt(1000)
    ivL.addData(ivWarm); ivR.addData(ivWarm)
    ivQ.processAllAvailable() // warm
    val t9 = System.nanoTime()
    ivL.addData(ivRest); ivR.addData(ivRest); ivQ.processAllAvailable()
    val ivSec = (System.nanoTime() - t9) / 1e9
    ivQ.stop()

    // 11) stream-static ANN, float vs int8-quantized probe join
    //     (Similarity.streamKnn / streamKnnQuantized): queries/s for both
    //     paths over the embeddings corpus, plus the optimizer's estimate
    //     of the probe join's static-side bytes — the exchange the
    //     quantized path exists to shrink (the corpus re-enters that join
    //     every micro-batch at scale)
    val corpus = spark.read.parquet(sfDir + "/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()
    // limit BEFORE collect — the corpus grows with SF, the query set must not
    val knnQueries = corpus.limit(2000).as[(Long, Array[Float])].collect()
    def knnRun(f: org.apache.spark.sql.Dataset[(Long, Array[Float])] =>
        org.apache.spark.sql.Dataset[(Long, Long, Double)]): Double = {
      val in = MemoryStream[(Long, Array[Float])]
      val q = f(in.toDS()).toDF("query_id", "vec_id", "cos")
        .writeStream.format("noop").outputMode("append").start()
      in.addData(knnQueries.take(200)); q.processAllAvailable() // warm
      val t = System.nanoTime()
      knnQueries.drop(200).grouped(600).foreach { c =>
        in.addData(c.toSeq); q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t) / 1e9
      q.stop()
      (knnQueries.length - 200) / sec
    }
    val knnFloatQps = knnRun(ds => graft.streaming.Similarity.streamKnn(ds, corpus, 5))
    val knnQuantQps = knnRun(ds => graft.streaming.Similarity.streamKnnQuantized(ds, corpus, 5))
    // persisted-index variants: the per-trigger norm/bucket/quantize
    // recompute and the static-side shuffle both disappear (the probe
    // table is bucketed on the join key at build time)
    val annIdx = graft.functions.AnnIndex.build(corpus, "streambench_ann",
      planes = 8, buckets = 16)
    val knnIdxQps = knnRun(ds => graft.streaming.Similarity.streamKnn(ds, annIdx, 5, nprobe = 1))
    val knnIdxQuantQps = knnRun(ds => graft.streaming.Similarity.streamKnnQuantized(ds, annIdx, 5, nprobe = 1))
    // byte width of the static relation each probe join ships: float
    // embeddings vs the int8 sidecar, measured by materializing both
    // projections (real serialized bytes, not a timing and not an
    // optimizer guess — a typed map's plan stats just echo its child)
    import graft.functions.native
    val floatSide = corpus.select($"vec_id", $"embedding",
      sqrt(native.double_dot($"embedding", $"embedding")).as("nrm"),
      native.lsh_bucket($"embedding", 8).as("bucket"))
    val int8Side = corpus
      .select($"vec_id", $"embedding",
        sqrt(native.double_dot($"embedding", $"embedding")).as("nrm"),
        native.lsh_bucket($"embedding", 8).as("bucket"))
      .as[(Long, Array[Float], Double, Long)]
      .mapPartitions(_.map { case (id, v, nrm, bucket) =>
        val (qb, s, l1) = graft.functions.Ivf.quantize(v)
        (id, bucket, nrm, qb, s, l1)
      }).toDF("vec_id", "bucket", "nrm", "q", "scale", "l1")
    // measurement scratch dirs, not results — reclaim them (full-corpus
    // projections and commit-log tables otherwise accumulate per run)
    def rmTemp(root: java.nio.file.Path): Unit = {
      val p = new org.apache.hadoop.fs.Path(root.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    def sideBytes(df: org.apache.spark.sql.DataFrame): Long = {
      val root = Files.createTempDirectory("graft_sb_knn")
      val dir = root.toString + "/t"
      df.write.parquet(dir)
      val bytes = graft.functions.Compaction.dataBytes(spark, dir)
      rmTemp(root)
      bytes
    }
    val knnFloatBytes = sideBytes(floatSide)
    val knnInt8Bytes = sideBytes(int8Side)
    corpus.unpersist()

    // 12) the LIVE ingest loop: appendBatch into a TableLog table while
    //     a readTailVersions stream consumes the appends and probes the
    //     dedup signature index (streaming.Dedup.indexVerdicts) — end-to-end
    //     commit → tail-pickup → verdict rate, the "corpus grows,
    //     indexes follow" serving path at ingest cadence
    val liveRoot = Files.createTempDirectory("graft_sb_live")
    val liveDir = liveRoot.toString + "/t"
    val liveIndex = graft.functions.DedupIndex.indexRows(
      docs.take(100).map { case (id, text, _) => (id, text) }
        .toSeq.toDF("doc_id", "text")).cache()
    liveIndex.count() // build the static index before the clock starts
    val liveSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, seq LONG")
    val liveQ = graft.streaming.Dedup.indexVerdicts(
        graft.functions.TableLog.readTailVersions(spark, liveDir,
            schema = Some(liveSchema))
          .as[(Long, String, Long)], liveIndex)
      .writeStream.format("noop").outputMode("append").start()
    val liveDocs = docs.drop(100)
    def liveAppend(b: Long, rows: Seq[(Long, String, Long)]): Unit =
      graft.functions.TableLog.appendBatch(
        rows.toDF("doc_id", "text", "seq"), liveDir, "bench", b)
    liveAppend(0L, liveDocs.take(200).toSeq); liveQ.processAllAvailable() // warm
    val t10 = System.nanoTime()
    liveDocs.drop(200).grouped(2000).zipWithIndex.foreach { case (c, i) =>
      liveAppend(1L + i, c.toSeq); liveQ.processAllAvailable()
    }
    val liveSec = (System.nanoTime() - t10) / 1e9
    val liveN = liveDocs.length - 200
    liveQ.stop()
    liveIndex.unpersist()
    rmTemp(liveRoot)

    // 13) MULTI-WRITER commit contention: two appenders with DISTINCT
    //     runKeys interleave batches into ONE TableLog table from two
    //     driver threads — every lost CAS rebases and re-commits, so
    //     this measures the optimistic-concurrency overhead end to end
    //     (the single-writer commit cost is row 12's baseline). The
    //     final manifest must hold every batch of both writers; a
    //     mismatch prints a negative rate so it can never pass silently.
    //     Measured at 2, 4 and 8 writers: the rename-CAS serializes
    //     commits, so the per-table ceiling is ~constant commits/s and
    //     the per-writer rate divides — the fleet-of-ingest-streams
    //     sizing number (r12 verdict Next #7).
    val mwRows = 1000
    val mwBatches = 8
    def mwRun(writers: Int): Double = {
      val mwRoot = Files.createTempDirectory("graft_sb_mw")
      val mwDir = mwRoot.toString + "/t"
      def mwDf(w: Int, b: Int) =
        Seq.tabulate(mwRows)(i => (w * 1000000000L + b * 10000L + i, s"w$w-b$b", 0L))
          .toDF("doc_id", "text", "seq").coalesce(1)
      graft.functions.TableLog.appendBatch(mwDf(99, 0), mwDir, "warm", 0L) // schema + JIT
      val threads = (0 until writers).map { w =>
        new Thread(() => (0 until mwBatches).foreach { b =>
          graft.functions.TableLog.appendBatch(mwDf(w, b), mwDir, s"w$w", b.toLong)
        })
      }
      val t = System.nanoTime()
      threads.foreach(_.start())
      threads.foreach(_.join())
      val sec = (System.nanoTime() - t) / 1e9
      val ok = graft.functions.TableLog.rows(spark, mwDir) ==
        (writers * mwBatches + 1).toLong * mwRows
      rmTemp(mwRoot)
      (if (ok) 1 else -1) * writers * mwBatches / sec
    }
    val mwCommitsPerSec = mwRun(2)
    val mw4CommitsPerSec = mwRun(4)
    val mw8CommitsPerSec = mwRun(8)

    // 14) follower recovery from downtime: the SAME 12-version source
    //     lag cleared by the span-keyed catch-up (one wide apply — one
    //     dedup-index commit + one keyed ANN append for the whole span)
    //     vs the per-version loop (12 applies, each paying the fixed
    //     catalog/commit overhead regardless of data volume). The span
    //     protocol exists for exactly this contrast: a day of 1-minute
    //     ingest batches is 1,440 versions of pure fixed cost without it.
    val cuBatches = 12
    val cuCorpus = spark.read.parquet(sfDir + "/embeddings.parquet")
      .limit(cuBatches * 100)
      .select($"vec_id".as("doc_id"),
        concat(lit("document body text "), $"vec_id".cast("string")).as("text"),
        $"embedding")
      .as[(Long, String, Array[Float])].collect()
    val cuEmpty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id LONG, embedding ARRAY<FLOAT>"))
    def cuRun(annName: String, spanWidth: Int): Double = {
      val root = Files.createTempDirectory("graft_sb_cu")
      val src = root.toString + "/src"
      cuCorpus.grouped(100).zipWithIndex.foreach { case (c, i) =>
        graft.functions.TableLog.appendBatch(
          c.toSeq.toDF("doc_id", "text", "embedding").coalesce(1), src, "src", i.toLong)
      }
      val ann = graft.functions.AnnIndex.build(cuEmpty, annName,
        planes = 8, buckets = 8)
      val t = System.nanoTime()
      graft.examples.IndexFollower.catchUp(spark, src,
        root.toString + "/state", ann, root.toString + "/ddx",
        maxSpanVersions = spanWidth)
      val sec = (System.nanoTime() - t) / 1e9
      rmTemp(root)
      sec
    }
    val cuSpanSec = cuRun("sb_cu_span", Int.MaxValue)
    val cuPerVersionSec = cuRun("sb_cu_pv", 1)

    // 15) the STANDING follower at ingest cadence: appendBatch → the
    //     version-tail change signal → one catch-up per batch, BOTH
    //     indexes maintained (signature rows + keyed ANN append +
    //     checkpoint). Row 12 is the probe-only serving loop; this is
    //     the full write-side maintenance rate a live corpus pays.
    val foRoot = Files.createTempDirectory("graft_sb_follow")
    val foSrc = foRoot.toString + "/src"
    val foAnn = graft.functions.AnnIndex.build(cuEmpty, "sb_follow_ann",
      planes = 8, buckets = 16)
    val foQ = graft.examples.IndexFollower.follow(spark, foSrc,
      foRoot.toString + "/state", foAnn, foRoot.toString + "/ddx")
    val foBatches = cuCorpus.grouped(100).toVector
    graft.functions.TableLog.appendBatch(
      foBatches.head.toSeq.toDF("doc_id", "text", "embedding").coalesce(1), foSrc, "src", 0L)
    foQ.processAllAvailable() // warm: first apply pays table creation
    val t12 = System.nanoTime()
    foBatches.tail.zipWithIndex.foreach { case (c, i) =>
      graft.functions.TableLog.appendBatch(
        c.toSeq.toDF("doc_id", "text", "embedding").coalesce(1), foSrc, "src", 1L + i)
      foQ.processAllAvailable()
    }
    val foSec = (System.nanoTime() - t12) / 1e9
    val foDocs = cuCorpus.length - foBatches.head.length
    foQ.stop()
    rmTemp(foRoot)

    val n = events.length
    val nd = docs.length - 100
    val ndCur = docs.length // curate's file-fed timed batch is the FULL set
    rmTemp(fileFeedRoot)
    println(f"""{"streaming_agg_rows_per_sec":${n / aggSec}%.0f,"stateful_scan_rows_per_sec":${n / scanSec}%.0f,"agg_one_batch_rows_per_sec":${n / bigAggSec}%.0f,"stateless_rows_per_sec":${n / mapSec}%.0f,"stream_dedup_docs_per_sec":${nd / dedupSec}%.0f,"stream_pack_rows_per_sec":${n / packSec}%.0f,"stream_curate_docs_per_sec":${ndCur / curSec}%.0f,"stream_hll_rows_per_sec":${n / hllSec}%.0f,"stream_interval_join_rows_per_sec":${2 * ivRest.length / ivSec}%.0f,"stream_knn_float_q_per_sec":$knnFloatQps%.0f,"stream_knn_int8_q_per_sec":$knnQuantQps%.0f,"stream_knn_indexed_q_per_sec":$knnIdxQps%.0f,"stream_knn_indexed_int8_q_per_sec":$knnIdxQuantQps%.0f,"knn_probe_static_bytes_float":$knnFloatBytes,"knn_probe_static_bytes_int8":$knnInt8Bytes,"live_tail_dedup_docs_per_sec":${liveN / liveSec}%.0f,"multi_writer_commits_per_sec":$mwCommitsPerSec%.1f,"multi_writer4_commits_per_sec":$mw4CommitsPerSec%.1f,"multi_writer8_commits_per_sec":$mw8CommitsPerSec%.1f,"follower_catchup_span_sec":$cuSpanSec%.2f,"follower_catchup_per_version_sec":$cuPerVersionSec%.2f,"follower_catchup_lag_versions":$cuBatches,"follower_live_docs_per_sec":${foDocs / foSec}%.0f,"recovery_sec":$recoverSec%.2f,"rows":$n,"dedup_docs":$nd,"batches":${chunks.size},"state_partitions":$streamParts,"sf":"$sfDir"}""")
    spark.stop()
  }
}
