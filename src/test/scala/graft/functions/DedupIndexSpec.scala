package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The incremental-dedup contract: ingesting a corpus in chunks against
  * a growing signature index produces verdicts IDENTICAL to the one-shot
  * batch run, and identical to the streaming pipeline in id order — the
  * property that lets a daily ingest trust index-probe verdicts without
  * ever re-running the full corpus.
  */
class DedupIndexSpec extends SparkSuite {
  import spark.implicits._

  private def docs: DataFrame =
    spark.read.parquet(sf() + "/documents.parquet").select($"doc_id", $"text")

  private def verdicts(df: DataFrame): Set[(Long, Long, Boolean)] =
    df.select($"doc_id", $"root_doc", $"is_keeper")
      .as[(Long, Long, Boolean)].collect().toSet

  test("chunked ingestion == one-shot batch verdicts") {
    val ids = docs.select($"doc_id").as[Long].collect().sorted
    val mid = ids(ids.length / 2)
    val (a, b) = (docs.filter($"doc_id" < mid), docs.filter($"doc_id" >= mid))

    val oneShot = verdicts(DedupIndex.incrementalVerdicts(
      docs, DedupIndex.indexRows(docs.limit(0))))

    val vA = verdicts(DedupIndex.incrementalVerdicts(
      a, DedupIndex.indexRows(docs.limit(0))))
    // persist the index the way a deployment would (parquet round trip)
    val idxDir = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString
    DedupIndex.indexRows(a).write.mode("overwrite").parquet(idxDir)
    val vB = verdicts(DedupIndex.incrementalVerdicts(
      b, spark.read.parquet(idxDir)))

    assert(vA ++ vB == oneShot, "chunked verdicts drifted from one-shot")
    assert(oneShot.map(_._1) == ids.toSet)
    assert(oneShot.exists(!_._3), "fixture vacuity: no duplicates at all")
  }

  test("incremental verdicts == streaming minhashVerdicts in id order") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = docs.as[(Long, String)].collect().sortBy(_._1)
    val in = MemoryStream[(Long, String, Long)]
    withRocksDBState {
      val q = graft.streaming.Dedup.minhashVerdicts(
        in.toDS().toDF("doc_id", "text", "seq").as[(Long, String, Long)])
        .toDF("doc_id", "seq", "root_doc", "is_keeper")
        .writeStream.format("memory").queryName("incr_stream")
        .outputMode("append").start()
      try {
        in.addData(rows.map { case (id, t) => (id, t, id) }: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    val stream = spark.table("incr_stream")
      .select($"doc_id", $"root_doc", $"is_keeper")
      .as[(Long, Long, Boolean)].collect().toSet

    val incr = verdicts(DedupIndex.incrementalVerdicts(
      docs, DedupIndex.indexRows(docs.limit(0))))
    assert(incr == stream, "incremental drifted from the streaming pipeline")
  }

  test("a near-copy arriving in a later batch is flagged with the original as root") {
    val base = docs
    val victim = base.orderBy($"doc_id").as[(Long, String)].head()
    // near-copy: append one token — jaccard stays ≥ 0.5 for any real doc
    val copy = Seq((victim._1 + 1000000L, victim._2 + " addendum")).toDF("doc_id", "text")
    val idx = DedupIndex.indexRows(base)
    val v = verdicts(DedupIndex.incrementalVerdicts(copy, idx))
    assert(v == Set((victim._1 + 1000000L, victim._1, false)),
      s"near-copy not flagged against the index: $v")
  }

  test("streaming indexVerdicts == batch cross-index verdicts over a stored index") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ids = docs.select($"doc_id").as[Long].collect().sorted
    val mid = ids(ids.length / 2)
    val (a, b) = (docs.filter($"doc_id" < mid), docs.filter($"doc_id" >= mid))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_sidx").toString
    DedupIndex.indexRows(a).write.mode("overwrite").parquet(idxDir)
    val index = spark.read.parquet(idxDir)

    val rows = b.as[(Long, String)].collect().map { case (id, t) => (id, t, id) }
    val in = MemoryStream[(Long, String, Long)]
    withRocksDBState {
      val q = graft.streaming.Dedup.indexVerdicts(
          in.toDS().toDF("doc_id", "text", "seq").as[(Long, String, Long)], index)
        .toDF("doc_id", "seq", "root_doc", "is_keeper")
        .writeStream.format("memory").queryName("idx_stream")
        .outputMode("append").start()
      try {
        // two chunks — the probe is stateless per doc, chunking must not matter
        in.addData(rows.take(7).toSeq); q.processAllAvailable()
        in.addData(rows.drop(7).toSeq); q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("idx_stream")
      .select($"doc_id", $"root_doc", $"is_keeper")
      .as[(Long, Long, Boolean)].collect().toSet

    // batch cross-index component: incremental verdicts of b against the
    // index, with b's WITHIN-batch matches excluded by keeping only docs
    // whose match comes from the index — recompute directly
    val expect = verdicts(DedupIndex.incrementalVerdicts(
      b, index)).map { case (id, root, keep) =>
      // discard within-batch roots: recompute as index-only by checking
      // the root is an indexed doc (all index ids < mid) or self
      if (!keep && root >= mid) (id, id, true) else (id, root, keep)
    }
    assert(got == expect, s"streaming probe drifted:\n$got\nvs\n$expect")
    assert(got.exists(!_._3), "fixture vacuity: nothing matched the index")
  }

  test("docs with no shingle (under 3 tokens) always keep and never index") {
    val tiny = Seq((1L, "too short"), (2L, "")).toDF("doc_id", "text")
    assert(DedupIndex.indexRows(tiny).isEmpty)
    val v = verdicts(DedupIndex.incrementalVerdicts(
      tiny, DedupIndex.indexRows(docs)))
    assert(v == Set((1L, 1L, true), (2L, 2L, true)))
  }

  test("geometry mismatch between index build and probe fails loudly, not silently") {
    // mismatched band hashes never join, so without the guard every
    // near-dup would silently verdict as a keeper — the worst failure
    // mode a dedup pipeline has
    val idx = DedupIndex.indexRows(docs, Lsh.Production)
    val e = intercept[IllegalArgumentException](
      DedupIndex.incrementalVerdicts(docs, idx)) // default = Lsh.Small
    assert(e.getMessage.contains("geometry mismatch"), e.getMessage)
    // empty index: nothing stored to disagree with — any geometry is fine
    DedupIndex.incrementalVerdicts(docs.limit(1),
      DedupIndex.indexRows(docs.limit(0), Lsh.Production)).collect()
  }

  test("production geometry (k=128): chunked == one-shot == streaming round trip") {
    withRocksDBState {
      // the whole contract re-run at Lsh.Production — the geometry every
      // entry point now takes explicitly. The signature width (128 vs 8)
      // changes every band hash, so this would fail instantly if any of
      // the three paths hard-coded the toy geometry anywhere.
      val g = Lsh.Production
      val ids = docs.select($"doc_id").as[Long].collect().sorted
      val mid = ids(ids.length / 2)
      val (a, b) = (docs.filter($"doc_id" < mid), docs.filter($"doc_id" >= mid))

      val oneShot = verdicts(DedupIndex.incrementalVerdicts(
        docs, DedupIndex.indexRows(docs.limit(0), g), g))
      val vA = verdicts(DedupIndex.incrementalVerdicts(
        a, DedupIndex.indexRows(docs.limit(0), g), g))
      val vB = verdicts(DedupIndex.incrementalVerdicts(
        b, DedupIndex.indexRows(a, g), g))
      assert(vA ++ vB == oneShot, "production-geometry chunking drifted from one-shot")
      assert(oneShot.exists(!_._3),
        "fixture vacuity: the corpus's near-dups must still pair at k=128")

      // streaming parity in id order (the r8 minhashVerdicts contract)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val rows = docs.as[(Long, String)].collect().sortBy(_._1)
        .map { case (id, text) => (id, text, id) }
      val in = MemoryStream[(Long, String, Long)]
      val q = graft.streaming.Dedup
        .minhashVerdicts(in.toDS(), maxBucketMembers = Int.MaxValue, geom = g)
        .toDF("doc_id", "seq", "root_doc", "is_keeper")
        .writeStream.format("memory").queryName("idx_prod_t")
        .outputMode("append").start()
      in.addData(rows.toSeq); q.processAllAvailable(); q.stop()
      val streamed = spark.table("idx_prod_t")
        .select($"doc_id", $"root_doc", $"is_keeper")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(streamed == oneShot,
        "production-geometry streaming verdicts drifted from the batch index")
    }
  }

  test("maintain compacts the delta tail; probe verdicts identical before and after") {
    val ids = docs.select($"doc_id").as[Long].collect().sorted
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val (a, b, probe) = (docs.filter($"doc_id" < c1),
      docs.filter($"doc_id" >= c1 && $"doc_id" < c2),
      docs.filter($"doc_id" >= c2))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_idx_mnt").toString + "/idx"
    // a deployment's delta tail: each ingested chunk appends its own
    // files (repartition(8) exaggerates a micro-batch writer's spray)
    TableLog.appendBatch(DedupIndex.indexRows(a).repartition(8), idxDir, "ingest", 0L)
    TableLog.appendBatch(DedupIndex.indexRows(b).repartition(8), idxDir, "ingest", 1L)
    def head() = TableLog.latest(spark, idxDir).get
    val tail = head()
    assert(tail.files.length >= 16,
      s"fixture vacuity: tail not fragmented (${tail.files.length})")

    val before = verdicts(DedupIndex.incrementalVerdicts(
      probe, TableLog.read(spark, idxDir)))

    // wrong-geometry maintenance fails loudly and commits no version
    val e = intercept[IllegalArgumentException] {
      DedupIndex.maintain(spark, idxDir, targetBytes = 1L << 20, geom = Lsh.Production)
    }
    assert(e.getMessage.contains("geometry mismatch"))
    assert(head().version == tail.version,
      "failed maintenance must not have committed a version")

    val written = DedupIndex.maintain(spark, idxDir, targetBytes = 1L << 20)
    val m = head()
    assert(m.op == "compact" && m.layout == Seq("band", "band_hash"),
      s"maintenance did not re-layout the index: op=${m.op} layout=${m.layout}")
    assert(m.files.length == written && written < tail.files.length,
      s"file count not bounded: ${m.files.length} live files for $written written " +
        s"(delta tail had ${tail.files.length})")
    val after = verdicts(DedupIndex.incrementalVerdicts(
      probe, TableLog.read(spark, idxDir)))
    assert(after == before, "maintenance changed probe verdicts")
    assert(before.exists(!_._3), "fixture vacuity: probe chunk found no duplicates")

    // the re-layout clustered the probe key: each rewritten file spans
    // less than the global (band, band_hash) range when several exist,
    // and band min/max per file are tight enough to prune on
    if (m.files.length >= 2) {
      val spans = m.files.map { f =>
        val r = spark.read.parquet(s"$idxDir/${f.name}")
          .agg(min($"band"), max($"band")).head()
        (r.getInt(0), r.getInt(1))
      }
      val global = (spans.map(_._1).min, spans.map(_._2).max)
      assert(spans.exists(sp => (sp._2 - sp._1) < (global._2 - global._1)),
        s"layoutBy left every file spanning all bands: $spans")
    }

    // a raw-parquet index (written before the log existed) is not a
    // table maintain can commit to: it says so, and adopt migrates it
    val rawDir = java.nio.file.Files.createTempDirectory("graft_idx_raw").toString + "/idx"
    DedupIndex.indexRows(a).repartition(4).write.parquet(rawDir)
    val raw = intercept[IllegalStateException] {
      DedupIndex.maintain(spark, rawDir, targetBytes = 1L << 20)
    }
    assert(raw.getMessage.contains("TableLog.adopt"), raw.getMessage)
    TableLog.adopt(spark, rawDir)
    assert(DedupIndex.maintain(spark, rawDir, targetBytes = 1L << 20) >= 1)
    assert(verdicts(DedupIndex.incrementalVerdicts(b, TableLog.read(spark, rawDir))) ==
      verdicts(DedupIndex.incrementalVerdicts(b, DedupIndex.indexRows(a))),
      "adopted + maintained index drifted from probing the raw rows")
  }
}
