package graft.examples

import graft.SparkSuite
import graft.functions.{AnnIndex, DedupIndex, TableLog}
import org.apache.spark.sql.functions._

/** The CDC→index wiring: a corpus table ingesting in batches, both
  * indexes following through appendsSince, exactly once across the
  * crash shapes the checkpoint protocol can see — and final index
  * contents / verdicts equal from-scratch builds on the final corpus. */
class IndexFollowerSpec extends SparkSuite {
  import spark.implicits._

  private val pool = Seq(
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "how vexingly quick daft zebras jump today",
    "sphinx of black quartz judge my vow now",
    "the five boxing wizards jump quickly tonight",
    "jackdaws love my big sphinx of quartz stone",
    "bright vixens jump while dozy fowl quack loud")

  private def corpusDf() = {
    val phrases = array(pool.map(lit): _*)
    spark.read.parquet(sf() + "/embeddings.parquet")
      .select($"vec_id".as("doc_id"),
        element_at(phrases, (pmod($"vec_id", lit(7)) + 1).cast("int")).as("text"),
        $"embedding")
  }

  test("a BOOTSTRAP span intent (from = -1) survives the crash round-trip — the replay can see it") {
    // the first-ever catch-up records span (-1, to]; its intent file name
    // carries the negative from, which the span regex must accept or a
    // crashed bootstrap replays under a fresh wider key and double-inserts
    val stateDir = java.nio.file.Files.createTempDirectory("graft_fl_boot").toString
    val intentDir = new java.io.File(stateDir, "intent")
    intentDir.mkdirs()
    new java.io.File(intentDir, "span--1-3").createNewFile()
    assert(IndexFollower.pendingSpan(spark, stateDir) == Some((-1L, 3L)),
      "bootstrap intent invisible — span--1-3 did not match")
  }

  test("follow(): a standing follower applies appends as they land, consumer-first, no explicit calls") {
    val corpus = corpusDf()
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val batches = Seq(
      corpus.filter($"doc_id" < c1),
      corpus.filter($"doc_id" >= c1 && $"doc_id" < c2),
      corpus.filter($"doc_id" >= c2))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_fl3_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_fl3_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_fl3_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "fl3_follow_ann", planes = 8, buckets = 8)
    // consumer-first: the standing follower starts before the table exists
    val q = IndexFollower.follow(spark, srcDir, stateDir, ann, dedupDir)
    try {
      TableLog.appendBatch(batches(0), srcDir, "src", 0L)
      q.processAllAvailable()
      assert(AnnIndex.probeSide(spark, ann).count() == batches(0).count(),
        "first append did not reach the ANN index through the signal stream")
      TableLog.appendBatch(batches(1), srcDir, "src", 1L)
      TableLog.appendBatch(batches(2), srcDir, "src", 2L)
      q.processAllAvailable()
      assert(AnnIndex.probeSide(spark, ann).count() == corpus.count())
      val expected = DedupIndex.indexRows(corpus.select($"doc_id", $"text")).count()
      assert(TableLog.rows(spark, dedupDir) == expected,
        "dedup index diverged from a from-scratch build under follow()")
      assert(IndexFollower.appliedVersion(spark, stateDir) == 2L)
    } finally q.stop()
  }

  test("a pre-span crash that committed ONLY the dedup leg forces a width-1 replay — no doubled band rows") {
    val corpus = corpusDf()
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val batches = Seq(
      corpus.filter($"doc_id" < c1),
      corpus.filter($"doc_id" >= c1 && $"doc_id" < c2),
      corpus.filter($"doc_id" >= c2))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_fl2_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_fl2_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_fl2_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "fl2_legacy_ann", planes = 8, buckets = 8)
    def apply() = IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    TableLog.appendBatch(batches(0), srcDir, "src", 0L) // source v0
    apply()
    TableLog.appendBatch(batches(1), srcDir, "src", 1L) // source v1
    // the pre-intent-era crash shape the ANN markers cannot see: the
    // dedup leg COMMITTED version 1 under the follower's runKey, then
    // the process died before the ANN append wrote its first marker —
    // no intent file, no checkpoint advance. The only trace is the
    // dedup table's commit map.
    val runKey = TableLog.runKeyFor(spark, stateDir)
    TableLog.appendBatch(
      DedupIndex.indexRows(batches(1).select($"doc_id", $"text")),
      dedupDir, runKey, 1L)
    // the source advances before the retry — a wide span would carry
    // version 1's rows under batchId 2 and slip past the dedup guard
    TableLog.appendBatch(batches(2), srcDir, "src", 2L)
    apply()
    val expected = graft.functions.DedupIndex.indexRows(
      corpus.select($"doc_id", $"text")).count()
    assert(TableLog.rows(spark, dedupDir) == expected,
      s"dedup band rows diverged from a from-scratch build: " +
        s"${TableLog.rows(spark, dedupDir)} vs $expected — version 1 doubled")
    assert(AnnIndex.probeSide(spark, ann).count() == corpus.count(),
      "ANN probe side diverged after the legacy-shape replay")
  }

  test("corpus grows, indexes follow exactly once; crash replay is absorbed; parity with from-scratch builds") {
    val corpus = corpusDf()
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val batches = Seq(
      corpus.filter($"doc_id" < c1),
      corpus.filter($"doc_id" >= c1 && $"doc_id" < c2),
      corpus.filter($"doc_id" >= c2))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_fl_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_fl_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_fl_state").toString
    // the ANN index starts empty and grows ONLY through the follower
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "follower_ann", planes = 8, buckets = 8)

    def apply(): Option[IndexFollower.Progress] =
      IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir,
        maintainTargetBytes = Some(1L << 16), maintainEveryNVersions = 1,
        vacuumGraceMs = 600000L)

    // batch 1 lands, follower applies it
    TableLog.appendBatch(batches(0), srcDir, "src", 0L)
    val p1 = apply().get
    assert(p1.fromVersion == -1L && p1.rowsApplied == batches(0).count())
    // already caught up: a second call is None and touches nothing
    assert(apply().isEmpty)

    // batch 2 + a source compaction (rewrites must contribute no delta)
    TableLog.appendBatch(batches(1), srcDir, "src", 1L)
    TableLog.compact(spark, srcDir, targetBytes = 1L << 20)
    val p2 = apply().get
    assert(p2.rowsApplied == batches(1).count(),
      s"compaction rewrite leaked into the delta: ${p2.rowsApplied}")

    // crash replay WITH the source advancing before the retry — the
    // hardest exactly-once shape (the r11 review finding): reconstruct
    // the exact pre-checkpoint state (both indexes fully applied, the
    // version marker NOT yet advanced — which under the span protocol
    // means the recorded INTENT is still on file), then land batch 3
    // BEFORE the retry. The retry must replay the intent's exact span
    // under its OLD key (both index paths no-op) while the new version
    // applies exactly once under a fresh span — an identity derived
    // from the current lag instead of the intent would re-insert
    // everything here.
    val applied = IndexFollower.appliedVersion(spark, stateDir)
    val markerDir = new java.io.File(stateDir, "applied")
    new java.io.File(markerDir, s"version-${p2.fromVersion}").createNewFile()
    new java.io.File(markerDir, s"version-$applied").delete()
    val intentDir = new java.io.File(stateDir, "intent")
    intentDir.mkdirs()
    new java.io.File(intentDir, s"span-${p2.fromVersion}-$applied").createNewFile()
    val annRows = AnnIndex.probeSide(spark, ann).count()
    val dedupRows = TableLog.rows(spark, dedupDir)
    TableLog.appendBatch(batches(2), srcDir, "src", 2L)
    val b3Dedup = DedupIndex.indexRows(
      batches(2).select($"doc_id", $"text")).count()
    val replay = apply().get
    assert(replay.fromVersion == p2.fromVersion && replay.toVersion > applied)
    assert(TableLog.rows(spark, dedupDir) == dedupRows + b3Dedup,
      "crash replay with a grown source duplicated (or dropped) dedup index rows")
    assert(AnnIndex.probeSide(spark, ann).count() > annRows,
      "the new batch did not reach the ANN index")

    // ANN: follower-grown index equals a one-shot build (and no dups)
    val full = AnnIndex.build(corpus.select($"doc_id".as("vec_id"), $"embedding"),
      "follower_ann_full", planes = 8, buckets = 8)
    def annSet(h: AnnIndex.Handle) = AnnIndex.probeSide(spark, h)
      .select($"vec_id", $"bucket", round($"nrm" * 1e6).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(annSet(ann) == annSet(full),
      "follower-grown ANN index diverged from a from-scratch build")
    assert(AnnIndex.probeSide(spark, ann).groupBy($"vec_id").count()
      .filter($"count" > 1).count() == 0L)

    // dedup: follower-grown index rows equal one-shot indexRows
    def dedupSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"band", $"band_hash",
        concat_ws(",", $"sigs".cast("array<string>")).as("s"))
      .as[(Long, Int, String, String)].collect().toSet
    assert(dedupSet(TableLog.read(spark, dedupDir)) ==
      dedupSet(DedupIndex.indexRows(corpus.select($"doc_id", $"text"))),
      "follower-grown dedup index diverged from one-shot indexRows")
    // maintenance really ran: the index table is compacted + re-laid-out
    // by the probe key, and its manifest carries band_hash stats
    val ixm = TableLog.latest(spark, dedupDir).get
    assert(ixm.op == "compact" && ixm.layout == Seq("band", "band_hash"),
      s"maintenance did not re-layout the index table: op=${ixm.op} layout=${ixm.layout}")
    assert(ixm.files.forall(_.stats.contains("band_hash")),
      "compacted index files must carry band_hash stats in the manifest")

    // and the READ side: verdicts for a fresh probe batch through the
    // follower's index equal verdicts against the one-shot index
    val probe = Seq(
      (900001L, pool(0)), (900002L, pool(3)), (900003L, "utterly novel words never indexed anywhere")
    ).toDF("doc_id", "text")
    def verdicts(ix: org.apache.spark.sql.DataFrame) =
      DedupIndex.incrementalVerdicts(probe, ix)
        .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val got = verdicts(TableLog.read(spark, dedupDir))
    assert(got == verdicts(DedupIndex.indexRows(corpus.select($"doc_id", $"text"))),
      s"verdict divergence: $got")
    assert(got.count(!_._3) == 2 && got.last._3,
      s"fixture vacuity: expected two dups and one keeper, got $got")
  }

  test("a maintenance round over a wrong-geometry dedup index fails loudly") {
    val corpus = corpusDf()
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val srcDir = java.nio.file.Files.createTempDirectory("graft_flg_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_flg_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_flg_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "flg_geom_ann", planes = 8, buckets = 8)
    // the index is built at the default (k = 8) geometry
    TableLog.appendBatch(corpus.filter($"doc_id" < ids(ids.length / 3)),
      srcDir, "src", 0L)
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    val ixVersion = TableLog.latest(spark, dedupDir).get.version
    // a delta-less source version (a compaction) still fires the
    // maintenance gate; the follower is (mis)configured at k = 128, and
    // with no band rows to append the index holds only k = 8 signatures
    TableLog.compact(spark, srcDir, targetBytes = 1L << 20)
    val e = intercept[IllegalArgumentException] {
      IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir,
        geom = graft.functions.Lsh.Production,
        maintainTargetBytes = Some(1L << 16), maintainEveryNVersions = 1)
    }
    assert(e.getMessage.contains("geometry mismatch"), e.getMessage)
    assert(TableLog.latest(spark, dedupDir).get.version == ixVersion,
      "a wrong-geometry maintenance round rewrote the index")
  }

  test("takedown: one call removes a doc set from the corpus, the dedup index and the ANN serving path") {
    val corpus = corpusDf().cache()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_td_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_td_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_td_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "takedown_ann", planes = 8, buckets = 8)
    TableLog.appendBatch(corpus, srcDir, "src", 0L)
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)

    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val victims = ids.take(5).toSeq
    val nAll = ids.length.toLong
    val td = IndexFollower.takedown(spark, srcDir, dedupDir, ann, victims)
    assert(td.corpusRows == 5L && td.annTombstoned == 5)
    assert(td.dedupIndexRows > 0L, "no signature rows removed from the dedup index")
    // corpus: gone, atomically
    assert(TableLog.rows(spark, srcDir) == nAll - 5L)
    assert(TableLog.read(spark, srcDir)
      .filter($"doc_id".isin(victims: _*)).count() == 0L)
    // dedup index: no band row of a removed doc survives — a fresh doc
    // IDENTICAL to a removed one must come back a keeper (its only
    // possible match was taken down)
    assert(TableLog.read(spark, dedupDir)
      .filter($"doc_id".isin(victims: _*)).count() == 0L)
    val victimText = corpus.filter($"doc_id" === victims.head)
      .select($"text").as[String].head()
    val reprobe = Seq((990001L, victimText)).toDF("doc_id", "text")
    val v = DedupIndex.incrementalVerdicts(reprobe, TableLog.read(spark, dedupDir))
      .as[(Long, Long, Boolean)].collect()
    // the pool has 7 phrases over many docs — other docs share the text,
    // so the verdict stays a dup UNLESS every holder was removed; what
    // MUST hold is that the matched root is never a removed id
    assert(v.forall(t => !victims.contains(t._2)),
      s"a taken-down doc still owns dedup matches: ${v.toSeq}")
    // ANN serving path: removed ids never surface from the live relation
    // every Handle query path reads (the stream-level proof lives in
    // SimilarityStreamSpec's tombstone test)
    val live = AnnIndex.withoutTombstoned(spark, ann, AnnIndex.probeSide(spark, ann))
      .select($"vec_id").as[Long].collect().toSet
    assert(victims.forall(v => !live.contains(v)),
      "taken-down ids still in the ANN serving relation")
    // a retried (crashed) takedown is harmless end to end
    val td2 = IndexFollower.takedown(spark, srcDir, dedupDir, ann, victims)
    assert(td2.corpusRows == 0L && td2.dedupIndexRows == 0L)
    assert(TableLog.rows(spark, srcDir) == nAll - 5L)
    // the follower keeps working around the takedown: new docs apply
    val extra = Seq((990100L, pool(1), Array.fill(16)(0.25f)))
      .toDF("doc_id", "text", "embedding")
      .select($"doc_id", $"text", $"embedding".cast("array<float>"))
    TableLog.appendBatch(extra, srcDir, "src", 1L)
    val p = IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    // the change feed delivers the takedown's 5 delete rows (replayed
    // idempotently into the indexes — already applied by the takedown
    // call itself) plus the 1 new append
    assert(p.exists(_.rowsApplied == 6L),
      s"catch-up after a takedown diverged: $p")
    assert(TableLog.read(spark, dedupDir)
      .filter($"doc_id".isin(victims: _*)).count() == 0L,
      "the feed replay of the takedown resurrected band rows")
    corpus.unpersist()
  }

  test("untakedown after a corpus restore repairs both indexes — including fold-erased ANN vectors") {
    val corpus = corpusDf().cache()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_utd_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_utd_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_utd_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "untakedown_ann", planes = 8, buckets = 8)
    TableLog.appendBatch(corpus, srcDir, "src", 0L)
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    val preTakedown = TableLog.latest(spark, srcDir).get.version
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val victims = ids.take(5).toSeq
    IndexFollower.takedown(spark, srcDir, dedupDir, ann, victims)
    // the compliance decision is REVERSED: the fold has already erased
    // victim vectors physically — the hardest repair shape
    AnnIndex.compactTombstones(spark, ann)
    assert(AnnIndex.probeSide(spark, ann)
      .filter($"vec_id".isin(victims: _*)).count() == 0L, "fixture: fold did not erase")
    TableLog.restore(spark, srcDir, preTakedown)
    assert(TableLog.read(spark, srcDir)
      .filter($"doc_id".isin(victims: _*)).count() == 5L)
    val u = IndexFollower.untakedown(spark, srcDir, dedupDir, ann, victims, "undo-1")
    assert(u.corpusDocs == 5L && u.dedupIndexRows > 0L && u.annReappended == 5L,
      s"unexpected repair shape: $u")
    // both indexes now equal from-scratch builds on the restored corpus
    val refDedup = DedupIndex.indexRows(corpus.select($"doc_id", $"text"))
      .select($"doc_id", $"band", $"band_hash")
      .as[(Long, Int, String)].collect().toSet
    val gotDedup = TableLog.read(spark, dedupDir)
      .select($"doc_id", $"band", $"band_hash")
      .as[(Long, Int, String)].collect().toSet
    assert(gotDedup == refDedup, "dedup index diverged from a from-scratch build")
    val refAnn = AnnIndex.build(
      corpus.select($"doc_id".as("vec_id"), $"embedding"),
      "untakedown_ref", planes = 8, buckets = 8)
    def served(h: AnnIndex.Handle) =
      AnnIndex.withoutTombstoned(spark, h, AnnIndex.probeSide(spark, h))
        .select($"vec_id", $"bucket").as[(Long, Long)].collect().toSet
    assert(served(ann) == served(refAnn),
      "ANN serving relation diverged from a from-scratch build")
    // a retried (crashed) untakedown with the same key is a no-op
    val u2 = IndexFollower.untakedown(spark, srcDir, dedupDir, ann, victims, "undo-1")
    assert(u2.dedupIndexRows == 0L && u2.annReappended == 0L,
      s"untakedown replay was not absorbed: $u2")
    assert(gotDedup == TableLog.read(spark, dedupDir)
      .select($"doc_id", $"band", $"band_hash")
      .as[(Long, Int, String)].collect().toSet, "replay duplicated band rows")
    assert(served(ann) == served(refAnn), "replay duplicated ANN rows")
    // the un-folded variant: takedown then immediate undo (marks only)
    val preTakedown2 = TableLog.latest(spark, srcDir).get.version
    IndexFollower.takedown(spark, srcDir, dedupDir, ann, victims)
    TableLog.restore(spark, srcDir, preTakedown2)
    val u3 = IndexFollower.untakedown(spark, srcDir, dedupDir, ann, victims, "undo-2")
    assert(u3.annUnmasked == 5L && u3.annReappended == 0L,
      s"mark-only undo should not re-append vectors: $u3")
    assert(served(ann) == served(refAnn))
    assert(TableLog.read(spark, dedupDir)
      .select($"doc_id", $"band", $"band_hash")
      .as[(Long, Int, String)].collect().toSet == refDedup,
      "dedup index diverged after the second takedown/undo cycle")
    // ids still missing from the corpus are rejected outright (here: a
    // takedown NOT followed by a restore) — repairing would resurrect
    // the still-deleted ids index-side, the compliance violation
    IndexFollower.takedown(spark, srcDir, dedupDir, ann, victims)
    val stillMarked = AnnIndex.tombstones(spark, ann).as[Long].collect().toSet
    assert(victims.forall(stillMarked.contains))
    val err = intercept[IllegalArgumentException](
      IndexFollower.untakedown(spark, srcDir, dedupDir, ann, victims, "undo-3"))
    assert(err.getMessage.contains("not in"), err.getMessage)
    assert(AnnIndex.tombstones(spark, ann).as[Long].collect().toSet == stillMarked,
      "a rejected untakedown must repair NOTHING — marks were removed")
    corpus.unpersist()
  }

  test("untakedown dedups against a pre-upgrade LEGACY replay key; a fresh key repairs") {
    val corpus = corpusDf().cache()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_utdl_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_utdl_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_utdl_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "utdl_ann", planes = 8, buckets = 8)
    TableLog.appendBatch(corpus, srcDir, "src", 0L)
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    val victims = corpus.select($"doc_id").as[Long].collect().sorted.take(4).toSeq
    val pre1 = TableLog.latest(spark, srcDir).get.version
    IndexFollower.takedown(spark, srcDir, dedupDir, ann, victims)
    TableLog.restore(spark, srcDir, pre1)
    // a PRE-UPGRADE untakedown committed its dedup leg under the plain
    // `untakedown-<repairKey>` ledger key (no id-set hash) and crashed
    // before the ANN leg — reproduce its exact commit
    val victimDocs = TableLog.read(spark, srcDir)
      .filter($"doc_id".isin(victims: _*)).select($"doc_id", $"text")
    assert(TableLog.appendBatch(DedupIndex.indexRows(victimDocs),
      dedupDir, "untakedown-undo-legacy", 0L))
    // …the ids are then taken down AGAIN (rows removed; the ledger entry
    // survives — commit maps are writer history) and the corpus restored
    val pre2 = TableLog.latest(spark, srcDir).get.version
    IndexFollower.takedown(spark, srcDir, dedupDir, ann, victims)
    TableLog.restore(spark, srcDir, pre2)
    assert(TableLog.read(spark, dedupDir)
      .filter($"doc_id".isin(victims: _*)).count() == 0L, "fixture: rows present")
    // a retry under the SAME repairKey must honor the legacy ledger entry
    // (one key = one logical repair, replayed at most once) — not append
    // band rows a second time under the new hashed key
    val u = IndexFollower.untakedown(spark, srcDir, dedupDir, ann, victims,
      "undo-legacy")
    assert(u.dedupIndexRows == 0L,
      s"legacy-keyed repair re-applied under the hashed key: $u")
    assert(TableLog.read(spark, dedupDir)
      .filter($"doc_id".isin(victims: _*)).count() == 0L,
      "the deduped retry still appended band rows")
    // a FRESH key is a new logical repair and restores the band rows
    val u2 = IndexFollower.untakedown(spark, srcDir, dedupDir, ann, victims,
      "undo-fresh")
    assert(u2.dedupIndexRows > 0L, s"fresh-key repair was a no-op: $u2")
    val refRows = DedupIndex.indexRows(victimDocs)
      .select($"doc_id", $"band", $"band_hash")
      .as[(Long, Int, String)].collect().toSet
    assert(TableLog.read(spark, dedupDir)
      .filter($"doc_id".isin(victims: _*))
      .select($"doc_id", $"band", $"band_hash")
      .as[(Long, Int, String)].collect().toSet == refRows,
      "fresh-key repair diverged from a from-scratch banding")
    corpus.unpersist()
  }

  test("a lagging follower catching up over takedown-then-restore does NOT destroy untakedown's repair") {
    val corpus = corpusDf().cache()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_tr_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_tr_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_tr_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "tr_ann", planes = 8, buckets = 8)
    TableLog.appendBatch(corpus, srcDir, "src", 0L) // v0
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val victims = ids.take(3).toSeq
    val preTd = TableLog.latest(spark, srcDir).get.version
    IndexFollower.takedown(spark, srcDir, dedupDir, ann, victims) // delete v
    TableLog.restore(spark, srcDir, preTd)                        // restore v
    IndexFollower.untakedown(spark, srcDir, dedupDir, ann, victims, "tr-fix")
    // the repair is in place; the follower now catches up over BOTH the
    // takedown's delete version and the (feed-invisible) restore — the
    // restore's re-added rows must cancel the delete in the netting, or
    // this pass would deleteIn the repaired band rows and re-tombstone
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    assert(TableLog.read(spark, dedupDir)
      .filter($"doc_id".isin(victims: _*)).select($"doc_id")
      .distinct().count() == victims.length.toLong,
      "the lagging catch-up destroyed untakedown's band-row repair")
    val live = AnnIndex.withoutTombstoned(spark, ann, AnnIndex.probeSide(spark, ann))
      .select($"vec_id").as[Long].collect().toSet
    assert(victims.forall(live.contains),
      "the lagging catch-up re-tombstoned repaired ids")
    // and a delete committed AFTER the restore, even inside the SAME
    // catch-up window as an older restore, still applies — the skip is
    // version-aware, not content-blind: cancelling a post-restore
    // delete would leave a deleted doc served forever (the feed never
    // re-emits a version)
    val pre2 = TableLog.latest(spark, srcDir).get.version
    IndexFollower.takedown(spark, srcDir, dedupDir, ann, victims) // delete v
    TableLog.restore(spark, srcDir, pre2) // restore: victims back
    IndexFollower.untakedown(spark, srcDir, dedupDir, ann, victims, "tr-fix2")
    TableLog.deleteIn(spark, srcDir, "doc_id", victims) // delete AFTER restore
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    assert(TableLog.read(spark, dedupDir)
      .filter($"doc_id".isin(victims: _*)).count() == 0L,
      "a delete committed after a restore was wrongly cancelled")
    val live3 = AnnIndex.withoutTombstoned(spark, ann, AnnIndex.probeSide(spark, ann))
      .select($"vec_id").as[Long].collect().toSet
    assert(victims.forall(v => !live3.contains(v)),
      "a post-restore delete's ids are still served by the ANN relation")
    corpus.unpersist()
  }

  test("a corpus-level delete (no takedown call) reaches both indexes through the change feed") {
    val corpus = corpusDf().cache()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_cd_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_cd_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_cd_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "cd_ann", planes = 8, buckets = 8)
    TableLog.appendBatch(corpus, srcDir, "src", 0L)
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val victims = ids.take(3).toSeq
    // a RAW corpus delete: no takedown() call, no registry mark — the
    // legacy appendsSince follower could never learn about this; the
    // feed-driven one must converge both indexes on its own
    TableLog.deleteIn(spark, srcDir, "doc_id", victims)
    val p = IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    assert(p.exists(_.rowsApplied == 3L), s"delete rows did not flow: $p")
    assert(TableLog.read(spark, dedupDir)
      .filter($"doc_id".isin(victims: _*)).count() == 0L,
      "a corpus delete left band rows in the dedup index")
    val live = AnnIndex.withoutTombstoned(spark, ann, AnnIndex.probeSide(spark, ann))
      .select($"vec_id").as[Long].collect().toSet
    assert(victims.forall(v => !live.contains(v)),
      "a corpus delete's ids are still in the ANN serving relation")
    // an UPSERT (replace-by-key) flows as old-row-out + new-row-in: the
    // dedup rows follow the NEW text; the ANN id must stay served (its
    // net state is alive — a mark here would mask a live doc)
    val target = ids.last
    val newText = "completely fresh replacement text for the upsert case"
    val emb = corpus.filter($"doc_id" === target)
      .select($"embedding").head().getSeq[Float](0).toArray
    assert(TableLog.upsertByKey(spark, srcDir,
      Seq((target, newText, emb)).toDF("doc_id", "text", "embedding")
        .select($"doc_id", $"text", $"embedding".cast("array<float>"))
        .coalesce(1), "doc_id", "ups", 0L))
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    val verdict = DedupIndex.incrementalVerdicts(
      Seq((990009L, newText)).toDF("doc_id", "text"),
      TableLog.read(spark, dedupDir)).as[(Long, Long, Boolean)].collect()
    assert(verdict.exists(v => v._2 == target && !v._3),
      s"the upsert's new text is not indexed: ${verdict.toSeq}")
    val live2 = AnnIndex.withoutTombstoned(spark, ann, AnnIndex.probeSide(spark, ann))
      .select($"vec_id").as[Long].collect().toSet
    assert(live2.contains(target),
      "an upserted (net-alive) id was tombstoned out of the ANN index")
    corpus.unpersist()
  }

  test("takedown BEFORE the follower indexed the docs: the tombstone registry keeps them out of both indexes") {
    val corpus = corpusDf().cache()
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val mid = ids(ids.length / 2)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_lag_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_lag_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_lag_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "lag_ann", planes = 8, buckets = 8)
    // batch 0 applied; batch 1 lands but the follower LAGS behind it
    TableLog.appendBatch(corpus.filter($"doc_id" < mid), srcDir, "src", 0L)
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    TableLog.appendBatch(corpus.filter($"doc_id" >= mid), srcDir, "src", 1L)
    // victims live ONLY in the not-yet-applied batch
    val victims = ids.filter(_ >= mid).take(3).toSeq
    IndexFollower.takedown(spark, srcDir, dedupDir, ann, victims)
    // the fold must NOT retire the pending marks — the tables never
    // held these ids, so the marks are what masks their future append
    AnnIndex.compactTombstones(spark, ann)
    assert(AnnIndex.tombstones(spark, ann).as[Long].collect().toSet == victims.toSet,
      "the fold retired PENDING marks for never-indexed ids")
    // the follower catches up THROUGH the victims' source version:
    // the registry filter must keep them out of both indexes
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    assert(TableLog.read(spark, dedupDir)
      .filter($"doc_id".isin(victims: _*)).count() == 0L,
      "a lagging takedown's docs were re-indexed into the dedup index")
    val live = AnnIndex.withoutTombstoned(spark, ann, AnnIndex.probeSide(spark, ann))
      .select($"vec_id").as[Long].collect().toSet
    assert(victims.forall(v => !live.contains(v)),
      "a lagging takedown's docs are served by the ANN relation")
    // and the raw ANN tables hold no victim rows either (the delta was
    // filtered BEFORE the keyed append, not merely masked)
    assert(AnnIndex.probeSide(spark, ann)
      .filter($"vec_id".isin(victims: _*)).count() == 0L,
      "victim vectors entered the raw tables despite the registry filter")
    // every non-victim doc of the late batch is indexed normally
    val expected = ids.filter(_ >= mid).toSet -- victims
    val probeIds = AnnIndex.probeSide(spark, ann)
      .select($"vec_id").as[Long].collect().toSet
    assert(expected.subsetOf(probeIds), "the registry filter over-dropped")
    corpus.unpersist()
  }

  test("span catch-up: a many-version lag drains in ONE apply with from-scratch parity") {
    val corpus = corpusDf().cache()
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sp_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_sp_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_sp_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "span_ann", planes = 8, buckets = 8)
    // the follower sees version 0, then goes DOWN while 12 more land
    val chunks = ids.grouped(math.max(1, ids.length / 13)).toSeq
    TableLog.appendBatch(corpus.filter($"doc_id".isin(chunks.head: _*)),
      srcDir, "src", 0L)
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    chunks.tail.zipWithIndex.foreach { case (c, i) =>
      TableLog.appendBatch(corpus.filter($"doc_id".isin(c: _*)), srcDir, "src", 1L + i)
    }
    val lag = TableLog.latest(spark, srcDir).get.version -
      IndexFollower.appliedVersion(spark, stateDir)
    assert(lag >= 12, s"fixture vacuity: lag $lag")
    // ONE catch-up pass, ONE apply: the dedup index advances by exactly
    // one commit (one appendBatch per span), not one per lagged version
    val ixVerBefore = TableLog.latest(spark, dedupDir).map(_.version).getOrElse(-1L)
    val p = IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir).get
    val ixVerAfter = TableLog.latest(spark, dedupDir).get.version
    assert(ixVerAfter - ixVerBefore == 1,
      s"span catch-up paid ${ixVerAfter - ixVerBefore} applies for a $lag-version lag")
    assert(p.toVersion - p.fromVersion == lag)
    // parity: the span-built indexes equal from-scratch builds
    val full = AnnIndex.build(corpus.select($"doc_id".as("vec_id"), $"embedding"),
      "span_ann_full", planes = 8, buckets = 8)
    def annSet(h: AnnIndex.Handle) = AnnIndex.probeSide(spark, h)
      .select($"vec_id", $"bucket").as[(Long, Long)].collect().toSet
    assert(annSet(ann) == annSet(full), "span catch-up diverged from a rebuild")
    assert(AnnIndex.probeSide(spark, ann).groupBy($"vec_id").count()
      .filter($"count" > 1).count() == 0L, "span catch-up duplicated vectors")
    val refDedup = DedupIndex.indexRows(corpus.select($"doc_id", $"text"))
      .select($"doc_id", $"band", $"band_hash").as[(Long, Int, String)].collect().toSet
    assert(TableLog.read(spark, dedupDir)
      .select($"doc_id", $"band", $"band_hash").as[(Long, Int, String)].collect().toSet
      == refDedup, "span catch-up dedup rows diverged")
    corpus.unpersist()
  }

  test("a crashed span replays VERBATIM even when the source advanced; legacy per-version state repairs under its own key") {
    val corpus = corpusDf().cache()
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val quarters = ids.grouped(math.max(1, ids.length / 4 + 1)).toSeq
    val srcDir = java.nio.file.Files.createTempDirectory("graft_cr_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_cr_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_cr_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "crash_ann", planes = 8, buckets = 8)
    def land(i: Int): Unit = TableLog.appendBatch(
      corpus.filter($"doc_id".isin(quarters(i): _*)), srcDir, "src", i.toLong)
    land(0)
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)

    // LEGACY state: a pre-span follower fully applied version 1 (both
    // indexes, legacy key v1) but crashed before its checkpoint. The
    // new code must re-drive version 1 under the LEGACY key (both legs
    // no-op) and only span from there — a wide fresh key would
    // re-insert version 1's vectors.
    land(1)
    val runKey = TableLog.runKeyFor(spark, stateDir)
    val (d1, _) = TableLog.appendsSince(spark, srcDir, 0L, 1L)
    TableLog.appendBatch(
      DedupIndex.indexRows(d1.get.select($"doc_id", $"text")),
      dedupDir, runKey, 1L)
    AnnIndex.append(spark, ann,
      d1.get.select($"doc_id".as("vec_id"), $"embedding"), "v1")
    land(2); land(3) // the source advances past the crash
    val p = IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir).get
    assert(p.fromVersion == 0L && p.toVersion == 3L)
    assert(AnnIndex.probeSide(spark, ann).groupBy($"vec_id").count()
      .filter($"count" > 1).count() == 0L,
      "legacy uncheckpointed state was double-inserted by a span key")

    // CRASH MID-SPAN: reconstruct the instant after both index applies
    // of a span but before its checkpoint — intent on file, marker
    // behind — then advance the source again. The retry must replay
    // exactly the intent's span (no-ops) and take the new version as
    // its own fresh span.
    corpus.unpersist()
    val extraA = Seq.tabulate(20)(i => (500000L + i, "fresh span doc " + i,
      Array.fill(16)((i % 7).toFloat / 7f + 0.01f)))
      .toDF("doc_id", "text", "embedding")
      .select($"doc_id", $"text", $"embedding".cast("array<float>"))
    val extraB = Seq.tabulate(20)(i => (600000L + i, "later span doc " + i,
      Array.fill(16)((i % 5).toFloat / 5f + 0.02f)))
      .toDF("doc_id", "text", "embedding")
      .select($"doc_id", $"text", $"embedding".cast("array<float>"))
    TableLog.appendBatch(extraA, srcDir, "src", 10L)
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    val applied = IndexFollower.appliedVersion(spark, stateDir)
    assert(applied >= 4L)
    // roll the marker back to simulate the crash-before-checkpoint of
    // the span that applied extraA, and restore its intent
    val markerDir = new java.io.File(stateDir, "applied")
    new java.io.File(markerDir, "version-3").createNewFile()
    new java.io.File(markerDir, s"version-$applied").delete()
    val intentDir = new java.io.File(stateDir, "intent")
    intentDir.mkdirs()
    new java.io.File(intentDir, s"span-3-$applied").createNewFile()
    TableLog.appendBatch(extraB, srcDir, "src", 11L)
    val annBefore = AnnIndex.probeSide(spark, ann).count()
    val dedupBefore = TableLog.rows(spark, dedupDir)
    val b = DedupIndex.indexRows(extraB.select($"doc_id", $"text")).count()
    val replay = IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir).get
    assert(replay.fromVersion == 3L)
    assert(AnnIndex.probeSide(spark, ann).count() == annBefore + 20L,
      "the replayed span re-inserted its vectors (or lost the new batch)")
    assert(TableLog.rows(spark, dedupDir) == dedupBefore + b,
      "the replayed span duplicated dedup rows (or lost the new batch)")
    assert(AnnIndex.probeSide(spark, ann).groupBy($"vec_id").count()
      .filter($"count" > 1).count() == 0L)
  }

  test("follow() survives a legal corpus evolve — the signal stream must not wedge") {
    val corpus = corpusDf().limit(30).cache()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_fev_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_fev_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_fev_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "fev_ann", planes = 8, buckets = 8)
    val ids = corpus.select($"doc_id").as[Long].collect().sorted
    val q = IndexFollower.follow(spark, srcDir, stateDir, ann, dedupDir)
    try {
      TableLog.appendBatch(corpus.filter($"doc_id".isin(ids.take(10): _*)),
        srcDir, "src", 0L)
      q.processAllAvailable()
      assert(TableLog.read(spark, dedupDir).select($"doc_id").distinct().count() == 10L)
      // a LEGAL evolution beside the contract columns: the pinned signal
      // schema no longer matches the table's — the signal-only stream
      // must keep driving catch-up, not fail with the drift error
      val evolved = TableLog.latest(spark, srcDir).get.schema.get
        .add("lang", StringType, nullable = true)
      TableLog.evolve(spark, srcDir, evolved)
      TableLog.appendBatch(
        corpus.filter($"doc_id".isin(ids.slice(10, 20): _*))
          .withColumn("lang", lit("en")),
        srcDir, "src2", 0L)
      q.processAllAvailable()
      assert(q.isActive, "the standing follower wedged on a legal evolve")
      val indexed = TableLog.read(spark, dedupDir).select($"doc_id").distinct().count()
      assert(indexed == 20L, s"post-evolve appends were not indexed: $indexed docs")
    } finally q.stop()
    corpus.unpersist()
  }

  test("catchUp leases the source table: a deep-lag follower survives an aggressive vacuum") {
    val corpus = corpusDf().cache()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_lease_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_lease_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_lease_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "lease_ann", planes = 8, buckets = 8)
    TableLog.appendBatch(corpus.limit(4), srcDir, "src", 0L)
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    val lease = TableLog.leases(spark, srcDir).find(_._1.startsWith("follower-"))
    assert(lease.exists(_._2._1 == 0L), s"no follower lease: " +
      s"${TableLog.leases(spark, srcDir)}")
    // the source runs far past KeepManifests while the follower sleeps;
    // an aggressive vacuum must keep the follower's delta alive
    (1 to TableLog.KeepManifests + 4).foreach(b =>
      TableLog.appendBatch(corpus.limit(2), srcDir, "src", b.toLong))
    TableLog.vacuum(spark, srcDir, graceMs = 0L)
    assert(TableLog.retainedVersions(spark, srcDir).min == 0L,
      s"vacuum pruned the leased floor: ${TableLog.retainedVersions(spark, srcDir)}")
    val p = IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    assert(p.exists(_.toVersion == (TableLog.KeepManifests + 4).toLong),
      s"deep-lag catch-up failed: $p")
    assert(TableLog.leases(spark, srcDir)
      .find(_._1.startsWith("follower-"))
      .exists(_._2._1 == (TableLog.KeepManifests + 4).toLong),
      "the lease did not advance with the applied span")
    corpus.unpersist()
  }

  test("a follower lagging past source retention fails loudly with the readable floor") {
    val corpus = corpusDf().limit(50).cache()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_fl2_src").toString + "/t"
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_fl2_ddx").toString + "/ix"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_fl2_state").toString
    import org.apache.spark.sql.types._
    val emptyCorpus = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val ann = AnnIndex.build(emptyCorpus, "follower2_ann", planes = 8, buckets = 8)
    TableLog.appendBatch(corpus, srcDir, "src", 0L)
    IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir)
    // push the follower's floor out of retention — catchUp leases the
    // source now, so strangling a lagging follower takes the explicit
    // ignoreLeases override (the operator's documented reclaim-now path)
    (0 until TableLog.KeepManifests + 3).foreach { i =>
      TableLog.appendBatch(corpus.limit(1), srcDir, "src", 1L + i)
    }
    TableLog.vacuum(spark, srcDir, graceMs = 0L, ignoreLeases = true)
    val e = intercept[IllegalStateException](
      IndexFollower.catchUp(spark, srcDir, stateDir, ann, dedupDir))
    assert(e.getMessage.contains("retention") && e.getMessage.contains("rebuild"),
      e.getMessage)
    corpus.unpersist()
  }
}
