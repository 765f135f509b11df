package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Materialize.cut — the session-policy replacement for the r8-era
  * localCheckpoint sites. Asserts the MODE CHOICE and the artifact each
  * mode produces (lineage-truncated plan vs replicated-disk persist with
  * lineage intact); the executor-loss recovery itself is not locally
  * testable, which is exactly why the storage-level choice is pinned
  * here.
  */
class MaterializeSpec extends SparkSuite {
  import spark.implicits._

  private def withConf[A](k: String, v: String)(body: => A): A = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(k, p); case None => spark.conf.unset(k)
    }
  }

  test("auto resolves to local on a local master with no checkpoint dir") {
    assert(spark.sparkContext.isLocal)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(Materialize.mode(spark) == "local")
    // and the cut is a lineage-truncated RDD scan (localCheckpoint shape)
    val cut = Materialize.cut(Seq(1, 2, 3).toDF("v"))
    assert(cut.queryExecution.logical.isInstanceOf[LogicalRDD],
      cut.queryExecution.logical.getClass.toString)
    assert(cut.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("auto prefers reliable checkpoint once a checkpoint dir is set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      assert(Materialize.mode(spark) == "reliable")
      val cut = Materialize.cut(Seq(4, 5).toDF("v"))
      assert(cut.queryExecution.logical.isInstanceOf[LogicalRDD])
      // the backing RDD is reliably checkpointed — files under the dir
      assert(new java.io.File(dir).listFiles().nonEmpty,
        "no reliable checkpoint artifact found")
      assert(cut.as[Int].collect().sorted.toSeq == Seq(4, 5))
      // release DELETES the cut's private rdd-<id> checkpoint subdir
      // (Spark never reclaims checkpoint data unless cleanCheckpoints is
      // set) — the consumed cut above must leave no files behind
      Materialize.release(cut)
      def dataFiles(): Seq[java.io.File] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(dir))
      }
      assert(dataFiles().isEmpty,
        s"release left checkpoint data: ${dataFiles().map(_.getName)}")
    } finally {
      // SparkContext has no public unset (setCheckpointDir only writes);
      // clear the private var reflectively so the shared suite session
      // does not stay in reliable mode for every later test
      classOf[org.apache.spark.SparkContext]
        .getMethod("checkpointDir_$eq", classOf[Option[_]])
        .invoke(spark.sparkContext, None)
      assert(Materialize.mode(spark) == "local")
    }
  }

  test("disk mode persists DISK_ONLY_2 RDD blocks; release frees them; no CacheManager pin") {
    withConf(Materialize.ConfKey, "disk") {
      assert(Materialize.mode(spark) == "disk")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = spark.range(100).toDF("id")
      val cut = Materialize.cut(df)
      // the backing RDD (not the Dataset plan) is persisted at
      // DISK_ONLY_2: replicated blocks, RDD recompute lineage intact,
      // and — the r9 review finding — NOTHING in the session
      // CacheManager, so an un-released cut is GC-collectable instead
      // of pinned for the session lifetime
      val added = spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !before.contains(id) }
      assert(added.values.exists(_.getStorageLevel == StorageLevel.DISK_ONLY_2),
        s"no DISK_ONLY_2 RDD registered: ${added.values.map(_.getStorageLevel)}")
      // Dataset.storageLevel consults the CacheManager — NONE means no
      // plan-level cache entry exists for this cut
      assert(cut.storageLevel == StorageLevel.NONE,
        "disk cut must not pin the plan in the CacheManager")
      assert(cut.count() == 100)
      Materialize.release(cut)
      val afterRelease = spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !before.contains(id) }
        .filter(_._2.getStorageLevel != StorageLevel.NONE)
      assert(afterRelease.isEmpty,
        s"release left persisted blocks: ${afterRelease.keys}")
    }
  }

  test("explicit mode conf overrides auto; junk value fails loudly") {
    withConf(Materialize.ConfKey, "local") {
      assert(Materialize.mode(spark) == "local")
    }
    withConf(Materialize.ConfKey, "chaos") {
      val e = intercept[IllegalArgumentException](Materialize.mode(spark))
      assert(e.getMessage.contains("chaos"))
    }
  }

  test("cutWithProbe: fused probe equals a separate aggregate in every mode") {
    val df = (1L to 1000L).toDF("v")
      .select($"v" % 7 as "src", $"v" % 5 as "dst")
      .withColumn("__p", org.apache.spark.sql.functions.xxhash64($"src", $"dst"))
    val wantSum = df.select(org.apache.spark.sql.functions.sum(
      $"__p".cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head().getDecimal(0)
    for (m <- Seq("local", "disk", "reliable")) {
      val ckpt =
        if (m == "reliable") {
          val d = java.nio.file.Files.createTempDirectory("graft_ckpt_probe").toString
          spark.sparkContext.setCheckpointDir(d); Some(d)
        } else None
      try withConf(Materialize.ConfKey, m) {
        val (cut, n, s) = Materialize.cutWithProbe(df)
        assert(n == 1000L, s"mode $m: count")
        assert(s == BigInt(wantSum.toBigInteger), s"mode $m: probe sum")
        assert(cut.columns.toSeq == Seq("src", "dst"), s"mode $m: probe column dropped")
        assert(cut.count() == 1000L, s"mode $m: cut readable")
        Materialize.release(cut)
      } finally ckpt.foreach { _ =>
        // restore the no-checkpoint-dir default (the CC checkpoint test's
        // teardown pattern)
        classOf[org.apache.spark.SparkContext]
          .getMethod("checkpointDir_$eq", classOf[Option[_]])
          .invoke(spark.sparkContext, None)
      }
    }
  }

  test("cutWithProbe rejects a nullable probe column") {
    // a null probe would fold in as 0 — a silently wrong checksum
    val df = (1L to 10L).toDF("v").select($"v",
      org.apache.spark.sql.functions.when($"v" > 5L, $"v").as("__p"))
    assert(df.schema("__p").nullable, "fixture vacuity: probe is non-nullable")
    val e = intercept[IllegalArgumentException](Materialize.cutWithProbe(df))
    assert(e.getMessage.contains("non-nullable"), e.getMessage)
  }

  test("CC rounds still converge under the disk policy, cleaning up rounds") {
    withConf(Materialize.ConfKey, "disk") {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L)).toDF("a", "b")
      val (labels, rounds) = ConnectedComponents.labelsAndRounds(edges)
      val got = labels.as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      assert(rounds >= 1)
    }
  }

  test("multi-round CC with a checkpoint dir does not accumulate per-round data") {
    // a long-path graph forces several large-star/small-star rounds; the
    // superseded rounds' checkpoints must be deleted as the loop advances
    // — at 100 TB each round's edge set is the CORPUS-scale intermediate,
    // and without per-round release the checkpoint dir holds all of them
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_cc").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      assert(Materialize.mode(spark) == "reliable")
      val chain = (0L until 64L).map(i => (i, i + 1)).toDF("a", "b")
      val (labels, rounds) = ConnectedComponents.labelsAndRounds(chain)
      val got = labels.as[(Long, Long)].collect().toMap
      assert(got.values.toSet == Set(0L) && got.size == 65)
      assert(rounds >= 2, s"fixture vacuity: want a multi-round run, got $rounds")
      // only the LAST round's cut (the one labels was computed from) may
      // still hold data — every superseded round must be gone
      def rddDirs() = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f else Seq(f)
        walk(new java.io.File(dir)).filter(_.getName.startsWith("rdd-"))
      }
      assert(rddDirs().size <= 1,
        s"checkpoint dir grew with the rounds ($rounds rounds): " +
          rddDirs().map(_.getName))
    } finally {
      classOf[org.apache.spark.SparkContext]
        .getMethod("checkpointDir_$eq", classOf[Option[_]])
        .invoke(spark.sparkContext, None)
    }
  }
}
