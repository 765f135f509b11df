package graft.streaming

import graft.SparkSuite
import graft.functions.Lsh
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.min

/** Streaming dedup surface: exact (dropDuplicates + watermark variants)
  * and the MinHash band-state near-dup pipeline, which must agree with
  * the batch `dedup_clusters` keeper set on the real corpus when the
  * stream replays it in doc_id order (VERDICT r5 item #4's done bar).
  */
class DedupStreamSpec extends SparkSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("exact: replays across micro-batches are suppressed") {
    val in = MemoryStream[String]
    val out = Dedup.exact(in.toDF().toDF("text"))
    val q = out.select("text").writeStream
      .format("memory").queryName("dedup_exact_t").outputMode("append").start()
    in.addData("alpha", "beta", "alpha")
    q.processAllAvailable()
    in.addData("beta", "gamma", "alpha") // cross-batch replays
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_exact_t").as[String].collect().sorted.toSeq
    assert(got == Seq("alpha", "beta", "gamma"))
  }

  test("exactWithinWatermark: state ages out past the delay, dups inside it suppressed") {
    val in = MemoryStream[(java.sql.Timestamp, String)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val out = Dedup.exactWithinWatermark(
      in.toDF().toDF("event_time", "text"), "event_time", "10 minutes")
    val q = out.select("text").writeStream
      .format("memory").queryName("dedup_wm_t").outputMode("append").start()
    in.addData((ts(0), "alpha"), (ts(1), "alpha")) // dup inside watermark
    q.processAllAvailable()
    in.addData((ts(30), "beta")) // advances watermark past alpha's window
    q.processAllAvailable()
    in.addData((ts(31), "alpha")) // alpha's state aged out → re-admitted
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_wm_t").as[String].collect().toSeq
    assert(got.sorted == Seq("alpha", "alpha", "beta"))
  }

  test("minhashVerdicts: streaming keeper set == batch dedup_clusters keepers (sf0.001)") {
    withRocksDBState {
      val docs = spark.read.parquet(sf() + "/documents.parquet")
        .select($"doc_id", $"text").as[(Long, String)]
        .collect().sortBy(_._1)
      val in = MemoryStream[(Long, String, Long)]
      val out = Dedup.minhashVerdicts(in.toDS())
      val q = out.toDF("doc_id", "seq", "root_doc", "is_keeper").writeStream
        .format("memory").queryName("dedup_mh_t").outputMode("append").start()
      // replay the corpus in doc_id order across 5 micro-batches
      docs.grouped(math.max(1, docs.length / 5 + 1)).foreach { chunk =>
        in.addData(chunk.map { case (id, text) => (id, text, id) }.toSeq)
        q.processAllAvailable()
      }
      q.stop()
      val got = spark.table("dedup_mh_t")
        .as[(Long, Long, Long, Boolean)].collect()
      assert(got.length == docs.length) // exactly one verdict per doc
      val streamKeepers = got.filter(_._4).map(_._1).toSet

      val batch = graft.queries.DedupOps.queries("dedup_clusters")(spark, sf())
      val batchKeepers = batch.filter("is_keeper = 1")
        .select("doc_id").as[Long].collect().toSet
      assert(streamKeepers == batchKeepers)
      // non-keepers must point at an earlier doc as root
      got.filterNot(_._4).foreach { case (id, _, root, _) => assert(root < id) }
    }
  }

  test("simhashVerdicts: streaming keepers == batch dedup_simhash fingerprint groups (sf0.001)") {
    withRocksDBState {
      val docs = spark.read.parquet(sf() + "/documents.parquet")
        .select($"doc_id", $"text").as[(Long, String)]
        .collect().sortBy(_._1)
      val in = MemoryStream[(Long, String, Long)]
      val out = Dedup.simhashVerdicts(in.toDS())
      val q = out.toDF("doc_id", "seq", "root_doc", "is_keeper").writeStream
        .format("memory").queryName("dedup_sh_t").outputMode("append").start()
      docs.grouped(200).foreach { chunk =>
        in.addData(chunk.map { case (id, t) => (id, t, id) }.toSeq)
        q.processAllAvailable()
      }
      q.stop()
      val got = spark.table("dedup_sh_t").as[(Long, Long, Long, Boolean)].collect()
      assert(got.length == docs.length)
      val streamKeepers = got.filter(_._4).map(_._1).toSet

      // batch: keeper = min doc_id of each simhash16 fingerprint group
      val batch = graft.queries.DedupOps.queries("dedup_simhash")(spark, sf())
      val batchKeepers = batch.groupBy("simhash16").agg(min($"doc_id").as("k"))
        .select("k").as[Long].collect().toSet
      val tokenless = docs.filter(_._2.trim.isEmpty).map(_._1).toSet
      assert(streamKeepers == batchKeepers ++ tokenless)
      got.filterNot(_._4).foreach { case (id, _, root, _) => assert(root < id) }
    }
  }

  test("minhashVerdicts: bucket state survives a restart from the checkpoint") {
    withRocksDBState {
      val src = java.nio.file.Files.createTempDirectory("graft_mh_src").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_mh_ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("graft_mh_out").toString
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType)))
      def write(rows: (Long, String, Long)*): Unit =
        rows.toSeq.toDF("doc_id", "text", "seq").coalesce(1)
          .write.mode("append").parquet(src)
      def start() = {
        val ds = spark.readStream.schema(schema).parquet(src)
          .as[(Long, String, Long)]
        Dedup.minhashVerdicts(ds)
          .toDF("doc_id", "seq", "root_doc", "is_keeper")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).outputMode("append").start()
      }
      val base = "one two three four five six seven eight nine ten eleven twelve"
      write((1L, base, 1L))
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      // the near-copy arrives AFTER the restart: matching it requires the
      // bucket membership persisted in the checkpointed state store
      write((2L, base + " thirteen", 2L))
      val q2 = start(); q2.processAllAvailable(); q2.stop()
      val got = spark.read.parquet(out).as[(Long, Long, Long, Boolean)]
        .collect().sortBy(_._1).toSeq
      assert(got.map(r => (r._1, r._3, r._4)) == Seq((1L, 1L, true), (2L, 1L, false)))
    }
  }

  test("minhashVerdicts: shingle-less docs are singleton keepers; near-copy caught across batches") {
    withRocksDBState {
      val in = MemoryStream[(Long, String, Long)]
      val out = Dedup.minhashVerdicts(in.toDS())
      val q = out.toDF("doc_id", "seq", "root_doc", "is_keeper").writeStream
        .format("memory").queryName("dedup_mh2_t").outputMode("append").start()
      val base = "the quick brown fox jumps over the lazy dog again and again"
      in.addData((1L, base, 1L), (2L, "tiny", 2L)) // doc 2: < 3 tokens → no shingles
      q.processAllAvailable()
      in.addData((3L, base + " tail", 3L)) // near-copy arrives a batch later
      q.processAllAvailable()
      q.stop()
      val got = spark.table("dedup_mh2_t")
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
      assert(got.map(r => (r._1, r._3, r._4)).toSeq ==
        Seq((1L, 1L, true), (2L, 2L, true), (3L, 1L, false)))
    }
  }

  test("minhashVerdicts and indexVerdicts compute each signature kernel once per document") {
    import graft.functions.{DedupIndex, MinHashSigs, Shingles3}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    withRocksDBState {
      val base = "the quick brown fox jumps over the lazy dog again and again"
      // the index is materialized, so only the stream side's kernels show
      val index = DedupIndex.indexRows(Seq((1L, base)).toDF("doc_id", "text")).localCheckpoint()
      for ((name, build) <- Seq[(String, org.apache.spark.sql.Dataset[(Long, String, Long)] =>
             org.apache.spark.sql.Dataset[(Long, Long, Long, Boolean)])](
             "minhash" -> (Dedup.minhashVerdicts(_)),
             "index" -> (Dedup.indexVerdicts(_, index)))) {
        val in = MemoryStream[(Long, String, Long)]
        val q = build(in.toDS()).toDF("doc_id", "seq", "root_doc", "is_keeper").writeStream
          .format("memory").queryName(s"dedup_once_$name").outputMode("append").start()
        in.addData((2L, base + " tail", 2L), (3L, "tiny", 3L))
        q.processAllAvailable()
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
        q.stop()
        val kernels = plan.collect { case n => n.expressions.flatMap(_.collect {
          case _: MinHashSigs => "MinHashSigs"
          case _: Shingles3 => "Shingles3"
        }) }.flatten
        assert(kernels.sorted == Seq("MinHashSigs", "Shingles3"), s"$name:\n$plan")
        assert(spark.table(s"dedup_once_$name").count() == 2)
      }
    }
  }

  private def verdictsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Boolean)] =
    df.toDF("doc_id", "seq", "root_doc", "is_keeper").select("doc_id", "root_doc", "is_keeper")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq

  test("simhashVerdicts: fingerprint owners survive a restart from the checkpoint") {
    withRocksDBState {
      val base = "one two three four five six seven eight nine ten"
      // the copy arrives AFTER the restart: owning it needs the checkpointed owner
      val (out, _) = runRestarting(Seq((1L, base, 1L)).toDF("doc_id", "text", "seq"),
          Seq((2L, base, 2L), (3L, "", 3L)).toDF("doc_id", "text", "seq")) { df =>
        Dedup.simhashVerdicts(df.as[(Long, String, Long)]).toDF()
      }
      assert(verdictsOf(out) == Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
    }
  }

  test("minhashVerdicts, simhashVerdicts and indexVerdicts scan each micro-batch once") {
    import graft.functions.DedupIndex
    import org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    withRocksDBState {
      val base = "the quick brown fox jumps over the lazy dog again and again"
      val index = DedupIndex.indexRows(Seq((1L, base)).toDF("doc_id", "text")).localCheckpoint()
      for ((name, build) <- Seq[(String, org.apache.spark.sql.Dataset[(Long, String, Long)] =>
             org.apache.spark.sql.Dataset[(Long, Long, Long, Boolean)])](
             "minhash" -> (Dedup.minhashVerdicts(_)),
             "simhash" -> (Dedup.simhashVerdicts(_)),
             "index" -> (Dedup.indexVerdicts(_, index)))) {
        val in = MemoryStream[(Long, String, Long)]
        val q = build(in.toDS()).toDF("doc_id", "seq", "root_doc", "is_keeper").writeStream
          .format("memory").queryName(s"dedup_scan_$name").outputMode("append").start()
        in.addData((2L, base + " tail", 2L), (3L, "tiny", 3L), (4L, "", 4L))
        q.processAllAvailable()
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
        q.stop()
        val scans = plan.collect { case s: StreamingDataSourceV2ScanRelation => s }
        assert(scans.size == 1, s"$name:\n$plan")
        val got = spark.table(s"dedup_scan_$name").as[(Long, Long, Long, Boolean)].collect()
        assert(got.map(_._1).sorted.toSeq == Seq(2L, 3L, 4L), name)
        assert(got.filter(_._1 >= 3L).forall(r => r._3 == r._1 && r._4), s"$name: ${got.toSeq}")
      }
    }
  }

  /** The rows of the state variable `stateVar` of the query checkpointed
    * at `ckpt`: `owner` of simhash's one operator, or `members` of a
    * bucketed face's membership stage (operator 1; its per-doc fold,
    * operator 0, holds no state). */
  private def stateRows(ckpt: String, stateVar: String): org.apache.spark.sql.DataFrame =
    spark.read.format("statestore").option("operatorId", if (stateVar == "members") 1 else 0)
      .option("stateVarName", stateVar).load(ckpt)

  test("singleton docs take the keyed path and leave no state rows") {
    withRocksDBState {
      val docs = Seq((1L, "one two three four five six", 1L), (2L, "tiny", 2L),
        (3L, "", 3L), (4L, "   ", 4L), (5L, null, 5L)).toDF("doc_id", "text", "seq")
      val singletons = Seq((2L, 2L, true), (3L, 3L, true), (4L, 4L, true), (5L, 5L, true))
      val (mh, mhCkpt) = runRestarting(docs)(df => Dedup.minhashVerdicts(df.as[(Long, String, Long)]).toDF())
      assert(verdictsOf(mh) == (1L, 1L, true) +: singletons)
      // doc 1's four bands, nothing else
      val members = stateRows(mhCkpt, "members").select($"key.value", $"list_element._1")
        .as[(String, Long)].collect()
      assert(members.length == Lsh.Small.bands && members.forall { case (k, id) =>
        k.length == 32 && id == 1L }, members.toSeq)
      val (sh, shCkpt) = runRestarting(docs)(df => Dedup.simhashVerdicts(df.as[(Long, String, Long)]).toDF())
      assert(verdictsOf(sh) == (1L, 1L, true) +: singletons)
      // "tiny" has a token, so a fingerprint; the token-less docs own none
      assert(stateRows(shCkpt, "owner").select($"value.value").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L))
    }
  }

  test("each near-dup processor keeps its state variable names and schemas") {
    withRocksDBState {
      val text = Seq((1L, "one two three four five six", 1L)).toDF("doc_id", "text", "seq")
      val faces = Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame, String, String, String)](
        ("minhash", text, df => Dedup.minhashVerdicts(df.as[(Long, String, Long)]).toDF(),
          "members", "struct<value:string>", "struct<_1:bigint,_2:array<string>>"),
        ("simhash", text, df => Dedup.simhashVerdicts(df.as[(Long, String, Long)]).toDF(),
          "owner", "struct<value:bigint>", "struct<value:bigint>"),
        ("fingerprint", Seq((1L, 7L, 9L, 1L)).toDF("doc_id", "h_hi", "h_lo", "seq"),
          df => Dedup.fingerprintVerdicts(df.as[(Long, Long, Long, Long)]).toDF(),
          "members", "struct<value:bigint>", "struct<_1:bigint,_2:bigint,_3:bigint>"),
        ("semantic", Seq((1L, Array(1.0f, 0.0f), 1L)).toDF("vec_id", "embedding", "seq"),
          df => Dedup.semanticVerdicts(df.as[(Long, Array[Float], Long)],
            Seq(0L -> Array(1.0f, 0.0f))).toDF(),
          "members", "struct<value:bigint>", "struct<_1:bigint,_2:array<float>,_3:double>"))
      for ((face, input, build, stateVar, key, value) <- faces) {
        val (_, ckpt) = runRestarting(input)(build)
        val state = stateRows(ckpt, stateVar)
        val valueCol = if (stateVar == "members") "list_element" else "value"
        assert(state.schema("key").dataType.simpleString == key, s"$face: ${state.schema}")
        assert(state.schema(valueCol).dataType.simpleString == value, s"$face: ${state.schema}")
        assert(state.count() >= 1, face)
      }
    }
  }

  test("minhashVerdicts rejects maxBucketMembers < 1 before it starts") {
    val text = MemoryStream[(Long, String, Long)].toDS()
    val e = intercept[IllegalArgumentException](Dedup.minhashVerdicts(text, maxBucketMembers = 0))
    assert(e.getMessage.contains("maxBucketMembers"), e.getMessage)
  }
}
