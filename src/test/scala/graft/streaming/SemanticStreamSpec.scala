package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming semantic dedup must agree row-for-row with the batch
  * dedup_semantic query when the stream replays the corpus in vec_id
  * order with the same frozen quantizer and an unbound member cap —
  * the minhashVerdicts done-bar applied to the embedding modality.
  */
class SemanticStreamSpec extends SparkSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def corpus = spark.read.parquet(sf() + "/embeddings.parquet")
    .select($"vec_id", $"embedding").as[(Long, Array[Float])]
    .collect().sortBy(_._1)

  test("semanticVerdicts == batch dedup_semantic on the corpus, across batches") {
    withRocksDBState {
      val vecs = corpus
      // the batch query's frozen quantizer: the fixed sample [100, 116)
      val cents = vecs.filter(v => v._1 >= 100 && v._1 < 116).toSeq
      val in = MemoryStream[(Long, Array[Float], Long)]
      val out = Dedup.semanticVerdicts(in.toDS(), cents,
        maxBucketMembers = Int.MaxValue)
      val q = out.toDF("vec_id", "seq", "root_doc", "is_keeper").writeStream
        .format("memory").queryName("sem_stream_t").outputMode("append").start()
      try {
        vecs.grouped(math.max(1, vecs.length / 4 + 1)).foreach { chunk =>
          in.addData(chunk.map { case (id, emb) => (id, emb, id) }.toSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val got = spark.table("sem_stream_t")
        .select($"vec_id", $"root_doc", $"is_keeper")
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap

      val batch = graft.queries.DedupOps.queries("dedup_semantic")(spark, sf())
        .select($"vec_id", $"dup_of").collect()
        .map { r =>
          val id = r.getLong(0)
          val dupOf = if (r.isNullAt(1)) None else Some(r.getLong(1))
          id -> (dupOf.getOrElse(id), dupOf.isEmpty)
        }.toMap

      assert(got.size == batch.size,
        s"row counts differ: ${got.size} vs ${batch.size}")
      val diffs = batch.keys.filter(id => got(id) != batch(id)).toSeq.sorted
      assert(diffs.isEmpty,
        s"verdicts diverge for ${diffs.take(5).map(id => (id, got(id), batch(id)))}")
      // the corpus actually carries duplicates — the parity is not vacuous
      assert(got.values.exists(!_._2), "no duplicate verdicts on this corpus")
    }
  }

  test("bucket state survives a query restart from the checkpoint") {
    withRocksDBState {
      def oneHot(dim: Int): Array[Float] = {
        val v = Array.fill(64)(0.0f); v(dim) = 1.0f; v
      }
      val src = java.nio.file.Files.createTempDirectory("graft_sem_src").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_sem_ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("graft_sem_out").toString
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("seq", LongType)))
      def write(rows: (Long, Array[Float], Long)*): Unit =
        rows.toSeq.toDF("vec_id", "embedding", "seq").coalesce(1)
          .write.mode("append").parquet(src)
      def start() = {
        val ds = spark.readStream.schema(schema).parquet(src)
          .as[(Long, Array[Float], Long)]
        Dedup.semanticVerdicts(ds, Seq(0L -> oneHot(0)),
            maxBucketMembers = Int.MaxValue)
          .toDF("vec_id", "seq", "root_doc", "is_keeper")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).outputMode("append").start()
      }
      write((10L, oneHot(7), 1L))
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      // the near-copy arrives AFTER the restart: catching it requires the
      // registered member (id + embedding + norm) from the checkpoint
      write((20L, oneHot(7), 2L))
      val q2 = start(); q2.processAllAvailable(); q2.stop()
      val got = spark.read.parquet(out).as[(Long, Long, Long, Boolean)]
        .collect().sortBy(_._1).toSeq
      assert(got.map(r => (r._1, r._3, r._4)) == Seq((10L, 10L, true), (20L, 10L, false)))
    }
  }

  test("a near-dup arriving in a LATER batch is still caught via registered state") {
    withRocksDBState {
      def oneHot(dim: Int): Array[Float] = {
        val v = Array.fill(64)(0.0f); v(dim) = 1.0f; v
      }
      // centroid 0 at dim 0; vectors near it
      val cents = Seq(0L -> oneHot(0))
      val in = MemoryStream[(Long, Array[Float], Long)]
      val out = Dedup.semanticVerdicts(in.toDS(), cents,
        maxBucketMembers = Int.MaxValue)
      val q = out.toDF("vec_id", "seq", "root_doc", "is_keeper").writeStream
        .format("memory").queryName("sem_stream_late").outputMode("append").start()
      try {
        in.addData((10L, oneHot(7), 1L)); q.processAllAvailable()
        in.addData((20L, oneHot(7), 2L)) // exact copy, next micro-batch
        in.addData((30L, oneHot(9), 3L)) // distinct vector
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("sem_stream_late")
        .select($"vec_id", $"root_doc", $"is_keeper")
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got(10L) == ((10L, true)))
      assert(got(20L) == ((10L, false)), s"late copy verdict: ${got(20L)}")
      assert(got(30L) == ((30L, true)))
    }
  }
  test("semanticVerdicts rejects maxBucketMembers < 1 before it starts") {
    val e = intercept[IllegalArgumentException](Dedup.semanticVerdicts(
      MemoryStream[(Long, Array[Float], Long)].toDS(), Seq(0L -> Array(1.0f)), maxBucketMembers = 0))
    assert(e.getMessage.contains("maxBucketMembers"), e.getMessage)
  }
}
