package graft.streaming

import graft.SparkSuite
import graft.multimodal.{Afp, Multimodal}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming perceptual-fingerprint dedup: one operator serves both
  * image and audio near-dup verdicts (the (hi, lo) hash contract), and
  * its greedy keeper set must equal the seq-order greedy scan computed
  * brute-force from the same fingerprints — across micro-batch splits.
  */
class FingerprintStreamSpec extends SparkSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Real audio fingerprints: families of near-dup WAV renditions (base,
    * half gain, 2:1 decimation — the AfpSpec variants) plus unrelated
    * signals, hashed through the real JavaSound decode. */
  private def corpus: Seq[(Long, Long, Long)] = {
    def signal(seed: Int, n: Int = 3900): Array[Int] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val levels = Array.tabulate(Afp.Frames)(f =>
        md.digest(s"$seed|$f".getBytes("UTF-8"))(0) & 0xff)
      Array.tabulate(n) { i =>
        val f = ((i.toLong * Afp.Frames) / n).toInt
        val amp = levels(f) * 96 + (i * 37 % 97)
        if (i % 2 == 0) amp else -amp
      }
    }
    def hashOf(samples: Array[Int]): (Long, Long) =
      Afp.energyHashBlob(Multimodal.SyntheticAudio.pcm16(
        samples.length, 16000)(samples(_))).getOrElse(fail("decode failed"))
    (0 until 3).flatMap { fam =>
      val base = signal(300 + fam)
      Seq(
        hashOf(base),
        hashOf(base.map(_ / 2)),
        hashOf(Array.tabulate(base.length / 2)(i => base(2 * i))))
        .zipWithIndex.map { case ((hi, lo), v) => (fam * 3L + v, hi, lo) }
    } ++ (0 until 6).map { u =>
      val (hi, lo) = hashOf(signal(400 + u))
      (100L + u, hi, lo)
    }
  }

  test("fingerprintVerdicts == greedy seq-order Hamming scan, across batches") {
    withRocksDBState {
      val docs = corpus
      // brute-force greedy oracle: keeper iff no earlier doc within
      // Hamming 3; root = smallest such earlier doc
      val expected = docs.zipWithIndex.map { case ((id, hi, lo), i) =>
        val matched = docs.take(i).collect {
          case (pid, phi, plo)
            if java.lang.Long.bitCount(phi ^ hi) +
              java.lang.Long.bitCount(plo ^ lo) <= 3 => pid
        }
        (id, id, if (matched.isEmpty) id else matched.min, matched.isEmpty)
      }.toSet
      // sanity: the families must actually produce non-keepers
      assert(expected.count(!_._4) >= 6, s"fixture too weak: $expected")

      val in = MemoryStream[(Long, Long, Long, Long)]
      val q = Dedup.fingerprintVerdicts(in.toDS())
        .toDF("doc_id", "seq", "root_doc", "is_keeper").writeStream
        .format("memory").queryName("fp_t").outputMode("append").start()
      try {
        // seq = doc position in arrival order; split mid-family so
        // cross-batch matching is exercised
        val seqd = docs.zipWithIndex.map { case ((id, hi, lo), i) => (id, hi, lo, i.toLong) }
        val (b1, b2) = seqd.splitAt(4)
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("fp_t")
        .as[(Long, Long, Long, Boolean)].collect()
        .map { case (id, seq, root, keep) => (id, docs(seq.toInt)._1, root, keep) }.toSet
      assert(got == expected,
        s"diff=${got.diff(expected) ++ expected.diff(got)}")
    }
  }

  test("fingerprintVerdicts: exact-duplicate hash across batches dedups to first owner") {
    withRocksDBState {
      val in = MemoryStream[(Long, Long, Long, Long)]
      val q = Dedup.fingerprintVerdicts(in.toDS())
        .toDF("doc_id", "seq", "root_doc", "is_keeper").writeStream
        .format("memory").queryName("fp_dup_t").outputMode("append").start()
      try {
        in.addData((1L, 0xDEADL, 0xBEEFL, 0L)); q.processAllAvailable()
        in.addData((2L, 0xDEADL, 0xBEEFL, 1L), (3L, 0x1234L, 0x5678L, 2L))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("fp_dup_t")
        .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> ((r._3, r._4))).toMap
      assert(got(1L) == ((1L, true)))
      assert(got(2L) == ((1L, false)), s"cross-batch dup not caught: ${got(2L)}")
      assert(got(3L) == ((3L, true)))
    }
  }
  test("fingerprintVerdicts: bucket members survive a restart from the checkpoint") {
    withRocksDBState {
      // doc 2 is 2 bits from doc 1 and arrives AFTER the restart: matching
      // it needs doc 1's registration from the checkpointed state
      val (out, _) = runRestarting(Seq((1L, 0xDEADL, 0xBEEFL, 1L)).toDF("doc_id", "h_hi", "h_lo", "seq"),
          Seq((2L, 0xDEADL ^ 3L, 0xBEEFL, 2L), (3L, 0x1234L, 0x5678L, 3L))
            .toDF("doc_id", "h_hi", "h_lo", "seq")) { df =>
        Dedup.fingerprintVerdicts(df.as[(Long, Long, Long, Long)]).toDF()
      }
      val got = out.toDF("doc_id", "seq", "root_doc", "is_keeper")
        .select("doc_id", "root_doc", "is_keeper").as[(Long, Long, Boolean)].collect().sortBy(_._1)
      assert(got.toSeq == Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
    }
  }

  test("fingerprintVerdicts rejects maxBucketMembers < 1 before it starts") {
    val e = intercept[IllegalArgumentException](Dedup.fingerprintVerdicts(
      MemoryStream[(Long, Long, Long, Long)].toDS(), maxBucketMembers = 0))
    assert(e.getMessage.contains("maxBucketMembers"), e.getMessage)
  }
}
