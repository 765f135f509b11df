package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Adversarial template-heavy corpus for the two dedup caps that were
  * previously argued only in comments:
  *
  *  - the batch df cap (DedupOps MaxShingleDf): one boilerplate block
  *    shared by 150 docs must NOT explode the blocked self-join — the
  *    cap drops the boilerplate shingles from the representation and
  *    candidate pairs collapse from O(dups²) to the genuinely-similar
  *    few, while a real near-dup pair (similar in its NON-boilerplate
  *    text) is still found;
  *
  *  - the streaming bucket cap (Dedup.minhashVerdicts): the documented
  *    missed-pair case — two future near-duplicates whose shared bands
  *    ALL land in already-full buckets are both emitted as keepers —
  *    is constructed explicitly (cap=1, one dissimilar bucket-squatter
  *    per band), and raising the cap restores the batch pairing.
  */
class BoilerplateFixtureSpec extends SparkSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val Boilerplate =
    "terms of service apply to every user of this mirror site"

  test("MaxShingleDf binds: boilerplate candidates collapse, genuine near-dups survive") {
    // 150 docs share the boilerplate block + unique filler; docs 9000/9001
    // are a genuine near-dup pair (13-token shared tail, one token apart)
    // that ALSO carries the boilerplate
    val sharedTail = "quick brown fox jumps over the lazy dog near riverbank today again"
    val docs = (0 until 150).map { i =>
      (i.toLong, s"$Boilerplate f${i}_a f${i}_b f${i}_c f${i}_d f${i}_e f${i}_f")
    } ++ Seq(
      (9000L, s"$Boilerplate $sharedTail alpha"),
      (9001L, s"$Boilerplate $sharedTail beta"))
    val df = docs.toDF("doc_id", "text")
      .select($"doc_id",
        explode(graft.functions.TextFunctions.shingles3($"text")).as("shingle"))

    val uncapped = DedupOps.jaccardPairs(df, Long.MaxValue)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val capped = DedupOps.jaccardPairs(df, 100L)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect()

    // every boilerplate pair is a candidate without the cap: >= C(150,2)
    assert(uncapped.length >= 150 * 149 / 2,
      s"uncapped blocking produced only ${uncapped.length} candidates")
    // with the cap (boilerplate df = 152 > 100), candidates collapse to
    // pairs sharing NON-boilerplate shingles — only the planted pair and
    // its two boundary coincidences can remain
    assert(capped.length < 20,
      s"df cap did not bind: ${capped.length} candidates survived")
    // and the cap did not cost the genuine near-dup: the planted pair is
    // present and still clears the 0.5 output threshold
    val planted = capped.find(p => p._1 == 9000L && p._2 == 9001L)
    assert(planted.isDefined, s"planted near-dup pair lost: ${capped.toSeq}")
    assert(planted.get._3 >= 0.5, s"planted pair diluted to ${planted.get._3}")
  }

  // --- streaming bucket-cap missed-pair construction ------------------

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Plain-Scala mirror of the LSH signature pipeline (tokens →
    * distinct 3-shingles → 8 min-of-keyed-md5 signatures) — the exact
    * construction of native.minhash_sigs and the DuckDB oracle. */
  private def sigsOf(text: String): Vector[String] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    val sh = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toVector.distinct
    (1 to 8).map(i => sh.map(s => md5hex(s"$i|$s")).min).toVector
  }

  private def agreements(a: Vector[String], b: Vector[String]): Set[Int] =
    (0 until 8).filter(i => a(i) == b(i)).toSet

  test("bucket cap: saturated bands miss a future dup pair exactly as documented; higher cap restores it") {
    // TB: the text of the future duplicate pair. 30 tokens → 28 shingles,
    // so each signature min is SMALL and preserving-vs-displacing it with
    // extra shingles is a tunable coin (a short TB leaves some components
    // with large mins that no extra vocabulary can preserve — measured).
    val tb = (0 until 30).map(i => s"base$i").mkString(" ")
    val tbSigs = sigsOf(tb)
    // per band k, search (deterministically) for a squatter: a superset
    // of TB's tokens agreeing with TB on band k's two components, ≤ 3
    // components overall (est ≤ 3/8 < 0.5), and completing no other band
    // — same bucket as TB in band k, dissimilar, and no two squatters
    // share a band. ~40 extra words displace each min with P ≈ 3/4.
    val squatters = (0 until 4).map { k =>
      val want = Set(2 * k, 2 * k + 1)
      val found = (0 until 6000).iterator.map { t =>
        val extra = (0 until 40).map(j => s"x${k}_${t}_$j").mkString(" ")
        s"$tb $extra"
      }.find { cand =>
        val ag = agreements(sigsOf(cand), tbSigs)
        want.subsetOf(ag) && ag.size <= 3 &&
          !(0 until 4).exists(b => b != k && ag.contains(2 * b) && ag.contains(2 * b + 1))
      }
      assert(found.isDefined, s"no band-$k squatter found in the search space")
      found.get
    }
    // squatters are mutually dissimilar and share no band among themselves
    for (i <- 0 until 4; j <- i + 1 until 4) {
      val ag = agreements(sigsOf(squatters(i)), sigsOf(squatters(j)))
      assert(ag.size < 4, s"squatters $i,$j too similar: $ag")
      assert(!(0 until 4).exists(b => ag.contains(2 * b) && ag.contains(2 * b + 1)),
        s"squatters $i,$j share a band: $ag")
    }

    def run(cap: Int, name: String): Map[Long, (Long, Boolean)] = withRocksDBState {
      val in = MemoryStream[(Long, String, Long)]
      val q = graft.streaming.Dedup.minhashVerdicts(in.toDS(), maxBucketMembers = cap)
        .toDF("doc_id", "seq", "root_doc", "is_keeper")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        in.addData(squatters.zipWithIndex.map { case (t, i) => (i.toLong + 1, t, i.toLong + 1) }: _*)
        q.processAllAvailable()
        in.addData((10L, tb, 10L), (11L, tb, 11L)) // the future dup pair
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[(Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._3, r._4))).toMap
    }

    // cap=1: each squatter fills one of TB's four band buckets, so docs
    // 10 and 11 verify only against dissimilar members, never register,
    // and BOTH come out keepers — the documented missed pair
    val capped = run(1, "bp_capped")
    assert(capped(10L) == ((10L, true)))
    assert(capped(11L) == ((11L, true)), s"expected the documented miss, got ${capped(11L)}")
    (1L to 4L).foreach(i => assert(capped(i)._2, s"squatter $i must be a keeper"))

    // default cap: doc 10 registers (buckets have room), doc 11 matches it
    val roomy = run(8, "bp_roomy")
    assert(roomy(10L) == ((10L, true)))
    assert(roomy(11L) == ((10L, false)),
      s"with room in the buckets the pair must be found, got ${roomy(11L)}")
  }

  test("embed bucket-occupancy cap binds: a dense bucket lists C-representative pairs only") {
    // 200 IDENTICAL vectors land in the same bucket of every band — the
    // uncapped self-join would list all C(200,2) = 19900 pairs (the r9
    // 40×-scaling superlinearity, in miniature); the 64-member cap must
    // collapse that to C(64,2) = 2016 pairs among the LOWEST 64 ids
    // (deterministic representatives), while a genuine near-dup pair in
    // a different, sparse bucket is still found
    val dim = 8
    val dense = Array.tabulate(dim)(i => if (i == 0) 1.0f else 0.0f)
    val w = Array.tabulate(dim)(i => if (i == 1) 1.0f else 0.2f)
    val w2 = w.clone(); w2(3) = 0.3f // cosine(w, w2) ≈ 0.99 — a near-dup
    val rows = (0 until 200).map(i => (i.toLong, dense)) ++
      Seq((9000L, w), (9001L, w2))
    val dir = java.nio.file.Files.createTempDirectory("graft_embcap").toString
    rows.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")

    val pairs = DedupOps.queries("dedup_embed_cosine")(spark, dir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val densePairs = pairs.filter { case (a, b) => a < 300 && b < 300 }
    assert(densePairs.size == 64 * 63 / 2,
      s"cap must bound the dense bucket to C(64,2) pairs, got ${densePairs.size}")
    assert(densePairs.forall { case (a, b) => a < 64 && b < 64 },
      "representatives must be the deterministic lowest ids")
    assert(pairs.contains((9000L, 9001L)),
      "the sparse-bucket near-dup pair must still be listed")
  }
}
