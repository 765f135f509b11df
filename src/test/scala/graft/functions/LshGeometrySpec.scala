package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MinHash banding geometry: the chooser picks the S-curve-nearest
  * factorization, and MEASURED candidate rates on a planted-duplicate
  * corpus track the analytic curve P(s) = 1 − (1 − s^r)^b for both the
  * oracle geometry (8 = 4×2) and the production geometry (128 = 16×8).
  *
  * The planted corpus controls the true Jaccard exactly: pair i at
  * target s gets m shared shingles and x per-side unique shingles with
  * s = m / (m + 2x), and every shingle string is namespaced by pair id,
  * so cross-pair collisions are impossible and the only candidates the
  * band join can emit are the planted pairs themselves. P(minhash h
  * agrees) = true Jaccard per hash, so the banded candidate probability
  * is the textbook S-curve — what this spec pins the implementation to.
  */
class LshGeometrySpec extends SparkSuite {
  import spark.implicits._

  /** The pre-r18 HOF spelling of [[Lsh.bandHashes]], the semantics of
    * record for its kernel: band b = md5 of its ordered "h:sig"
    * components, h the 1-based signature index. */
  private def bandHashesHof(sigs: Column, numBands: Int, bandSize: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)), b =>
      md5(array_join(array_sort(
        transform(sequence(lit(1), lit(bandSize)), j =>
          concat((b * bandSize + j).cast("string"), lit(":"),
            element_at(sigs, b * bandSize + j)))), ",")))

  test("band_hashes kernel ≡ the HOF spelling (random, null-bearing, production-width sigs)") {
    val rnd = new scala.util.Random(5)
    def sig(k: Int, withNulls: Boolean): Seq[String] =
      Seq.fill(k)(
        if (withNulls && rnd.nextInt(7) == 0) null
        else rnd.alphanumeric.take(6 + rnd.nextInt(10)).mkString)
    for ((bands, rows) <- Seq((4, 2), (2, 4), (8, 1), (16, 8));
         withNulls <- Seq(false, true)) {
      val k = bands * rows
      val df = (1 to 40).map(i => (i.toLong, sig(k, withNulls)))
        .toDF("id", "sigs")
      val bad = df.select(
          native.band_hashes(col("sigs"), bands, rows).as("kernel"),
          bandHashesHof(col("sigs"), bands, rows).as("hof"))
        .filter(col("kernel") =!= col("hof"))
      assert(bad.count() == 0L,
        s"kernel diverges from HOF at bands=$bands rows=$rows nulls=$withNulls")
    }
  }

  test("chooseGeometry lands on the divisor pair nearest the target threshold") {
    assert(Lsh.chooseGeometry(128, 0.7) == Lsh.Geometry(128, 16, 8))
    assert(Lsh.chooseGeometry(8, 0.5) == Lsh.Geometry(8, 4, 2))
    assert(Lsh.Production == Lsh.Geometry(128, 16, 8))
    assert(Lsh.Small == Lsh.Geometry(8, 4, 2))
    // thresholds: (1/16)^(1/8) ≈ 0.707, (1/4)^(1/2) = 0.5
    assert(math.abs(Lsh.Production.threshold - 0.7071) < 5e-4)
    assert(math.abs(Lsh.Small.threshold - 0.5) < 1e-12)
    // a steeper curve at the same threshold: production's false-candidate
    // rate at s=0.3 is ~500× smaller than the toy geometry's
    assert(Lsh.Production.candidateProbability(0.3) < 0.002)
    assert(Lsh.Small.candidateProbability(0.3) > 0.3)
    intercept[IllegalArgumentException](Lsh.Geometry(8, 3, 2))
    intercept[IllegalArgumentException](Lsh.chooseGeometry(0, 0.5))
    intercept[IllegalArgumentException](Lsh.chooseGeometry(8, 1.5))
  }

  /** (m shared, x per-side unique) → jaccard m/(m+2x), exact. */
  private val targets: Seq[(Int, Int, Double)] = Seq(
    (10, 20, 10.0 / 50), // s = 0.20
    (20, 10, 20.0 / 40), // s = 0.50
    (29, 6, 29.0 / 41),  // s ≈ 0.707 — the production threshold
    (36, 2, 36.0 / 40))  // s = 0.90

  private val PairsPerBucket = 200

  /** Measured candidate rate per similarity bucket for one geometry. */
  private def measuredRates(geom: Lsh.Geometry): Map[Int, Double] = {
    // docs: for bucket k, pair i → doc ids (k*1e6 + 2i, k*1e6 + 2i + 1)
    val docs = targets.zipWithIndex.flatMap { case ((m, x, _), k) =>
      (0 until PairsPerBucket).flatMap { i =>
        val ns = s"b$k-p$i"
        val shared = (0 until m).map(j => s"$ns-s$j")
        val a = shared ++ (0 until x).map(j => s"$ns-a$j")
        val b = shared ++ (0 until x).map(j => s"$ns-b$j")
        Seq((k * 1000000L + 2L * i, k, a), (k * 1000000L + 2L * i + 1, k, b))
      }
    }
    val banded = docs.toDF("doc_id", "bucket", "sharr")
      .select($"doc_id", $"bucket",
        posexplode(Lsh.bandHashes(
          graft.functions.native.minhash_sigs($"sharr", geom.numHashes),
          geom.bands, geom.rows)))
      .toDF("doc_id", "bucket", "band", "band_hash")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.bucket").as("bucket"), col("x.doc_id"), col("y.doc_id"))
      .distinct()
    // namespaced shingles → only planted pairs can collide; verify that
    val counts = cand.groupBy($"bucket").count().as[(Int, Long)].collect().toMap
    assert(counts.values.forall(_ <= PairsPerBucket),
      s"cross-pair collision slipped through the namespacing: $counts")
    targets.indices.map(k => k -> counts.getOrElse(k, 0L).toDouble / PairsPerBucket).toMap
  }

  private def checkCurve(geom: Lsh.Geometry): Unit = {
    val measured = measuredRates(geom)
    targets.zipWithIndex.foreach { case ((_, _, s), k) =>
      val analytic = geom.candidateProbability(s)
      // binomial noise at n=200: sd ≤ 0.035; 0.10 abs is ~3 sd of margin
      assert(math.abs(measured(k) - analytic) <= 0.10,
        f"geom $geom s=$s%.3f: measured ${measured(k)}%.3f vs analytic $analytic%.3f")
    }
    // the S-shape itself: monotone across buckets, crushed at the bottom,
    // saturated at the top
    val rates = targets.indices.map(measured)
    assert(rates == rates.sorted, s"not monotone: $rates")
  }

  test("production geometry (128 = 16×8): measured recall tracks the S-curve") {
    checkCurve(Lsh.Production)
    val m = measuredRates(Lsh.Production)
    assert(m(0) <= 0.02, s"s=0.2 must be a non-candidate at production geometry: $m")
    assert(m(3) >= 0.95, s"s=0.9 must be recalled at production geometry: $m")
  }

  test("oracle geometry (8 = 4×2): measured recall tracks the S-curve") {
    checkCurve(Lsh.Small)
  }
}
