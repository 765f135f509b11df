package graft.functions

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The MinHash near-duplicate rule, shared by the batch queries
  * (`queries.DedupOps`), the dedup index ([[DedupIndex]]) and the
  * streaming faces (`streaming.Dedup`): a doc's [[signature]], its
  * [[bandRows]], and the edge rule [[agrees]] (signatures agreeing on at
  * least [[EdgeThreshold]] of their k components). One definition each,
  * so a doc deduplicated against a batch-built corpus, an index or a
  * stream lands in identical buckets and pairs by the identical test.
  */
object Lsh {

  /** MinHash banding geometry: `numHashes` = `bands` × `rows` signature
    * components, hashed per band. The S-curve gives the candidate
    * probability of a pair at Jaccard s: P(s) = 1 − (1 − s^rows)^bands,
    * with inflection near (1/bands)^(1/rows) — the effective similarity
    * threshold the geometry targets.
    */
  final case class Geometry(numHashes: Int, bands: Int, rows: Int) {
    require(bands >= 1 && rows >= 1 && bands * rows == numHashes,
      s"bands($bands) × rows($rows) must equal numHashes($numHashes)")
    /** The similarity where P(candidate) crosses ~1−1/e — the S-curve's
      * working threshold. */
    def threshold: Double = math.pow(1.0 / bands, 1.0 / rows)
    /** Analytic candidate probability for a pair at Jaccard `s`. */
    def candidateProbability(s: Double): Double = {
      require(s >= 0.0 && s <= 1.0, s"jaccard out of [0,1]: $s")
      1.0 - math.pow(1.0 - math.pow(s, rows), bands)
    }
  }

  /** Oracle-friendly legacy geometry (r3-r8): 8 hashes, 4 bands of 2 —
    * candidates at jaccard ≳ 0.5 with a DuckDB-replicable cost. */
  val Small = Geometry(8, 4, 2)

  /** Production near-dup geometry: k = 128 signatures in 16 bands of 8 —
    * the scale published pipelines run (GPT-3 used 10 hashes but modern
    * curation — RefinedWeb, Dolma, SlimPajama — runs k = 112–128 with
    * r = 8–9, thresholding near 0.7). threshold = (1/16)^(1/8) ≈ 0.707;
    * the steeper S-curve (rows = 8 vs 2) crushes the false-candidate
    * rate at web-corpus scale: P(cand) at s = 0.3 is ~10⁻³ here vs ~0.32
    * for [[Small]], which is the difference between a linear and a
    * near-quadratic candidate join at 10⁹ documents. */
  val Production = Geometry(128, 16, 8)

  /** Pick the (bands, rows) factorization of `numHashes` whose S-curve
    * threshold lands closest to `targetThreshold` (the datasketch-style
    * tuner, minus the integral — the threshold form is exact enough to
    * choose between divisor pairs). */
  def chooseGeometry(numHashes: Int, targetThreshold: Double): Geometry = {
    require(numHashes >= 1, s"numHashes must be >= 1: $numHashes")
    require(targetThreshold > 0.0 && targetThreshold < 1.0,
      s"targetThreshold must be in (0,1): $targetThreshold")
    val candidates = for {
      b <- 1 to numHashes if numHashes % b == 0
    } yield Geometry(numHashes, b, numHashes / b)
    candidates.minBy(g => math.abs(g.threshold - targetThreshold))
  }

  /** Embedding near-dup banding geometry + verification threshold —
    * shared by batch dedup_embed_cosine / dedup_semantic and streaming
    * Dedup.semanticVerdicts so a retune can never fork the two: 32
    * sign-LSH planes as 4 bands of 8 bits (P(band collision) ≈ 1/256
    * for near-orthogonal vectors — selective at any corpus size), pairs
    * verified at exact cosine ≥ 0.35 (the corpus's natural high-cosine
    * tail; threshold-generic operators take it as a parameter default). */
  val EmbedPlanes = 32
  val EmbedBands = 4
  val EmbedBandBits: Int = EmbedPlanes / EmbedBands
  val EmbedCosineThreshold = 0.35

  /** The est-Jaccard threshold of the edge rule: two docs are
    * near-duplicates when their signatures agree on at least half of
    * their components. */
  val EdgeThreshold = 0.5

  /** A doc's k MinHash signatures over the distinct 3-token shingles of
    * `text`: all k NULL when it has no shingle (under 3 tokens), NULL for
    * a NULL text. */
  def signature(text: Column, geom: Geometry): Column =
    native.minhash_sigs(native.shingles3(text), geom.numHashes)

  /** Does a [[signature]] column hold signatures (the doc has a shingle)? */
  def signed(sigs: Column): Column = element_at(sigs, 1).isNotNull

  /** A doc's band rows: `posexplode_outer` into (`band`, `band_hash`),
    * one row per band of a signed doc, and one row of NULLs for a doc
    * without signatures, which no equi-join on the band key matches. */
  def bandRows(sigs: Column, geom: Geometry): Column =
    posexplode_outer(when(signed(sigs), bandHashes(sigs, geom.bands, geom.rows)))
      .as(Seq("band", "band_hash"))

  /** The fraction of the k signature components on which `a` and `b`
    * agree: the est-Jaccard of the two docs. */
  def agreement(a: Column, b: Column, numHashes: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m))
      .cast("double") / lit(numHashes.toDouble)

  /** The edge rule: [[agreement]] of at least [[EdgeThreshold]]. */
  def agrees(a: Column, b: Column, numHashes: Int): Column =
    agreement(a, b, numHashes) >= EdgeThreshold

  /** [[agrees]] over two signatures held outside a plan (a streaming
    * bucket's registered members): the same expression, resolved once
    * here on the driver and evaluated interpreted per call. */
  def agreesOn(spark: SparkSession, geom: Geometry): (Seq[String], Seq[String]) => Boolean = {
    val t = ArrayType(StringType)
    val plan = spark.createDataFrame(java.util.List.of[Row](),
        StructType(Seq(StructField("a", t), StructField("b", t))))
      .select(agrees(col("a"), col("b"), geom.numHashes)).queryExecution.analyzed
    new Agrees(BindReferences.bindReference(plan.expressions.head, plan.children.head.output))
  }

  private final class Agrees(rule: Expression)
      extends ((Seq[String], Seq[String]) => Boolean) with Serializable {
    private def arr(s: Seq[String]) = new GenericArrayData(s.map(UTF8String.fromString).toArray[Any])
    def apply(a: Seq[String], b: Seq[String]): Boolean =
      rule.eval(InternalRow(arr(a), arr(b))) == true
  }

  /** Array of `numBands` band-hash strings over a MinHash signature
    * array: band b = md5 of its ordered "h:sig" components (h the 1-based
    * signature index, so bands of equal sig values in different positions
    * cannot collide). Evaluated by the codegen kernel
    * [[ExprKernels.bandHashes]] — the original nested-HOF spelling
    * (kept in LshGeometrySpec as the kernel's parity reference) is
    * interpreted per row and at production k = 128 cost more CPU than
    * the MinHash signatures themselves. */
  def bandHashes(sigs: Column, numBands: Int, bandSize: Int): Column =
    native.band_hashes(sigs, numBands, bandSize)

  /** Per-band bucket array over a sign-LSH signature long: element b =
    * band b's `bandBits`-bit bucket. Shared by batch dedup_semantic /
    * dedup_embed_cosine-style banding and the streaming semantic
    * verdicts, so a vector banded in batch and one arriving on a stream
    * land in identical buckets. */
  def embedBandBuckets(sig: Column, numBands: Int, bandBits: Int): Column =
    array((0 until numBands).map(b =>
      shiftright(sig, b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))): _*)

  /** Nearest-centroid id by the exact-decimal L2 score — the
    * dedup_semantic / similarity_ivf coarse quantizer as ONE narrow
    * per-row expression: score_j = ||c_j||² − 2·v·c_j with ||c_j||²
    * computed as nrm_j² (nrm_j = sqrt of the exact decimal self-dot,
    * cast to double — EXACTLY the column arithmetic the batch plans and
    * the DuckDB oracles use, sqrt-then-square ulp and all), argmin with
    * the (score, cid) tiebreak via least() over the centroid structs.
    * No shuffle, no aggregation: the centroid set is a driver-side
    * constant (a frozen quantizer is small by definition). A NULL
    * embedding has no nearest centroid: NULL in, NULL out, here, in
    * [[nearestCentroidGated]] and in [[nearestCentroids]] (the struct
    * order alone would rank its NULL scores first and pick a cid). */
  def nearestCentroid(embedding: Column, centroids: Seq[(Long, Array[Float])]): Column = {
    require(centroids.nonEmpty, "nearestCentroid: need at least one centroid")
    when(embedding.isNotNull,
      (if (centroids.size == 1) exactScoreStructs(embedding, centroids).head
       else least(exactScoreStructs(embedding, centroids): _*)).getField("c"))
  }

  /** The exact-decimal (score, cid) structs [[nearestCentroid]] argmins
    * over — score_j = ‖c_j‖² − 2·v·c_j with the decimal-dot arithmetic
    * the DuckDB oracles replay. */
  private def exactScoreStructs(embedding: Column,
      centroids: Seq[(Long, Array[Float])]): Seq[Column] =
    centroids.map { case (cid, cemb) =>
      val nrm = math.sqrt(ExprKernels.decimalDot(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(cemb),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(cemb)))
      struct(
        (lit(nrm * nrm) - lit(2.0) * native.decimal_dot(embedding, typedlit(cemb))
          .cast("double")).as("s"),
        lit(cid).as("c"))
    }

  /** [[nearestCentroid]] with the filter-verify margin gate (guide §3/§4,
    * the SimilarityOps pattern applied to the quantizer): the argmin is
    * ranked on cheap IEEE-double scores (ExprKernels.doubleDot, ~0.2 µs)
    * and the exact-decimal scores (~80 µs each) are evaluated ONLY when
    * the two double-best centroids sit within a provable error margin —
    * so the corpus-scale assignment pass drops the decimal kernel from
    * its hot path while returning the BIT-IDENTICAL cid for every row.
    *
    * Margin proof. Per-dimension float×float products are exact in
    * double, so |doubleDot − decimalDot_as_double| ≤ 1.4e-14·‖v‖·‖c_j‖
    * (ExprKernels.doubleDot scaladoc; Cauchy-Schwarz). The score
    * arithmetic (×2, subtract from ‖c‖²) adds ≤ a few ulps of the same
    * magnitude, so |dscore_j − score_j| ≤ B with B = 2e-14·‖v‖·maxC
    * (maxC = max centroid norm). With eps = 1e-12·(1 + ‖v‖·maxC) ≥ 50·B:
    * if the double runner-up trails the double winner w by MORE than eps,
    * then for every j ≠ w, score_j ≥ dscore_j − B > dscore_w + eps − B ≥
    * score_w + eps − 2B > score_w — w is the strict exact argmin and no
    * exact (score, cid) tie is possible. Otherwise the exact argmin
    * expression runs for that row (CaseWhen evaluates the else branch
    * lazily), which is [[nearestCentroid]] itself. ‖v‖ is bounded
    * in-row by sqrt(doubleDot(v,v))·(1+1e-10) — the self-dot relative
    * error is ≤ 64 ulps, far inside that slack. NearestCentroidSpec pins
    * gated ≡ exact on natural vectors AND on planted exact-tie rows. */
  def nearestCentroidGated(embedding: Column,
      centroids: Seq[(Long, Array[Float])]): Column = {
    require(centroids.nonEmpty, "nearestCentroidGated: need at least one centroid")
    // the kernel is null-intolerant: a NULL embedding gives NULL
    if (centroids.size == 1) when(embedding.isNotNull, lit(centroids.head._1))
    else native.nearest_centroid_gated(embedding, CentroidModel(centroids))
    // (a column spelling of the same gate — double-score struct sort +
    // CaseWhen over the exact argmin — was measured and replaced: its
    // 2·ncent inline dot subtrees cost ~0.3–0.5 s of codegen per query
    // at sf0.1 for the same runtime semantics; NearestCentroidSpec pins
    // kernel ≡ exact column argmin including planted exact ties)
  }

  /** The exact top-`n` centroid ids by (score, cid) as an in-row array —
    * the probe-selection twin of [[nearestCentroid]] (a query probes its
    * n nearest cells). Always exact-decimal: callers use it on the
    * bounded QUERY set, never the corpus. */
  def nearestCentroids(embedding: Column,
      centroids: Seq[(Long, Array[Float])], n: Int): Column = {
    require(centroids.nonEmpty, "nearestCentroids: need at least one centroid")
    require(n >= 1, s"nearestCentroids: n must be >= 1, got $n")
    when(embedding.isNotNull, transform(
      slice(array_sort(array(exactScoreStructs(embedding, centroids): _*)), 1, n),
      s => s.getField("c")))
  }

  /** Loud guard for the unsigned-32-bit-half fingerprint contract
    * (Phash/Afp hashes travel as two longs in [0, 2^32)): passes the
    * value through, raises on anything outside the domain. The 16-bit
    * banding would otherwise MISS pairs silently — `% 65536` of a
    * negative long is negative and `shiftright` sign-extends, so an
    * out-of-contract hash (e.g. a raw 64-bit simhash packed into one
    * negative long) lands in garbage buckets and the pigeonhole
    * completeness proof no longer holds. Lives inside the banding
    * expression, so column pruning cannot drop the check. */
  def unsignedHalf(c: Column, name: String): Column =
    when(c >= 0L && c <= 4294967295L, c).otherwise(raise_error(
      // coalesce: a NULL hash fires this branch too (three-valued when),
      // and concat would null-poison the crafted message exactly when
      // it is needed
      concat(lit(s"fingerprint banding: $name outside [0, 2^32): "),
        coalesce(c.cast("string"), lit("NULL")))))
}
