package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}
import scala.reflect.runtime.universe.TypeTag

import graft.functions.{native, DedupIndex, ExprKernels, KernelBarrier, Lsh}

/** Streaming deduplication — the north-star dedup story for a stream of
  * documents (VERDICT r5 item #4; the reference's closest surface is
  * `unique` core.py:1776, which this generalizes from exact identity to
  * content and near-duplicate identity).
  *
  * Exact: [[exact]] / [[exactWithinWatermark]] — Structured Streaming's
  * own dropDuplicates state machinery keyed on a content hash; the
  * watermarked variant bounds state for infinite streams and is the one
  * a 100 TB/day pipeline runs.
  *
  * Near-dup: [[minhashVerdicts]] (MinHash text), [[fingerprintVerdicts]]
  * (perceptual image/audio hashes) and [[semanticVerdicts]] (embeddings)
  * are one operator with three match predicates. Each turns a doc into
  * bucket rows and runs the same two chained `transformWithState` stages
  * ([[bucketVerdicts]]):
  *
  *  1. keyed by bucket: [[BucketMembers]], the one membership processor —
  *     a ListState `members` holds the bucket's first docs (capped at
  *     [[MaxBucketMembers]]); an incoming doc is verified against the
  *     ≤ cap registered members, exactly the per-bucket pairing the batch
  *     band-join produces, then appends itself (one state write);
  *  2. keyed by doc: [[DocVerdict]] folds that doc's bucket verdicts (all
  *     emitted in the same micro-batch) into one row — no state entries.
  *
  * The MinHash faces share the batch pipeline's signature, banding and
  * edge rule ([[graft.functions.Lsh]]: `signature`, `bandRows`,
  * `agrees`), so streaming matches are exactly the batch pipeline's
  * pairs; [[indexVerdicts]] probes a static index through
  * [[graft.functions.DedupIndex]]'s own probe join. Every face reads each
  * micro-batch once: a doc with no shingle or no token takes the same
  * keyed path as the rest, under a key that matches nothing and
  * registers no state, and comes out a singleton keeper.
  *
  * Per batch that is two keyed shuffles (bucket, then doc) — the same
  * wide shape as the batch LSH join, with bucket cardinality the
  * partition key, so it scales exactly as the batch pipeline does. The
  * member cap bounds hot buckets the same way MaxShingleDf bounds hot
  * shingles in the exact-Jaccard path: a bucket holding many
  * mutually-dissimilar docs carries no discriminative signal past its
  * first few representatives.
  *
  * Greedy-vs-batch semantics: a doc is a KEEPER iff no verified match
  * (est_jaccard ≥ threshold) against any earlier doc exists in any of its
  * buckets (seq order, across and within batches). `root_doc` is the
  * smallest matched earlier doc, one hop — a transitive LSH chain A–B–C
  * where A and C share no verified pair assigns C root B (not A) where
  * batch connected components would fold all three into one cluster.
  * Keeper sets agree with the batch `dedup_clusters` output whenever
  * every non-keeper has a verified pair with an earlier doc of its
  * cluster — true by construction for near-copies, pinned against the
  * real corpus in DedupStreamSpec.
  */
object Dedup {

  /** Exact streaming dedup on a content hash: first occurrence passes,
    * replays are suppressed. Unbounded state — prefer
    * [[exactWithinWatermark]] on infinite streams. */
  def exact(df: DataFrame, contentCol: String = "text"): DataFrame =
    df.withColumn("content_hash", md5(col(contentCol)))
      .dropDuplicates("content_hash")

  /** Exact streaming dedup with state bounded by a watermark: duplicates
    * are only tracked within `delay` of the event-time column, so state
    * for long-gone documents ages out (dropDuplicatesWithinWatermark). */
  def exactWithinWatermark(df: DataFrame, eventTimeCol: String,
                           delay: String, contentCol: String = "text"): DataFrame =
    df.withColumn("content_hash", md5(col(contentCol)))
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Default per-bucket member cap — see the missed-pair trade-off on
    * [[minhashVerdicts]]. */
  private[streaming] val MaxBucketMembers = 8

  /** The bucket key of a doc with no band (no 3-shingle): no md5 band
    * hash is empty. */
  private val NoBand = ""

  /** The one bucket-membership stage: key = a bucket; input rows (key,
    * seq, member), a member being a tuple whose first field is its doc
    * id. Emits (docId, seq, matched) per row in seq order, `matched`
    * being the smallest id of a registered member that `matches` the
    * row's member, or -1. Each member then registers (append-only, one
    * write, never a rewrite) while the bucket holds under `cap`. The
    * rows of `noKey` match nothing and touch no state. */
  private final class BucketMembers[K, M <: Product](cap: Int, noKey: K,
      memberEncoder: Encoder[M], matches: (M, M) => Boolean)
      extends StatefulProcessor[K, (K, Long, M), (Long, Long, Long)] {
    @transient private var members: ListState[M] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[M]("members", memberEncoder, TTLConfig.NONE)
    private def id(m: M): Long = m.productElement(0).asInstanceOf[Long]
    override def handleInputRows(key: K, rows: Iterator[(K, Long, M)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] =
      if (key == noKey) rows.map { case (_, seq, m) => (id(m), seq, -1L) }
      else {
        var mem = members.get().toVector // ≤ cap by construction
        rows.toVector.sortBy(_._2).map { case (_, seq, m) =>
          val docId = id(m)
          val matched = mem.filter(o => id(o) != docId && matches(o, m)).map(id)
          if (mem.size < cap && !mem.exists(id(_) == docId)) {
            members.appendValue(m)
            mem :+= m
          }
          (docId, seq, matched.minOption.getOrElse(-1L))
        }.iterator
      }
  }

  /** Per-doc verdict fold: key = doc id; all of a doc's band rows are
    * emitted by stage 1 within the same micro-batch, so this registers no
    * state at all — it is a batch-local reduce expressed on the streaming
    * operator API. */
  private final class DocVerdict
      extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long, Boolean)] {
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Boolean)] = {
      var seq = Long.MaxValue
      var root = Long.MaxValue
      rows.foreach { case (_, s, own) =>
        seq = math.min(seq, s)
        if (own >= 0 && own < root) root = own
      }
      val keeper = root == Long.MaxValue
      Iterator.single((key, seq, if (keeper) key else root, keeper))
    }
  }

  /** Bucket rows → [[BucketMembers]] → [[DocVerdict]]: the two keyed
    * stages of every bucketed face. The cap is checked here, on the
    * driver: under 1 nothing would ever register and every doc would
    * silently keep. */
  private def bucketVerdicts[K: Encoder, M <: Product : TypeTag](rows: Dataset[(K, Long, M)],
      noKey: K, maxBucketMembers: Int)(
      matches: (M, M) => Boolean): Dataset[(Long, Long, Long, Boolean)] = {
    require(maxBucketMembers >= 1, s"maxBucketMembers must be >= 1, got $maxBucketMembers")
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .transformWithState(
        new BucketMembers(maxBucketMembers, noKey, Encoders.product[M], matches),
        TimeMode.None(), OutputMode.Append())
      .groupByKey(_._1)
      .transformWithState(new DocVerdict, TimeMode.None(), OutputMode.Append())
  }

  /** First-owner processor keyed by a fingerprint: the first doc to
    * present a fingerprint owns it; every later doc with the same
    * fingerprint is a duplicate of the owner. One ValueState read/write
    * per row. A row without a fingerprint (its last field false) is a
    * singleton keeper and touches no state. */
  private final class FingerprintOwner
      extends StatefulProcessor[Long, (Long, Long, Long, Boolean), (Long, Long, Long, Boolean)] {
    @transient private var owner: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[Long]("owner", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Boolean)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Boolean)] = {
      val (hashed, unhashed) = rows.toVector.sortBy(_._3).partition(_._4)
      var own = if (hashed.nonEmpty && owner.exists()) owner.get() else -1L
      hashed.map { case (_, docId, seq, _) =>
        if (own < 0) { own = docId; owner.update(docId) }
        (docId, seq, own, own == docId)
      }.iterator ++ unhashed.iterator.map { case (_, docId, seq, _) => (docId, seq, docId, true) }
    }
  }

  /** Streaming near-dup verdicts for 64-bit perceptual fingerprints
    * `(doc_id, h_hi, h_lo, seq)` — the streaming face of
    * `dedup_image_phash` AND `dedup_audio_fingerprint` (both produce the
    * [[graft.multimodal.Phash]] (hi, lo) contract, so ONE streaming
    * operator serves both modalities, exactly as one batch pair join
    * does). Buckets are the four 16-bit words of the hash (key =
    * band·2^16 + word, exactly `DedupOps.phashPairs` banding), members
    * are (doc_id, h_hi, h_lo), and a match is exact Hamming ≤
    * `maxHamming`. For maxHamming ≤ 3 the banding is complete by
    * pigeonhole among REGISTERED members; the member cap carries the same
    * missed-pair trade-off documented on [[minhashVerdicts]] (saturated
    * buckets stop registering, so two future near-dups can both emerge
    * keepers). Output: (doc_id, seq, root_doc, is_keeper). */
  def fingerprintVerdicts(ds: Dataset[(Long, Long, Long, Long)],
      maxHamming: Int = 3,
      maxBucketMembers: Int = MaxBucketMembers): Dataset[(Long, Long, Long, Boolean)] = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"banded blocking is complete only for maxHamming in [0, 3], got $maxHamming")
    val spark = ds.sparkSession
    import spark.implicits._
    // Lsh.unsignedHalf: raise on hashes outside [0, 2^32) rather than
    // silently mis-bucketing them (same guard as the batch phashPairs)
    val lo = Lsh.unsignedHalf(col("h_lo"), "h_lo")
    val hi = Lsh.unsignedHalf(col("h_hi"), "h_hi")
    val rows = ds.toDF("doc_id", "h_hi", "h_lo", "seq")
      .select($"seq", struct($"doc_id".as("_1"), $"h_hi".as("_2"), $"h_lo".as("_3")).as("m"),
        posexplode(array(lo % 65536L, shiftright(lo, 16), hi % 65536L, shiftright(hi, 16))))
      .select($"pos" * 65536L + $"col", $"seq", $"m")
      .as[(Long, Long, (Long, Long, Long))]
    bucketVerdicts(rows, -1L, maxBucketMembers)((a, b) =>
      java.lang.Long.bitCount(a._2 ^ b._2) + java.lang.Long.bitCount(a._3 ^ b._3) <= maxHamming)
  }

  /** Streaming SimHash dedup for `(doc_id, text, seq)` rows — the
    * streaming face of the batch `dedup_simhash` fingerprint (identical
    * kernel and bit width, so batch and stream agree doc-for-doc): docs
    * whose token stream collapses to the same `bits`-bit SimHash are
    * near-duplicates; the first to arrive is the keeper. One keyed
    * shuffle on the fingerprint, O(1) state per distinct fingerprint —
    * the cheapest of the three streaming dedup flavors, the right tool
    * when boilerplate-level similarity is enough. Token-less docs (empty,
    * all-space or NULL text) take the same keyed path without a
    * fingerprint: singleton keepers that register no state (the batch
    * query filters them out; a streaming verdict must still say
    * something about every doc). */
  def simhashVerdicts(ds: Dataset[(Long, String, Long)],
                      bits: Int = 16): Dataset[(Long, Long, Long, Boolean)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val hashed = coalesce(size($"toks") >= 1, lit(false))
    KernelBarrier.over(ds.toDF("doc_id", "text", "seq")
        .select($"doc_id", $"seq", native.tokens($"text").as("toks")))
      .select(when(hashed, native.simhash($"toks", bits)).otherwise(-1L),
        $"doc_id", $"seq", hashed)
      .as[(Long, Long, Long, Boolean)]
      .groupByKey(_._1)
      .transformWithState(new FingerprintOwner, TimeMode.None(), OutputMode.Append())
  }

  /** Streaming near-dup verdicts for `(doc_id, text, seq)` rows:
    * one row per incoming doc — `(doc_id, seq, root_doc, is_keeper)`.
    * Requires the RocksDB state store provider (transformWithState).
    * Buckets are band hashes, members are (doc_id, signature), and a
    * match is [[Lsh.agrees]], the batch pipeline's pair rule. Docs whose
    * text yields no shingles (< 3 tokens) are always keepers
    * with themselves as root, exactly like the batch pipeline's
    * singleton left-join. Assumes doc_ids are unique (run [[exact]] or
    * id-dedup upstream for replays): a replayed id never matches its own
    * registration, so it would emit a second keeper verdict.
    *
    * '''The member cap can miss pairs.''' Registration is append-only
    * first-`maxBucketMembers`: once a bucket holds that many mutually
    * dissimilar docs, later arrivals still get VERIFIED against the
    * registered members but never register themselves. Two FUTURE
    * near-duplicates whose shared bands all land in already-full buckets
    * are therefore both emitted as keepers — a divergence from the
    * uncapped batch `dedup_clusters` pairing that grows with corpus skew.
    * The cap exists because an LSH bucket at capacity with mutually
    * dissimilar members is (for near-copies, whose signatures agree on
    * ≥ the threshold fraction of bands) almost surely a LOW-SIGNAL
    * collision bucket: a genuine near-dup pair collides in several bands,
    * so missing it requires every one of its bands to be saturated by
    * noise. Raise `maxBucketMembers` (more state, fewer missed pairs) or
    * lower it (bounded hot-bucket state) per corpus; `Int.MaxValue`
    * reproduces the batch pairing exactly at the cost of unbounded
    * hot-bucket state. */
  def minhashVerdicts(ds: Dataset[(Long, String, Long)],
      maxBucketMembers: Int = MaxBucketMembers,
      geom: Lsh.Geometry = Lsh.Small): Dataset[(Long, Long, Long, Boolean)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val agrees = Lsh.agreesOn(spark, geom)
    val rows = DedupIndex.bandRows(ds.toDF("doc_id", "text", "seq"), geom)
      .select(coalesce($"band_hash", lit(NoBand)), $"seq",
        struct($"doc_id".as("_1"), $"sigs".as("_2")))
      .as[(String, Long, (Long, Seq[String]))]
    bucketVerdicts(rows, NoBand, maxBucketMembers)((a, b) => agrees(a._2, b._2))
  }

  /** Cross-snapshot streaming dedup: greedy verdicts for a stream of
    * (doc_id, text, seq) against a STATIC signature index
    * ([[graft.functions.DedupIndex.indexRows]] shape) — the streaming
    * face of incremental snapshot dedup. Each doc's band rows go through
    * the index's own probe (a stream-static left join, verification
    * inside the join condition since index rows carry their signatures);
    * a doc with no shingle keeps its one NULL band row, which matches
    * nothing. The per-doc fold reuses the stateless [[DocVerdict]] stage.
    * Output rows: (doc_id, seq, root_doc, is_keeper) with root =
    * smallest matched indexed doc.
    *
    * Scope: INDEX matches only — within-stream near-dups are
    * [[minhashVerdicts]]'s job; a full ingest composes the two (index
    * probe for yesterday's corpus, band-state for today's stream).
    * DedupIndexSpec pins verdict equality with the batch
    * `DedupIndex.incrementalVerdicts` cross-index component. */
  def indexVerdicts(ds: Dataset[(Long, String, Long)], index: DataFrame,
      geom: Lsh.Geometry = Lsh.Small)
      : Dataset[(Long, Long, Long, Boolean)] = {
    // a geometry mismatch would silently never match (bands never join);
    // fail loudly before the query starts — the index is static, so the
    // check runs once at build time, not per micro-batch
    DedupIndex.requireGeometry(index, geom)
    val spark = ds.sparkSession
    import spark.implicits._
    DedupIndex.probe(DedupIndex.bandRows(ds.toDF("doc_id", "text", "seq"), geom), index, geom)
      .select($"doc_id", $"seq", coalesce($"match_id", lit(-1L)))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new DocVerdict, TimeMode.None(), OutputMode.Append())
  }

  /** ROUND(exact decimal cosine, 9) of two embeddings given their norms,
    * the batch dedup_semantic predicate's left-hand side. */
  private def cosine9(a: Array[Float], na: Double, b: Array[Float], nb: Double): Double = {
    val dot = ExprKernels.decimalDot(ArrayData.toArrayData(a), ArrayData.toArrayData(b))
    java.math.BigDecimal.valueOf(dot / (na * nb))
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Streaming semantic near-dup verdicts for embedding rows
    * `(vec_id, embedding, seq)` — the streaming face of the batch
    * `dedup_semantic` query. The caller supplies the FROZEN coarse
    * quantizer (`centroids`): a live stream cannot re-cluster
    * retroactively, so production systems train offline
    * ([[graft.functions.Kmeans]]) or fix a sample (the batch query's
    * choice), version it, and restart on upgrade. Per arriving vector —
    * all in stateless narrow expressions before any shuffle — the
    * nearest centroid is chosen by the SAME exact-decimal L2 score and
    * (score, cid) tiebreak the batch plan uses, the 32-plane sign-LSH
    * signature is banded 4×8, and candidates meet only in packed
    * (cid, band, bucket) buckets whose members are (vec_id, embedding,
    * nrm). A match is a member whose ROUND(exact decimal cosine, 9)
    * clears `threshold` — the batch predicate verbatim, so a caught pair
    * is exactly a batch-caught pair; the exact kernel runs only against
    * same-bucket members (≤ cap), never corpus-wide.
    * Verdicts agree row-for-row with batch `dedup_semantic` when
    * arrival order is id order and the cap does not bind
    * (SemanticStreamSpec); the member cap carries the documented
    * [[minhashVerdicts]] missed-pair trade-off. State per bucket is
    * ≤ cap embeddings — the stored vectors are what exact verification
    * costs; quantize upstream (embed_quantize) to shrink it 4×.
    * Output: (vec_id, seq, root_doc, is_keeper). */
  def semanticVerdicts(ds: Dataset[(Long, Array[Float], Long)],
      centroids: Seq[(Long, Array[Float])],
      threshold: Double = Lsh.EmbedCosineThreshold,
      maxBucketMembers: Int = MaxBucketMembers): Dataset[(Long, Long, Long, Boolean)] = {
    require(centroids.nonEmpty, "semanticVerdicts: need at least one centroid")
    require(centroids.forall(_._1 >= 0), "semanticVerdicts: centroid ids must be >= 0")
    val spark = ds.sparkSession
    import spark.implicits._
    // geometry and assignment SHARED with the batch query (one constant,
    // one construction — Lsh.nearestCentroidGated reproduces the batch
    // plan's column arithmetic including the nrm² sqrt-square roundtrip
    // and the margin-gated exact rescore, so a near-tied assignment
    // cannot fork between batch and stream)
    val bands = Lsh.EmbedBands
    val bandBits = Lsh.EmbedBandBits
    val rows = ds.toDF("vec_id", "embedding", "seq")
      .withColumn("nrm",
        sqrt(native.decimal_dot($"embedding", $"embedding").cast("double")))
      .withColumn("cid", Lsh.nearestCentroidGated($"embedding", centroids))
      .withColumn("sig", native.lsh_bucket($"embedding", Lsh.EmbedPlanes))
      .select($"seq", $"cid",
        struct($"vec_id".as("_1"), $"embedding".as("_2"), $"nrm".as("_3")).as("m"),
        posexplode(Lsh.embedBandBuckets($"sig", bands, bandBits)))
      .select(
        $"cid" * lit((bands.toLong << bandBits)) + $"pos" * lit(1L << bandBits) + $"col",
        $"seq", $"m")
      .as[(Long, Long, (Long, Array[Float], Double))]
    bucketVerdicts(rows, -1L, maxBucketMembers)((a, b) =>
      cosine9(b._2, b._3, a._2, a._3) >= threshold)
  }
}
