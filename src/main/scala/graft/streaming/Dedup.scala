package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

import graft.functions.{native, ExprKernels, KernelBarrier, Lsh}

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
  * Near-dup: [[minhashVerdicts]] — the streaming MinHash+LSH variant of
  * `queries.DedupOps.dedup_clusters`, sharing the batch pipeline's exact
  * signature/banding code ([[graft.functions.Lsh]], k=8 MinHashes, 4
  * bands of 2) AND its edge rule (band collision verified by signature
  * agreement ≥ threshold), so streaming matches are exactly the batch
  * pipeline's pairs. Two chained `transformWithState` stages:
  *
  *  1. keyed by band bucket: a ListState holds the bucket's member docs
  *     (id + signature, capped at [[MaxBucketMembers]]) — an incoming doc
  *     appends itself (one state write) and verifies against the ≤ cap
  *     existing members, exactly the per-bucket pairing the batch
  *     band-join produces;
  *  2. keyed by doc: folds that doc's band verdicts (all emitted in the
  *     same micro-batch) into one row — stateless fold, no state entries.
  *
  * Per batch that is two keyed shuffles (band, then doc) — the same wide
  * shape as the batch LSH join, with bucket cardinality the partition
  * key, so it scales exactly as the batch pipeline does. The member cap
  * bounds hot buckets the same way MaxShingleDf bounds hot shingles in
  * the exact-Jaccard path: a bucket holding many mutually-dissimilar docs
  * carries no discriminative signal past its first few representatives.
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

  // LSH geometry defaults to the shared Lsh.Small constant (k=8, 4 bands
  // of 2, est_jaccard ≥ 0.5 = ≥ 4 of 8 agreements) — ONE constant for
  // batch, streaming, and the index, so a retune cannot fork them; every
  // minhash entry point also takes an explicit Lsh.Geometry for the
  // production configuration (Lsh.Production, k=128 in 16 bands of 8).
  // The banding expression itself is shared via functions.Lsh.
  private val EstThreshold = 0.5

  /** Default per-bucket member cap — see the missed-pair trade-off on
    * [[minhashVerdicts]]. */
  private[streaming] val MaxBucketMembers = 8

  /** Per-band-bucket membership + verification stage: key = band hash;
    * emits (docId, seq, matchedOwnerOrMinus1) per band row, where a match
    * is an existing member with signature agreement ≥ EstThreshold (the
    * batch pipeline's pair rule). Every doc also registers as a member
    * (append-only, capped at `cap`). */
  private final class BucketMembers(cap: Int, numHashes: Int)
      extends StatefulProcessor[String, (String, Long, Long, Seq[String]), (Long, Long, Long)] {
    @transient private var members: ListState[(Long, Seq[String])] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[(Long, Seq[String])](
        "members", Encoders.product[(Long, Seq[String])], TTLConfig.NONE)
    private def est(a: Seq[String], b: Seq[String]): Double = {
      var agree = 0
      var i = 0
      while (i < numHashes) { if (a(i) == b(i)) agree += 1; i += 1 }
      agree.toDouble / numHashes
    }
    override def handleInputRows(key: String, rows: Iterator[(String, Long, Long, Seq[String])],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val sorted = rows.toVector.sortBy(_._3) // seq order within the batch
      var mem = members.get().toVector // ≤ cap by construction
      val out = Vector.newBuilder[(Long, Long, Long)]
      sorted.foreach { case (_, docId, seq, sigs) =>
        val matched = mem.iterator
          .filter { case (id, ms) => id != docId && est(ms, sigs) >= EstThreshold }
          .map(_._1)
        out += ((docId, seq, if (matched.isEmpty) -1L else matched.min))
        if (mem.size < cap && !mem.exists(_._1 == docId)) {
          members.appendValue((docId, sigs)) // one write, never a rewrite
          mem :+= ((docId, sigs))
        }
      }
      out.result().iterator
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

  /** First-owner processor keyed by a fingerprint: the first doc to
    * present a fingerprint owns it; every later doc with the same
    * fingerprint is a duplicate of the owner. One ValueState read/write
    * per row. */
  private final class FingerprintOwner
      extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long, Boolean)] {
    @transient private var owner: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[Long]("owner", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Boolean)] = {
      val sorted = rows.toVector.sortBy(_._3)
      var own = if (owner.exists()) owner.get() else -1L
      val out = Vector.newBuilder[(Long, Long, Long, Boolean)]
      sorted.foreach { case (_, docId, seq) =>
        if (own < 0) { own = docId; owner.update(docId) }
        out += ((docId, seq, own, own == docId))
      }
      out.result().iterator
    }
  }

  /** Band-bucket membership stage for 64-bit (hi, lo) perceptual
    * fingerprints — the [[BucketMembers]] shape with Hamming
    * verification: key = band·2^16 + bucket (the four 16-bit words of
    * the hash, exactly `DedupOps.phashPairs` banding), members hold
    * (docId, hi, lo) append-capped, a match is a registered member at
    * Hamming ≤ maxHamming. Input rows: (key, docId, seq, hi, lo). */
  private final class FpBucketMembers(cap: Int, maxHamming: Int)
      extends StatefulProcessor[Long, (Long, Long, Long, Long, Long), (Long, Long, Long)] {
    @transient private var members: ListState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[(Long, Long, Long)](
        "members", Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val sorted = rows.toVector.sortBy(_._3) // seq order within the batch
      var mem = members.get().toVector // ≤ cap by construction
      val out = Vector.newBuilder[(Long, Long, Long)]
      sorted.foreach { case (_, docId, seq, hi, lo) =>
        val matched = mem.iterator
          .filter { case (id, mhi, mlo) =>
            id != docId && java.lang.Long.bitCount(mhi ^ hi) +
              java.lang.Long.bitCount(mlo ^ lo) <= maxHamming
          }
          .map(_._1)
        out += ((docId, seq, if (matched.isEmpty) -1L else matched.min))
        if (mem.size < cap && !mem.exists(_._1 == docId)) {
          members.appendValue((docId, hi, lo)) // one write, never a rewrite
          mem :+= ((docId, hi, lo))
        }
      }
      out.result().iterator
    }
  }

  /** Streaming near-dup verdicts for 64-bit perceptual fingerprints
    * `(doc_id, h_hi, h_lo, seq)` — the streaming face of
    * `dedup_image_phash` AND `dedup_audio_fingerprint` (both produce the
    * [[graft.multimodal.Phash]] (hi, lo) contract, so ONE streaming
    * operator serves both modalities, exactly as one batch pair join
    * does). Same two-stage shape as [[minhashVerdicts]]: band on the
    * four 16-bit words, verify exact Hamming ≤ `maxHamming` against
    * registered bucket members, fold band verdicts per doc. For
    * maxHamming ≤ 3 the banding is complete by pigeonhole among
    * REGISTERED members; the member cap carries the same missed-pair
    * trade-off documented on [[minhashVerdicts]] (saturated buckets stop
    * registering, so two future near-dups can both emerge keepers).
    * Output: (doc_id, seq, root_doc, is_keeper). */
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
    ds.toDF("doc_id", "h_hi", "h_lo", "seq")
      .select($"doc_id", $"seq", $"h_hi", $"h_lo", posexplode(array(
        lo % 65536L, shiftright(lo, 16),
        hi % 65536L, shiftright(hi, 16))))
      .select(($"pos" * 65536L + $"col").as("key"),
        $"doc_id", $"seq", $"h_hi", $"h_lo")
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new FpBucketMembers(maxBucketMembers, maxHamming),
        TimeMode.None(), OutputMode.Append())
      .groupByKey(_._1)
      .transformWithState(new DocVerdict, TimeMode.None(), OutputMode.Append())
  }

  /** Streaming SimHash dedup for `(doc_id, text, seq)` rows — the
    * streaming face of the batch `dedup_simhash` fingerprint (identical
    * kernel and bit width, so batch and stream agree doc-for-doc): docs
    * whose token stream collapses to the same `bits`-bit SimHash are
    * near-duplicates; the first to arrive is the keeper. One keyed
    * shuffle on the fingerprint, O(1) state per distinct fingerprint —
    * the cheapest of the three streaming dedup flavors, the right tool
    * when boilerplate-level similarity is enough. Token-less docs are
    * singleton keepers (the batch query filters them out; a streaming
    * verdict must still say something about every doc). */
  def simhashVerdicts(ds: Dataset[(Long, String, Long)],
                      bits: Int = 16): Dataset[(Long, Long, Long, Boolean)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val df = KernelBarrier.over(ds.toDF("doc_id", "text", "seq")
      .select($"doc_id", $"seq", native.tokens($"text").as("toks")))
    val hashed = df.filter(size($"toks") >= 1)
      .select(native.simhash($"toks", bits).as("fp"), $"doc_id", $"seq")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new FingerprintOwner, TimeMode.None(), OutputMode.Append())
    val tokenless = df.filter(size($"toks") === 0)
      .select($"doc_id", $"seq", $"doc_id".as("root_doc"), lit(true).as("is_keeper"))
      .as[(Long, Long, Long, Boolean)]
    hashed.union(tokenless)
  }

  /** Streaming near-dup verdicts for `(doc_id, text, seq)` rows:
    * one row per incoming doc — `(doc_id, seq, root_doc, is_keeper)`.
    * Requires the RocksDB state store provider (transformWithState).
    * Docs whose text yields no shingles (< 3 tokens) are always keepers
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
    val df = ds.toDF("doc_id", "text", "seq")
    val banded = signed(df, geom)
      .select(explode(Lsh.bandHashes($"sigs", geom.bands, geom.rows)).as("band_hash"),
        $"doc_id", $"seq", $"sigs")
      .as[(String, Long, Long, Seq[String])]
    val verdicts = banded
      .groupByKey(_._1)
      .transformWithState(new BucketMembers(maxBucketMembers, geom.numHashes),
        TimeMode.None(), OutputMode.Append())
      .groupByKey(_._1)
      .transformWithState(new DocVerdict, TimeMode.None(), OutputMode.Append())
    verdicts.union(singletons(df))
  }

  /** `(doc_id, seq, sigs)` for the docs of `df` with a 3-shingle: their
    * signatures, computed once per doc under a [[KernelBarrier]]. A doc
    * with no shingle has an all-null signature and is dropped. */
  private def signed(df: DataFrame, geom: Lsh.Geometry): DataFrame =
    KernelBarrier.over(df.select(col("doc_id"), col("seq"),
        native.minhash_sigs(native.shingles3(col("text")), geom.numHashes).as("sigs")))
      .filter(element_at(col("sigs"), 1).isNotNull)

  /** Keeper verdicts for the docs of `df` that [[signed]] drops: null
    * text or under 3 tokens (exactly the docs with no 3-shingle), found
    * without computing a signature. */
  private def singletons(df: DataFrame): Dataset[(Long, Long, Long, Boolean)] = {
    import df.sparkSession.implicits._
    df.filter($"text".isNull || size(native.tokens($"text")) < 3)
      .select($"doc_id", $"seq", $"doc_id".as("root_doc"), lit(true).as("is_keeper"))
      .as[(Long, Long, Long, Boolean)]
  }

  /** Cross-snapshot streaming dedup: greedy verdicts for a stream of
    * (doc_id, text, seq) against a STATIC signature index
    * ([[graft.functions.DedupIndex.indexRows]] shape) — the streaming
    * face of incremental snapshot dedup. Each doc's bands equi-join the
    * index (stream-static, verification inside the join condition since
    * index rows carry their signatures); the per-doc fold reuses the
    * stateless [[DocVerdict]] stage. Output rows: (doc_id, seq,
    * root_doc, is_keeper) with root = smallest matched indexed doc.
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
    graft.functions.DedupIndex.requireGeometry(index, geom)
    val spark = ds.sparkSession
    import spark.implicits._
    val df = ds.toDF("doc_id", "text", "seq")
    val banded = signed(df, geom)
      .select($"doc_id", $"seq", $"sigs",
        posexplode(Lsh.bandHashes($"sigs", geom.bands, geom.rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    val agree = size(filter(zip_with(col("n.sigs"), col("o.sigs"),
      (x, y) => x === y), m => m)).cast("double") / lit(geom.numHashes.toDouble)
    val matched = banded.as("n")
      .join(index.as("o"),
        col("n.band") === col("o.band") &&
          col("n.band_hash") === col("o.band_hash") &&
          col("n.doc_id") =!= col("o.doc_id") &&
          agree >= EstThreshold,
        "left")
      .select(col("n.doc_id"), col("n.seq"),
        coalesce(col("o.doc_id"), lit(-1L)).as("own"))
      .as[(Long, Long, Long)]
    val verdicts = matched
      .groupByKey(_._1)
      .transformWithState(new DocVerdict, TimeMode.None(), OutputMode.Append())
    verdicts.union(singletons(df))
  }

  /** Semantic-cluster bucket membership — the [[FpBucketMembers]] shape
    * with exact-cosine verification: key = packed (cid, band, bucket),
    * members hold (vecId, embedding, nrm) append-capped, a match is a
    * registered member whose ROUND(exact decimal cosine, 9) clears the
    * threshold — the batch dedup_semantic predicate verbatim, so a
    * caught pair is exactly a batch-caught pair. The exact kernel runs
    * only against same-bucket members (≤ cap), never corpus-wide.
    * Input rows: (key, vecId, seq, embedding, nrm). */
  private final class SemBucketMembers(cap: Int, threshold: Double)
      extends StatefulProcessor[Long, (Long, Long, Long, Array[Float], Double), (Long, Long, Long)] {
    @transient private var members: ListState[(Long, Array[Float], Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[(Long, Array[Float], Double)](
        "members", Encoders.product[(Long, Array[Float], Double)], TTLConfig.NONE)
    private def cosine9(a: Array[Float], na: Double, b: Array[Float], nb: Double): Double = {
      val dot = ExprKernels.decimalDot(ArrayData.toArrayData(a), ArrayData.toArrayData(b))
      java.math.BigDecimal.valueOf(dot / (na * nb))
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Array[Float], Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val sorted = rows.toVector.sortBy(_._3) // seq order within the batch
      var mem = members.get().toVector // ≤ cap by construction
      val out = Vector.newBuilder[(Long, Long, Long)]
      sorted.foreach { case (_, vecId, seq, emb, nrm) =>
        val matched = mem.iterator
          .filter { case (id, memb, mnrm) =>
            id != vecId && cosine9(emb, nrm, memb, mnrm) >= threshold
          }
          .map(_._1)
        out += ((vecId, seq, if (matched.isEmpty) -1L else matched.min))
        if (mem.size < cap && !mem.exists(_._1 == vecId)) {
          members.appendValue((vecId, emb, nrm)) // one write, never a rewrite
          mem :+= ((vecId, emb, nrm))
        }
      }
      out.result().iterator
    }
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
    * signature is banded 4×8, and candidates meet only in
    * (cid, band, bucket) buckets; [[SemBucketMembers]] then verifies
    * with the exact decimal cosine at ROUND(·,9) ≥ `threshold`.
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
    val keyed = ds.toDF("vec_id", "embedding", "seq")
      .withColumn("nrm",
        sqrt(native.decimal_dot($"embedding", $"embedding").cast("double")))
      .withColumn("cid", Lsh.nearestCentroidGated($"embedding", centroids))
      .withColumn("sig", native.lsh_bucket($"embedding", Lsh.EmbedPlanes))
      .select($"vec_id", $"seq", $"embedding", $"nrm", $"cid",
        posexplode(Lsh.embedBandBuckets($"sig", bands, bandBits)))
      .select(
        ($"cid" * lit((bands.toLong << bandBits)) + $"pos" * lit(1L << bandBits) + $"col")
          .as("key"),
        $"vec_id", $"seq", $"embedding", $"nrm")
      .as[(Long, Long, Long, Array[Float], Double)]
    keyed
      .groupByKey(_._1)
      .transformWithState(new SemBucketMembers(maxBucketMembers, threshold),
        TimeMode.None(), OutputMode.Append())
      .groupByKey(_._1)
      .transformWithState(new DocVerdict, TimeMode.None(), OutputMode.Append())
  }
}
