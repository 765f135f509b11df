package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Lsh, TextFunctions => TF, native}

/** Deduplication operators for training-data pipelines (north star):
  * exact hash-dedup, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Hashing uses md5 (identical across Spark/DuckDB/everything), with the
  * classic min-of-keyed-hash construction standing in for random
  * permutations. Scale design:
  *  - exact dedup = one hash-aggregate on the text (or a digest of it);
  *  - shingles, MinHash signatures, LSH band hashes, and SimHash are all
  *    computed *in-row* (TextFunctions.shingles3 + the native
  *    graft.functions expressions) — the per-document work is a single
  *    narrow scan with zero shuffles; the only shuffle in the whole LSH
  *    pipeline is the equi-join on (band, band_hash), whose key is
  *    uniformly distributed by construction;
  *  - the raw n-gram Jaccard query is the *oracle* for the LSH variant
  *    (exact but quadratic in the worst case; usable because candidate
  *    pairs are pre-blocked on a shared shingle).
  */
object DedupOps extends QueryGroup {

  // oracle-friendly geometry (4 bands of 2 → candidates at jaccard ≳ 0.5);
  // the production k=128 twin is functions.Lsh.Production — one source of
  // truth for both, so oracle SQL and Spark plans cannot drift
  private val NumHashes = graft.functions.Lsh.Small.numHashes
  private val BandSize = graft.functions.Lsh.Small.rows
  private val NumBands = graft.functions.Lsh.Small.bands
  private val ProdHashes = graft.functions.Lsh.Production.numHashes
  private val ProdBandSize = graft.functions.Lsh.Production.rows
  // hot-shingle bound for the exact-Jaccard self-join: a shingle in d docs
  // yields d(d-1)/2 pairs, so df is capped (standard posting-list cap)
  private val MaxShingleDf = 100
  // embedding near-dup: 32 sign-LSH planes as 4 bands of 8 bits; candidate
  // iff any band matches. Band width drives selectivity: for unrelated
  // (near-orthogonal) vectors P(band collision) ≈ (1/2)^8, so candidates
  // stay ~bands/256 ≈ 1.6% of pairs at ANY corpus size — measured 1.8% on
  // the testdata vs 23% for 4-bit bands, which would have been a
  // near-quadratic blowup. 0.35 picks up the corpus's natural high-cosine
  // tail (no planted duplicates); the operator is threshold-generic and a
  // real-dup corpus (cosine ≥ 0.8, band-collision ≥ 0.16/band) is exactly
  // where the OR-amplified recall concentrates.
  // geometry + threshold live in functions.Lsh (one constant for the
  // batch queries AND the streaming twins — a retune cannot fork them)
  private val EmbedPlanes = graft.functions.Lsh.EmbedPlanes
  private val EmbedBands = graft.functions.Lsh.EmbedBands
  private val EmbedBandBits = graft.functions.Lsh.EmbedBandBits
  private val CosineThreshold = graft.functions.Lsh.EmbedCosineThreshold
  // dedup_substring window length, in tokens (the paper uses 50 BPE
  // tokens on web text; this corpus averages 54 whitespace tokens/doc,
  // so 20 keeps several windows per doc)
  private val SpanLen = 20
  // dedup_span_removal granularity: non-overlapping 10-token chunks (C4
  // removes repeated three-sentence spans; fixed aligned chunks are the
  // shuffle-linear granularity — every token belongs to exactly ONE
  // counted unit, so corpus volume through the count is 1×, not SpanLen×)
  private val ChunkLen = 10
  // embedding near-dup bucket-occupancy cap (see dedup_embed_cosine):
  // candidates ≤ EmbedBands · 2^EmbedBandBits · C²/2 at ANY corpus size
  private val MaxBucketMembers = 64
  // image near-dup: pairs at dHash Hamming ≤ 3, found via 4 bands of 16
  // bits. Exact by pigeonhole (≤ 3 differing bits over 4 bands leaves at
  // least one band identical), so banded recall == full-scan recall and
  // the O(n²) oracle checks the blocked plan bit-for-bit.
  private val MaxHamming = 3
  // dedup_semantic coarse quantizer: 16 fixed-sample centroids (vec_id
  // 100..115 — the similarity_ivf sample; any fixed quantizer is a valid
  // SemDeDup partition, k-means training tightens clusters but adds
  // nothing structural, and the fixed sample keeps the oracle
  // deterministic). In a deployment nlist scales with corpus size so
  // cluster population stays bounded (the paper's regime).
  private val SemClusters = 16

  /** (doc_id, shingle): one row per distinct 3-token shingle of each
    * document of `docs` (the documents table, possibly filtered), over
    * the widened scan. */
  private[queries] def shingleRows(docs: DataFrame): DataFrame =
    widen(docs)(_.select(col("doc_id"), explode(TF.shingles3(col("text"))).as("shingle")))

  private val SQL_SHINGLES =
    """SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      |FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |      FROM documents
      |      WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 3),
      |  UNNEST(generate_series(1, len(toks) - 2)) t(i)""".stripMargin

  override def queries: Map[String, Q] = Map[String, Q](
    // exact dedup: hash-groupBy on content; keeper = min doc_id.
    "dedup_exact" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .groupBy(md5($"text").as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper"))
    }),

    // benchmark decontamination: flag corpus docs sharing >= 2 distinct
    // shingles with any "benchmark" doc (deterministic holdout: doc_id %
    // 97 == 0 stands in for an eval set — the operator is set-generic).
    // The cross-corpus variant of the jaccard blocking join, with the
    // structural advantage a real decontamination run has: the benchmark
    // side is TINY (an eval suite, not a corpus), so its exploded
    // shingles broadcast and the corpus side never shuffles — one narrow
    // scan + broadcast join + partial-agg count at any corpus size.
    "dedup_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val bench = shingleRows(docs.filter($"doc_id" % 97 === 0))
        .select($"doc_id".as("bench_id"), $"shingle")
      shingleRows(docs.filter($"doc_id" % 97 =!= 0))
        .join(broadcast(bench), "shingle")
        .groupBy($"doc_id", $"bench_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 2)
    }),

    // exact substring-level dedup (the Lee et al. 2021 "Deduplicating
    // Training Data" operator, token-granular): a doc's 20-token windows
    // are md5'd at every position; any window occurring ≥ 2 times in the
    // corpus is a duplicated span, and any repeated run of ≥ SpanLen
    // tokens necessarily contains such a window — same detection power
    // as the paper's suffix array for fixed-length repeats, in three
    // shuffle-friendly steps (explode → count by hash → join back +
    // per-doc fold) instead of a global sorted structure. Linear in
    // corpus tokens: no pair join anywhere, and a boilerplate span hot
    // key only concentrates a COUNT (partial-agg safe), never a pair
    // blowup. Docs under 20 tokens carry no window and are excluded.
    "dedup_substring" -> ((s, dir) => {
      import s.implicits._
      val spans = widen(t(s, dir, "documents"))(
          _.select($"doc_id", TF.tokens($"text").as("toks")))
        .filter(size($"toks") >= SpanLen)
        .select($"doc_id", explode(expr(
          s"transform(sequence(1, size(toks)-${SpanLen - 1}), " +
            s"i -> md5(concat_ws(' ', slice(toks, i, $SpanLen))))")).as("h"))
      // corpus-wide occurrence count as an unordered window over the span
      // hash: ONE exchange on h and ONE evaluation of the window-md5
      // explode, where the groupBy+join-back spelling re-tokenized and
      // re-hashed the corpus for each side and paid a second exchange
      // (the url_canonicalize rewrite; guide §2.4)
      spans
        .withColumn("c", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"h")))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when($"c" >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
        .select($"doc_id", $"n_spans", $"n_dup_spans",
          ($"n_dup_spans".cast("double") / $"n_spans").as("dup_span_frac"))
    }),

    // C4-style duplicated-span REMOVAL: where dedup_substring only scores
    // each document's duplicated fraction, this one rewrites the corpus —
    // any non-overlapping ChunkLen-token chunk occurring ≥2 times
    // corpus-wide (including within one document) is cut, and the
    // surviving chunks are reassembled in order. Three-step plan, all
    // uniform-key: in-row chunking (narrow), a partial-agg-safe count by
    // chunk hash (a boilerplate chunk concentrates into ONE count row,
    // never a pair join), a hash-join back, and one groupBy(doc_id)
    // reassembly. Corpus volume through every shuffle is ≤1× the token
    // stream — the same no-pair-blowup argument as dedup_substring, plus
    // the aligned-chunk trick keeps it 1× instead of SpanLen×.
    "dedup_span_removal" -> ((s, dir) => {
      import s.implicits._
      val chunks = widen(t(s, dir, "documents"))(
          _.select($"doc_id", TF.tokens($"text").as("toks")))
        .filter(size($"toks") >= 1)
        .select($"doc_id", explode(expr(
          s"transform(sequence(0, (size(toks)-1) DIV $ChunkLen), i -> " +
            s"struct(i AS chunk_id, concat_ws(' ', slice(toks, i*$ChunkLen+1, $ChunkLen)) AS chunk))"))
          .as("ch"))
        .select($"doc_id", $"ch.chunk_id", $"ch.chunk", md5($"ch.chunk").as("h"))
      // same window-count rewrite as dedup_substring: one exchange on h,
      // one evaluation of the chunking explode
      chunks
        .withColumn("c", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"h")))
        .groupBy($"doc_id")
        .agg(
          expr("array_join(transform(array_sort(collect_list(" +
            "CASE WHEN c < 2 THEN struct(chunk_id, chunk) END)), x -> x.chunk), ' ')")
            .as("kept_text"),
          sum(when($"c" >= 2, 1L).otherwise(0L)).as("n_removed"))
    }),

    // exact n-gram Jaccard on candidate pairs sharing ≥1 shingle. The
    // shingle explode + self-join is the blocking step; a document-
    // frequency cap bounds it: a shingle shared by d docs contributes
    // d(d-1)/2 candidate pairs, so one boilerplate sentence in 10⁶ docs
    // would be ~10¹² pairs. Shingles with df > MaxShingleDf carry no
    // discriminative signal and are dropped from the representation
    // (blocking, intersection AND sizes — consistently, so jaccard stays
    // well-defined); the per-shingle pair count is then ≤ MaxShingleDf²/2.
    // The threshold is the MinHash edge rule's, which estimates this one.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      jaccardPairs(shingleRows(t(s, dir, "documents")), MaxShingleDf)
        .filter(col("jaccard") >= Lsh.EdgeThreshold)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))),

    // MinHash signatures + LSH banding → candidate pairs + estimated
    // jaccard. Signatures (native.minhash_sigs) and band hashes are in-row;
    // band blocking is the only wide step; the signature-agreement estimate
    // is computed by zipping the two 8-element arrays, not a re-join per h.
    "dedup_minhash_lsh" -> ((s, dir) =>
      minhashEstPairs(s, dir, graft.functions.Lsh.Small)),

    // The same operator at PRODUCTION geometry — k = 128 signatures in 16
    // bands of 8 (functions.Lsh.Production, threshold ≈ 0.707): the
    // configuration published web-corpus pipelines actually run. The
    // S-curve at rows = 8 is what makes 10⁹-doc dedup linear: unrelated
    // pairs (s ≈ 0.3) band-collide at ~10⁻³ vs ~0.32 for the 4×2 toy, so
    // the candidate join stays proportional to true near-dups, not to the
    // corpus's shared-boilerplate pair count. Same plan as
    // dedup_minhash_lsh — only in-row widths change; LshGeometrySpec pins
    // measured recall to the analytic curve on a planted corpus.
    "dedup_minhash_production" -> ((s, dir) =>
      minhashEstPairs(s, dir, graft.functions.Lsh.Production)),

    // pairs → clusters → keepers: the step every dedup pipeline needs after
    // the LSH candidates. Edges = minhash pairs at est_jaccard ≥ 0.5 (≥ 4
    // of 8 signature agreements); connected components by alternating
    // large-star/small-star (ConnectedComponents scaladoc — O(log d)
    // rounds, two id-keyed shuffles per round, no driver graph state);
    // cluster_id = component-min doc_id; the keeper is the cluster_id row
    // itself. Docs in no pair are their own singleton cluster via the
    // left join — output is one row per document, the retention verdict.
    // NOTE: unlike every other query, invoking this Q runs the iterative
    // CC loop EAGERLY (Materialize.cut + convergence actions per round);
    // the returned DataFrame holds only the final join, so timing this
    // query must time the Q *call* (Bench does — it wraps the call plus
    // the write in one measurement), and plan inspection of the returned
    // frame under-represents the work.
    "dedup_clusters" -> ((s, dir) => {
      import s.implicits._
      val edges = minhashEstPairs(s, dir, graft.functions.Lsh.Small)
        .filter($"est_jaccard" >= Lsh.EdgeThreshold)
        .select($"doc_a", $"doc_b")
      val labels = graft.functions.ConnectedComponents.labels(edges)
        .withColumnRenamed("id", "doc_id")
      t(s, dir, "documents").select($"doc_id")
        .join(labels, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"cluster_id", $"doc_id").as("cluster_id"))
        .withColumn("is_keeper",
          when($"cluster_id" === $"doc_id", 1).otherwise(0))
    })
    ,

    // image-content near-dup (the LAION-style first image pass): encode a
    // deterministic grayscale PNG per doc — every doc_id trio (g = id/3)
    // shares one base pattern whose pixels are the first md5 byte of
    // (g|x|y), each variant v = id%3 brightens a small top-left patch.
    // md5 pixels make trios INDEPENDENT (a linear congruential pattern
    // left dHash bits correlated across trios — measured 40% of all
    // pairs within Hamming 3, a quadratic output), so planted near-dups
    // sit at Hamming ≤ 1, accidental pairs are ~zero (P ≈ 2.4e-15/pair),
    // and pair count stays LINEAR in corpus size. The blob is then
    // REAL-decoded back with javax.imageio and the decoded raster is
    // dHashed (multimodal.Phash).
    // Pairing is [[phashPairs]]: 16-bit banded blocking + exact Hamming
    // verify, the dedup_embed_cosine shape made EXACT by pigeonhole
    // (MaxHamming < bands). The oracle recomputes pixels → block means →
    // bits → hashes in SQL and runs the full O(n²) scan the blocking must
    // match. Real-image robustness (re-encode/resize/brightness) is
    // PhashSpec's fixture, where decode can't be recomputed in SQL.
    "dedup_image_phash" -> ((s, dir) =>
      phashPairs(imageHashes(s, dir), MaxHamming)),

    // Eval-set leakage scan over decoded IMAGE content — the multimodal
    // analogue of dedup_decontaminate (an image benchmark must not leak
    // into the training corpus via re-encodes/near-copies that exact
    // hashing misses). Eval set = doc_id ≡ 0 (mod 30) within the first
    // 3000 ids — the id CAP models what a real benchmark is: a FIXED
    // set that does not grow with the corpus (≤ 100 images at any SF),
    // so the broadcast build side is bounded at any corpus size and the
    // per-row compare count is a constant, not n/30. Emit (doc_id,
    // eval_doc, hamming) for every corpus image within Hamming ≤ 3 of
    // an eval image — flagging the eval row itself and its trio
    // near-copies. Scale shape: the eval side BROADCASTS and the
    // corpus scan stays in place — a broadcast nested-loop with |eval|
    // bit_count compares per row and ZERO shuffles of the corpus,
    // cheaper than banding + distinct for small eval sets (banding
    // would pay a pair-dedup exchange; an XOR compare is a few ns).
    "dedup_decontaminate_image" -> ((s, dir) => {
      import s.implicits._
      val hashed = imageHashes(s, dir).transform(graft.functions.Materialize.cut)
      val eval = hashed.filter($"doc_id" % 30 === 0 && $"doc_id" < 3000)
        .select($"doc_id".as("eval_doc"), $"h_hi".as("e_hi"), $"h_lo".as("e_lo"))
      hashed.join(broadcast(eval),
          bit_count($"h_hi".bitwiseXOR($"e_hi")) +
            bit_count($"h_lo".bitwiseXOR($"e_lo")) <= MaxHamming)
        .select($"doc_id", $"eval_doc",
          (bit_count($"h_hi".bitwiseXOR($"e_hi")) +
            bit_count($"h_lo".bitwiseXOR($"e_lo"))).as("hamming"))
    }),

    // Near-dup pairs among decoded AUDIO content (graft.multimodal.Afp:
    // 65-frame energy dHash over the real WAV decode), then the SAME
    // banded-Hamming pair join as dedup_image_phash — one blocking plan
    // shared across modalities. The synthetic corpus plants trios
    // (g = doc_id/3): per-frame loudness levels are md5 bytes (frames
    // independent across groups — the image lesson), variants v=1,2 add
    // a constant offset to frame 0 only, so a trio's fingerprints differ
    // in at most bit 0 while unrelated docs sit ~32 bits apart. The
    // WAV encode → JavaSound decode round trip is lossless PCM, so the
    // oracle recomputes the signal arithmetically, never parsing a
    // container — the Spark side is the one running the real codec.
    "dedup_audio_fingerprint" -> ((s, dir) => {
      import s.implicits._
      val hashed = widen(t(s, dir, "documents"))(_.select($"doc_id")).as[Long]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.map { id =>
            val g = id / 3
            val v = (id % 3).toInt
            val n = (1040 + (g % 13) * 80).toInt
            val levels = Array.tabulate(graft.multimodal.Afp.Frames) { f =>
              md.digest(s"$g|$f".getBytes(
                java.nio.charset.StandardCharsets.UTF_8))(0) & 0xff
            }
            val blob = graft.multimodal.Multimodal.SyntheticAudio.pcm16(n, 16000) { i =>
              val f = ((i.toLong * graft.multimodal.Afp.Frames) / n).toInt
              val amp = levels(f) * 96 + (i * 37 % 97) +
                (if (f == 0) v * 512 else 0)
              if (i % 2 == 0) amp else -amp
            }
            val (hi, lo) = graft.multimodal.Afp.energyHashBlob(blob).getOrElse(
              throw new IllegalStateException(s"WAV decode failed for doc $id"))
            (id, hi, lo)
          }
        }.toDF("doc_id", "h_hi", "h_lo")
      phashPairs(hashed, MaxHamming)
    }),

    // Near-dup pairs among decoded VIDEO content: dHash of the FIRST
    // decoded frame (demuxAvi → JPEG decode → Phash, the multimodal_video
    // path), then once more the shared banded-Hamming join — with this
    // the whole modality family (text, embeddings, image, audio, video)
    // funnels near-dup detection into ONE pair plan. Fixture: 72×64
    // block-flat MJPEG (9×8 JPEG blocks = the dHash grid exactly, so
    // each cell mean IS the block gray and the lossy codec becomes
    // bit-exact — PhashSpec pins the bridge); trios perturb frame 0's
    // block (0,0) only (≤ 1 bit apart), frame 1 carries a different
    // pattern so hashing the wrong frame cannot pass the oracle.
    "dedup_video_phash" -> ((s, dir) => {
      import s.implicits._
      val hashed = widen(t(s, dir, "documents"))(_.select($"doc_id")).as[Long]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.map { id =>
            val g = id / 3
            val v = (id % 3).toInt
            val blob = graft.multimodal.Multimodal.SyntheticVideo
              .mjpegAviBlocks(72, 64, 2) { (f, bx, by) =>
                val base = md.digest(s"$g|$f|$bx|$by".getBytes(
                  java.nio.charset.StandardCharsets.UTF_8))(0) & 0x7f
                if (f == 0 && bx == 0 && by == 0) base + 16 * v else base
              }
            val frames = graft.multimodal.Multimodal.Codec.demuxAvi(blob)
              .getOrElse(throw new IllegalStateException(s"AVI demux failed for doc $id"))._3
            val (hi, lo) = graft.multimodal.Phash.dhashBlob(frames.head).getOrElse(
              throw new IllegalStateException(s"frame decode failed for doc $id"))
            (id, hi, lo)
          }
        }.toDF("doc_id", "h_hi", "h_lo")
      phashPairs(hashed, MaxHamming)
    })
  ) ++ embedQueries

  /** Near-duplicate pairs among (id, h_hi, h_lo) dHash rows at Hamming ≤
    * `maxHamming`: block on the four 16-bit bands of the 64-bit hash
    * (join key is (band, bucket) — id-only rows, 3 ints of shuffle per
    * row), then verify candidates with the exact two-word Hamming
    * distance after an id join-back. EXACT for maxHamming ≤ 3: with 4
    * bands, ≤ 3 differing bits leave ≥ 1 band identical (pigeonhole), so
    * no qualifying pair can be missed. Scale shape mirrors
    * dedup_embed_cosine: the only wide steps are the band equi-join
    * (P(random 16-bit bucket collision) = 2^-16 per band) and the pair
    * distinct; a real photo corpus concentrates mass in a few hashes
    * (flat images), which a df-cap on hot buckets would bound exactly as
    * MaxShingleDf does for shingles — not needed for this corpus, same
    * honesty note as the streaming minhash bucket cap. */
  private[graft] def phashPairs(hashed: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"banded blocking is exact only for maxHamming in [0, 3], got $maxHamming")
    val s = hashed.sparkSession
    import s.implicits._
    // feeds the banding and both join-back sides — checkpoint, same as
    // the minhash sigs note
    val hc = hashed.transform(graft.functions.Materialize.cut)
    // Lsh.unsignedHalf: raise on hashes outside [0, 2^32) — the banding
    // below would silently mis-bucket them (negative %, sign-extending
    // shift) and void the pigeonhole completeness claim
    val lo = graft.functions.Lsh.unsignedHalf($"h_lo", "h_lo")
    val hi = graft.functions.Lsh.unsignedHalf($"h_hi", "h_hi")
    val banded = hc.select($"doc_id", posexplode(array(
        lo % 65536L, shiftright(lo, 16),
        hi % 65536L, shiftright(hi, 16))))
      .toDF("doc_id", "band", "bucket")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct() // a pair can collide in several bands
    cand
      .join(hc.select($"doc_id".as("doc_a"), $"h_hi".as("ha_hi"), $"h_lo".as("ha_lo")), "doc_a")
      .join(hc.select($"doc_id".as("doc_b"), $"h_hi".as("hb_hi"), $"h_lo".as("hb_lo")), "doc_b")
      .withColumn("hamming",
        bit_count($"ha_hi".bitwiseXOR($"hb_hi")) + bit_count($"ha_lo".bitwiseXOR($"hb_lo")))
      .filter($"hamming" <= maxHamming)
      .select($"doc_a", $"doc_b", $"hamming")
  }

  /** The decoded-image dHash pipeline in DuckDB terms (pixels → 9×8
    * block means → comparison bits → (h_hi, h_lo)), shared by the
    * image-phash and image-decontaminate oracles. Mirrors
    * [[imageHashes]] arithmetic exactly. */
  private val SqlImageHashes =
    """WITH docs AS (
      |  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS v,
      |    18 + (doc_id // 3) % 23 AS w, 16 + ((doc_id // 3) * 3) % 17 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, x * 9 // w AS cx, y * 8 // h AS cy,
      |    CASE WHEN x < w // 9 AND y < h // 8
      |      THEN (('0x' || substr(md5(CAST(g AS VARCHAR) || '|' || CAST(x AS VARCHAR)
      |        || '|' || CAST(y AS VARCHAR)), 1, 2))::BIGINT + 24 * v) % 256
      |      ELSE ('0x' || substr(md5(CAST(g AS VARCHAR) || '|' || CAST(x AS VARCHAR)
      |        || '|' || CAST(y AS VARCHAR)), 1, 2))::BIGINT END AS p
      |  FROM docs, generate_series(0, 39) gx(x), generate_series(0, 31) gy(y)
      |  WHERE x < w AND y < h),
      |cells AS (
      |  SELECT doc_id, cx, cy, CAST(SUM(p) AS BIGINT) // COUNT(*) AS m
      |  FROM px GROUP BY doc_id, cx, cy),
      |bits AS (
      |  SELECT a.doc_id, a.cy * 8 + a.cx AS k,
      |    CASE WHEN b.m > a.m THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b
      |    ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |hashes AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN k >= 32 THEN bit * CAST(POWER(2, k - 32) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS h_hi,
      |    CAST(SUM(CASE WHEN k < 32 THEN bit * CAST(POWER(2, k) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS h_lo
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Decoded-image dHash rows (doc_id, h_hi, h_lo) over the synthetic
    * trio corpus — the real PNG encode → ImageIO decode → Phash path,
    * shared by dedup_image_phash and dedup_decontaminate_image. Trios
    * (g = doc_id/3): md5-byte pixels (groups independent), variants
    * v=1,2 brighten the top-left dHash cell only (≤ 1 bit apart). */
  private def imageHashes(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import s.implicits._
    widen(t(s, dir, "documents"))(_.select($"doc_id")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val g = id / 3
          val v = (id % 3).toInt
          val w = (18 + g % 23).toInt
          val h = (16 + (g * 3) % 17).toInt
          val blob = graft.multimodal.Multimodal.SyntheticImages.gray(w, h) { (x, y) =>
            val base = md.digest(
              s"$g|$x|$y".getBytes(java.nio.charset.StandardCharsets.UTF_8))(0) & 0xff
            if (x < w / 9 && y < h / 8) (base + 24 * v) % 256 else base
          }
          val (hi, lo) = graft.multimodal.Phash.dhashBlob(blob).getOrElse(
            throw new IllegalStateException(s"PNG decode failed for doc $id"))
          (id, hi, lo)
        }
      }.toDF("doc_id", "h_hi", "h_lo")
  }

  /** Candidate pairs + exact jaccard over a (doc_id, shingle) relation
    * with one row per distinct shingle of each document —
    * the body of dedup_ngram_jaccard WITHOUT the final ≥ 0.5 filter, so
    * BoilerplateFixtureSpec can count the blocked candidates directly
    * and prove the df cap binds on a template-heavy corpus. */
  private[graft] def jaccardPairs(docs: DataFrame, maxDf: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // NOT checkpointed: both consumers of the exploded form (the df
    // aggregate and the anti-join's left side) live inside the single
    // checkpointed `sh` plan below, so materializing ~700k exploded rows
    // here costs ~30 s of CPU (row copy + block serialization, measured
    // via graft.Explain) to save one ~0.3 s shingle+explode recompute
    val sh0 = docs.select($"doc_id", $"shingle")
    // shingles are distinct per doc, so count(*) per shingle = document
    // frequency. hot's cardinality is only bounded by
    // total_shingle_rows / maxDf — small in practice but not
    // guaranteed tiny on a boilerplate-heavy corpus, so no forced
    // broadcast: let AQE pick the anti-join strategy from actual sizes.
    val hot = sh0.groupBy($"shingle").agg(count(lit(1)).as("df"))
      .filter($"df" > maxDf).select($"shingle")
    // the df-capped relation feeds THREE consumers (sizes + both sides of
    // the self-join): checkpoint it so the anti-join runs once, not 3×
    val sh = sh0.join(hot, Seq("shingle"), "left_anti").transform(graft.functions.Materialize.cut)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = sh.as("a").join(sh.as("b"), col("a.shingle") === col("b.shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // sizes is corpus-sized (one row per doc): plain equi-joins — AQE
    // may still broadcast at small scale, but nothing forces a
    // driver-collected broadcast of a billion-row table at 100 TB
    pairs
      .join(sizes.select($"doc_id".as("doc_a"), $"n_sh".as("na")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n_sh".as("nb")), "doc_b")
      .withColumn("jaccard",
        $"inter".cast("double") / ($"na" + $"nb" - $"inter").cast("double"))
  }

  /** Body of dedup_minhash_lsh (geometry [[graft.functions.Lsh.Small]],
    * shared with dedup_clusters) and dedup_minhash_production
    * ([[graft.functions.Lsh.Production]], k = 128 in 16 bands of 8):
    * candidate pairs from band blocking plus the signature-zip jaccard
    * estimate. The plan shape is geometry-independent — only the in-row
    * signature width and band count change; the single shuffle stays the
    * (band, band_hash) equi-join.
    */
  private def minhashEstPairs(s: SparkSession, dir: String,
      geom: Lsh.Geometry): DataFrame = {
    import s.implicits._
    // sigs feeds the banding and both sides of the estimate join —
    // Materialize.cut the k-string-per-doc signatures rather than
    // re-hashing shingles (eager, computed once, storage picked by the
    // session's fault-tolerance policy).
    val sigs = widen(t(s, dir, "documents"))(_
        .select($"doc_id", Lsh.signature($"text", geom).as("sigs")))
      .transform(graft.functions.Materialize.cut)
      .filter(Lsh.signed($"sigs"))
    // signature, banding and edge rule are functions.Lsh's, shared
    // with streaming.Dedup and DedupIndex
    val banded = sigs.select($"doc_id", Lsh.bandRows($"sigs", geom))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      // explicit width after the dedup: candidate rows are 2 longs, so
      // AQE's byte-based coalescing collapses the downstream join-backs
      // + k-element signature zips onto a few tasks (8 of 32 in the r18
      // 20× stage table) — but each row costs a k-wide zip compare, so
      // hold the compute at full parallelism (the dedup_embed_cosine
      // candidate-repartition precedent; REPARTITION_BY_NUM is exempt
      // from AQE re-coalescing)
      .repartition(s.sparkContext.defaultParallelism)
    // sigs is corpus-sized — equi-join, don't force a broadcast (see
    // the sizes join above); the bucket-blocked cand side is the small one
    cand
      .join(sigs.select($"doc_id".as("doc_a"), $"sigs".as("sa")), "doc_a")
      .join(sigs.select($"doc_id".as("doc_b"), $"sigs".as("sb")), "doc_b")
      .select($"doc_a", $"doc_b",
        Lsh.agreement($"sa", $"sb", geom.numHashes).as("est_jaccard"))
  }

  private def embedQueries: Map[String, Q] = Map(
    // SimHash: 16-bit native expression (graft.functions.SimHash; bit j of
    // the result votes on bit j of each token's md5, MSB-first). One narrow
    // scan, no shuffle; the same expression serves 64-bit at scale.
    "dedup_simhash" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "documents"))(_.select($"doc_id", TF.tokens($"text").as("toks")))
        .filter(size($"toks") >= 1)
        .select($"doc_id", native.simhash($"toks", 16).as("simhash16"))
    }),

    // embedding-cosine near-dup: banded sign-LSH candidates + exact cosine.
    // One 32-plane signature per vector (in-row, codegen'd) split into 4
    // bands of 8 bits; a pair is a candidate iff it shares ANY band's
    // bucket (OR-amplification, same construction as the minhash bands —
    // recall rises with band count while each band join stays selective).
    // Exact DecimalDot cosine then keeps only pairs ≥ CosineThreshold.
    // Scale shape: the only wide steps are the equi-join on (band, bucket)
    // — 4×|corpus| rows, bounded bucket skew by construction — and the
    // candidate-pair dedup; no all-pairs product anywhere.
    "dedup_embed_cosine" -> ((s, dir) => {
      import s.implicits._
      // emb feeds the banding and both sides of the join-back — checkpoint
      // so signatures/norms are computed once (see the minhash sigs note)
      val emb = widen(t(s, dir, "embeddings"))(normSig)
        .transform(graft.functions.Materialize.cut)
      // band/bucket rows carry ONLY ids: the self-join and the
      // multi-band pair dedup shuffle 3 ints per row, not embedding
      // arrays; embeddings re-enter via the two id equi-joins below
      // (pairs ≪ corpus, the same join-back shape as dedup_minhash_lsh)
      val banded0 = emb.select($"vec_id",
        posexplode(graft.functions.Lsh.embedBandBuckets(
          $"sig", EmbedBands, EmbedBandBits)))
        .toDF("vec_id", "band", "bucket")
      // Bucket-occupancy cap — the embedding twin of the MaxShingleDf
      // posting-list cap, added after r9's 40× scaling run measured the
      // uncapped plan superlinear (100.8× at 40× data): with 8-bit bands
      // the buckets are FIXED in number (4 × 256), so occupancy grows
      // with the corpus and the self-join grows as Σ d² — quadratic.
      // Keeping the first MaxBucketMembers members per (band, bucket)
      // (deterministic: lowest vec_id; WindowGroupLimit pre-prunes map-
      // side) bounds candidates at bands · 2^bits · C²/2 — a CONSTANT in
      // corpus size. The trade is explicit and owned: pairs beyond the C
      // representatives live in a dense cosine neighborhood, which is
      // the cluster operators' job (dedup_semantic blocks by k-means
      // cell; dedup_clusters labels components) — a pairwise LISTER that
      // enumerated a dense bucket would be emitting the quadratic answer
      // itself. Streaming twin: Dedup.semanticVerdicts caps its per-
      // bucket ListState at 8 under the same contract.
      val wOcc = org.apache.spark.sql.expressions.Window
        .partitionBy($"band", $"bucket").orderBy($"vec_id")
      val banded = banded0
        // explicit width for the occupancy window: its rows are 3 ints,
        // so AQE byte-coalesces the (band, bucket) exchange onto one
        // task (r18 20× stage table: a 2 s serial stage) — hold it wide;
        // REPARTITION_BY_NUM is exempt from re-coalescing and the window
        // needs exactly this hash partitioning, so it is still ONE
        // exchange, just at fixed width
        .repartition(s.sparkContext.defaultParallelism, $"band", $"bucket")
        .withColumn("rno", row_number().over(wOcc))
        .filter($"rno" <= MaxBucketMembers)
        .drop("rno")
      // explicit repartition after the dedup: candidate rows are 2 ints, so
      // AQE's byte-based coalescing would collapse them (and the broadcast
      // joins + exact cosines downstream, which inherit this partitioning)
      // onto one task — but each row costs a decimal dot, so hold the
      // compute at full parallelism. An explicit width is exempt from AQE
      // re-coalescing; NOT widen(), which takes one file scan.
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
        .distinct() // a pair can collide in several bands
        .repartition(s.sparkContext.defaultParallelism)
      // filter-verify (SimilarityOps scaladoc): the cheap double cosine
      // prefilters candidates — |double − exact| ≤ 1.4e-14, and the final
      // predicate round(exact, 9) ≥ T implies exact ≥ T − 5e-10, so any
      // emitted pair has double cosine ≥ T − 5e-10 − 1.4e-14 > T − 1e-9;
      // the 1e-9-margin prefilter provably drops no qualifying pair. The
      // ~50 µs exact kernel then runs only on near-threshold survivors.
      cand
        .join(emb.select($"vec_id".as("id_a"), $"embedding".as("ea"), $"nrm".as("na")), "id_a")
        .join(emb.select($"vec_id".as("id_b"), $"embedding".as("eb"), $"nrm".as("nb")), "id_b")
        .filter(native.double_dot($"ea", $"eb") / ($"na" * $"nb") >= CosineThreshold - 1e-9)
        .withColumn("cosine",
          round(native.decimal_dot($"ea", $"eb").cast("double") / ($"na" * $"nb"), 9))
        .filter($"cosine" >= CosineThreshold)
        .select($"id_a", $"id_b", $"cosine")
    }),

    // semantic dedup (the SemDeDup frame: cluster the embedding space,
    // then search for near-duplicates only WITHIN a cluster, and emit a
    // per-document keep/drop verdict — the form a curation pipeline
    // consumes). Three stages, each scale-shaped:
    //  1. assignment: nearest of [[SemClusters]] fixed-sample centroids by
    //     exact-decimal L2 score (argmin ‖v−c‖² ≡ argmin ‖c‖² − 2·v·c, the
    //     similarity_ivf quantizer — decimal dots make DuckDB assign
    //     identically); Lsh.nearestCentroidGated evaluates the argmin as
    //     ONE narrow per-row expression over the driver-side centroid
    //     constants — double-dot ranking, exact-decimal rescore only
    //     inside the provable margin (bit-identical cid; proof in the
    //     scaladoc) — genuinely zero shuffle, no aggregation, the same
    //     construction the streaming twin uses.
    //  2. candidates: within a cluster, pairs are blocked by the 32-plane
    //     sign-LSH bands (the dedup_embed_cosine construction) — the join
    //     key is (cid, band, bucket), so two vectors meet only if they
    //     share BOTH the semantic cluster and a band bucket. Band rows
    //     carry 4 ints; no embedding arrays move through the wide steps.
    //  3. verify: filter-verify exact cosine ≥ [[CosineThreshold]] (margin
    //     argument at dedup_embed_cosine), then a per-doc fold: a vector
    //     is a duplicate iff some LOWER-id cluster-mate is within the
    //     threshold — keeper = min id per near-dup group, the
    //     deterministic greedy rule — with dup_of = that partner and
    //     n_dups = how many lower-id partners matched.
    // Output: one row per vector (vec_id, cid, dup_of, n_dups); keepers
    // have dup_of NULL / n_dups 0. Oracle replays every stage exactly.
    "dedup_semantic" -> ((s, dir) =>
      widen(t(s, dir, "embeddings"))(semanticDedup)),

    // embedding-space eval decontamination — the third member of the
    // decontamination trio (text shingles: dedup_decontaminate; image
    // hashes: dedup_decontaminate_image; embeddings: here). Flags corpus
    // vectors whose cosine to ANY eval vector clears the near-dup
    // threshold — the semantic-leak scan that catches paraphrased eval
    // items exact and n-gram matching miss. Eval set = the fixed id
    // slice (vec_id ≡ 0 mod 30, capped under 3000 — a benchmark is a
    // fixed-size artifact), so the eval side BROADCASTS and the corpus
    // scans in place: per-row work is |eval| double prefilters plus
    // exact decimal verification only on near-threshold survivors
    // (filter-verify margin argument at dedup_embed_cosine) —
    // corpus-linear at any scale, zero shuffles.
    "dedup_decontaminate_embed" -> ((s, dir) => {
      import s.implicits._
      // the eval/corpus split goes below the barrier, into the scan
      def emb(keep: org.apache.spark.sql.Column) =
        widen(t(s, dir, "embeddings").filter(keep))(_.select($"vec_id", $"embedding",
          sqrt(native.decimal_dot($"embedding", $"embedding").cast("double")).as("nrm")))
      val isEval = ($"vec_id" % 30 === 0) && ($"vec_id" < 3000)
      val eval = emb(isEval)
        .select($"vec_id".as("eval_vec"), $"embedding".as("ee"), $"nrm".as("en"))
      emb(!isEval)
        .crossJoin(broadcast(eval))
        .filter(native.double_dot($"embedding", $"ee") / ($"nrm" * $"en")
          >= CosineThreshold - 1e-9)
        .withColumn("cosine",
          round(native.decimal_dot($"embedding", $"ee").cast("double")
            / ($"nrm" * $"en"), 9))
        .filter($"cosine" >= CosineThreshold)
        .select($"vec_id", $"eval_vec", $"cosine")
    })
  )

  /** vec_id, embedding, nrm (L2 norm, exact decimal sum inside) and sig
    * (the EmbedPlanes sign-LSH signature) of an embeddings frame. */
  private def normSig(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      sqrt(native.decimal_dot(col("embedding"), col("embedding")).cast("double")).as("nrm"),
      native.lsh_bucket(col("embedding"), EmbedPlanes).as("sig"))

  /** dedup_semantic over any `(vec_id, embedding: array<float>)` frame —
    * factored out of the query so fixture specs can drive it on PLANTED
    * near-duplicate corpora (SemanticFixtureSpec), since the natural
    * corpus only exercises its incidental high-cosine tail. Centroids
    * are the fixed sample vec_id ∈ [100, 100+SemClusters), collected
    * driver-side (≤ SemClusters rows by construction) so the assignment
    * is a NARROW per-row least() over the broadcast centroid scores —
    * no corpus shuffle anywhere before the band join. The streaming
    * twin ([[graft.streaming.Dedup.semanticVerdicts]]) uses the
    * identical construction, so batch and stream assign bit-identically
    * by sharing code, not by coincidence. */
  private[queries] def semanticDedup(raw: DataFrame): DataFrame = {
    val s = raw.sparkSession
    import s.implicits._
    {
      // emb feeds assignment, banding, and both verify sides
      val emb = normSig(raw).transform(graft.functions.Materialize.cut)
      val centroids = emb
        .filter($"vec_id" >= 100 && $"vec_id" < 100 + SemClusters)
        .select($"vec_id", $"embedding")
        .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
      // the cid join's inferred not-null filter stays above the barrier
      val assigned = graft.functions.KernelBarrier.over(emb
        // margin-gated quantizer (guide §3/§4): double-dot argmin with an
        // exact-decimal rescore only inside the provable error margin —
        // bit-identical cid per row, ~400× cheaper kernel on the corpus
        // scan (Lsh.nearestCentroidGated scaladoc has the proof)
        .withColumn("cid", graft.functions.Lsh.nearestCentroidGated($"embedding", centroids)))
      val banded = assigned
        .select($"vec_id", $"cid",
          posexplode(graft.functions.Lsh.embedBandBuckets($"sig", EmbedBands, EmbedBandBits)))
        .toDF("vec_id", "cid", "band", "bucket")
      val assign = assigned.select($"vec_id", $"cid")
      val cand = banded.as("x").join(banded.as("y"),
          col("x.cid") === col("y.cid") && col("x.band") === col("y.band") &&
            col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
        .distinct() // a pair can collide in several bands
        .repartition(s.sparkContext.defaultParallelism)
      val pairs = cand
        .join(emb.select($"vec_id".as("id_a"), $"embedding".as("ea"), $"nrm".as("na")), "id_a")
        .join(emb.select($"vec_id".as("id_b"), $"embedding".as("eb"), $"nrm".as("nb")), "id_b")
        .filter(native.double_dot($"ea", $"eb") / ($"na" * $"nb") >= CosineThreshold - 1e-9)
        .withColumn("cosine",
          round(native.decimal_dot($"ea", $"eb").cast("double") / ($"na" * $"nb"), 9))
        .filter($"cosine" >= CosineThreshold)
      val dups = pairs.groupBy($"id_b")
        .agg(min($"id_a").as("dup_of"), count(lit(1)).as("n_dups"))
        .withColumnRenamed("id_b", "vec_id")
      assign.join(dups, Seq("vec_id"), "left")
        .select($"vec_id", $"cid", $"dup_of",
          coalesce($"n_dups", lit(0L)).as("n_dups"))
    }
  }

  override def oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "dedup_decontaminate" ->
      s"""WITH sh AS ($SQL_SHINGLES)
         |SELECT c.doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
         |FROM sh c JOIN sh b ON c.shingle = b.shingle
         |WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
         |GROUP BY c.doc_id, b.doc_id
         |HAVING COUNT(*) >= 2""".stripMargin,

    "dedup_substring" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |spans AS (
         |  SELECT doc_id, unnest(
         |    [md5(array_to_string(toks[i:i+${SpanLen - 1}], ' '))
         |     for i in range(1, len(toks) - ${SpanLen - 2})]) AS h
         |  FROM toks WHERE len(toks) >= $SpanLen),
         |cnt AS (SELECT h, count(*) AS c FROM spans GROUP BY h)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         |    AS dup_span_frac
         |FROM spans JOIN cnt USING (h)
         |GROUP BY doc_id""".stripMargin,

    "dedup_span_removal" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |chunks AS (
         |  SELECT doc_id, i AS chunk_id,
         |    array_to_string(toks[i*$ChunkLen+1 : i*$ChunkLen+$ChunkLen], ' ') AS chunk
         |  FROM toks, UNNEST(generate_series(0, (len(toks)-1)//$ChunkLen)) t(i)
         |  WHERE len(toks) >= 1),
         |cnt AS (SELECT md5(chunk) AS h, COUNT(*) AS c FROM chunks GROUP BY 1)
         |SELECT doc_id,
         |  COALESCE(string_agg(CASE WHEN c < 2 THEN chunk END, ' ' ORDER BY chunk_id), '')
         |    AS kept_text,
         |  CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         |FROM chunks JOIN cnt ON md5(chunk) = h
         |GROUP BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH sh0 AS ($SQL_SHINGLES),
         |hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > $MaxShingleDf),
         |sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.5""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH sh AS ($SQL_SHINGLES),
         |sigs AS (
         |  SELECT doc_id, i AS h, MIN(md5(CAST(i AS VARCHAR) || '|' || shingle)) AS sig
         |  FROM sh, UNNEST(generate_series(1, $NumHashes)) t(i)
         |  GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, CAST((h - 1) // $BandSize AS INTEGER) AS band,
         |    md5(string_agg(CAST(h AS VARCHAR) || ':' || sig, ',' ORDER BY CAST(h AS VARCHAR) || ':' || sig)) AS band_hash
         |  FROM sigs GROUP BY doc_id, CAST((h - 1) // $BandSize AS INTEGER)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / $NumHashes.0
         |    AS est_jaccard
         |FROM cand
         |JOIN sigs sa ON sa.doc_id = doc_a
         |JOIN sigs sb ON sb.doc_id = doc_b AND sb.h = sa.h
         |GROUP BY doc_a, doc_b""".stripMargin,

    // identical construction at the production geometry (k=128, 16×8)
    "dedup_minhash_production" ->
      s"""WITH sh AS ($SQL_SHINGLES),
         |sigs AS (
         |  SELECT doc_id, i AS h, MIN(md5(CAST(i AS VARCHAR) || '|' || shingle)) AS sig
         |  FROM sh, UNNEST(generate_series(1, $ProdHashes)) t(i)
         |  GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, CAST((h - 1) // $ProdBandSize AS INTEGER) AS band,
         |    md5(string_agg(CAST(h AS VARCHAR) || ':' || sig, ',' ORDER BY CAST(h AS VARCHAR) || ':' || sig)) AS band_hash
         |  FROM sigs GROUP BY doc_id, CAST((h - 1) // $ProdBandSize AS INTEGER)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / $ProdHashes.0
         |    AS est_jaccard
         |FROM cand
         |JOIN sigs sa ON sa.doc_id = doc_a
         |JOIN sigs sb ON sb.doc_id = doc_b AND sb.h = sa.h
         |GROUP BY doc_a, doc_b""".stripMargin,

    // same minhash CTEs as dedup_minhash_lsh, then label propagation to a
    // fixpoint: `reach` accumulates (id, lbl) for every label reachable
    // from each doc over the thresholded pair edges (semi-naive recursive
    // CTE, terminates because UNION dedups); MIN(lbl) per id is the
    // component minimum — exactly what large-star/small-star converges to.
    "dedup_clusters" ->
      s"""WITH RECURSIVE sh AS ($SQL_SHINGLES),
         |sigs AS (
         |  SELECT doc_id, i AS h, MIN(md5(CAST(i AS VARCHAR) || '|' || shingle)) AS sig
         |  FROM sh, UNNEST(generate_series(1, $NumHashes)) t(i)
         |  GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, CAST((h - 1) // $BandSize AS INTEGER) AS band,
         |    md5(string_agg(CAST(h AS VARCHAR) || ':' || sig, ',' ORDER BY CAST(h AS VARCHAR) || ':' || sig)) AS band_hash
         |  FROM sigs GROUP BY doc_id, CAST((h - 1) // $BandSize AS INTEGER)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |      CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / $NumHashes.0
         |        AS est_jaccard
         |    FROM cand
         |    JOIN sigs sa ON sa.doc_id = doc_a
         |    JOIN sigs sb ON sb.doc_id = doc_b AND sb.h = sa.h
         |    GROUP BY doc_a, doc_b)
         |  WHERE est_jaccard >= 0.5),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION
         |  SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lbl FROM documents
         |  UNION
         |  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id)
         |SELECT id AS doc_id, MIN(lbl) AS cluster_id,
         |  CASE WHEN id = MIN(lbl) THEN 1 ELSE 0 END AS is_keeper
         |FROM reach GROUP BY id""".stripMargin,

    // bit j (1-based, MSB-first) of each token's md5: hex digit (j+3)//4,
    // bit 3-(j-1)%4 within the nibble.
    "dedup_simhash" ->
      """SELECT doc_id,
        |  CAST(SUM(CASE WHEN bal >= 0 THEN CAST(POWER(2, j - 1) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS simhash16
        |FROM (
        |  SELECT doc_id, j, SUM(bit * 2 - 1) AS bal
        |  FROM (
        |    SELECT doc_id, j,
        |      (('0x' || substr(md5(token), (j + 3) // 4, 1))::BIGINT >> (3 - (j - 1) % 4)) & 1
        |        AS bit
        |    FROM (
        |      SELECT doc_id, unnest(toks) AS token
        |      FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |            FROM documents)
        |      WHERE len(toks) >= 1),
        |      UNNEST(generate_series(1, 16)) t(j))
        |  GROUP BY doc_id, j)
        |GROUP BY doc_id""".stripMargin,

    // recompute the dHash pipeline from the pixel formula (the Spark side
    // round-trips the same pixels through a real PNG encode/decode): cell
    // of pixel x is x*9//w, block mean is the floored integer mean, bit
    // k = cy*8+cx set iff the right cell mean exceeds the left, halves
    // assembled as non-negative BIGINTs — then the FULL O(n²) scan, which
    // the banded query must equal exactly (MaxHamming < bands).
    "dedup_image_phash" -> (SqlImageHashes +
      """
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.h_hi, b.h_hi)) + bit_count(xor(a.h_lo, b.h_lo))
        |      AS INTEGER) AS hamming
        |  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id)
        |WHERE hamming <= 3""".stripMargin),

    // same hash pipeline, eval-join tail (eval = doc_id ≡ 0 mod 30,
    // capped to the first 3000 ids — a fixed-size benchmark)
    "dedup_decontaminate_image" -> (SqlImageHashes +
      """
        |SELECT doc_id, eval_doc, hamming FROM (
        |  SELECT c.doc_id, e.doc_id AS eval_doc,
        |    CAST(bit_count(xor(c.h_hi, e.h_hi)) + bit_count(xor(c.h_lo, e.h_lo))
        |      AS INTEGER) AS hamming
        |  FROM hashes c JOIN hashes e ON e.doc_id % 30 = 0 AND e.doc_id < 3000)
        |WHERE hamming <= 3""".stripMargin),

    // The WAV round trip is lossless 16-bit PCM, so the oracle recomputes
    // the SIGNAL arithmetically (samples alternate sign, so |sample| is
    // the amp expression directly) and the fingerprint from it — the
    // Spark side is the one exercising the real container decode.
    "dedup_audio_fingerprint" ->
      """WITH docs AS (
        |  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS v,
        |    1040 + (doc_id // 3 % 13) * 80 AS n
        |  FROM documents),
        |amps AS (
        |  SELECT doc_id, i * 65 // n AS f,
        |    ('0x' || substr(md5(CAST(g AS VARCHAR) || '|'
        |        || CAST(i * 65 // n AS VARCHAR)), 1, 2))::BIGINT * 96
        |      + (i * 37 % 97)
        |      + CASE WHEN i * 65 // n = 0 THEN v * 512 ELSE 0 END AS amp
        |  FROM docs, generate_series(0, 1999) t(i)
        |  WHERE i < n),
        |energies AS (
        |  SELECT doc_id, f, CAST(SUM(amp) AS BIGINT) // COUNT(*) AS e
        |  FROM amps GROUP BY doc_id, f),
        |bits AS (
        |  SELECT a.doc_id, a.f AS k, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
        |  FROM energies a JOIN energies b
        |    ON b.doc_id = a.doc_id AND b.f = a.f + 1
        |  WHERE a.f < 64),
        |hashes AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN k >= 32 THEN bit * CAST(POWER(2, k - 32) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS h_hi,
        |    CAST(SUM(CASE WHEN k < 32 THEN bit * CAST(POWER(2, k) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS h_lo
        |  FROM bits GROUP BY doc_id)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.h_hi, b.h_hi)) + bit_count(xor(a.h_lo, b.h_lo))
        |      AS INTEGER) AS hamming
        |  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id)
        |WHERE hamming <= 3""".stripMargin,

    // Block-flat MJPEG decodes bit-exactly (PhashSpec's bridge test), so
    // the oracle's cell mean is the block gray itself — no pixel sums.
    "dedup_video_phash" ->
      """WITH docs AS (
        |  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS v FROM documents),
        |cells AS (
        |  SELECT doc_id, bx, by,
        |    ('0x' || substr(md5(CAST(g AS VARCHAR) || '|0|' || CAST(bx AS VARCHAR)
        |      || '|' || CAST(by AS VARCHAR)), 1, 2))::BIGINT % 128
        |    + CASE WHEN bx = 0 AND by = 0 THEN 16 * v ELSE 0 END AS m
        |  FROM docs, generate_series(0, 8) gx(bx), generate_series(0, 7) gy(by)),
        |bits AS (
        |  SELECT a.doc_id, a.by * 8 + a.bx AS k,
        |    CASE WHEN b.m > a.m THEN 1 ELSE 0 END AS bit
        |  FROM cells a JOIN cells b
        |    ON b.doc_id = a.doc_id AND b.by = a.by AND b.bx = a.bx + 1
        |  WHERE a.bx < 8),
        |hashes AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN k >= 32 THEN bit * CAST(POWER(2, k - 32) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS h_hi,
        |    CAST(SUM(CASE WHEN k < 32 THEN bit * CAST(POWER(2, k) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS h_lo
        |  FROM bits GROUP BY doc_id)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.h_hi, b.h_hi)) + bit_count(xor(a.h_lo, b.h_lo))
        |      AS INTEGER) AS hamming
        |  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id)
        |WHERE hamming <= 3""".stripMargin,

    // planes identical to graft.functions.ExprKernels.hyperplanes (see the
    // similarity_ann_lsh oracle); band b (0-based) = bits 8b..8b+7 of the
    // 32-bit signature, i.e. planes 8b+1..8b+8 with in-band weight 2^((h-1)%8).
    "dedup_embed_cosine" ->
      s"""WITH c AS (
         |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
         |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)),
         |r AS (
         |  SELECT h, i,
         |    ((('0x' || substr(md5(CAST(h AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 6))::BIGINT
         |      % 1000) - 500) / 1000.0 AS rv
         |  FROM UNNEST(generate_series(1, $EmbedPlanes)) t1(h),
         |    UNNEST(generate_series(1, (SELECT MAX(len(embedding)) FROM embeddings))) t2(i)),
         |bits AS (
         |  SELECT c.vec_id, r.h,
         |    CASE WHEN SUM(CAST(c.x * r.rv AS DECIMAL(38,20))) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM c JOIN r ON c.i = r.i
         |  GROUP BY c.vec_id, r.h),
         |bands0 AS (
         |  SELECT vec_id, CAST((h - 1) // $EmbedBandBits AS INTEGER) AS band,
         |    CAST(SUM(bit * CAST(POWER(2, (h - 1) % $EmbedBandBits) AS BIGINT)) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id, CAST((h - 1) // $EmbedBandBits AS INTEGER)),
         |bands AS (
         |  SELECT vec_id, band, bucket FROM (
         |    SELECT vec_id, band, bucket,
         |      ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS rno
         |    FROM bands0) WHERE rno <= $MaxBucketMembers),
         |norms AS (
         |  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
         |  FROM c GROUP BY vec_id),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
         |dots AS (
         |  SELECT cand.id_a, cand.id_b,
         |    CAST(SUM(CAST(ca.x * cb.x AS DECIMAL(38,20))) AS DOUBLE) AS dot
         |  FROM cand
         |  JOIN c ca ON ca.vec_id = cand.id_a
         |  JOIN c cb ON cb.vec_id = cand.id_b AND cb.i = ca.i
         |  GROUP BY cand.id_a, cand.id_b)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 9) AS cosine
         |  FROM dots
         |  JOIN norms na ON na.vec_id = id_a
         |  JOIN norms nb ON nb.vec_id = id_b)
         |WHERE cosine >= $CosineThreshold""".stripMargin,

    // same fixed eval slice; the exact cosine over every (corpus, eval)
    // pair IS the oracle — the Spark side's double prefilter provably
    // drops no qualifying pair (margin argument at dedup_embed_cosine)
    "dedup_decontaminate_embed" ->
      s"""WITH c AS (
         |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
         |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)),
         |norms AS (
         |  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
         |  FROM c GROUP BY vec_id),
         |dots AS (
         |  SELECT cd.vec_id, ce.vec_id AS eval_vec,
         |    CAST(SUM(CAST(cd.x * ce.x AS DECIMAL(38,20))) AS DOUBLE) AS dot
         |  FROM c cd JOIN c ce ON cd.i = ce.i
         |  WHERE ce.vec_id % 30 = 0 AND ce.vec_id < 3000
         |    AND NOT (cd.vec_id % 30 = 0 AND cd.vec_id < 3000)
         |  GROUP BY cd.vec_id, ce.vec_id)
         |SELECT vec_id, eval_vec, cosine FROM (
         |  SELECT dots.vec_id, eval_vec,
         |    ROUND(dot / (dn.nrm * en.nrm), 9) AS cosine
         |  FROM dots
         |  JOIN norms dn ON dn.vec_id = dots.vec_id
         |  JOIN norms en ON en.vec_id = eval_vec)
         |WHERE cosine >= $CosineThreshold""".stripMargin,

    // replays the Spark plan stage for stage: same fixed-sample centroids
    // and exact-decimal assignment (the similarity_ivf oracle), same
    // 32-plane banding (the dedup_embed_cosine oracle), same exact cosine
    // and min-id verdict fold.
    "dedup_semantic" ->
      s"""WITH c AS (
         |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
         |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)),
         |norms AS (
         |  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
         |  FROM c GROUP BY vec_id),
         |cent AS (SELECT vec_id AS cid FROM embeddings
         |  WHERE vec_id >= 100 AND vec_id < ${100 + SemClusters}),
         |cdot AS (
         |  SELECT cv.vec_id, cc.vec_id AS cid,
         |    CAST(SUM(CAST(cv.x * cc.x AS DECIMAL(38,20))) AS DOUBLE) AS dot
         |  FROM c cv JOIN c cc ON cv.i = cc.i
         |  JOIN cent ON cc.vec_id = cent.cid
         |  GROUP BY cv.vec_id, cc.vec_id),
         |scored AS (
         |  SELECT cdot.vec_id, cid, (cn.nrm * cn.nrm) - 2 * dot AS score
         |  FROM cdot JOIN norms cn ON cn.vec_id = cid),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
         |    FROM scored) WHERE rn = 1),
         |r AS (
         |  SELECT h, i,
         |    ((('0x' || substr(md5(CAST(h AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 6))::BIGINT
         |      % 1000) - 500) / 1000.0 AS rv
         |  FROM UNNEST(generate_series(1, $EmbedPlanes)) t1(h),
         |    UNNEST(generate_series(1, (SELECT MAX(len(embedding)) FROM embeddings))) t2(i)),
         |bits AS (
         |  SELECT c.vec_id, r.h,
         |    CASE WHEN SUM(CAST(c.x * r.rv AS DECIMAL(38,20))) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM c JOIN r ON c.i = r.i
         |  GROUP BY c.vec_id, r.h),
         |bands AS (
         |  SELECT vec_id, CAST((h - 1) // $EmbedBandBits AS INTEGER) AS band,
         |    CAST(SUM(bit * CAST(POWER(2, (h - 1) % $EmbedBandBits) AS BIGINT)) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id, CAST((h - 1) // $EmbedBandBits AS INTEGER)),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
         |  JOIN assign ax ON ax.vec_id = x.vec_id
         |  JOIN assign ay ON ay.vec_id = y.vec_id AND ay.cid = ax.cid),
         |dots AS (
         |  SELECT cand.id_a, cand.id_b,
         |    CAST(SUM(CAST(ca.x * cb.x AS DECIMAL(38,20))) AS DOUBLE) AS dot
         |  FROM cand
         |  JOIN c ca ON ca.vec_id = cand.id_a
         |  JOIN c cb ON cb.vec_id = cand.id_b AND cb.i = ca.i
         |  GROUP BY cand.id_a, cand.id_b),
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 9) AS cosine
         |    FROM dots
         |    JOIN norms na ON na.vec_id = id_a
         |    JOIN norms nb ON nb.vec_id = id_b)
         |  WHERE cosine >= $CosineThreshold),
         |dups AS (
         |  SELECT id_b AS vec_id, MIN(id_a) AS dup_of, COUNT(*) AS n_dups
         |  FROM pairs GROUP BY id_b)
         |SELECT a.vec_id, a.cid, d.dup_of, COALESCE(d.n_dups, 0) AS n_dups
         |FROM assign a LEFT JOIN dups d USING (vec_id)""".stripMargin
  )
}
