package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the in-engine ML surface: the online-ML
  * layer's least squares (SURVEY §2.7, `graft.streaming.River`), the
  * hashing-trick text vectorizer, and embedding-free document
  * clustering over those hashed features.
  *
  * Bit-parity design (QueryGroup scaladoc): river_ols sums go through
  * the DECIMAL(38,s) cast so they are order-independent and identical
  * in both engines; the vectorizer and clustering are PURE INTEGER
  * (md5 buckets, token counts, squared-distance arithmetic), so their
  * outputs hash-match with no floating point anywhere.
  */
object MlOps extends QueryGroup {

  // hashing-trick feature dimension: 64 buckets (first 8 md5 hex chars
  // of the token, mod 64) — small enough that the DuckDB oracle stays
  // cheap, large enough that docs separate; the operator is dim-generic
  private val HashDim = 64
  // coarse "centroids": the hashed feature vectors of a fixed doc
  // sample (doc_id % 101 == 0, capped at NCent) — the similarity_ivf
  // deterministic-quantizer convention, so the oracle reproduces the
  // model exactly. The cap is what keeps the operator LINEAR in corpus
  // size: k is a model constant (a real run trains k centroids with
  // functions.Kmeans), not a function of the data — without it the
  // sparse-dot join grows |docs|x|cents| ~ quadratically (measured
  // 22.8x at 10x data before the cap; 48 centroids pin it linear)
  private val CentMod = 101
  private val NCent = 48
  private val CentPred = s"doc_id % $CentMod = 0 AND doc_id DIV $CentMod < $NCent"
  private val CentPredSql = s"doc_id % $CentMod = 0 AND doc_id // $CentMod < $NCent"

  override def queries: Map[String, Q] = Map(
    // y = l_extendedprice regressed on x = l_quantity
    "river_ols" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "lineitem"), SpreadAggScan)(identity)
        .agg(
          count(lit(1)).as("n"),
          dsum($"l_quantity").as("sx"),
          dsum($"l_extendedprice").as("sy"),
          dsum($"l_quantity" * $"l_extendedprice", 4).as("sxy"),
          dsum($"l_quantity" * $"l_quantity", 4).as("sxx"))
        .select($"n",
          (($"n" * $"sxy" - $"sx" * $"sy") /
            ($"n" * $"sxx" - $"sx" * $"sx")).as("slope"),
          ((($"sy" - (($"n" * $"sxy" - $"sx" * $"sy") /
            ($"n" * $"sxx" - $"sx" * $"sx")) * $"sx")) / $"n").as("intercept"))
    }),

    // Hashing-trick vectorizer (the fastText/VW featurization): each doc
    // becomes a sparse 64-dim term-frequency vector, feature index =
    // md5(token) mod 64 — seedless, vocabulary-free, engine-identical.
    // Output is the sparse relation (doc_id, feature_idx, cnt): one
    // token explode + one keyed count, partial-agg-friendly; the dense
    // form is a pivot the caller applies if needed. Pure integers.
    "text_hash_features" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "documents"))(_
        .select($"doc_id",
          explode(graft.functions.native.tokens($"text")).as("tok"))
        .select($"doc_id",
          (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % HashDim)
            .as("feature_idx")))
        .groupBy($"doc_id", $"feature_idx")
        .agg(count(lit(1)).as("cnt"))
    }),

    // Embedding-free document clustering: assign every doc to its
    // nearest coarse centroid in hashed-TF space by EXACT INTEGER
    // squared distance — ‖x−c‖² = ‖x‖² + ‖c‖² − 2⟨x,c⟩ over the sparse
    // features, ties broken by centroid id. The centroid set is the
    // fixed doc sample (similarity_ivf's deterministic-quantizer
    // convention; a production run trains it with functions.Kmeans).
    //
    // Plan: one feature build (keyed count), then the model — ≤ ncent
    // dense 64-long centroid vectors, bounded by CONSTRUCTION, never by
    // data — collects driver-side (the semanticDedup centroid pattern)
    // and the argmin evaluates as ONE narrow expression per document:
    // array_min over ncent (score, cid) structs, score = c2 − 2·⟨fv,c⟩
    // with the dot folded over the doc's sparse features against the
    // dense centroid literal (element_at on an array literal is O(1)).
    // Struct ordering is lexicographic, so array_min IS the (dist2, cid)
    // tie-break. This replaces the r16 shape — a broadcast sparse-dot
    // join + per-doc argmin window + a zero-overlap union leg — whose
    // TWELVE sequential jobs (aggregates, broadcasts, window) dominated
    // the wall at small scale and whose idx-join expanded |doc features|
    // × ncent rows through a hash aggregate at any scale. Zero-overlap
    // centroids need no special leg here: the dense fold yields dot = 0
    // exactly like the oracle's COALESCE. Exact integer arithmetic
    // throughout, identical output.
    "cluster_docs_hashed" -> ((s, dir) => {
      import s.implicits._
      val feats = widen(t(s, dir, "documents"))(_
        .select($"doc_id",
          explode(graft.functions.native.tokens($"text")).as("tok"))
        .select($"doc_id",
          (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % HashDim)
            .as("idx")))
        .groupBy($"doc_id", $"idx").agg(count(lit(1)).as("cnt"))
        // explicit width BEFORE the cut: the checkpoint freezes whatever
        // layout AQE's byte-based coalescing left (one partition for this
        // few-MB relation), which would serialize every consumer's first
        // stage; REPARTITION_BY_NUM is exempt from AQE re-coalescing
        .repartition(s.sparkContext.defaultParallelism)
        .transform(graft.functions.Materialize.cut) // feeds model + docs once
      val centRows = feats.filter(expr(CentPred))
        .select($"doc_id".as("cid"), $"idx", $"cnt")
        .as[(Long, Long, Long)].collect()
      require(centRows.length <= NCent * HashDim, // bounded by construction
        s"centroid model outgrew its bound: ${centRows.length}")
      // empty model would silently flip semantics: array_min over zero
      // structs is NULL, so every doc would emit with a null cluster_id
      // where the join shape emitted no rows (ADVICE r17) — fail loudly
      require(centRows.nonEmpty,
        s"cluster_docs_hashed: centroid predicate [$CentPred] matched no documents")
      val cents: Seq[(Long, Array[Long], Long)] =
        centRows.groupBy(_._1).toSeq.sortBy(_._1).map { case (cid, rows) =>
          val dense = new Array[Long](HashDim)
          rows.foreach { case (_, idx, c) => dense(idx.toInt) = c }
          (cid, dense, dense.map(x => x * x).sum)
        }
      // explicit width for the argmin stage: per-doc rows are a few hundred
      // bytes, so AQE's byte-based coalescing would run the ncent-fold
      // argmin on one task — but each row costs ncent × |fv| fold steps,
      // so hold the compute at full parallelism (the dedup_embed_cosine
      // candidate-repartition precedent)
      val docs = feats.filter(not(expr(CentPred)))
        .groupBy($"doc_id").agg(
          collect_list(struct($"idx", $"cnt")).as("fv"),
          sum($"cnt" * $"cnt").as("x2"))
        .repartition(s.sparkContext.defaultParallelism)
      val scoreStructs = cents.map { case (cid, dense, c2) =>
        val dot = aggregate($"fv", lit(0L), (acc, e) =>
          acc + e.getField("cnt") *
            element_at(typedlit(dense.toSeq), (e.getField("idx") + 1L).cast("int")))
        struct((lit(c2) - lit(2L) * dot).as("score"), lit(cid).as("cid"))
      }
      docs.withColumn("best", array_min(array(scoreStructs: _*)))
        .select($"doc_id", $"best.cid".as("cluster_id"),
          ($"x2" + $"best.score").as("dist2"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "river_ols" ->
      s"""SELECT n,
         |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
         |FROM (
         |  SELECT COUNT(*) AS n,
         |    ${DSUM("l_quantity")} AS sx,
         |    ${DSUM("l_extendedprice")} AS sy,
         |    ${DSUM("l_quantity * l_extendedprice")} AS sxy,
         |    ${DSUM("l_quantity * l_quantity")} AS sxx
         |  FROM lineitem)""".stripMargin,

    "text_hash_features" ->
      s"""SELECT doc_id,
         |  CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % $HashDim AS feature_idx,
         |  COUNT(*) AS cnt
         |FROM (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
         |  FROM documents)
         |GROUP BY doc_id, feature_idx""".stripMargin,

    "cluster_docs_hashed" ->
      s"""WITH feats AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % $HashDim AS idx,
         |    COUNT(*) AS cnt
         |  FROM (
         |    SELECT doc_id,
         |      unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
         |    FROM documents)
         |  GROUP BY doc_id, idx),
         |cent AS (
         |  SELECT doc_id AS cid, idx, cnt AS ccnt FROM feats
         |  WHERE $CentPredSql),
         |cnorm AS (
         |  SELECT cid, CAST(SUM(ccnt * ccnt) AS BIGINT) AS c2
         |  FROM cent GROUP BY cid),
         |docs AS (SELECT * FROM feats WHERE NOT ($CentPredSql)),
         |dnorm AS (
         |  SELECT doc_id, CAST(SUM(cnt * cnt) AS BIGINT) AS x2
         |  FROM docs GROUP BY doc_id),
         |dots AS (
         |  SELECT d.doc_id, c.cid, CAST(SUM(d.cnt * c.ccnt) AS BIGINT) AS dot
         |  FROM docs d JOIN cent c USING (idx)
         |  GROUP BY d.doc_id, c.cid),
         |dist AS (
         |  SELECT dn.doc_id, cn.cid,
         |    dn.x2 + cn.c2 - 2 * COALESCE(dt.dot, 0) AS dist2
         |  FROM dnorm dn CROSS JOIN cnorm cn
         |  LEFT JOIN dots dt ON dt.doc_id = dn.doc_id AND dt.cid = cn.cid)
         |SELECT doc_id, cid AS cluster_id, CAST(dist2 AS BIGINT) AS dist2
         |FROM (
         |  SELECT doc_id, cid, dist2,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist2, cid) AS rn
         |  FROM dist)
         |WHERE rn = 1""".stripMargin
  )
}
