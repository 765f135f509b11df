package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.native

/** Similarity search over the embedding column (north star).
  *
  * All three queries share one scale-minded shape: the (small) query set is
  * broadcast, the corpus is scanned once, dot products run *inside the row*
  * over the array column (codegen'd native expressions — no explode, no
  * join on the dimension index), and top-k is a per-query-partition window.
  * On a 1000-executor cluster this is embarrassingly parallel: corpus
  * partitions never shuffle; only the (tiny) per-query top-k results move.
  *
  * Numeric parity via FILTER-VERIFY: ranking runs on the cheap plain-double
  * cosine (graft.functions.DoubleDot, ~2 µs), then the exact scale-20
  * decimal cosine (DecimalDot, ~50 µs — the value DuckDB computes
  * bit-for-bit) is evaluated ONLY for the provable superset of winners:
  * every candidate within 1e-9 of the kth-best double cosine. Since
  * |double cosine − exact cosine| ≤ 1.4e-14 (DoubleDot scaladoc), the
  * superset provably contains the exact top-k, so results are IDENTICAL to
  * exact-everywhere at ~1/25th the kernel cost. Cosines are
  * ROUND(..., 9)'d on both sides.
  */
object SimilarityOps extends QueryGroup {

  /** Exact decimal dot product of two float-array columns, computed in-row
    * by the native codegen-compatible expression (graft.functions.DecimalDot).
    */
  private def dotDec(a: Column, b: Column): Column = native.decimal_dot(a, b)

  /** Margin for the double-cosine prefilter. Two bounds must hold: the
    * 1.4e-14 double-vs-exact divergence, AND the rounding-tie case — the
    * emitted value is round(exact, 9), so two candidates that ROUND equal
    * (and then tie-break on vec_id) can differ by up to 1e-9 in exact
    * cosine, hence up to 1e-9 + 2·1.4e-14 in double cosine. 2e-9 covers
    * both with slack while the exact pass still sees ~k rows per query.
    */
  private val Margin = 2e-9

  /** IVF coarse-quantizer parameters: 16 fixed-sample centroids, 2 probed
    * cells per query (~1/8th of the corpus scanned per query here; nlist
    * scales with corpus size in a real deployment).
    */
  private val NList = 16
  private val NProbe = 2

  /** embed_project target dimensionality (JL projection onto the first
    * RpDims md5 hyperplanes). */
  private val RpDims = 8

  /** vec_id, embedding, nrm (L2 norm as double, exact decimal sum
    * inside), then the `extra` columns. Zero-norm vectors are EXCLUDED:
    * cosine against them is 0/0 = NaN, and NaN sorts above every real
    * double — one zero vector in the corpus would otherwise poison every
    * query's top-k (the same guard the streaming paths carry; the oracle
    * CTEs mirror it). */
  private def withNorm(s: SparkSession, dir: String, extra: Column*): DataFrame =
    widen(t(s, dir, "embeddings"))(_.select(Seq(col("vec_id"), col("embedding"),
        sqrt(dotDec(col("embedding"), col("embedding")).cast("double")).as("nrm")) ++ extra: _*))
      .filter(col("nrm") > 0)

  /** Filter-verify exact top-k. `scored` carries SLIM candidate rows
    * (qid, vec_id, dcos) — the double cosine projected in the same stage
    * that computed it, so no embedding array survives into any exchange;
    * keep every candidate within [[Margin]] of the kth-best per query (a
    * provable superset of the exact top-k — see the object scaladoc);
    * then join the float arrays back BY ID for the ≈ k + margin
    * survivors per query and rank on the exact decimal cosine. Output:
    * qid, vec_id, rk, cosine — identical to running the exact cosine on
    * every candidate.
    *
    * Why slim rows are load-bearing, not a nicety: r9's 40× scaling run
    * OOM'd the pre-refactor version, which materialized the candidate ×
    * (embedding, qemb) rows through Materialize.cut — ~0.5 KB/candidate
    * where these rows are ~25 B. The candidate COUNT still scales with
    * corpus × queries for the brute-force callers (that is what brute
    * force means; the ANN paths bound it), but the bytes through the
    * cut and both shuffles are now scalars only — the searchQuantized
    * join-back-by-id shape.
    */
  private def exactTopK(scored: DataFrame, corpus: DataFrame, q: DataFrame,
      k: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    // slim feeds BOTH the kth-threshold branch and the survivors branch;
    // cut so the candidate scoring runs once, not twice (the DedupOps
    // multi-consumer precedent)
    val slim = scored.transform(graft.functions.Materialize.cut)
    // kth-best double cosine per query; k=1 needs no window at all —
    // a hash max-aggregate replaces the sort+window entirely
    val kth =
      if (k == 1) slim.groupBy($"qid").agg(max($"dcos").as("kth_dcos"))
      else {
        val wd = Window.partitionBy($"qid").orderBy($"dcos".desc)
        slim.select($"qid", $"dcos")
          .withColumn("rkd", row_number().over(wd)).filter($"rkd" === k)
          .select($"qid", $"dcos".as("kth_dcos"))
      }
    // left join: a query with < k candidates has no kth row — keep all.
    // No window on this side: the margin filter alone defines survivors.
    val survivors = slim.join(broadcast(kth), Seq("qid"), "left")
      .filter($"kth_dcos".isNull || $"dcos" >= $"kth_dcos" - Margin)
      .select($"qid", $"vec_id")
    val we = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id")
    // join-back BY ID with the SURVIVORS broadcast, corpus probing: the
    // survivor set is ≈ nqueries · (k + margin ties) — bounded at ANY
    // corpus size — while the corpus side grows; without the hint the
    // local-mode size estimate broadcast the CORPUS rows (embedding
    // arrays included), a serial driver build this plan never needs.
    corpus.select($"vec_id", $"embedding", $"nrm")
      .join(broadcast(survivors), Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("cosine",
        round(dotDec($"embedding", $"qemb").cast("double") / ($"qn" * $"nrm"), 9))
      .withColumn("rk", row_number().over(we))
      .filter($"rk" <= k)
  }

  /** The slim brute-force scoring for [[exactTopK]]: every (corpus,
    * query) pair's double cosine, arrays dropped in the same projection. */
  private def bruteScores(corpus: DataFrame, q: DataFrame): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    corpus.crossJoin(broadcast(q)).filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        (native.double_dot($"embedding", $"qemb") / ($"qn" * $"nrm")).as("dcos"))
  }

  override def queries: Map[String, Q] = Map(
    // L2 norm per vector (exact decimal sum of squares, no explode).
    "embed_norm" -> ((s, dir) => {
      import s.implicits._
      // round to 9 dp: the scale-20 decimal sum exceeds double precision and
      // decimal→double conversion may differ by 1 ulp between engines.
      widen(t(s, dir, "embeddings"))(_.select($"vec_id",
          round(sqrt(dotDec($"embedding", $"embedding").cast("double")), 9)
            .as("l2_norm")))
    }),

    // int8 scalar quantization — the compression step a 100 TB ANN
    // pipeline runs before shuffling vectors (4× fewer bytes than
    // float32 through every exchange; IVF/LSH bucket joins then carry
    // int8 + one scale instead of float arrays). Symmetric per-vector
    // scheme: scale = max|x|/127, q_i = floor(x_i/scale + 0.5) — floor
    // (+0.5) instead of round() because the two engines' round() halving
    // rules differ, while floor is IEEE-identical everywhere. Outputs
    // are order-independent scalars (sum/min/max of q, max abs
    // reconstruction error) so the oracle hash pins every quantized
    // value without shipping arrays. Narrow, zero shuffle.
    "embed_quantize" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "embeddings"))(_
        .select($"vec_id", $"embedding")
        .withColumn("maxabs", expr(
          "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .withColumn("scale", $"maxabs" / 127.0)
        .withColumn("q", expr(
          "CASE WHEN maxabs = 0 THEN transform(embedding, x -> 0L) " +
            "ELSE transform(embedding, x -> " +
            "CAST(floor(CAST(x AS DOUBLE) / scale + 0.5d) AS BIGINT)) END"))
        .select(
          $"vec_id", $"scale",
          expr("aggregate(q, 0L, (a, b) -> a + b)").as("qsum"),
          expr("array_min(q)").as("qmin"),
          expr("array_max(q)").as("qmax"),
          expr("array_max(transform(sequence(0, size(embedding)-1), " +
            "i -> abs(q[i] * scale - CAST(embedding[i] AS DOUBLE))))")
            .as("max_abs_err")))
    }),

    // Johnson-Lindenstrauss random projection — the dimension-reduction
    // step a 100 TB ANN pipeline runs before shuffling vectors (64 → 8
    // dims here: 8× fewer bytes through every exchange, with JL's
    // distance-preservation guarantee scaling as k grows). Projection
    // planes are the SAME seedless md5-derived hyperplanes the LSH
    // bucketer signs — deterministic on any engine, no stored model —
    // and each coordinate is the exact scale-20 decimal dot (the
    // embed_norm arithmetic), so DuckDB reproduces every value
    // bit-for-bit; round 9 guards the final decimal→double conversion.
    // Narrow plan: one in-row kernel, zero shuffles.
    "embed_project" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "embeddings"))(_
        .withColumn("p", native.rp_project($"embedding", RpDims))
        .select($"vec_id" +:
          (0 until RpDims).map(h => round($"p" (h), 9).as(s"p${h + 1}")): _*))
    }),

    // brute-force cosine top-1 neighbor for the first 100 vectors.
    "embed_knn" -> ((s, dir) => {
      import s.implicits._
      val emb = withNorm(s, dir)
        .transform(graft.functions.Materialize.cut) // feeds scoring + join-back + q
      val q = emb.filter($"vec_id" < 100)
        .select($"vec_id".as("qid"), $"embedding".as("qemb"), $"nrm".as("qn"))
      exactTopK(bruteScores(emb, q), emb, q, 1)
        .select($"qid", $"vec_id".as("nn_id"), $"cosine")
    }),

    // top-5 neighbors per query — same scan, per-partition top-k window.
    "similarity_topk_fast" -> ((s, dir) => {
      import s.implicits._
      val emb = withNorm(s, dir)
        .transform(graft.functions.Materialize.cut) // feeds scoring + join-back + q
      val q = emb.filter($"vec_id" < 100)
        .select($"vec_id".as("qid"), $"embedding".as("qemb"), $"nrm".as("qn"))
      exactTopK(bruteScores(emb, q), emb, q, 5)
        .select($"qid", $"vec_id".as("nn_id"), $"rk".cast("long").as("rk"), $"cosine")
    }),

    // IVF scale path: inverted-file index with a deterministic coarse
    // quantizer. Centroids = a fixed corpus sample (vec_id 100..115 — any
    // fixed quantizer is a valid IVF; k-means training refines recall but
    // adds nothing structural), ≤ NList rows by CONSTRUCTION, collected
    // driver-side (the semanticDedup / cluster_docs_hashed bounded-model
    // pattern — this query now executes that tiny collect at plan
    // construction). Assignment is the margin-gated in-row argmin
    // (Lsh.nearestCentroidGated: rank on ~0.2 µs double dots, rescore
    // with the ~80 µs exact-decimal kernel only inside the provable
    // error margin — bit-identical cid per row, proof in the scaladoc);
    // probe selection stays exact-decimal over the BOUNDED query set
    // (Lsh.nearestCentroids — the same (score, cid) order the oracle
    // replays). vs the r17 shape (corpus × NList crossJoin + per-vector
    // rank window): the decimal kernel leaves the corpus hot path, and
    // the NList-fold row explosion + two window exchanges disappear —
    // the assignment pass is ONE narrow scan. A query probes its NProbe
    // nearest cells and ranks only those cells' members via
    // [[exactTopK]]. At 100 TB, cell id becomes the partition key: a
    // query reads NProbe partitions instead of the corpus.
    "similarity_ivf" -> ((s, dir) => {
      import s.implicits._
      val emb = withNorm(s, dir).transform(graft.functions.Materialize.cut) // feeds assign + cand + queries
      val centroids = emb.filter($"vec_id" >= 100 && $"vec_id" < 100 + NList)
        .select($"vec_id", $"embedding")
        .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
      // the cid join's inferred not-null filter stays above the barrier
      val assign = graft.functions.KernelBarrier.over(emb.select($"vec_id",
        graft.functions.Lsh.nearestCentroidGated($"embedding", centroids).as("cid")))
      val q = emb.filter($"vec_id" < 100)
        .select($"vec_id".as("qid"), $"embedding".as("qemb"), $"nrm".as("qn"))
      val probes = q.select($"qid",
        explode(graft.functions.Lsh.nearestCentroids($"qemb", centroids, NProbe))
          .as("cid"))
      val candScored = assign.join(broadcast(probes), Seq("cid"))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id")
        .join(emb, Seq("vec_id"))
        .join(broadcast(q), Seq("qid"))
        .select($"qid", $"vec_id",
          (native.double_dot($"embedding", $"qemb") / ($"qn" * $"nrm")).as("dcos"))
      exactTopK(candScored, emb, q, 3)
        .select($"qid", $"vec_id".as("nn_id"), $"rk".cast("long").as("rk"), $"cosine")
    }),

    // ANN scale path: sign-random-projection LSH (8 deterministic
    // md5-derived hyperplanes, graft.functions.LshBucket) buckets the
    // corpus in-row; cosine runs only on same-bucket candidates.
    // vs. the brute-force baseline: the broadcast join on `bucket` cuts
    // candidate pairs by ~2^planes, and the bucketing itself is one
    // narrow scan — at 100 TB, bucket becomes the partition key and each
    // query touches one partition instead of the whole corpus.
    // Multi-probe ANN (Lv et al.): each query probes its own sign-LSH
    // bucket PLUS the nprobe-1 buckets nearest by perturbation score —
    // the declarative face of AnnIndex.multiProbe (whose recall curves
    // SimilarityRecallSpec measures), oracle-checked cross-engine. The
    // probe RANKING must be engine-exact, so the score is integral:
    // each plane's |projection| (an exact decimal sum rendered to an
    // identical double in both engines — the embed_project invariant)
    // becomes round(|p|·1e9) micro-units, and a mask's score is the
    // LONG sum over its set bits — order-independent, no float-sum
    // tie ambiguity. Ties break on the probed bucket id. Probe
    // selection is per-query constant work (2^planes masks over the
    // FIXED query set — corpus size never enters); candidates are one
    // equi-join on the probed bucket, then the shared filter-verify
    // exact top-k.
    "similarity_ann_multiprobe" -> ((s, dir) => {
      import s.implicits._
      val planes = 8
      val nprobe = 4
      val emb = withNorm(s, dir, native.lsh_bucket($"embedding", planes).as("bucket"))
        .transform(graft.functions.Materialize.cut)
      val q = emb.filter($"vec_id" < 100)
        .select($"vec_id".as("qid"), $"embedding".as("qemb"),
          $"nrm".as("qn"), $"bucket",
          transform(native.rp_project($"embedding", planes),
            p => round(abs(p) * lit(1e9)).cast("long")).as("micros"))
      // own bucket (mask 0) pinned ahead of score ties — a query on k
      // hyperplanes has 2^k masks tied at score 0, and a bucket-id
      // tiebreak alone could push the own bucket out of the probe set
      val probeW = Window.partitionBy($"qid")
        .orderBy($"mscore".asc, ($"mask" =!= 0L).cast("int").asc, $"pbucket".asc)
      val probes = q
        .select($"qid", $"bucket", $"micros",
          explode(typedlit((0L until (1L << planes)).toVector)).as("mask"))
        .withColumn("mscore", (0 until planes).map { h =>
          when($"mask".bitwiseAND(lit(1L << h)) =!= 0L,
            element_at($"micros", h + 1)).otherwise(0L)
        }.reduce(_ + _))
        .withColumn("pbucket", $"bucket".bitwiseXOR($"mask"))
        .withColumn("prank", row_number().over(probeW))
        .filter($"prank" <= nprobe)
        .select($"qid", $"pbucket")
      val probeSide = probes.join(q.select($"qid", $"qemb", $"qn"), Seq("qid"))
      val scored = emb.join(broadcast(probeSide),
          $"bucket" === $"pbucket" && $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id",
          (native.double_dot($"embedding", $"qemb") / ($"qn" * $"nrm")).as("dcos"))
      exactTopK(scored, emb, q.select($"qid", $"qemb", $"qn"), 3)
        .select($"qid", $"vec_id".as("nn_id"), $"rk".cast("long").as("rk"), $"cosine")
    }),

    "similarity_ann_lsh" -> ((s, dir) => {
      import s.implicits._
      val emb = withNorm(s, dir, native.lsh_bucket($"embedding", 8).as("bucket"))
        .transform(graft.functions.Materialize.cut) // feeds scoring + join-back + q
      val q = emb.filter($"vec_id" < 100)
        .select($"vec_id".as("qid"), $"embedding".as("qemb"),
          $"nrm".as("qn"), $"bucket")
      val scored = emb.join(broadcast(q), Seq("bucket")).filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id",
          (native.double_dot($"embedding", $"qemb") / ($"qn" * $"nrm")).as("dcos"))
      exactTopK(scored, emb, q.drop("bucket"), 3)
        .select($"qid", $"vec_id".as("nn_id"), $"rk".cast("long").as("rk"), $"cosine")
    })
  )

  private val SQL_COMPS =
    """SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      |FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)"""
      .stripMargin

  private val SQL_COSINES =
    s"""WITH c AS ($SQL_COMPS),
       |norms AS (
       |  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
       |  FROM c GROUP BY vec_id),
       |dots AS (
       |  SELECT q.vec_id AS qid, d.vec_id AS cid,
       |    CAST(SUM(CAST(q.x * d.x AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM c q JOIN c d ON q.i = d.i AND q.vec_id < 100 AND q.vec_id <> d.vec_id
       |  GROUP BY q.vec_id, d.vec_id),
       |cosines AS (
       |  SELECT qid, cid, ROUND(dot / (qn.nrm * cn.nrm), 9) AS cosine
       |  FROM dots
       |  JOIN norms qn ON qn.vec_id = qid AND qn.nrm > 0
       |  JOIN norms cn ON cn.vec_id = cid AND cn.nrm > 0)""".stripMargin

  override def oracle: Map[String, String] = Map(
    "embed_norm" ->
      s"""WITH c AS ($SQL_COMPS)
         |SELECT vec_id,
         |  ROUND(sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)), 9) AS l2_norm
         |FROM c GROUP BY vec_id""".stripMargin,

    "embed_quantize" ->
      s"""SELECT vec_id, scale,
         |  CAST(list_sum(q) AS BIGINT) AS qsum,
         |  CAST(list_min(q) AS BIGINT) AS qmin,
         |  CAST(list_max(q) AS BIGINT) AS qmax,
         |  list_max([abs(q[i] * scale - CAST(embedding[i] AS DOUBLE))
         |            for i in range(1, len(embedding) + 1)]) AS max_abs_err
         |FROM (
         |  SELECT vec_id, embedding, scale,
         |    CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> 0)
         |         ELSE list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) END AS q
         |  FROM (
         |    SELECT vec_id, embedding, maxabs, maxabs / 127.0 AS scale
         |    FROM (
         |      SELECT vec_id, embedding,
         |        list_max(list_transform(embedding,
         |          x -> abs(CAST(x AS DOUBLE)))) AS maxabs
         |      FROM embeddings)))""".stripMargin,

    // same r(h,i) hyperplane formula as similarity_ann_lsh's oracle; the
    // projected value is the exact decimal sum itself, not its sign
    "embed_project" -> {
      val ps = (1 to RpDims)
        .map(h => s"ROUND(MAX(CASE WHEN h = $h THEN v END), 9) AS p$h")
        .mkString(",\n  ")
      s"""WITH c AS ($SQL_COMPS),
         |r AS (
         |  SELECT h, i,
         |    ((('0x' || substr(md5(CAST(h AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 6))::BIGINT
         |      % 1000) - 500) / 1000.0 AS rv
         |  FROM UNNEST(generate_series(1, $RpDims)) t1(h),
         |    UNNEST(generate_series(1, (SELECT MAX(len(embedding)) FROM embeddings))) t2(i)),
         |proj AS (
         |  SELECT c.vec_id, r.h,
         |    CAST(SUM(CAST(c.x * r.rv AS DECIMAL(38,20))) AS DOUBLE) AS v
         |  FROM c JOIN r ON c.i = r.i
         |  GROUP BY c.vec_id, r.h)
         |SELECT vec_id,
         |  $ps
         |FROM proj GROUP BY vec_id""".stripMargin
    },

    "embed_knn" ->
      s"""$SQL_COSINES
         |SELECT qid, cid AS nn_id, cosine FROM (
         |  SELECT qid, cid, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
         |  FROM cosines) WHERE rk = 1""".stripMargin,

    "similarity_topk_fast" ->
      s"""$SQL_COSINES
         |SELECT qid, cid AS nn_id, rk, cosine FROM (
         |  SELECT qid, cid, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
         |  FROM cosines) WHERE rk <= 5""".stripMargin,

    // centroids/assignment replicate the Spark quantizer exactly: same
    // fixed sample, same decimal dots, same score formula and (score, cid)
    // tiebreak — so the probed cells and candidate sets are identical.
    "similarity_ivf" ->
      s"""WITH c AS ($SQL_COMPS),
         |norms AS (
         |  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
         |  FROM c GROUP BY vec_id),
         |cent AS (SELECT vec_id AS cid FROM embeddings
         |  WHERE vec_id >= 100 AND vec_id < ${100 + NList}),
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
         |probes AS (
         |  SELECT vec_id AS qid, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
         |    FROM scored WHERE vec_id < 100) WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT probes.qid, assign.vec_id AS did
         |  FROM assign JOIN probes USING (cid)
         |  WHERE assign.vec_id <> probes.qid),
         |dots AS (
         |  SELECT cand.qid, cand.did,
         |    CAST(SUM(CAST(cq.x * cd.x AS DECIMAL(38,20))) AS DOUBLE) AS dot
         |  FROM cand
         |  JOIN c cq ON cq.vec_id = cand.qid
         |  JOIN c cd ON cd.vec_id = cand.did AND cd.i = cq.i
         |  GROUP BY cand.qid, cand.did),
         |cosines AS (
         |  SELECT qid, did, ROUND(dot / (qn.nrm * dn.nrm), 9) AS cosine
         |  FROM dots
         |  JOIN norms qn ON qn.vec_id = qid AND qn.nrm > 0
         |  JOIN norms dn ON dn.vec_id = did AND dn.nrm > 0)
         |SELECT qid, did AS nn_id, rk, cosine FROM (
         |  SELECT qid, did, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, did) AS rk
         |  FROM cosines) WHERE rk <= 3""".stripMargin,

    // multi-probe: same hyperplanes/buckets as similarity_ann_lsh, plus
    // per-plane micro-unit |projection|s (round(|p|·1e9) AS BIGINT — the
    // same exact-decimal doubles both engines hold, so the integral mask
    // scores are engine-identical), 2^8 masks ranked per query by
    // (score, probed bucket), top-4 probed.
    "similarity_ann_multiprobe" ->
      s"""WITH c AS ($SQL_COMPS),
         |r AS (
         |  SELECT h, i,
         |    ((('0x' || substr(md5(CAST(h AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 6))::BIGINT
         |      % 1000) - 500) / 1000.0 AS rv
         |  FROM UNNEST(generate_series(1, 8)) t1(h),
         |    UNNEST(generate_series(1, (SELECT MAX(len(embedding)) FROM embeddings))) t2(i)),
         |planedots AS (
         |  SELECT c.vec_id, r.h,
         |    CAST(SUM(CAST(c.x * r.rv AS DECIMAL(38,20))) AS DOUBLE) AS v
         |  FROM c JOIN r ON c.i = r.i
         |  GROUP BY c.vec_id, r.h),
         |bits AS (
         |  SELECT vec_id, h, CASE WHEN v >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM planedots),
         |buckets AS (
         |  SELECT vec_id, CAST(SUM(bit * CAST(POWER(2, h - 1) AS BIGINT)) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id),
         |micros AS (
         |  SELECT vec_id, h, CAST(round(abs(v) * 1e9) AS BIGINT) AS mv
         |  FROM planedots WHERE vec_id < 100),
         |masks AS (SELECT m FROM UNNEST(generate_series(0, 255)) t(m)),
         |mscore AS (
         |  SELECT micros.vec_id AS qid, masks.m,
         |    SUM(CASE WHEN ((masks.m >> (micros.h - 1)) & 1) = 1 THEN micros.mv ELSE 0 END) AS mscore
         |  FROM micros JOIN masks ON TRUE
         |  GROUP BY micros.vec_id, masks.m),
         |probes AS (
         |  SELECT qid, pbucket FROM (
         |    SELECT mscore.qid, xor(b.bucket, mscore.m) AS pbucket,
         |      ROW_NUMBER() OVER (PARTITION BY mscore.qid
         |        ORDER BY mscore.mscore, CASE WHEN mscore.m = 0 THEN 0 ELSE 1 END,
         |          xor(b.bucket, mscore.m)) AS rn
         |    FROM mscore JOIN buckets b ON b.vec_id = mscore.qid) WHERE rn <= 4),
         |norms AS (
         |  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
         |  FROM c GROUP BY vec_id),
         |cand AS (
         |  SELECT DISTINCT probes.qid, d.vec_id AS cid
         |  FROM probes JOIN buckets d ON d.bucket = probes.pbucket
         |  WHERE d.vec_id <> probes.qid),
         |dots AS (
         |  SELECT cand.qid, cand.cid,
         |    CAST(SUM(CAST(cq.x * cd.x AS DECIMAL(38,20))) AS DOUBLE) AS dot
         |  FROM cand
         |  JOIN c cq ON cq.vec_id = cand.qid
         |  JOIN c cd ON cd.vec_id = cand.cid AND cd.i = cq.i
         |  GROUP BY cand.qid, cand.cid),
         |cosines AS (
         |  SELECT qid, cid, ROUND(dot / (qn.nrm * cn.nrm), 9) AS cosine
         |  FROM dots
         |  JOIN norms qn ON qn.vec_id = qid AND qn.nrm > 0
         |  JOIN norms cn ON cn.vec_id = cid AND cn.nrm > 0)
         |SELECT qid, cid AS nn_id, rk, cosine FROM (
         |  SELECT qid, cid, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
         |  FROM cosines) WHERE rk <= 3""".stripMargin,

    // hyperplane r(h,i) = ((int(md5("h|i")[1:6], 16) % 1000) - 500)/1000.0
    // — identical to graft.functions.ExprKernels.hyperplanes; bucket bit h
    // is the sign of the exact-decimal dot with plane h.
    "similarity_ann_lsh" ->
      s"""WITH c AS ($SQL_COMPS),
         |r AS (
         |  SELECT h, i,
         |    ((('0x' || substr(md5(CAST(h AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 6))::BIGINT
         |      % 1000) - 500) / 1000.0 AS rv
         |  FROM UNNEST(generate_series(1, 8)) t1(h),
         |    UNNEST(generate_series(1, (SELECT MAX(len(embedding)) FROM embeddings))) t2(i)),
         |bits AS (
         |  SELECT c.vec_id, r.h,
         |    CASE WHEN SUM(CAST(c.x * r.rv AS DECIMAL(38,20))) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM c JOIN r ON c.i = r.i
         |  GROUP BY c.vec_id, r.h),
         |buckets AS (
         |  SELECT vec_id, CAST(SUM(bit * CAST(POWER(2, h - 1) AS BIGINT)) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id),
         |norms AS (
         |  SELECT vec_id, sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
         |  FROM c GROUP BY vec_id),
         |cand AS (
         |  SELECT q.vec_id AS qid, d.vec_id AS cid
         |  FROM buckets q JOIN buckets d ON q.bucket = d.bucket
         |  WHERE q.vec_id < 100 AND q.vec_id <> d.vec_id),
         |dots AS (
         |  SELECT cand.qid, cand.cid,
         |    CAST(SUM(CAST(cq.x * cd.x AS DECIMAL(38,20))) AS DOUBLE) AS dot
         |  FROM cand
         |  JOIN c cq ON cq.vec_id = cand.qid
         |  JOIN c cd ON cd.vec_id = cand.cid AND cd.i = cq.i
         |  GROUP BY cand.qid, cand.cid),
         |cosines AS (
         |  SELECT qid, cid, ROUND(dot / (qn.nrm * cn.nrm), 9) AS cosine
         |  FROM dots
         |  JOIN norms qn ON qn.vec_id = qid AND qn.nrm > 0
         |  JOIN norms cn ON cn.vec_id = cid AND cn.nrm > 0)
         |SELECT qid, cid AS nn_id, rk, cosine FROM (
         |  SELECT qid, cid, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
         |  FROM cosines) WHERE rk <= 3""".stripMargin
  )
}
