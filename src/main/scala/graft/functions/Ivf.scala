package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

/** Trained IVF (inverted-file) index on [[Kmeans]] centroids — the
  * production path the oracle-checked `similarity_ivf` query models with
  * its deterministic quantizer: k-means learns the cells, every vector
  * is tagged with its nearest centroid's cell id, and a query probes
  * only its `nprobe` closest cells.
  *
  * Everything is declarative and set-based — no driver loop anywhere:
  * probe selection is a broadcast join of queries against the k-row
  * centroid table + a per-query rank, candidate generation is an
  * equi-join on the cell id (the partition/bucket key at scale — write
  * the tagged corpus with `Bucketing.writeBucketed` on `cell` and the
  * probe join is also shuffle-free), and ranking is the cheap
  * double-precision cosine. With `nprobe = k` the search is EXACTLY
  * brute force (IvfSpec pins that equality), so recall degrades only
  * and exactly as nprobe shrinks.
  */
object Ivf {

  final case class Index(model: Kmeans.Model, cells: DataFrame)

  /** Persist a trained index: the tagged corpus lands in a
    * bucketed+sorted-by-`cell` table — the scaladoc's "write the tagged
    * corpus with Bucketing.writeBucketed on cell" promise as running
    * code, so every [[search]]/[[searchQuantized]] cell equi-join over
    * the loaded index reads the corpus pre-partitioned with ZERO
    * Exchange (IvfSpec plan-asserts it) — plus a k-row centroid table
    * carrying the trained model. Like [[AnnIndex.build]], a re-persist
    * under the same name drops the previous life first. */
  def persist(spark: org.apache.spark.sql.SparkSession, index: Index,
              name: String, buckets: Int = 64): Unit = {
    import spark.implicits._
    // pin the cell rows BEFORE dropping the previous life: a load()-ed
    // index's `cells` IS a lazy scan of the very table being replaced
    // (the re-bucket-in-place call this scaladoc advertises). A plain
    // persist() is NOT enough — DROP TABLE uncaches every cached plan
    // that references the table — so the pin must be a lineage CUT
    // (Materialize.cut: localCheckpoint / reliable checkpoint), whose
    // LogicalRDD plan the catalog knows nothing about.
    val pinned = Materialize.cut(index.cells)
    try {
      Seq(s"${name}_cells", s"${name}_centroids")
        .foreach(Bucketing.dropTableAndLocation(spark, _))
      Bucketing.writeBucketed(pinned, s"${name}_cells", "cell", buckets)
      index.model.centroids.zipWithIndex
        .map { case (c, i) => (i, c, index.model.objective) }.toSeq
        .toDF("cell", "cemb", "objective")
        .write.format("parquet").saveAsTable(s"${name}_centroids")
    } finally Materialize.release(pinned)
  }

  /** Load a [[persist]]ed index. The returned Index drops into the
    * existing search paths unchanged; its `cells` relation is the
    * bucketed table, so the cell probe join is co-located by layout. */
  def load(spark: org.apache.spark.sql.SparkSession, name: String): Index = {
    import spark.implicits._
    val cent = spark.table(s"${name}_centroids")
      .select($"cell", $"cemb", $"objective")
      .as[(Int, Array[Float], Double)].collect().sortBy(_._1)
    require(cent.nonEmpty, s"$name has no persisted centroids")
    // centroid POSITION is the cell id the stored tags reference: a gap
    // or duplicate (partial/corrupt write) would silently probe wrong
    // cells after the sort — fail loudly instead
    require(cent.map(_._1).toSeq == cent.indices,
      s"$name centroid cells are not contiguous 0..${cent.length - 1}: " +
        cent.map(_._1).mkString(","))
    Index(Kmeans.Model(cent.map(_._2), cent.head._3), spark.table(s"${name}_cells"))
  }

  /** Symmetric int8 scalar quantization of one vector — the same scheme
    * as the oracle-checked `embed_quantize` query (scale = max|x|/127,
    * q_i = floor(x_i/scale + 0.5)): returns (q, scale, ‖q‖₁). The L1
    * norm is precomputed per vector because the rerank bound in
    * [[searchQuantized]] needs it per CANDIDATE PAIR — computing it
    * there would re-scan the array once per pair instead of once per
    * vector. */
  private[graft] def quantize(v: Array[Float]): (Array[Byte], Double, Long) = {
    var maxabs = 0.0
    var i = 0
    while (i < v.length) {
      val a = math.abs(v(i).toDouble)
      if (a > maxabs) maxabs = a
      i += 1
    }
    val scale = maxabs / 127.0
    val q = new Array[Byte](v.length)
    var l1 = 0L
    if (maxabs > 0) {
      i = 0
      while (i < v.length) {
        val qi = math.floor(v(i).toDouble / scale + 0.5).toInt
        q(i) = qi.toByte
        l1 += math.abs(qi)
        i += 1
      }
    }
    (q, scale, l1)
  }

  /** Tag every corpus vector with its trained cell. `corpus` needs
    * `vec_id` and `embedding`; returns (vec_id, embedding, nrm, cell)
    * plus the int8 sidecar (q, scale, l1) that [[searchQuantized]] ranks
    * with — a plan computes only the columns it reads, so the [[search]]
    * plans never quantize. */
  def build(corpus: DataFrame, k: Int, iters: Int): Index = {
    val model = Kmeans.fit(corpus, "embedding", "vec_id", k, iters)
    val assign = udf((v: Array[Float]) => model.assign(v))
    Index(model, Knn.withInt8(corpus.select(col("vec_id"), col("embedding"),
      Knn.norm(col("embedding")).as("nrm"), assign(col("embedding")).as("cell")),
      "embedding", Seq("q", "scale", "l1")))
  }

  /** Top-`topK` same-probed-cell hits per query: `(query_id, vec_id,
    * cos, rank)`. `queries` needs `query_id` and `qemb` columns; `topK`
    * and `nprobe` must be at least 1.
    *
    * Zero-norm vectors have no direction, so cosine is undefined for
    * them: zero-norm queries and zero-norm corpus rows are EXCLUDED up
    * front rather than ranked — an unguarded 0/0 would make NaN, and NaN
    * sorts above every real double under `desc`, so a zero vector would
    * otherwise outrank every genuine hit.
    *
    * Shuffle shape at scale: probe selection is a broadcast join of the
    * queries against the k-row centroid table plus a per-query rank; the
    * corpus-side join is an equi-join on `cell` (shuffle-free when the
    * tagged corpus is bucketed on it), the query norm is computed once
    * per query — not once per candidate — and candidates are projected
    * down to `(query_id, vec_id, cos)` BEFORE the rank window, so the
    * rank exchange repartitions ids and one double, never embedding
    * arrays (IvfSpec pins that with a plan assertion — the id-only shape
    * `queries.DedupOps` uses). */
  def search(index: Index, queries: DataFrame, topK: Int, nprobe: Int): DataFrame =
    Knn(queries, Knn.Cells(index.model.centroids, nprobe), Knn.Trained(index.cells),
      int8 = false, topK)

  /** [[search]] with int8 candidate ranking + exact rerank — the same
    * result set, with the probe exchange carrying ~4× fewer bytes.
    *
    * The cell equi-join (the wide step that ships the corpus at scale)
    * carries the int8 sidecar (q: d bytes, scale, l1) instead of the
    * float embedding (4d bytes); candidates are ranked by the integer
    * dot kernel [[ExprKernels.int8Dot]] within the certified interval of
    * [[Knn]], so the exact-rerank winners equal [[search]]'s (IvfSpec
    * pins equality and the byte shrink). The rerank joins float
    * embeddings back BY ID for the survivor set only (≈ topK + margin
    * rows per query); survivors' scalars travel, never candidate
    * arrays. */
  def searchQuantized(index: Index, queries: DataFrame, topK: Int, nprobe: Int): DataFrame =
    Knn(queries, Knn.Cells(index.model.centroids, nprobe), Knn.Trained(index.cells),
      int8 = true, topK)
}
