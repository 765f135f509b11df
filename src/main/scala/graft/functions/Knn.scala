package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues}

/** The one kNN plan builder. Every similarity search over vectors — the
  * `streaming.Similarity` faces and [[Ivf.search]] / [[Ivf.searchQuantized]]
  * — is [[Knn.apply]] with four choices:
  *
  *  - '''probe''' ([[Probe]]): sign-LSH [[Buckets]], the query's own bucket
  *    and then the nearest by [[AnnIndex.multiProbe]]; or IVF [[Cells]],
  *    the `nprobe` centroids nearest by squared distance;
  *  - '''static side''' ([[Side]]): a [[Corpus]] whose norms and buckets
  *    are derived per trigger; a [[Persisted]] index (the bucketed probe
  *    table minus tombstones, the bucketed vec table for the rerank); or
  *    a [[Trained]] IVF cell table;
  *  - '''scoring''': the exact double cosine of every candidate; or
  *    (`int8`) the certified int8 interval of every candidate, then the
  *    exact cosine of the survivors only, their floats joined back by id;
  *  - '''top-k''': the [[TopK]] and [[Survivors]] state processors when
  *    the queries are a stream (a streaming plan cannot hold a window),
  *    a `row_number` window otherwise.
  *
  * The certified bound. For x = s_x·q_x + e_x with |e_x,i| ≤ s_x/2 (the
  * floor(+0.5) scheme of [[Ivf.quantize]]),
  *
  *   |x·y − s_x s_y (q_x·q_y)| ≤ s_x s_y (‖q_x‖₁/2 + ‖q_y‖₁/2 + d/4)
  *
  * so a candidate's true cosine lies in [approx − err, approx + err]. A
  * candidate survives iff its upper bound reaches the k-th largest lower
  * bound of its query (all survive below k candidates). Any other is
  * beaten by k candidates for certain, so the exact rerank of the
  * survivors picks the float path's winners.
  *
  * Zero-norm queries and corpus rows are excluded: their cosine is 0/0,
  * and a NaN would outrank every real hit. The result is `(query_id,
  * vec_id, cos, rank)`, at most `k` rows per query, ranked by `cos` desc
  * then `vec_id` asc.
  *
  * A batch search of a [[Persisted]] index is the serving face: the probe
  * rows are evaluated once and collected to the driver (at most
  * [[MaxServeProbeRows]]), and the probe table's scan is pruned to the
  * probed buckets.
  */
private[graft] object Knn {

  /** Candidate generation; `key` is the probe-join column. */
  sealed abstract class Probe(val key: String) { def nprobe: Int }
  final case class Buckets(planes: Int, nprobe: Int) extends Probe("bucket")
  /** Cell id = centroid position. */
  final case class Cells(centroids: Array[Array[Float]], nprobe: Int) extends Probe("cell")

  /** The static side; each needs `vec_id` and `embedding`. */
  sealed trait Side
  final case class Corpus(vectors: DataFrame) extends Side
  final case class Persisted(h: AnnIndex.Handle) extends Side
  /** An [[Ivf.build]] cell table. */
  final case class Trained(cells: DataFrame) extends Side

  /** Probe-row bound of the serving collect: 256k rows ≈ ≤80 MB of float
    * payload at dim 64 — far above any real serving trigger, far below
    * anything that belongs on the cluster. */
  val MaxServeProbeRows: Int = 1 << 18

  /** The argument check of every kNN entry point, on the driver, before
    * any job or stream starts. */
  def check(k: Int, probe: Probe): Unit = {
    require(k >= 1 && probe.nprobe >= 1,
      s"kNN needs k >= 1 and nprobe >= 1, got k=$k, nprobe=${probe.nprobe}")
    probe match {
      case Buckets(planes, _) => require(planes >= 1 && planes <= AnnIndex.MaxProbePlanes,
        s"probe geometry supports planes in [1, ${AnnIndex.MaxProbePlanes}], got $planes")
      case _ =>
    }
  }

  /** ‖v‖ of a float-array column, [[ExprKernels.doubleDot]]'s
    * left-to-right fold. */
  def norm(v: Column): Column = sqrt(native.double_dot(v, v))

  private val quantizer = udf((v: Array[Float]) => Ivf.quantize(v))

  /** `df` plus the [[Ivf.quantize]] sidecar of its `v` column, named
    * `names` (q, scale, ‖q‖₁). The tuple is projected before its fields
    * are read, so each row is quantized once. */
  def withInt8(df: DataFrame, v: String, names: Seq[String]): DataFrame =
    df.withColumn("int8", quantizer(col(v))).select(df.columns.toSeq.map(col) ++
      names.zipWithIndex.map { case (n, i) => col(s"int8._${i + 1}").as(n) }: _*)

  /** A corpus's static columns, derived one way for a [[Corpus]] side and
    * for [[AnnIndex]]'s tables: `(vec_id, embedding, nrm, q, scale, l1,
    * bucket)`, zero-norm rows dropped. A plan computes only the columns
    * it reads, so the float probe never quantizes. */
  def enrich(vectors: DataFrame, planes: Int): DataFrame = KernelBarrier.over(
    withInt8(nonZero(vectors.select("vec_id", "embedding"), "embedding", "nrm"),
      "embedding", Seq("q", "scale", "l1"))
      .withColumn("bucket", native.lsh_bucket(col("embedding"), planes)))

  /** `df` plus `norm(v)` as `n`, zero-norm rows dropped. The filter sits
    * above a [[KernelBarrier]], so the norm runs once per row. */
  private def nonZero(df: DataFrame, v: String, n: String): DataFrame =
    KernelBarrier.over(df.withColumn(n, norm(col(v)))).filter(col(n) > 0)

  /** Top `k` per query over `queries` (`query_id`, `qemb`): see the
    * object doc. */
  def apply(queries: DataFrame, probe: Probe, side: Side, int8: Boolean,
            k: Int): DataFrame = {
    check(k, probe)
    val spark = queries.sparkSession
    val streaming = queries.isStreaming
    val serve = !streaming && side.isInstanceOf[Persisted]
    // the query side is read twice below (probe rows and rerank rows,
    // which need no quantizing); it is the small side, so it is not cut:
    // nothing could release a cut that the returned plan still reads
    val q = {
      val base = nonZero(queries.select("query_id", "qemb"), "qemb", "qnrm")
      if (int8) withInt8(base, "qemb", Seq("qq", "qs", "ql1")) else base
    }
    // the int8 probe rows leave the float query vector behind
    val expanded = probeRows(q, probe,
      if (int8 && !serve) q.columns.filterNot(_ == "qemb").toSeq else q.columns.toSeq)
    val (probes, qrows, buckets) =
      if (!serve) (expanded, q.select("query_id", "qemb", "qnrm"), None)
      else {
        val rows = serveCollect(expanded)
        def local(rs: Array[Row]) =
          spark.createDataFrame(java.util.Arrays.asList(rs: _*), expanded.schema)
        (local(rows),
          broadcast(local(rows.distinctBy(_.getAs[Long]("query_id")))
            .select("query_id", "qemb", "qnrm")),
          Some(rows.iterator.map(_.getAs[Long]("bucket")).toSet))
      }
    val (probeSide, vecs) = ((side, probe): @unchecked) match {
      case (Corpus(vectors), Buckets(planes, _)) =>
        val e = enrich(vectors, planes)
        (e, e)
      case (Persisted(h), _) =>
        val table = AnnIndex.probeSide(spark, h)
        (AnnIndex.withoutTombstoned(spark, h, buckets.fold(table)(pruneToBuckets(table, h, _))),
          AnnIndex.vecSide(spark, h))
      case (Trained(cells), _) => (cells.filter(col("nrm") > 0), cells)
    }
    val cosine = (native.double_dot(col("qemb"), col("embedding")) /
      (col("qnrm") * col("nrm"))).as("cos")
    val scored =
      if (!int8)
        probes.join(probeSide.select("vec_id", probe.key, "nrm", "embedding"), probe.key)
          .select(col("query_id"), col("vec_id"), cosine)
      else {
        val (approx, err) = certifiedInterval
        val cands = probes
          .join(probeSide.select("vec_id", probe.key, "nrm", "q", "scale", "l1"), probe.key)
          .select(col("query_id"), col("vec_id"), approx.as("approx"), err.as("err"))
        val floats = vecs.select("vec_id", "embedding", "nrm")
        val verified =
          if (streaming) streamSurvivors(cands, qrows, k).join(floats, "vec_id")
          else batchSurvivors(cands, k).join(floats, "vec_id").join(qrows, "query_id")
        verified.select(col("query_id"), col("vec_id"), cosine)
      }
    topK(scored, k)
  }

  /** One row per (query, probed key): the `keep` columns of `q` plus the
    * probe's key column. */
  private def probeRows(q: DataFrame, probe: Probe, keep: Seq[String]): DataFrame = {
    val kept = keep.map(col)
    val qemb = col("qemb")
    probe match {
      case Buckets(planes, nprobe) =>
        // above the barrier, the join's inferred `bucket IS NOT NULL`
        // does not run the kernel a second time
        val own = KernelBarrier.over(q.withColumn("bucket", native.lsh_bucket(qemb, planes)))
        val nearest = udf((b: Long, projs: Array[Double]) => AnnIndex.multiProbe(b, projs, nprobe))
        own.select(kept :+ (if (nprobe == 1) col("bucket")
          else explode(nearest(col("bucket"), native.rp_project(qemb, planes)))).as("bucket"): _*)
      case Cells(centroids, nprobe) =>
        val spark = q.sparkSession
        import spark.implicits._
        val cents = centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "cemb")
        // qemb·qemb is qnrm², already computed once per query
        val cdist = col("qnrm") * col("qnrm") - lit(2.0) * native.double_dot(qemb, col("cemb")) +
          native.double_dot(col("cemb"), col("cemb"))
        q.join(broadcast(cents))
          .select(kept :+ col("cell") :+ cdist.as("cdist"): _*)
          .withColumn("prank", row_number().over(
            Window.partitionBy("query_id").orderBy(col("cdist").asc, col("cell").asc)))
          .filter(col("prank") <= nprobe)
          .select(kept :+ col("cell"): _*)
    }
  }

  /** The serving collect: the probe rows are evaluated exactly once (a
    * re-evaluated nondeterministic source could probe buckets the
    * collected set never held), and `take(bound + 1)` raises the bound
    * error before driver memory is committed, not an OutOfMemoryError
    * mid-collect. */
  private def serveCollect(probes: DataFrame): Array[Row] = {
    val rows = probes.take(MaxServeProbeRows + 1)
    require(rows.length <= MaxServeProbeRows,
      s"a kNN serving batch is collected to the driver, and this one explodes " +
        s"past $MaxServeProbeRows probe rows: shrink the batch or nprobe, or run " +
        "bulk top-k through streamKnn / the batch similarity ops")
    rows
  }

  /** Push the probe set as a literal `bucket IN (…)` only while it can
    * prune: a set covering more than half the bucket space prunes little
    * and costs the planner a long IN list, and the join drops
    * non-probed buckets anyway. */
  private def pruneToBuckets(table: DataFrame, h: AnnIndex.Handle,
                             buckets: Set[Long]): DataFrame =
    if (buckets.size * 2L > (1L << math.min(h.planes, 62))) table
    else table.filter(col("bucket").isin(buckets.toSeq: _*))

  /** The certified int8 cosine interval (approx, err) of a probe row
    * (qq, qs, ql1, qnrm) against a candidate (q, scale, l1, nrm). */
  private def certifiedInterval: (Column, Column) = {
    val d = lit(0.25) * least(length(col("qq")), length(col("q"))).cast("double")
    val norms = col("qnrm") * col("nrm")
    ((col("qs") * col("scale") * native.int8_dot(col("qq"), col("q"))) / norms,
      (col("qs") * col("scale") * ((col("ql1") + col("l1")) / lit(2.0) + d)) / norms)
  }

  /** Batch survivors `(query_id, vec_id)`: the k-th largest lower bound
    * per query, spread to every candidate by a second window over the
    * same partitioning, so one exchange serves both windows. */
  private def batchSurvivors(cands: DataFrame, k: Int): DataFrame = {
    val lb = col("approx") - col("err")
    val byQuery = Window.partitionBy("query_id")
    cands
      .withColumn("lbrank", row_number().over(byQuery.orderBy(lb.desc, col("vec_id").asc)))
      .withColumn("thresh", max(when(col("lbrank") === k, lb)).over(byQuery))
      .filter(col("approx") + col("err") >= coalesce(col("thresh"), lit(Double.NegativeInfinity)))
      .select("query_id", "vec_id")
  }

  /** Streaming survivors `(query_id, vec_id, qemb, qnrm)`: one tagged
    * union of each query's float row and its candidates, folded per
    * query by [[Survivors]]. */
  private def streamSurvivors(cands: DataFrame, qrows: DataFrame, k: Int): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    qrows.select(col("query_id"), lit(true).as("is_query"), lit(0L).as("vec_id"),
        lit(0.0).as("approx"), lit(0.0).as("err"), col("qemb"), col("qnrm"))
      .unionByName(cands.select(col("query_id"), lit(false).as("is_query"), col("vec_id"),
        col("approx"), col("err"), typedlit[Array[Float]](null).as("qemb"), lit(0.0).as("qnrm")))
      .as[(Long, Boolean, Long, Double, Double, Array[Float], Double)]
      .groupByKey(_._1)
      .transformWithState(new Survivors(k), TimeMode.None(), OutputMode.Append())
      .toDF("query_id", "vec_id", "qemb", "qnrm")
  }

  /** `(query_id, vec_id, cos, rank)`, the best `k` per query. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    if (scored.isStreaming) {
      val spark = scored.sparkSession
      import spark.implicits._
      scored.as[(Long, Long, Double)].groupByKey(_._1)
        .transformWithState(new TopK(k), TimeMode.None(), OutputMode.Append())
        .toDF("query_id", "vec_id", "cos", "rank")
    } else scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)

  /** Top-k fold per query id. Stateless: all of a query's candidates
    * arrive in its own micro-batch. */
  private final class TopK(k: Int)
      extends StatefulProcessor[Long, (Long, Long, Double), (Long, Long, Double, Int)] {
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Double, Int)] = {
      // under (cos desc, vec_id asc) the WORST hit is the ordering
      // maximum, which is exactly what PriorityQueue.dequeue removes
      val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Long, Double)](
        Ordering.by { case (_, id, cos) => (-cos, id) })
      rows.foreach { r =>
        heap.enqueue(r)
        if (heap.size > k) heap.dequeue()
      }
      // dequeue order is worst→best; emit best-first
      heap.dequeueAll[(Long, Long, Double)].reverse.iterator.zipWithIndex
        .map { case ((q, v, c), i) => (q, v, c, i + 1) }
    }
  }

  /** Certified-survivor filter per query id, stateless like [[TopK]]. The
    * rows are a tagged union: ONE query row (is_query, carrying qemb and
    * qnrm) plus the candidate rows with their (approx, err) intervals; a
    * boolean tag, not a sentinel id, because any Long is a legal vec_id.
    * Emits `(query_id, vec_id, qemb, qnrm)` for every candidate whose
    * upper bound reaches the k-th largest lower bound.
    *
    * Memory is bounded by the output, not by bucket occupancy: the
    * threshold needs only the k largest lower bounds (a size-k min-heap),
    * and the buffer holds only candidates still viable against the
    * RUNNING threshold, compacted geometrically as it rises. The
    * threshold only rises, so a candidate below it can never survive and
    * dropping it at once is exact. */
  private final class Survivors(k: Int)
      extends StatefulProcessor[Long, (Long, Boolean, Long, Double, Double, Array[Float], Double),
        (Long, Long, Array[Float], Double)] {
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Boolean, Long, Double, Double, Array[Float], Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Array[Float], Double)] = {
      var qemb: Array[Float] = null
      var qnrm = 0.0
      // k largest lower bounds seen so far; head = running threshold
      val lbHeap = scala.collection.mutable.PriorityQueue.empty[Double](Ordering[Double].reverse)
      def thresh: Double =
        if (lbHeap.size < k) Double.NegativeInfinity else lbHeap.head
      val viable = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
      var compactAt = math.max(2 * k, 64)
      rows.foreach {
        case (_, true, _, _, _, emb, nrm) => qemb = emb; qnrm = nrm
        case (_, false, vid, a, e, _, _) =>
          if (a + e >= thresh) { // below the running threshold = provably out
            viable += ((vid, a, e))
            if (lbHeap.size < k) lbHeap.enqueue(a - e)
            else if (a - e > lbHeap.head) { lbHeap.dequeue(); lbHeap.enqueue(a - e) }
            if (viable.size >= compactAt) {
              val t = thresh
              val kept = viable.filter { case (_, a2, e2) => a2 + e2 >= t }
              viable.clear()
              viable ++= kept
              compactAt = math.max(2 * viable.size, math.max(2 * k, 64))
            }
          }
      }
      if (qemb == null || viable.isEmpty) Iterator.empty
      else {
        val t = thresh
        val q = qemb
        val n = qnrm
        viable.iterator.collect {
          case (vid, a, e) if a + e >= t => (key, vid, q, n)
        }
      }
    }
  }
}
