package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Trained IVF: probing all cells IS brute force (exact equality), cell
  * tags match the model's assignment, and shrinking nprobe trades recall
  * as designed.
  */
class IvfSpec extends SparkSuite {
  import spark.implicits._

  private lazy val corpus = spark.read.parquet(sf() + "/embeddings.parquet")
    .select($"vec_id", $"embedding")

  test("nprobe = k search equals brute-force top-10 for every query") {
    val index = Ivf.build(corpus, k = 8, iters = 4)
    index.cells.cache()
    try {
      val queries = corpus.limit(15)
        .select($"vec_id".as("query_id"), $"embedding".as("qemb")).cache()
      val ivf = Ivf.search(index, queries, topK = 10, nprobe = 8)
        .select($"query_id", $"vec_id", $"rank")
        .as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

      // brute force over the same double-cosine ranking
      val brute = queries.join(corpus)
        .select($"query_id", $"vec_id",
          (native.double_dot($"qemb", $"embedding") /
            (sqrt(native.double_dot($"qemb", $"qemb")) *
              sqrt(native.double_dot($"embedding", $"embedding")))).as("cos"))
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(
          _.sortBy { case (_, id, cos) => (-cos, id) }.take(10).map(_._2).toSeq).toMap

      assert(ivf.keySet == brute.keySet)
      ivf.keySet.foreach(q => assert(ivf(q) == brute(q), s"query $q"))

      // narrower probing keeps most of the neighborhood on this corpus
      val narrow = Ivf.search(index, queries, topK = 10, nprobe = 3)
        .select($"query_id", $"vec_id")
        .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = brute.keySet.toSeq.map { q =>
        narrow.getOrElse(q, Set.empty).intersect(brute(q).toSet).size / 10.0
      }
      val mean = recalls.sum / recalls.size
      assert(mean > 0.5, s"mean recall@10 with nprobe=3/8 was $mean")
      queries.unpersist()
    } finally index.cells.unpersist()
  }

  test("quantized search with nprobe = k equals brute-force top-10 after exact rerank") {
    val index = Ivf.build(corpus, k = 8, iters = 4)
    index.cells.cache()
    try {
      val queries = corpus.limit(15)
        .select($"vec_id".as("query_id"), $"embedding".as("qemb")).cache()
      val quant = Ivf.searchQuantized(index, queries, topK = 10, nprobe = 8)
        .select($"query_id", $"vec_id", $"rank")
        .as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
      val brute = queries.join(corpus)
        .select($"query_id", $"vec_id",
          (native.double_dot($"qemb", $"embedding") /
            (sqrt(native.double_dot($"qemb", $"qemb")) *
              sqrt(native.double_dot($"embedding", $"embedding")))).as("cos"))
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(
          _.sortBy { case (_, id, cos) => (-cos, id) }.take(10).map(_._2).toSeq).toMap
      assert(quant.keySet == brute.keySet)
      quant.keySet.foreach(q => assert(quant(q) == brute(q), s"query $q"))
      queries.unpersist()
    } finally index.cells.unpersist()
  }

  test("quantized search under reliable checkpointing leaves no checkpoint directory behind") {
    val index = Ivf.build(corpus, k = 8, iters = 4)
    index.cells.cache()
    val queries = corpus.limit(15)
      .select($"vec_id".as("query_id"), $"embedding".as("qemb")).cache()
    def search() = Ivf.searchQuantized(index, queries, topK = 5, nprobe = 4)
      .select($"query_id", $"vec_id", $"rank").as[(Long, Long, Int)].collect().sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_ckpt")
    def rddDirs(): Seq[String] = {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("rdd-")).toSeq
      finally s.close()
    }
    try {
      val local = search()
      spark.sparkContext.setCheckpointDir(dir.toString)
      assert(Materialize.mode(spark) == "reliable")
      val before = rddDirs()
      val runs = Seq.fill(3)(search())
      assert(runs.forall(_ == local), "results changed under reliable checkpointing")
      assert(rddDirs() == before, s"checkpoint directories left behind: ${rddDirs()}")
    } finally {
      // SparkContext has no public unset: clear it as MaterializeSpec does
      classOf[org.apache.spark.SparkContext]
        .getMethod("checkpointDir_$eq", classOf[Option[_]])
        .invoke(spark.sparkContext, None)
      queries.unpersist()
      index.cells.unpersist()
    }
  }

  test("quantized candidate exchange ships int8 sidecars — measurably smaller, no float arrays") {
    // static plans + no broadcast: both paths must actually exchange the
    // corpus on `cell`, so the shuffled bytes are comparable
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val index = Ivf.build(corpus.limit(200), k = 4, iters = 2)
      index.cells.cache()
      try {
        val queries = corpus.limit(10)
          .select($"vec_id".as("query_id"), $"embedding".as("qemb"))
          .repartition(4)
        def cellExchangeBytes(df: org.apache.spark.sql.DataFrame): (Long, Seq[String]) = {
          df.collect()
          val exchanges = df.queryExecution.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[
                org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] &&
                e.outputPartitioning.asInstanceOf[
                  org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
                  .expressions.exists(_.references.exists(_.name == "cell")) => e
          }
          (exchanges.map(_.metrics("dataSize").value).sum,
            exchanges.flatMap(_.output.map(a => s"${a.name}:${a.dataType.simpleString}")))
        }
        val (fBytes, fCols) = cellExchangeBytes(
          Ivf.search(index, queries, topK = 5, nprobe = 4))
        val (qBytes, qCols) = cellExchangeBytes(
          Ivf.searchQuantized(index, queries, topK = 5, nprobe = 4))
        // float path ships float arrays through the cell exchange; the
        // quantized path ships binary sidecars and NO array column
        assert(fCols.exists(_.endsWith("array<float>")), s"float plan: $fCols")
        assert(qCols.exists(_.startsWith("q:binary")), s"quantized plan: $qCols")
        assert(!qCols.exists(_.contains("array<float>")), s"quantized plan ships arrays: $qCols")
        // 4x on the vector payload (4d -> d bytes); fixed per-row scalars
        // dilute the total, so assert a conservative 2x on measured bytes
        assert(fBytes > 0 && qBytes > 0, s"no cell exchange measured: $fBytes, $qBytes")
        assert(qBytes * 2 <= fBytes,
          s"quantized cell exchange $qBytes B vs float $fBytes B — expected >= 2x shrink")
      } finally index.cells.unpersist()
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("zero-norm query and corpus vectors are excluded, never NaN-ranked") {
    val data = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 0f)),
      (4L, Array(0f, 1f)), (5L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val index = Ivf.build(data, k = 2, iters = 3)
    val queries = Seq((10L, Array(1f, 0.05f)), (11L, Array(0f, 0f)))
      .toDF("query_id", "qemb")
    val hits = Ivf.search(index, queries, topK = 10, nprobe = 2)
      .as[(Long, Long, Double, Int)].collect()
    assert(hits.nonEmpty)
    assert(!hits.exists(_._1 == 11L), "zero-norm query must be excluded")
    assert(!hits.exists(_._2 == 3L), "zero-norm corpus vector must be excluded")
    assert(hits.forall(h => !h._3.isNaN), "cosine must never be NaN")
    // the top hit for the real query is its true nearest neighbor
    assert(hits.filter(h => h._1 == 10L && h._4 == 1).map(_._2).toSeq == Seq(1L))
  }

  test("rank exchange repartitions ids and cosine only — no embedding arrays") {
    // force the at-scale shape: corpus too big to broadcast, queries not
    // collapsed to one partition (a single-partition child satisfies any
    // distribution, so no exchange would appear at all)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val index = Ivf.build(corpus.limit(200), k = 4, iters = 2)
      val queries = corpus.limit(5)
        .select($"vec_id".as("query_id"), $"embedding".as("qemb"))
        .repartition(4)
      val df = Ivf.search(index, queries, topK = 5, nprobe = 2)
      assertRankExchangeIdOnly(df)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def assertRankExchangeIdOnly(df: org.apache.spark.sql.DataFrame): Unit = {
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // formatted explain lists each operator's Input columns: any Exchange
    // carrying the cosine (the rank repartition) must carry no vectors
    val blocks = formatted.split("\n\n").filter(_.matches("(?s)\\(\\d+\\) Exchange.*"))
    val rankExchanges = blocks.filter(_.contains("cos#"))
    assert(rankExchanges.nonEmpty, s"expected an exchange carrying cos in:\n$formatted")
    rankExchanges.foreach { b =>
      assert(!b.contains("qemb") && !b.contains("embedding"),
        s"rank exchange carries embedding arrays:\n$b")
    }
  }

  test("cell tags equal the model's assignment") {
    val index = Ivf.build(corpus.limit(100), k = 4, iters = 3)
    val rows = index.cells.select($"embedding", $"cell")
      .as[(Array[Float], Int)].collect()
    rows.foreach { case (v, cell) => assert(cell == index.model.assign(v)) }
  }

  test("persisted index: load == in-memory search; cell join reads the corpus Exchange-free") {
    val index = Ivf.build(corpus, k = 8, iters = 4)
    Ivf.persist(spark, index, "ivfspec_store", buckets = 8)
    val loaded = Ivf.load(spark, "ivfspec_store")
    assert(loaded.model.centroids.map(_.toSeq).toSeq ==
      index.model.centroids.map(_.toSeq).toSeq, "centroids drifted through persistence")
    val queries = corpus.limit(15)
      .select($"vec_id".as("query_id"), $"embedding".as("qemb"))
    def results(ix: Ivf.Index) = Ivf.search(ix, queries, topK = 5, nprobe = 2)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(results(loaded) == results(index), "loaded-index search diverged")
    // the at-scale property persistence exists for: with broadcast off
    // (a 10^9-row corpus can't broadcast), the cell equi-join's corpus
    // side comes out of the bucketed table with NO Exchange
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevBc = spark.conf.get(bcKey)
    spark.conf.set(bcKey, "-1")
    try {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      val df = Ivf.search(loaded, queries, topK = 5, nprobe = 2)
      df.collect() // finalize the adaptive plan, THEN inspect it
      // plain collect() stops at AQE query-stage boundaries — expand them
      def expand(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: expand(a.executedPlan)
        case q: QueryStageExec        => p +: expand(q.plan)
        case _                        => p +: p.children.flatMap(expand)
      }
      val all = expand(df.queryExecution.executedPlan)
      val cellJoins = all.collect {
        case j: SortMergeJoinExec
          if j.leftKeys.exists(_.toString.contains("cell")) => j
        case j: ShuffledHashJoinExec
          if j.leftKeys.exists(_.toString.contains("cell")) => j
      }
      assert(cellJoins.nonEmpty,
        s"no shuffle join on cell in:\n${df.queryExecution.executedPlan}")
      val corpusSides = cellJoins.flatMap(_.children)
        .filter(_.toString.contains("ivfspec_store_cells"))
      assert(corpusSides.nonEmpty, "cells table not under the join")
      corpusSides.foreach { side =>
        val shuffles = expand(side).collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.isEmpty, s"corpus side of the cell join shuffles:\n$side")
      }
    } finally spark.conf.set(bcKey, prevBc)

    // re-persist IN PLACE (re-bucket): the loaded index's cells ARE a
    // lazy scan of the table being replaced — persist must pin them
    // before dropping the previous life, or the only copy dies mid-write
    Ivf.persist(spark, loaded, "ivfspec_store", buckets = 4)
    val rebucketed = Ivf.load(spark, "ivfspec_store")
    assert(results(rebucketed) == results(index),
      "re-persist under the same name corrupted the index")
  }

  test("quantize == embed_quantize's transform spelling: zeros, ±0.0, subnormals, ±MaxValue, half units") {
    val r = new scala.util.Random(11)
    val edges = Array(0f, -0f, Float.MinPositiveValue, -Float.MinPositiveValue, 1e-40f,
      -3e-39f, Float.MaxValue, -Float.MaxValue, 1f, -1f)
    // scale = 2^e is exact, so x = (j + 0.5)·2^e sits exactly half a unit
    // between two quantization steps
    def halves(): Array[Float] = {
      val e = r.nextInt(40) - 20
      val unit = math.pow(2, e)
      (127.0 * unit +: Seq.fill(1 + r.nextInt(12))((r.nextInt(254) - 127 + 0.5) * unit))
        .map(_.toFloat).toArray
    }
    val vecs: Seq[Array[Float]] = Seq(Array.fill(8)(0f), Array(0f, -0f, -0f),
      Array(127f, 0.5f, -0.5f, 1.5f, -1.5f, 126.5f, -126.5f), edges) ++
      Seq.fill(100)(halves()) ++
      Seq.fill(100)(Array.fill(1 + r.nextInt(16))(
        if (r.nextInt(3) == 0) edges(r.nextInt(edges.length)) else (r.nextGaussian() * 10).toFloat))
    // SimilarityOps embed_quantize's (scale, q) spelling
    val spelled = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      .withColumn("maxabs", expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("scale", $"maxabs" / 127.0)
      .withColumn("q", expr(
        "CASE WHEN maxabs = 0 THEN transform(embedding, x -> 0L) " +
          "ELSE transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) / scale + 0.5d) AS BIGINT)) END"))
      .select($"vec_id", $"scale", $"q").as[(Long, Double, Seq[Long])].collect()
    assert(spelled.length == vecs.length)
    spelled.foreach { case (i, scale, q) =>
      val (qq, s, l1) = Ivf.quantize(vecs(i.toInt))
      assert(java.lang.Double.doubleToLongBits(s) == java.lang.Double.doubleToLongBits(scale),
        s"vector $i: scale $s vs $scale")
      assert(qq.map(_.toLong).toSeq == q, s"vector $i: ${qq.toSeq} vs $q")
      assert(l1 == q.map(math.abs).sum, s"vector $i: l1 $l1")
    }
  }
}
