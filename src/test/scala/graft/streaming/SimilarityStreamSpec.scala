package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Stream-static ANN: corpus vectors streamed back as queries must find
  * themselves first (cos = 1 in their own bucket), k bounds hold per
  * batch, and results agree with the batch same-bucket ranking.
  */
class SimilarityStreamSpec extends SparkSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("streamed corpus vectors find themselves; k bound and batch parity hold") {
    withRocksDBState {
      val corpus = spark.read.parquet(sf() + "/embeddings.parquet")
        .select($"vec_id", $"embedding").cache()
      val queries = corpus.as[(Long, Array[Float])].collect().take(40)

      val in = MemoryStream[(Long, Array[Float])]
      val out = Similarity.streamKnn(in.toDS(), corpus, k = 5)
      val q = out.toDF("query_id", "vec_id", "cos").writeStream
        .format("memory").queryName("sim_knn_t").outputMode("append").start()
      queries.grouped(15).foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
      q.stop()

      val got = spark.table("sim_knn_t").as[(Long, Long, Double)].collect()
        .groupBy(_._1)
      assert(got.keySet == queries.map(_._1).toSet) // every query answered
      got.foreach { case (qid, hits) =>
        assert(hits.length <= 5)
        // the query IS a corpus vector: something in its bucket scores ~1
        // (itself, or an exactly-parallel near-dup — the corpus has those
        // by design, and rounding may put the copy a ulp above self)
        val top = hits.minBy { case (_, id, cos) => (-cos, id) }
        assert(top._3 > 1.0 - 1e-9, s"query $qid top cos ${top._3}")
      }

      // batch parity for EVERY query: same-bucket top-5 ranking
      import graft.functions.native
      import org.apache.spark.sql.functions._
      val statics = corpus.select($"vec_id", $"embedding",
        sqrt(native.double_dot($"embedding", $"embedding")).as("nrm"),
        native.lsh_bucket($"embedding", 8).as("bucket")).cache()
      queries.foreach { case (qid, qemb) =>
        val qn = math.sqrt(qemb.map(x => x.toDouble * x).sum)
        val qb = statics.filter($"vec_id" === qid).select($"bucket").head().getLong(0)
        val batch = statics.filter($"bucket" === qb)
          .select($"vec_id",
            (native.double_dot(typedLit(qemb), $"embedding") / ($"nrm" * qn)).as("cos"))
          .as[(Long, Double)].collect()
          .sortBy { case (id, cos) => (-cos, id) }.take(5).map(_._1).toSeq
        val streamed = got(qid).sortBy { case (_, id, cos) => (-cos, id) }.map(_._2).toSeq
        assert(streamed == batch, s"query $qid: $streamed vs $batch")
      }
      statics.unpersist()
      corpus.unpersist()
    }
  }

  test("quantized stream ANN: winners == float path (certified filter-verify parity)") {
    withRocksDBState {
      val corpus = spark.read.parquet(sf() + "/embeddings.parquet")
        .select($"vec_id", $"embedding").cache()
      val queries = corpus.as[(Long, Array[Float])].collect().take(40)

      def run(name: String,
          f: org.apache.spark.sql.Dataset[(Long, Array[Float])] =>
            org.apache.spark.sql.Dataset[(Long, Long, Double)]): Map[Long, Seq[Long]] = {
        val in = MemoryStream[(Long, Array[Float])]
        val q = f(in.toDS()).toDF("query_id", "vec_id", "cos").writeStream
          .format("memory").queryName(name).outputMode("append").start()
        queries.grouped(15).foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
        q.stop()
        spark.table(name).as[(Long, Long, Double)].collect()
          .groupBy(_._1)
          .map { case (qid, hits) =>
            qid -> hits.sortBy { case (_, id, cos) => (-cos, id) }.map(_._2).toSeq
          }
      }
      val floatHits = run("sim_knn_f", ds => Similarity.streamKnn(ds, corpus, k = 5))
      val quantHits = run("sim_knn_q", ds => Similarity.streamKnnQuantized(ds, corpus, k = 5))
      assert(quantHits.keySet == floatHits.keySet)
      floatHits.foreach { case (qid, want) =>
        assert(quantHits(qid) == want, s"query $qid: ${quantHits(qid)} vs $want")
      }
      corpus.unpersist()
    }
  }

  test("parity holds with planted zero-norm vectors (both paths exclude them)") {
    withRocksDBState {
      // a zero-norm corpus vector has no direction — cosine is 0/0 — and
      // an unguarded NaN outranks every real hit under desc ordering.
      // Both paths must EXCLUDE zero vectors (the r9 review finding:
      // only the quantized path filtered them, silently breaking parity)
      val dim = 8
      def vec(seed: Int) = Array.tabulate(dim)(i => ((seed * 31 + i) % 7 - 3).toFloat)
      val base = (0L until 20L).map(i => (i, vec(i.toInt)))
      val rows = base :+ ((99L, Array.fill(dim)(0.0f))) // the planted zero
      val corpus = rows.toDF("vec_id", "embedding").cache()
      val queries = base.take(6) :+ ((98L, Array.fill(dim)(0.0f)))

      def run(name: String,
          f: org.apache.spark.sql.Dataset[(Long, Array[Float])] =>
            org.apache.spark.sql.Dataset[(Long, Long, Double)]): Map[Long, Seq[(Long, Double)]] = {
        val in = MemoryStream[(Long, Array[Float])]
        val q = f(in.toDS()).toDF("query_id", "vec_id", "cos").writeStream
          .format("memory").queryName(name).outputMode("append").start()
        in.addData(queries); q.processAllAvailable(); q.stop()
        spark.table(name).as[(Long, Long, Double)].collect()
          .groupBy(_._1)
          .map { case (qid, hits) =>
            qid -> hits.sortBy { case (_, id, cos) => (-cos, id) }
              .map(h => (h._2, h._3)).toSeq
          }
      }
      val f = run("sim_knn_zf", ds => Similarity.streamKnn(ds, corpus, k = 3))
      val qz = run("sim_knn_zq", ds => Similarity.streamKnnQuantized(ds, corpus, k = 3))
      assert(f == qz, s"zero-norm parity broke:\nfloat=$f\nquant=$qz")
      // neither path ranks the zero corpus vector or answers the zero query
      assert(!f.values.flatten.exists(_._1 == 99L))
      assert(!f.contains(98L))
      assert(f.values.flatten.forall(h => !h._2.isNaN))
      corpus.unpersist()
    }
  }

  private def runStream(name: String, queries: Seq[(Long, Array[Float])],
      f: org.apache.spark.sql.Dataset[(Long, Array[Float])] =>
        org.apache.spark.sql.Dataset[(Long, Long, Double)],
      inspect: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => ())
      : Map[Long, Seq[Long]] = {
    val in = MemoryStream[(Long, Array[Float])]
    val q = f(in.toDS()).toDF("query_id", "vec_id", "cos").writeStream
      .format("memory").queryName(name).outputMode("append").start()
    in.addData(queries); q.processAllAvailable()
    inspect(q)
    q.stop()
    spark.table(name).as[(Long, Long, Double)].collect()
      .groupBy(_._1)
      .map { case (qid, hits) =>
        qid -> hits.sortBy { case (_, id, cos) => (-cos, id) }.map(_._2).toSeq
      }
  }

  test("persisted AnnIndex: parity with the per-trigger paths; zero Exchange on the probe join's static side") {
    withRocksDBState {
      import graft.functions.AnnIndex
      val corpus = spark.read.parquet(sf() + "/embeddings.parquet")
        .select($"vec_id", $"embedding").cache()
      val queries = corpus.as[(Long, Array[Float])].collect().take(30).toSeq
      val h = AnnIndex.build(corpus, "simspec_ann", planes = 8, buckets = 8)

      // force the real join shape: at scale the corpus cannot broadcast,
      // so the assertion must hold for the shuffle-join plan
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prevBc = spark.conf.get(bcKey)
      spark.conf.set(bcKey, "-1")
      try {
        def staticSideClean(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
          import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
          import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
          val plan = q.asInstanceOf[StreamingQueryWrapper]
            .streamingQuery.lastExecution.executedPlan
          val probeJoins = plan.collect {
            case j: SortMergeJoinExec
              if j.leftKeys.exists(_.toString.contains("bucket")) => j
            case j: ShuffledHashJoinExec
              if j.leftKeys.exists(_.toString.contains("bucket")) => j
          }
          assert(probeJoins.nonEmpty, s"no shuffle join on bucket in:\n$plan")
          // the static (corpus) side is whichever join child scans the
          // bucketed probe table; it must contain NO shuffle at all
          val staticSides = probeJoins.flatMap(_.children)
            .filter(_.toString.contains(h.probeTable))
          assert(staticSides.nonEmpty, s"probe table not under the join:\n$plan")
          staticSides.foreach { side =>
            val ex = side.collect { case e: ShuffleExchangeExec => e }
            assert(ex.isEmpty, s"static side of the probe join shuffles:\n$side")
          }
        }
        val base = runStream("sim_idx_base", queries,
          ds => Similarity.streamKnn(ds, corpus, k = 5))
        val viaIdx = runStream("sim_idx_f", queries,
          ds => Similarity.streamKnn(ds, h, k = 5, nprobe = 1),
          inspect = staticSideClean)
        assert(viaIdx == base, "indexed float path diverged from the per-trigger path")
        val baseQ = runStream("sim_idx_qbase", queries,
          ds => Similarity.streamKnnQuantized(ds, corpus, k = 5))
        val viaIdxQ = runStream("sim_idx_q", queries,
          ds => Similarity.streamKnnQuantized(ds, h, k = 5, nprobe = 1),
          inspect = staticSideClean)
        assert(viaIdxQ == baseQ, "indexed quantized path diverged from the per-trigger path")
      } finally spark.conf.set(bcKey, prevBc)
      corpus.unpersist()
    }
  }

  test("multi-probe: probe sets nest, recall rises with nprobe, nprobe = 2^planes IS brute force") {
    withRocksDBState {
      import org.apache.spark.sql.functions._
      import graft.functions.native
      val dim = 16
      val planes = 4 // 16 buckets — exhaustive probing is reachable
      def vec(seed: Int): Array[Float] = {
        val r = new scala.util.Random(seed)
        Array.fill(dim)((r.nextGaussian() * 0.5).toFloat)
      }
      val corpus = (0L until 300L).map(i => (i, vec(i.toInt)))
        .toDF("vec_id", "embedding").cache()
      val queries = (1000 until 1030).map(s => (s.toLong, vec(s)))

      // ground truth: exact cosine top-5 per query over the whole corpus
      val truth: Map[Long, Seq[Long]] = queries.map { case (qid, qemb) =>
        val qn = math.sqrt(qemb.map(x => x.toDouble * x).sum)
        qid -> corpus
          .select($"vec_id",
            sqrt(native.double_dot($"embedding", $"embedding")).as("nrm"),
            native.double_dot(typedLit(qemb), $"embedding").as("dot"))
          .filter($"nrm" > 0)
          .select($"vec_id", ($"dot" / ($"nrm" * qn)).as("cos"))
          .as[(Long, Double)].collect()
          .sortBy { case (id, cos) => (-cos, id) }.take(5).map(_._1).toSeq
      }.toMap

      def recall(hits: Map[Long, Seq[Long]]): Double = {
        val per = queries.map { case (qid, _) =>
          val got = hits.getOrElse(qid, Nil).toSet
          truth(qid).count(got.contains).toDouble / truth(qid).size
        }
        per.sum / per.size
      }
      val r1 = recall(runStream("mp_1", queries,
        ds => Similarity.streamKnn(ds, corpus, k = 5, planes = planes, nprobe = 1)))
      val r4 = recall(runStream("mp_4", queries,
        ds => Similarity.streamKnn(ds, corpus, k = 5, planes = planes, nprobe = 4)))
      val all = runStream("mp_all", queries,
        ds => Similarity.streamKnn(ds, corpus, k = 5, planes = planes, nprobe = 16))
      val rAll = recall(all)
      // probe sets are nested (same perturbation ranking, take n), so
      // recall is monotone per construction — and full probing is exact
      assert(r1 <= r4 + 1e-12 && r4 <= rAll + 1e-12, s"recall not monotone: $r1 $r4 $rAll")
      assert(rAll == 1.0, s"nprobe = 2^planes must equal brute force, recall $rAll")
      assert(all == truth, "full multi-probe must return exactly the brute-force winners")
      assert(r1 < 1.0, "fixture vacuity: single-bucket probe already exact — shrink buckets")
      // quantized path honors nprobe identically
      val q4 = runStream("mp_q4", queries,
        ds => Similarity.streamKnnQuantized(ds, corpus, k = 5, planes = planes, nprobe = 4))
      val f4 = runStream("mp_f4", queries,
        ds => Similarity.streamKnn(ds, corpus, k = 5, planes = planes, nprobe = 4))
      assert(q4 == f4, "quantized multi-probe diverged from float multi-probe")
      corpus.unpersist()
    }
  }

  test("a growing AnnIndex: keyed appends become visible to a LIVE probe stream, still Exchange-free") {
    withRocksDBState {
      import graft.functions.AnnIndex
      val dim = 16
      def vec(seed: Int): Array[Float] = {
        val r = new scala.util.Random(seed)
        Array.fill(dim)((r.nextGaussian() * 0.5).toFloat)
      }
      val corpus0 = (0L until 200L).map(i => (i, vec(i.toInt)))
        .toDF("vec_id", "embedding")
      val h = AnnIndex.build(corpus0, "simspec_grow", planes = 8, buckets = 8)
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prevBc = spark.conf.get(bcKey)
      spark.conf.set(bcKey, "-1")
      try {
        val in = MemoryStream[(Long, Array[Float])]
        val q = Similarity.streamKnn(in.toDS(), h, k = 3, nprobe = 1)
          .toDF("query_id", "vec_id", "cos").writeStream
          .format("memory").queryName("grow_knn").outputMode("append").start()
        try {
          // trigger 1: probe vectors that are NOT yet in the index —
          // nothing matches them exactly
          in.addData((0 until 10).map(i => (2000L + i, vec(9000 + i))))
          q.processAllAvailable()
          val pre = spark.table("grow_knn").as[(Long, Long, Double)].collect()
          assert(pre.forall(_._3 < 0.999),
            "fixture vacuity: a pre-append query already had an exact match")
          assert(!pre.exists(_._2 >= 5000L))
          // grow the index through the keyed O(delta) path, mid-stream
          AnnIndex.append(spark, h,
            (0 until 10).map(i => (5000L + i, vec(9000 + i)))
              .toDF("vec_id", "embedding"), "grow-1")
          // trigger 2: the same vectors again — their appended copies
          // must now win at cosine ~ 1 (stream-static re-plans the
          // static side per trigger, so the new bucketed files count)
          in.addData((0 until 10).map(i => (3000L + i, vec(9000 + i))))
          q.processAllAvailable()
          val post = spark.table("grow_knn").filter($"query_id" >= 3000L)
            .as[(Long, Long, Double)].collect()
            .groupBy(_._1).map { case (qid, hits) =>
              qid -> hits.maxBy(t => (t._3, -t._2)) }
          (0 until 10).foreach { i =>
            val (_, vid, cos) = post(3000L + i)
            assert(vid == 5000L + i && cos > 0.9999,
              s"query ${3000 + i}: top hit $vid cos $cos — appended vector not visible to the live stream")
          }
          // and the zero-Exchange property survives the appended files:
          // the post-append execution still bucket-joins the probe table
          // with no shuffle on its side
          import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
          import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
          val plan = q.asInstanceOf[StreamingQueryWrapper]
            .streamingQuery.lastExecution.executedPlan
          val probeJoins = plan.collect {
            case j: SortMergeJoinExec
              if j.leftKeys.exists(_.toString.contains("bucket")) => j
            case j: ShuffledHashJoinExec
              if j.leftKeys.exists(_.toString.contains("bucket")) => j
          }
          assert(probeJoins.nonEmpty, s"no shuffle join on bucket in:\n$plan")
          val staticSides = probeJoins.flatMap(_.children)
            .filter(_.toString.contains(h.probeTable))
          assert(staticSides.nonEmpty, s"probe table not under the join:\n$plan")
          staticSides.foreach { side =>
            assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
              s"static side of the probe join shuffles after an append:\n$side")
          }
        } finally q.stop()
      } finally spark.conf.set(bcKey, prevBc)
    }
  }

  test("tombstoned ids vanish from a LIVE probe stream mid-run; parity with a reduced rebuild; still Exchange-free") {
    withRocksDBState {
      import graft.functions.AnnIndex
      val dim = 16
      def vec(seed: Int): Array[Float] = {
        val r = new scala.util.Random(seed)
        Array.fill(dim)((r.nextGaussian() * 0.5).toFloat)
      }
      // plant exact twins: corpus id 1000+i matches query vector 9000+i
      val rows = (0L until 200L).map(i => (i, vec(i.toInt))) ++
        (0 until 10).map(i => (1000L + i, vec(9000 + i)))
      val corpus = rows.toDF("vec_id", "embedding")
      val victims = (1000L until 1010L).toSeq
      val h = AnnIndex.build(corpus, "simspec_tomb", planes = 8, buckets = 8)
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val prevBc = spark.conf.get(bcKey)
      spark.conf.set(bcKey, "-1")
      try {
        val in = MemoryStream[(Long, Array[Float])]
        val q = Similarity.streamKnn(in.toDS(), h, k = 3, nprobe = 1)
          .toDF("query_id", "vec_id", "cos").writeStream
          .format("memory").queryName("tomb_knn").outputMode("append").start()
        try {
          // trigger 1: the planted twins win at cosine ~ 1
          in.addData((0 until 10).map(i => (2000L + i, vec(9000 + i))))
          q.processAllAvailable()
          val pre = spark.table("tomb_knn").as[(Long, Long, Double)].collect()
          assert((0 until 10).forall(i => pre.exists(t =>
              t._1 == 2000L + i && t._2 == 1000L + i && t._3 > 0.9999)),
            "fixture vacuity: planted twin not winning pre-tombstone")
          // takedown mid-stream — no restart
          AnnIndex.tombstone(spark, h, victims.toDF("vec_id"))
          // trigger 2: same vectors; the tombstoned twins must be gone
          // from EVERY hit (not just the top slot — they may not occupy
          // a k slot at all), and each query still gets k live hits
          in.addData((0 until 10).map(i => (3000L + i, vec(9000 + i))))
          q.processAllAvailable()
          val post = spark.table("tomb_knn").filter($"query_id" >= 3000L)
            .as[(Long, Long, Double)].collect()
          assert(!post.exists(t => victims.contains(t._2)),
            s"tombstoned ids still served to the live stream: ${post.filter(t => victims.contains(t._2)).toSeq}")
          assert(post.nonEmpty, "live hits vanished entirely with the tombstones")
          // (whether the freed top-k slots refill exactly like a reduced
          // rebuild is pinned by the parity check below — a single-bucket
          // probe may legitimately hold < k live vectors)
          // the broadcast anti-join must not have pushed a shuffle onto
          // the bucketed corpus side
          import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
          import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
          val plan = q.asInstanceOf[StreamingQueryWrapper]
            .streamingQuery.lastExecution.executedPlan
          val probeJoins = plan.collect {
            case j: SortMergeJoinExec
              if j.leftKeys.exists(_.toString.contains("bucket")) => j
            case j: ShuffledHashJoinExec
              if j.leftKeys.exists(_.toString.contains("bucket")) => j
          }
          assert(probeJoins.nonEmpty, s"no shuffle join on bucket in:\n$plan")
          val staticSides = probeJoins.flatMap(_.children)
            .filter(_.toString.contains(h.probeTable))
          assert(staticSides.nonEmpty, s"probe table not under the join:\n$plan")
          staticSides.foreach { side =>
            assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
              s"tombstone filter pushed a shuffle onto the corpus side:\n$side")
          }
        } finally q.stop()
        // the filtered stream equals one probing an index REBUILT without
        // the victims — tombstoning is semantically a rebuild, minus cost
        val filtered = runStream("tomb_filtered", (0 until 10).map(i => (1L * i, vec(9000 + i))),
          ds => Similarity.streamKnn(ds, h, k = 3, nprobe = 1))
        val ref = AnnIndex.build(
          corpus.filter(!$"vec_id".isin(victims: _*)), "simspec_tomb_ref",
          planes = 8, buckets = 8)
        val viaRef = runStream("tomb_ref", (0 until 10).map(i => (1L * i, vec(9000 + i))),
          ds => Similarity.streamKnn(ds, ref, k = 3, nprobe = 1))
        assert(filtered == viaRef, "tombstone filter diverged from a reduced rebuild")
        // quantized path honors the same tombstones
        val filteredQ = runStream("tomb_fq", (0 until 10).map(i => (1L * i, vec(9000 + i))),
          ds => Similarity.streamKnnQuantized(ds, h, k = 3, nprobe = 1))
        assert(filteredQ == viaRef, "quantized path diverged on tombstones")
        // fold, then a fresh stream sees identical results with no sidecar
        AnnIndex.compactTombstones(spark, h)
        val folded = runStream("tomb_folded", (0 until 10).map(i => (1L * i, vec(9000 + i))),
          ds => Similarity.streamKnn(ds, h, k = 3, nprobe = 1))
        assert(folded == viaRef, "compactTombstones changed query results")
      } finally spark.conf.set(bcKey, prevBc)
    }
  }

  test("knnBatchQuantized: winners == the float serving face; the pruned scan is int8-narrow; oversized probe sets skip the literal") {
    withRocksDBState {
      import graft.functions.AnnIndex
      val corpus = spark.read.parquet(sf() + "/embeddings.parquet")
        .select($"vec_id", $"embedding").cache()
      val queries = corpus.as[(Long, Array[Float])].collect().take(12).toSeq
      val h = AnnIndex.build(corpus, "simspec_serveq", planes = 8, buckets = 32)

      def canon(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        df.as[(Long, Long, Double)].collect().groupBy(_._1)
          .map { case (qid, hits) =>
            qid -> hits.sortBy { case (_, id, cos) => (-cos, id) }
              .map(_._2).toSeq
          }

      // quantized == float == streaming, single- and multi-probe — the
      // certified filter-verify margin cannot lose a true winner
      Seq(1, 4).foreach { np =>
        val float = canon(Similarity.knnBatch(queries.toDS(), h, k = 5, nprobe = np))
        val quant = canon(Similarity.knnBatchQuantized(queries.toDS(), h, k = 5, nprobe = np))
        assert(quant == float, s"quantized serving diverged from float at nprobe=$np")
        val streamed = runStream(s"serveq_base_$np", queries,
          ds => Similarity.streamKnn(ds, h, k = 5, nprobe = np))
        assert(quant == streamed, s"quantized serving diverged from streamKnn at nprobe=$np")
      }

      // the int8 probe scan is BOTH bucket-pruned AND narrow: it must
      // select fewer physical buckets than the table has, and must not
      // read the 4d-byte float embedding column (that is the rerank
      // side's job, by id, for survivors only)
      val served = Similarity.knnBatchQuantized(queries.toDS(), h, k = 5, nprobe = 1)
      served.collect()
      val plan = served.queryExecution.executedPlan
      val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r
        .findFirstMatchIn(plan.toString)
      assert(sel.isDefined, s"no bucket pruning in the quantized serve plan:\n$plan")
      assert(sel.get.group(2).toInt == 32 && sel.get.group(1).toInt < 32,
        s"probe scan did not prune: ${sel.get.group(1)} of ${sel.get.group(2)}")
      // string-level check (AQE stages hide their subtrees from
      // collect): the probe table's FileScan line lists its output
      // columns — the float embedding must not be among them
      val probeScanLines = plan.toString.linesIterator
        .filter(l => l.contains("FileScan") && l.contains("simspec_serveq_probe"))
        .toSeq
      assert(probeScanLines.nonEmpty, s"no probe-table scan in:\n$plan")
      probeScanLines.foreach(l =>
        assert(!l.contains("embedding#"),
          s"int8 probe scan reads the float embedding:\n$l"))

      // guard: a probe set covering more than half the bucket space
      // (nprobe = 2^planes here) skips the IN literal — it would prune
      // nothing — and winners still match brute-force streamKnn
      val full = Similarity.knnBatch(queries.take(4).toDS(), h, k = 5, nprobe = 256)
      full.collect()
      val fullPlan = full.queryExecution.executedPlan.toString
      // no IN-literal pushed anywhere, and any bucketed scan reads ALL
      // its physical buckets (Spark prints "n out of n" for a bucketed
      // join scan even without pruning)
      assert(!fullPlan.contains("In(bucket"),
        s"an unprunable probe set must skip the bucket literal:\n$fullPlan")
      """SelectedBucketsCount: (\d+) out of (\d+)""".r
        .findAllMatchIn(fullPlan).foreach(m =>
          assert(m.group(1) == m.group(2),
            s"unexpected bucket pruning without a literal: $m"))
      val fullStream = runStream("serveq_full", queries.take(4),
        ds => Similarity.streamKnn(ds, h, k = 5, nprobe = 256))
      assert(canon(full) == fullStream,
        "guarded (unpruned) knnBatch diverged from brute-force streamKnn")

      // the quantized serving loop: per-epoch parity with the batch face
      import scala.collection.mutable
      val byEpoch = mutable.Map.empty[Long, Map[Long, Seq[Long]]]
      val in = MemoryStream[(Long, Array[Float])]
      val q = Similarity.streamKnnServe(in.toDS(), h, k = 5, nprobe = 1,
        quantized = true) {
        (df, epoch) => byEpoch.synchronized { byEpoch(epoch) = canon(df) }
      }.option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("serveq_ck").toString).start()
      try {
        in.addData(queries.take(6)); q.processAllAvailable()
        in.addData(queries.drop(6)); q.processAllAvailable()
      } finally q.stop()
      assert(byEpoch.values.flatten.toMap == canon(
        Similarity.knnBatchQuantized(queries.toDS(), h, k = 5, nprobe = 1)),
        "the quantized serving loop diverged from its batch face")
      corpus.unpersist()
    }
  }

  test("knnBatch / streamKnnServe: winners == the streaming path; the corpus scan PRUNES to the probe set") {
    withRocksDBState {
      import graft.functions.AnnIndex
      val corpus = spark.read.parquet(sf() + "/embeddings.parquet")
        .select($"vec_id", $"embedding").cache()
      val queries = corpus.as[(Long, Array[Float])].collect().take(10).toSeq
      // more physical buckets than probes per batch — the pruning profit
      val h = AnnIndex.build(corpus, "simspec_serve", planes = 8, buckets = 32)

      def canon(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        df.as[(Long, Long, Double)].collect().groupBy(_._1)
          .map { case (qid, hits) =>
            qid -> hits.sortBy { case (_, id, cos) => (-cos, id) }
              .map(_._2).toSeq
          }

      // batch face == streaming face, single- and multi-probe
      Seq(1, 4).foreach { np =>
        val streamed = runStream(s"serve_base_$np", queries,
          ds => Similarity.streamKnn(ds, h, k = 5, nprobe = np))
        val batch = canon(Similarity.knnBatch(queries.toDS(), h, k = 5,
          nprobe = np))
        assert(batch == streamed,
          s"knnBatch diverged from streamKnn at nprobe=$np")
      }

      // the scan is bucket-pruned: the executed plan of the batch probe
      // selects strictly fewer physical buckets than the table has
      val served = Similarity.knnBatch(queries.toDS(), h, k = 5, nprobe = 1)
      served.collect()
      val plan = served.queryExecution.executedPlan.toString
      val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, s"no bucket pruning in the serve plan:\n$plan")
      val (selected, total) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
      assert(total == 32 && selected < total,
        s"probe scan did not prune: $selected of $total buckets")

      // the serving loop: per-epoch results land through consume and
      // equal the batch face per epoch
      import scala.collection.mutable
      val byEpoch = mutable.Map.empty[Long, Map[Long, Seq[Long]]]
      val in = MemoryStream[(Long, Array[Float])]
      val q = Similarity.streamKnnServe(in.toDS(), h, k = 5, nprobe = 1) {
        (df, epoch) => byEpoch.synchronized { byEpoch(epoch) = canon(df) }
      }.option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("serve_ck").toString).start()
      try {
        in.addData(queries.take(5)); q.processAllAvailable()
        in.addData(queries.drop(5)); q.processAllAvailable()
      } finally q.stop()
      val servedAll = byEpoch.values.flatten.toMap
      assert(servedAll == canon(
        Similarity.knnBatch(queries.toDS(), h, k = 5, nprobe = 1)),
        "the serving loop diverged from the batch face")
      corpus.unpersist()
    }
  }

  test("k = 0 or nprobe = 0 fails the call: no job runs, no stream starts") {
    import graft.functions.AnnIndex
    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val h = AnnIndex.build(corpus, "simspec_args", planes = 2, buckets = 2)
    val batch = Seq((10L, Array(1f, 0.5f))).toDS()
    val in = MemoryStream[(Long, Array[Float])]
    Seq((0, 1), (5, 0)).foreach { case (k, nprobe) =>
      val calls: Seq[(String, () => Any)] = Seq(
        "streamKnn(corpus)" -> (() => Similarity.streamKnn(in.toDS(), corpus, k = k, nprobe = nprobe)),
        "streamKnn(index)" -> (() => Similarity.streamKnn(in.toDS(), h, k = k, nprobe = nprobe)),
        "streamKnnQuantized(corpus)" ->
          (() => Similarity.streamKnnQuantized(in.toDS(), corpus, k = k, nprobe = nprobe)),
        "streamKnnQuantized(index)" ->
          (() => Similarity.streamKnnQuantized(in.toDS(), h, k = k, nprobe = nprobe)),
        "knnBatch" -> (() => Similarity.knnBatch(batch, h, k = k, nprobe = nprobe)),
        "knnBatchQuantized" -> (() => Similarity.knnBatchQuantized(batch, h, k = k, nprobe = nprobe)),
        "streamKnnServe" ->
          (() => Similarity.streamKnnServe(in.toDS(), h, k = k, nprobe = nprobe)((_, _) => ())))
      calls.foreach { case (name, call) =>
        val (e, jobs) = jobsDuring(intercept[IllegalArgumentException](call()))
        assert(e.getMessage.contains(s"k=$k, nprobe=$nprobe"), s"$name: ${e.getMessage}")
        assert(jobs == 0, s"$name ran $jobs jobs before failing")
      }
    }
    assert(spark.streams.active.isEmpty, "a failed call started a stream")
  }
}
