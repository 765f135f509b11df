package graft.queries

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, RepartitionOperation}
import org.apache.spark.sql.execution.{ProjectExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, SparkSuite}

/** Plan-shape assertions: the physical plans the 100 TB deployment needs —
  * dimension joins broadcast, filters pushed to the parquet scan, column
  * pruning in ReadSchema, no shuffle in narrow per-row pipelines. These
  * run on the real queries so a plan regression (a broadcast silently
  * becoming a sort-merge join, a filter no longer pushed) fails CI, not
  * the cluster.
  */
class PlanSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  test("dimension joins are broadcast hash joins") {
    Seq("join_inner_agg", "join_multiway", "dedup_ngram_jaccard").foreach { q =>
      assert(plan(q).contains("BroadcastHashJoin"), s"$q lost its broadcast join")
    }
    assert(!plan("join_multiway").contains("SortMergeJoin"),
      "join_multiway should never shuffle the fact side")
  }

  test("ANN candidate join broadcasts the query set") {
    val p = plan("similarity_ann_lsh")
    assert(p.contains("BroadcastHashJoin"), s"bucket join not broadcast:\n$p")
  }

  test("filters are pushed to the parquet scan") {
    val p = plan("filter_where")
    assert(p.contains("PushedFilters: [") && p.contains("event_type"),
      s"filter not pushed down:\n$p")
  }

  test("projection prunes the scan schema") {
    val p = plan("pluck_select")
    // customer has 8 columns; the scan must read only the 3 selected
    assert(p.contains("ReadSchema") && !p.contains("c_acctbal"),
      s"column pruning failed:\n$p")
  }

  test("narrow per-row pipelines have no shuffle") {
    Seq("map_project", "elementwise_ops", "astype_round").foreach { q =>
      assert(!plan(q).contains("Exchange"), s"$q unexpectedly shuffles")
    }
  }

  test("filter-verify knn: k=1 threshold is a hash aggregate, not a window") {
    // the kth-best pass must stay on slim rows — for k=1 that means a
    // max() aggregate and exactly ONE Window (the final exact rank);
    // a second Window would mean the wide side regrew a sort
    val p = plan("embed_knn")
    val windows = "(?m)^\\s*\\W*Window ".r.findAllIn(p).size
    assert(windows == 1, s"embed_knn should plan exactly one Window, got $windows:\n$p")
    assert(p.contains("HashAggregate"), s"kth threshold lost its aggregate:\n$p")
  }

  test("embedding near-dup never degenerates into an all-pairs product") {
    val p = plan("dedup_embed_cosine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dedup_embed_cosine must stay an equi-join on (band, bucket):\n$p")
    // the r9 bucket-occupancy cap: the rank filter must pre-prune
    // map-side (WindowGroupLimit), the domain_cap shape — without it the
    // fixed 4×256 bucket space makes the self-join quadratic in corpus
    // size (measured 100.8× at 40× data before the cap)
    assert(p.contains("WindowGroupLimit"),
      s"dedup_embed_cosine lost the bucket-occupancy pre-prune:\n$p")
  }

  test("whole-stage codegen covers the scan->project pipelines") {
    // codegen stages render as "*(n)" in the plan string
    Seq("map_project", "multimodal_meta").foreach { q =>
      assert(plan(q).contains("*("), s"$q fell out of codegen:\n${plan(q)}")
    }
  }

  test("BPE tokenization is a narrow pipeline (no join, no agg, no key shuffle)") {
    val p = plan("text_bpe_merges")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"text_bpe_merges grew a wide step:\n$p")
    // the only Exchange allowed is the test-data spread() repartition
    assert(!p.contains("Exchange hashpartitioning"),
      s"text_bpe_merges should not key-shuffle:\n$p")
    // the full query's word-stat columns use higher-order functions
    // (interpreted eval); the BpeEncode kernel itself must stay codegen —
    // assert on a bare projection of it
    import org.apache.spark.sql.functions.size
    val bare = graft.Tables(spark, sf(), "documents")
      .select(size(graft.functions.native.bpe_tokens(
        org.apache.spark.sql.functions.col("text"))).as("n"))
      .queryExecution.executedPlan.toString
    assert(bare.contains("*("), s"BpeEncode fell out of codegen:\n$bare")
  }

  test("river_ols is one full aggregate — no join, no window") {
    val p = plan("river_ols")
    assert(p.contains("HashAggregate") && !p.contains("Join") && !p.contains("Window"),
      s"river_ols should be a single reduction:\n$p")
  }

  test("bounded slice is top-k, not a full range shuffle") {
    // GlobalOrder.slice: per-task top-hi heaps + one merge; a range
    // exchange of the full input here would be the 100 TB regression
    val p = plan("slice_rows")
    assert(p.contains("TakeOrderedAndProject"),
      s"slice_rows lost its top-k plan:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"slice_rows must not range-shuffle the full input:\n$p")
  }

  test("curation per-row stages are zero-shuffle narrow pipelines") {
    // the r8 rep_metrics kernel plan: scan -> kernel project -> filter,
    // nothing wide; the r7 explode+agg form paid two Exchanges + a join.
    // spread()'s RoundRobin repartition is permitted: it is the engine's
    // standard parallelism adapter for the single-row-group local files
    // (a no-op wherever the scan already has >= defaultParallelism
    // splits) — what the pin must forbid is a KEYED exchange, which
    // would mean the per-row stage grew a data-dependent shuffle
    Seq("quality_repetition", "text_pii_redact").foreach { q =>
      val p = plan(q)
      val keyed = p.linesIterator.exists(l =>
        l.contains("Exchange") && !l.contains("RoundRobinPartitioning"))
      assert(!keyed && !p.contains("Join"),
        s"$q must stay a narrow per-row plan (no keyed exchange, no join):\n$p")
    }
  }

  test("normalize and heuristic quality are zero-shuffle narrow pipelines") {
    Seq("text_normalize", "quality_heuristics").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange") && !p.contains("Join"),
        s"$q must stay a narrow per-row plan:\n$p")
    }
  }

  test("sketch builds are single-pass object-hash aggregates") {
    // TypedImperativeAggregate sketches must plan as ObjectHashAggregate:
    // each map task folds to ONE fixed-size buffer before any exchange —
    // a SortAggregate here would mean a per-task sort the sketch never
    // needs; a missing aggregate would mean the build degenerated into
    // the exact-distinct shuffle the sketch exists to avoid
    Seq("sketch_hll_distinct", "sketch_countmin_topk",
        "sketch_vocab_by_lang").foreach { q =>
      assert(plan(q).contains("ObjectHashAggregate"),
        s"$q lost the single-pass sketch aggregate:\n${plan(q)}")
    }
  }

  test("bloom decontamination probes via one broadcast row, no wide corpus join") {
    // the bitset attaches through a broadcast nested loop of exactly one
    // row (that IS the intended shape); the corpus must never sort-merge
    // or range-shuffle against the eval side
    val p = plan("sketch_bloom_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bitset should attach as a 1-row broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus side grew a wide join:\n$p")
  }

  test("hashed clustering: the argmin is one narrow pass, corpus never joins at all") {
    // r17 shape: the bounded centroid model folds into the projection as
    // dense literals (the semanticDedup pattern) — no join of any kind;
    // the only exchanges are the feature count and the per-doc fold
    val p = plan("cluster_docs_hashed")
    assert(!p.contains("Join"),
      s"cluster_docs_hashed grew a join the literal model made unnecessary:\n$p")
    assert(!p.contains("Window"),
      s"the argmin must be array_min, not a rank window:\n$p")
  }

  test("mix_temperature: the corpus path is broadcast-joined, never shuffled wide") {
    // the corpus is scanned for the tiny count agg and the admission
    // join; the rates side (10 rows) must reach it as a broadcast —
    // a sort-merge join on mix_src would shuffle the whole corpus
    val p = plan("mix_temperature")
    assert(p.contains("BroadcastHashJoin"), s"rate join lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"mix_temperature must never sort-merge the corpus:\n$p")
  }

  test("dedup_semantic: narrow quantizer, candidates stay equi-joins") {
    val p = plan("dedup_semantic")
    // the quantizer is a per-row least() over driver-side centroid
    // constants (Lsh.nearestCentroid) — no crossJoin, no aggregation
    // stage for assignment; the only joins are the (cid, band, bucket)
    // candidate equi-join and the id join-backs. A cartesian or
    // nested-loop join here is the O(n^2) blowup the blocking prevents.
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dedup_semantic degenerated into an all-pairs product:\n$p")
  }

  test("chunk_documents is a pure in-row explode — no join, no agg, no key shuffle") {
    val p = plan("chunk_documents")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"chunk_documents grew a wide step:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunk_documents should not key-shuffle:\n$p")
  }

  test("domain_cap keeps only local top-N per domain before the shuffle") {
    // the rk <= N filter over row_number must trigger WindowGroupLimit:
    // each map task pre-prunes to its local top-N per domain, so a
    // billion-doc domain ships <= N*tasks rows into the exchange, not
    // its full population
    val p = plan("domain_cap")
    assert(p.contains("WindowGroupLimit"),
      s"domain_cap lost its rank-bounded pre-shuffle prune:\n$p")
  }

  test("profile_constraints is one scan (Expand is the exact-distinct cost)") {
    // multiple exact COUNT(DISTINCT)s plan an Expand over ONE scan of the
    // table; a second FileScan would mean the profile reads the data per
    // column. (The approximate at-scale twin is sketch_hll_distinct.)
    val p = plan("profile_constraints")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"profile must read the table once, got $scans scans:\n$p")
    assert(p.contains("Expand"), s"exact multi-distinct should plan an Expand:\n$p")
  }

  test("span removal: chunk counts are partial-agg safe, no pair join") {
    // the chunk-frequency aggregate must partial-aggregate map-side (a
    // boilerplate chunk concentrates into one count row); the join back
    // must stay a hash equi-join on the chunk hash
    val p = plan("dedup_span_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dedup_span_removal must never pair documents:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"chunk counting lost its hash aggregate:\n$p")
  }

  test("asof join is one keyed window pass — no join operator at all") {
    // the point-in-time match compiles to union + window, not a range
    // join: any Join node here means the plan regressed to per-row
    // range probing
    val p = plan("join_asof")
    assert(!p.contains("Join"), s"join_asof must not plan a join:\n$p")
    assert("(?m)^\\s*\\W*Window ".r.findAllIn(p).nonEmpty,
      s"join_asof lost its window pass:\n$p")
  }

  test("ranked z-order: bucket maps broadcast, the corpus never shuffles wide") {
    // the two per-dim histograms are tiny (<= |distinct| rows); they must
    // reach the row stream as broadcasts — a sort-merge join here would
    // shuffle the whole corpus for a <=1024-row lookup table
    val p = plan("zorder_layout_ranked")
    assert(p.contains("BroadcastHashJoin"), s"bucket join lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"zorder_layout_ranked must never sort-merge the corpus:\n$p")
  }

  test("salted join replicates the dim side (Generate) and stays an equi-join") {
    val p = plan("join_skew_salted")
    assert(p.contains("Generate"), s"salt replication (explode) missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"salted join degenerated:\n$p")
  }

  test("interval join stays an equi-join on (type, time-bin)") {
    // the theta predicate (|Δt| <= band) must reach the plan as a
    // post-join filter over an equi-join, never a nested loop over the
    // event stream
    val p = plan("join_range_band")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"join_range_band degenerated into a nested-loop theta join:\n$p")
  }

  test("media near-dup pair joins stay equi-joins on (band, bucket)") {
    // the shared phashPairs plan: a cartesian/nested-loop here is the
    // O(n^2) blowup the banding exists to prevent
    Seq("dedup_image_phash", "dedup_audio_fingerprint", "dedup_video_phash")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$q degenerated into an all-pairs product:\n$p")
      }
  }

  /** The query executions `body` runs: the eager cuts a query makes
    * while it is built, then its write. */
  private def executions(body: => Unit): Seq[QueryExecution] = {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.sql.graftbridge.drainListenerBus(spark)
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.sql.graftbridge.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(l)
    qes.toArray(Array.empty[QueryExecution]).toSeq
  }

  private def isKernel(e: Expression): Boolean =
    e.getClass.getName.startsWith("graft.functions.")
  private def kernels(e: Expression): Seq[String] =
    e.collect { case k if isKernel(k) => k.getClass.getSimpleName }
  private def kernels(p: LogicalPlan): Seq[String] =
    p.collect { case n => n.expressions.flatMap(kernels) }.flatten

  /** A filter reading a kernel's output, pushed below a repartition,
    * runs the kernel in the scan stage (the 1-task stage at test scale). */
  private def kernelFiltersUnderRepartition(p: LogicalPlan): Seq[String] =
    for (r <- p.collect { case r: RepartitionOperation => r };
         f <- r.collect { case f: Filter => f }; k <- kernels(f.condition))
    yield s"$k in a Filter under a repartition"

  private def executedPlans(q: String): Seq[LogicalPlan] =
    executions(SparkEntry.queries(q)(spark, sf()).write.format("noop").mode("overwrite").save())
      .map(_.optimizedPlan)

  /** Filters that evaluate a kernel some other node of their unary chain
    * (the nodes above and below it up to the nearest join, union or leaf)
    * also evaluates: the kernel then runs twice on every row. */
  private def kernelsFilteredTwice(p: LogicalPlan): Seq[String] = {
    def below(n: LogicalPlan): List[LogicalPlan] = n.children match {
      case Seq(c) if c.children.size == 1 => c :: below(c)
      case _ => Nil
    }
    def walk(n: LogicalPlan, above: List[LogicalPlan]): Seq[String] = {
      val here = n match {
        case f: Filter =>
          for (k <- f.condition.collect { case k if isKernel(k) => k };
               m <- above ++ below(f)
               if m.expressions.exists(_.exists(_.semanticEquals(k))))
          yield s"${k.getClass.getSimpleName} in a Filter and in its ${m.nodeName}"
        case _ => Nil
      }
      val next = if (n.children.size == 1) n :: above else Nil
      here ++ n.children.flatMap(walk(_, next))
    }
    walk(p, Nil)
  }

  /** The optimized plans of every query's executions, run once and shared. */
  private lazy val allPlans: Map[String, Seq[LogicalPlan]] =
    SparkEntry.queries.keys.toSeq.sorted.map(q => q -> executedPlans(q)).toMap

  test("widened text kernels are never pushed below the repartition in a filter") {
    Seq("dedup_decontaminate", "dedup_ngram_jaccard", "dedup_substring",
        "dedup_span_removal", "text_fingerprint", "dedup_simhash").foreach { q =>
      val plans = allPlans(q)
      assert(plans.exists(_.exists(_.isInstanceOf[RepartitionOperation])),
        s"vacuity: $q must widen its scan at test scale")
      assert(plans.flatMap(kernelFiltersUnderRepartition).isEmpty,
        s"$q: a kernel in a filter under a repartition:\n${plans.mkString("\n")}")
    }
  }

  test("every kernel runs once per row: no kernel filter under a repartition or beside its projection") {
    val offenders = allPlans.toSeq.sortBy(_._1).flatMap { case (q, ps) =>
      ps.flatMap(p => kernelFiltersUnderRepartition(p) ++ kernelsFilteredTwice(p))
        .distinct.map(o => s"$q: $o")
    }
    assert(offenders.isEmpty, offenders.mkString("kernels evaluated twice per row:\n", "\n", ""))
  }

  test("kernels run once per row: no pushed-down filter re-runs one, the signature stage is full width") {
    val width = spark.sparkContext.defaultParallelism
    val expect = Map(
      "quality_repetition" -> Map("RepMetrics" -> 1, "Tokens" -> 1),
      "dedup_minhash_lsh" -> Map("Shingles3" -> 1, "MinHashSigs" -> 1),
      "dedup_minhash_production" -> Map("Shingles3" -> 1, "MinHashSigs" -> 1),
      "dedup_clusters" -> Map("Shingles3" -> 1, "MinHashSigs" -> 1))
    for ((q, want) <- expect) {
      val qes = executions(SparkEntry.queries(q)(spark, sf())
        .write.format("noop").mode("overwrite").save())
      val plans = qes.map(_.optimizedPlan)
      val counts = plans.flatMap(kernels).groupBy(identity).map { case (k, v) => k -> v.size }
      for ((k, n) <- want)
        assert(counts.getOrElse(k, 0) == n,
          s"$q: $k appears ${counts.getOrElse(k, 0)} times, want $n:\n${plans.mkString("\n")}")
      assert(plans.flatMap(kernelFiltersUnderRepartition).isEmpty,
        s"$q: a kernel in a filter under a repartition:\n${plans.mkString("\n")}")
      if (want.contains("MinHashSigs")) {
        val stage = qes.flatMap(qe => collect(qe.executedPlan) {
          case p: ProjectExec if p.projectList.exists(e => kernels(e).contains("MinHashSigs")) => p
        })
        assert(stage.size == 1, s"$q: want one signature projection, got ${stage.size}")
        assert(stage.head.outputPartitioning.numPartitions == width,
          s"$q: the signature stage runs ${stage.head.outputPartitioning.numPartitions} tasks, want $width")
      }
    }
  }
}
