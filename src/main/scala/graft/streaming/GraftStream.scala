package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The streamz fluent surface as a thin Scala facade over Dataset/DataFrame.
  *
  * Mirrors the reference's design: "dataframes are only syntactic sugar on
  * core streams" (docs/source/dataframes.rst:48-51) — here every method
  * just declares more of the Catalyst plan. Works identically for batch
  * and streaming datasets. The keyed stateful/alignment operators
  * (accumulate, sliding_window, partition, unique-LRU, zip,
  * combine_latest, zip_latest) require the `(key, seq, value)` row shape,
  * so they are standalone functions in [[Stateful]], [[Windows]] and
  * [[Align]] rather than facade methods.
  *
  * streamz → graft mapping (reference cites in SURVEY §2.1):
  * map/filter/remove/pluck/flatten/union/unique/frequencies/accumulate/
  * sliding_window/partition/zip/combine_latest/zip_latest/sink.
  */
final class GraftStream[T](val ds: Dataset[T]) extends Serializable {
  private def spark = ds.sparkSession

  // --- element-wise (stateless, fully parallel) ---------------------------
  def map[U: Encoder](f: T => U): GraftStream[U] = new GraftStream(ds.map(f))
  def filter(p: T => Boolean): GraftStream[T] = new GraftStream(ds.filter(p))
  def remove(p: T => Boolean): GraftStream[T] = filter((t: T) => !p(t))
  def flatten[U: Encoder](implicit ev: T <:< IterableOnce[U]): GraftStream[U] =
    new GraftStream(ds.flatMap(t => ev(t)))
  def union(other: GraftStream[T]): GraftStream[T] = new GraftStream(ds.union(other.ds))

  /** streamz starmap (core.py:838): apply splatting the tuple element. */
  def starmap[A, B, U: Encoder](f: (A, B) => U)(implicit ev: T <:< (A, B)): GraftStream[U] =
    map(t => f(ev(t)._1, ev(t)._2))

  /** streamz map_async (core.py:722-835): concurrent evaluation of `f`
    * with ORDERED emission. Spark already parallelizes across partitions;
    * `parallelism > 1` additionally overlaps f-calls WITHIN a partition —
    * the reference's contract for an async f whose latency, not CPU,
    * dominates (an RPC per element, say). A sliding window of at most
    * `parallelism` in-flight Futures preserves input order on emission
    * (the reference emits in-order too) and bounds memory; f must be
    * thread-safe. With the default `parallelism = 1` this degenerates to
    * a plain sequential map with zero overhead.
    *
    * `stopOnException` mirrors the reference flag (core.py:755 default
    * False): when false, an element whose `f` throws is logged and DROPPED
    * and the stream continues; when true the exception propagates — the
    * task fails and, after Spark's retries, the query stops. (Nuance vs
    * the reference: its single process stops exactly once; Spark's unit of
    * failure is the task, so a retried task re-runs the partition.)
    */
  def mapAsync[U: Encoder](f: T => U, parallelism: Int = 1,
      stopOnException: Boolean = false): GraftStream[U] = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    def guarded(t: T): Option[U] =
      try Some(f(t))
      catch {
        case scala.util.control.NonFatal(e) if !stopOnException =>
          GraftStream.logDropped(e); None
      }
    if (parallelism == 1) new GraftStream(ds.mapPartitions(_.flatMap(guarded)))
    else new GraftStream(ds.mapPartitions { it =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      // prefill a bounded queue of Futures, then emit-head / submit-next:
      // at most `parallelism` elements are in flight, output order = input
      val buf = new scala.collection.mutable.Queue[Future[Option[U]]]()
      new Iterator[U] {
        private var ready: Option[U] = None
        private def fill(): Unit =
          while (buf.size < parallelism && it.hasNext) {
            val t = it.next()
            // blocking{}: f is expected to BLOCK (an RPC), so tell the
            // fork-join pool to spawn compensation threads — otherwise
            // effective parallelism is capped at core count and concurrent
            // Spark tasks starve each other on the shared global pool
            buf.enqueue(Future(scala.concurrent.blocking(guarded(t))))
          }
        private def advance(): Unit =
          while (ready.isEmpty && buf.nonEmpty) {
            // a dropped element (None) just advances to the next Future —
            // order among surviving elements is still input order
            ready = Await.result(buf.dequeue(), Duration.Inf)
            fill()
          }
        fill(); advance()
        override def hasNext: Boolean = ready.nonEmpty
        override def next(): U = {
          val out = ready.get
          ready = None
          advance()
          out
        }
      }
    })
  }

  // --- relational escape hatch --------------------------------------------
  def toDF: GraftFrame = new GraftFrame(ds.toDF())
  def select(cols: Column*): GraftFrame = new GraftFrame(ds.toDF().select(cols: _*))

  /** streamz frequencies (core.py:587): running count per distinct value
    * ("updating" — run with outputMode update). */
  def frequencies: GraftFrame = {
    val df = ds.toDF()
    new GraftFrame(df.groupBy(df.columns.toIndexedSeq.map(df(_)): _*)
      .agg(count(lit(1)).as("count")))
  }

  // --- terminal -----------------------------------------------------------
  /** streamz sink_to_list (core.py:571): memory sink, query named `name`. */
  def sinkToList(name: String, outputMode: String = "append"): StreamingQuery =
    ds.writeStream.format("memory").queryName(name).outputMode(outputMode).start()

  /** streamz sink (sinks.py:26-73): run `f` once per element. Unlike the
    * reference's single-process event loop, `f` runs *executor-side* where
    * the element lives (ForeachWriter) — no data ever crosses the driver,
    * so the sink scales with the cluster. `f` must be serializable; for
    * per-connection resources use [[foreachWriter]] with open/close hooks.
    *
    * Delivery semantics (the price of executor-side scale, vs the
    * reference's in-order single-threaded sink): `f` runs per *partition*
    * in parallel, so there is no global element order; and a failed task is
    * re-run, so `f` may see an element more than once (at-least-once).
    * Side-effecting `f` implementations must be idempotent — or key the
    * effect on (partitionId, epochId) from [[foreachWriter]]'s open() for
    * exactly-once against transactional targets.
    */
  def sink(f: T => Unit): StreamingQuery =
    foreachWriter(new org.apache.spark.sql.ForeachWriter[T] {
      def open(partitionId: Long, epochId: Long): Boolean = true
      def process(value: T): Unit = f(value)
      def close(errorOrNull: Throwable): Unit = ()
    })

  /** Full ForeachWriter form of [[sink]] for sinks that hold a resource
    * per partition (connections, file handles): open/process/close run on
    * the executor that owns the partition.
    */
  def foreachWriter(w: org.apache.spark.sql.ForeachWriter[T]): StreamingQuery =
    ds.writeStream.foreach(w).start()

  def writeStream: DataStreamWriter[T] = ds.writeStream
}

object GraftStream {
  // executor-side logging for mapAsync's drop-and-continue mode; the
  // object-method reference keeps the closure free of a Logger field
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.streaming.GraftStream")
  private def logDropped(e: Throwable): Unit =
    log.warn(s"mapAsync: dropping element after exception (stopOnException=false): $e")
}

/** Untyped (SDF) facade: a DataFrame plus a designated index column — the
  * stand-in for the pandas index (SURVEY §1.4). Aggregations return frames
  * meant for `update`/`complete` output ("updating" stream type,
  * collection.py:26-29); element-wise ops stay "streaming" (append).
  */
final class GraftFrame(val df: DataFrame, val indexCol: String = "ts",
    private val allowGlobalWindow: Boolean = false) {
  private def wrap(d: DataFrame) = new GraftFrame(d, indexCol, allowGlobalWindow)

  /** Opt in to un-keyed rolling/expanding windows. A window with no
    * partition keys plans as a SINGLE-partition WindowExec — the whole
    * stream funnels through one task, which reproduces the reference's
    * global-stream semantics but cannot scale. Deliberate escape hatch:
    * `gf.globalWindow().rollingSum(...)`; at scale always pass keys.
    */
  def globalWindow(): GraftFrame = new GraftFrame(df, indexCol, true)

  // --- projection / element-wise (dataframe/core.py:239-296) --------------
  def apply(col: String): Column = df(col)
  def pluck(cols: String*): GraftFrame = wrap(df.select(cols.map(df(_)): _*))
  def assign(name: String, c: Column): GraftFrame = wrap(df.withColumn(name, c))
  def query(sqlExpr: String): GraftFrame = wrap(df.filter(sqlExpr))
  def where(c: Column): GraftFrame = wrap(df.filter(c))
  def astype(col: String, to: String): GraftFrame = wrap(df.withColumn(col, df(col).cast(to)))
  def roundTo(col: String, scale: Int): GraftFrame = wrap(df.withColumn(col, round(df(col), scale)))
  def setIndex(col: String): GraftFrame = new GraftFrame(df, col)

  // --- global aggregations ("updating": run with outputMode update) -------
  def sumOf(col: String): GraftFrame = wrap(df.agg(sum(col).as(s"sum_$col")))
  def meanOf(col: String): GraftFrame = wrap(df.agg(avg(col).as(s"mean_$col")))
  def countAll(): GraftFrame = wrap(df.agg(count(lit(1)).as("count")))

  // --- grouped aggregations (dataframe/core.py:789-881) -------------------
  def groupby(cols: String*): GroupedGraftFrame =
    new GroupedGraftFrame(this, cols.map(df(_)))

  /** streamz value_counts (dataframe/core.py:394). */
  def valueCounts(col: String): GraftFrame =
    wrap(df.groupBy(df(col)).agg(count(lit(1)).as("count")))

  /** streamz nlargest (dataframe/core.py:222). */
  def nlargest(n: Int, col: String): GraftFrame =
    wrap(df.orderBy(df(col).desc).limit(n))

  /** Tumbling event-time window keyed on the index column with watermark —
    * the scale path for streamz timed_window/window(value=...).
    */
  def timedWindow(duration: String, watermark: String = "0 seconds"): GroupedGraftFrame = {
    // the window key must be built from the watermarked frame's column —
    // a column from the pre-watermark frame loses the event-time tag and
    // the aggregation is rejected in append mode
    val wdf = df.withWatermark(indexCol, watermark)
    new GroupedGraftFrame(new GraftFrame(wdf, indexCol), Seq(window(wdf(indexCol), duration)))
  }

  /** Gap-merged session windows keyed on the index column (beyond the
    * reference — Spark-native session_window; batch analog pinned by the
    * sessionize_events oracle query). `keyCols` separate concurrent
    * actors; the watermark closes sessions whose gap has passed, which is
    * what lets append mode emit each session exactly once.
    */
  def sessionWindow(gap: String, watermark: String, keyCols: String*): GroupedGraftFrame = {
    val wdf = df.withWatermark(indexCol, watermark)
    new GroupedGraftFrame(new GraftFrame(wdf, indexCol),
      session_window(wdf(indexCol), gap) +: keyCols.map(wdf(_)))
  }

  /** streamz timed_window_unique (core.py:1365): tumbling event-time window
    * deduplicated by `keyCols` within each window (keep = arrival-first;
    * works on batch and — with the watermark bounding state — streaming).
    */
  def timedWindowUnique(duration: String, watermark: String, keyCols: String*): GraftFrame =
    new GraftFrame(
      df.withWatermark(indexCol, watermark)
        .withColumn("__w", window(df(indexCol), duration))
        .dropDuplicates("__w" +: keyCols)
        .drop("__w"),
      indexCol)

  /** timed_window_unique keep="last" (core.py:1365-1481 `keep` param): a
    * duplicate key *replaces* the buffered element, so each window closes
    * with the key's most-recent row. Declarative streaming form: windowed
    * groupBy + max_by over the index column (append mode emits each
    * window's final rows once the watermark passes).
    *
    * Ties: two rows of a key with the same index value resolve
    * nondeterministically unless `tieBreak` names a column — then max_by
    * orders on struct(index, tieBreak) and the largest tieBreak wins
    * (e.g. an arrival sequence column reproduces the reference's
    * keep-last-arrived exactly; the batch ExtraOps variant uses event_id).
    */
  def timedWindowUniqueLast(duration: String, watermark: String,
      keyCols: Seq[String], tieBreak: Option[String] = None): GraftFrame = {
    val others = df.columns.filterNot(keyCols.contains).toSeq
    val wdf = df.withWatermark(indexCol, watermark)
    val ord = tieBreak match {
      case Some(tc) => struct(col(indexCol), col(tc))
      case None     => struct(col(indexCol))
    }
    val out = wdf
      .withColumn("__w", window(wdf(indexCol), duration))
      .groupBy((col("__w") +: keyCols.map(col)): _*)
      .agg(max_by(struct(others.map(col): _*), ord).as("__row"))
      .select(keyCols.map(col) ++ others.map(c => col(s"__row.$c").as(c)): _*)
    new GraftFrame(out, indexCol)
  }

  /** Varargs convenience overload of [[timedWindowUniqueLast]] (no tie-break). */
  def timedWindowUniqueLast(duration: String, watermark: String, keyCols: String*): GraftFrame =
    timedWindowUniqueLast(duration, watermark, keyCols.toSeq, None)

  /** streamz unique (core.py:1776), unbounded/watermark-bounded dedupe. */
  def unique(cols: String*): GraftFrame = new GraftFrame(df.dropDuplicates(cols), indexCol)

  // --- rolling / expanding / cumulative (dataframe/core.py:94-197) --------
  // Batch forms over the index order, optionally per key (the streaming
  // forms are the keyed stateful ops in Stateful/Windows). `keys` shards
  // the window — always pass keys at scale; an empty `keys` reproduces the
  // reference's single global stream (single-partition window) and must be
  // requested explicitly via [[globalWindow]].
  import org.apache.spark.sql.expressions.{Window => W, WindowSpec}
  private def win(keys: Seq[String]): WindowSpec = {
    require(keys.nonEmpty || allowGlobalWindow,
      "rolling/expanding with no keys plans a single-partition window " +
        "(the whole stream through one task); call .globalWindow() first " +
        "if the reference's un-keyed global stream is really what you want")
    if (keys.isEmpty) W.orderBy(df(indexCol))
    else W.partitionBy(keys.map(df(_)): _*).orderBy(df(indexCol))
  }

  /** rolling(n).agg over the trailing n rows (pandas-style row window). */
  def rollingAgg(n: Int, aggFn: Column => Column, c: String, keys: String*): GraftFrame =
    wrap(df.withColumn(s"rolling_$c",
      aggFn(df(c)).over(win(keys).rowsBetween(-(n - 1), W.currentRow))))

  def rollingSum(c: String, n: Int, keys: String*): GraftFrame = rollingAgg(n, sum, c, keys: _*)
  def rollingMean(c: String, n: Int, keys: String*): GraftFrame = rollingAgg(n, avg, c, keys: _*)
  def rollingMin(c: String, n: Int, keys: String*): GraftFrame = rollingAgg(n, min, c, keys: _*)
  def rollingMax(c: String, n: Int, keys: String*): GraftFrame = rollingAgg(n, max, c, keys: _*)

  /** rolling(n).quantile(q) (dataframe/core.py:94-127): linear-interpolating
    * quantile (pandas default) over the trailing n rows. Spark aggregates
    * like median/percentile reject window frames, so the ≤ n frame values
    * are gathered and the quantile interpolated in-row — O(n log n) per row
    * in the window length only, never in the partition size.
    */
  def rollingQuantile(c: String, n: Int, q: Double, keys: String*): GraftFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1]: $q")
    val arr = sort_array(collect_list(df(c))
      .over(win(keys).rowsBetween(-(n - 1), W.currentRow)))
    wrap(df.withColumn(s"rolling_$c",
      GraftFrame.interpQuantile(arr, lit(q))))
  }

  /** rolling(n).aggregate(custom) (dataframe/core.py:94-127): arbitrary fn
    * of the trailing-frame values, expressed as a Column function over the
    * gathered (arrival-ordered) frame array.
    */
  def rollingApply(n: Int, f: Column => Column, c: String, keys: String*): GraftFrame =
    wrap(df.withColumn(s"rolling_$c",
      f(collect_list(df(c)).over(win(keys).rowsBetween(-(n - 1), W.currentRow)))))

  /** expanding().agg — all history up to each row. */
  def expandingAgg(aggFn: Column => Column, c: String, keys: String*): GraftFrame =
    wrap(df.withColumn(s"expanding_$c",
      aggFn(df(c)).over(win(keys).rowsBetween(W.unboundedPreceding, W.currentRow))))

  def cumsum(c: String, keys: String*): GraftFrame = expandingAgg(sum, c, keys: _*)
  def cummin(c: String, keys: String*): GraftFrame = expandingAgg(min, c, keys: _*)
  def cummax(c: String, keys: String*): GraftFrame = expandingAgg(max, c, keys: _*)
  def expandingMean(c: String, keys: String*): GraftFrame = expandingAgg(avg, c, keys: _*)

  // --- updating-stream composition (dataframe/core.py:200-227) ------------
  /** Chain relational work AFTER a streaming aggregation — the reference's
    * `Frames`/`Seriess` ops, where every emission of an updating stream is
    * a whole revised table and downstream operators transform each revision
    * (e.g. `sdf.groupby(k).sum().nlargest(2)`). Spark rejects a second
    * aggregation/sort stacked on a streaming aggregate inside one query, so
    * the composition point is foreachBatch RE-ENTRY: each trigger
    * materializes the CURRENT aggregate in `complete` mode, `continue` runs
    * on it as an ordinary batch frame (any relational op — sort, limit,
    * second aggregation, join), and the result REPLACES the published temp
    * view `name` — exactly the replace-the-last-emission contract of the
    * reference's updating streams.
    *
    * Readers consume `spark.table(s"global_temp.$name")`: always one
    * complete, current result. (GLOBAL temp view because foreachBatch runs
    * on a cloned session — a session-local view would land in the clone's
    * catalog, invisible to the caller.) Epoch caches are retired on a
    * one-generation delay: a reader that resolved the view just before a
    * swap keeps scanning a STILL-CACHED previous epoch (unpersisting it
    * at swap time would evict blocks mid-scan and force recomputation of
    * a streaming micro-batch plan whose state-store version may already
    * be gone); only the grandparent epoch — no longer reachable through
    * the view for a full trigger interval — is unpersisted. The last
    * epoch stays published and cached after the query stops, so the view
    * keeps serving the final result; call [[GraftFrame.dropReentered]]
    * to release both when done.
    */
  def reenter(name: String)(continue: DataFrame => DataFrame): StreamingQuery = {
    df.writeStream.outputMode("complete").queryName(s"reenter_$name")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val out = continue(batch).persist()
        out.count() // materialize before swapping the published view
        out.createOrReplaceGlobalTempView(name)
        GraftFrame.retireEpoch(name, out)
        ()
      }.start()
  }

  def writeStream: DataStreamWriter[org.apache.spark.sql.Row] = df.writeStream
}

object GraftFrame {
  import org.apache.spark.sql.functions._

  // per-view (current, previous) epoch caches for reenter — previous is
  // kept alive one trigger so readers mid-scan never lose their blocks
  private val reentered =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame)]()

  private[streaming] def retireEpoch(name: String, next: DataFrame): Unit = {
    val old = reentered.put(name, (next, Option(reentered.get(name)).map(_._1).orNull))
    if (old != null && old._2 != null) old._2.unpersist()
  }

  /** Release a [[GraftFrame.reenter]] view after its query stopped: drops
    * the global temp view and unpersists the retained epoch caches. */
  def dropReentered(spark: SparkSession, name: String): Unit = {
    spark.catalog.dropGlobalTempView(name)
    val last = reentered.remove(name)
    if (last != null) {
      if (last._1 != null) last._1.unpersist()
      if (last._2 != null) last._2.unpersist()
    }
  }

  /** Linear-interpolating quantile of a *sorted* array column (pandas /
    * QUANTILE_CONT semantics): position p = (n-1)q, result =
    * arr[⌊p⌋] + (p-⌊p⌋)(arr[⌈p⌉] - arr[⌊p⌋]). element_at is 1-based.
    * An empty array yields null (pandas NaN) — collect_list drops nulls,
    * so an all-null rolling frame reaches here as an empty array.
    */
  def interpQuantile(sortedArr: Column, q: Column): Column = {
    val n = size(sortedArr)
    val p = (n - 1).cast("double") * q
    val lo = floor(p).cast("int")
    val hi = ceil(p).cast("int")
    val vlo = element_at(sortedArr, lo + 1)
    val vhi = element_at(sortedArr, hi + 1)
    when(n === 0, lit(null)).otherwise(vlo + (p - lo) * (vhi - vlo))
  }
}

final class GroupedGraftFrame(parent: GraftFrame, keys: Seq[Column]) {
  private def agg(e: Column): GraftFrame =
    new GraftFrame(parent.df.groupBy(keys: _*).agg(e), parent.indexCol)

  def sumOf(col: String): GraftFrame = agg(sum(col).as(s"sum_$col"))
  def meanOf(col: String): GraftFrame = agg(avg(col).as(s"mean_$col"))
  def countAll(): GraftFrame = agg(count(lit(1)).as("count"))
  def varOf(col: String): GraftFrame = agg(var_samp(col).as(s"var_$col"))
  def stdOf(col: String): GraftFrame = agg(stddev_samp(col).as(s"std_$col"))
}
