package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession, graftbridge}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset,
  ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

import graft.functions.TableLog

/** Streaming offset = TableLog version. Monotone by construction (the
  * commit log's rename-CAS hands out strictly increasing versions). */
final case class TableVersionOffset(v: Long) extends V1Offset {
  override def json: String = v.toString
}

/** The DSv1 streaming source behind
  * [[graft.functions.TableLog.readTailVersions]]: offsets are table
  * VERSIONS, and each micro-batch `(start, end]` is planned as a
  * file-source relation over exactly the append-contributed files of
  * those versions — resolved through the manifests
  * ([[graft.functions.TableLog.appendedEntries]], O(delta) manifest
  * reads), served by a [[graft.functions.ManifestFileIndex]] so the
  * consumer's pushed dataFilters prune the batch's files against the
  * recorded per-file stats before any of them is opened.
  *
  * DSv1 (`execution.streaming.Source`) rather than DSv2 is deliberate
  * and is the same choice Spark's own `FileStreamSource` makes: the
  * per-batch data lives in parquet files best read by Spark's native
  * scan (column pruning, footer pushdown, vectorized decode, whole-
  * stage codegen), and only the v1 interface lets a source hand the
  * engine a PLAN (`getBatch`) instead of row-shipping partitions.
  *
  * Admission control is `SupportsAdmissionControl`, as in Spark's own
  * `FileStreamSource`: the engine's offsets WAL is the one record of the
  * read position, so the source keeps none of its own ([[latestOffset]]).
  * `Trigger.AvailableNow` is `SupportsTriggerAvailableNow`, also as in
  * `FileStreamSource`: the head at query start bounds every window
  * ([[prepareForTriggerAvailableNow]]), so the query drains it in capped
  * batches and stops.
  *
  * Delivery: exactly-once. The batch is derived purely from committed
  * manifests, so a writer crash can never leak an orphaned file into a
  * batch, and a version is emitted in exactly one batch — offsets are
  * checkpointed by the engine and the manifest diff for a replayed
  * `(start, end]` is deterministic while retention holds. A consumer
  * lagging past [[graft.functions.TableLog.vacuum]]'s manifest
  * retention fails loudly ("left retention") instead of silently
  * skipping appends — size the vacuum grace to the maximum consumer
  * lag, exactly like changelog retention. */
final class TableLogTailSource(spark: SparkSession, dir: String,
                               pinned: StructType, pinnedAt: Long, since: Long,
                               maxVersionsPerTrigger: Option[Int],
                               consumerId: String,
                               failOnSchemaDrift: Boolean,
                               pinnedExplicitly: Boolean,
                               changeFeed: Boolean = false,
                               updateKey: Option[String] = None)
    extends Source with SupportsTriggerAvailableNow {

  /** In change-feed mode the emitted rows carry the two tag columns on
    * top of the pinned table schema ([[graft.functions.TableLog
    * .readChanges]]'s shape — ONE construction, shared with the
    * provider so `sourceSchema` and `Source.schema` can never drift). */
  private val emitted: StructType =
    if (!changeFeed) pinned else TableLogTailProvider.tagged(pinned)

  override def schema: StructType = emitted

  /** The uncapped head the last [[latestOffset]] saw, for
    * [[reportLatestOffset]]: progress then shows how far the capped
    * window (`endOffset`) trails the table (`latestOffset`). */
  @volatile private var seenHead: Option[Long] = None

  /** The head [[prepareForTriggerAvailableNow]] recorded: under
    * `Trigger.AvailableNow` every window ends at or below it, so the
    * query drains what was committed when it started — in
    * `maxVersionsPerTrigger`-sized batches — and then stops. */
  @volatile private var availableNowHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = Some(TableLog.latestVersion(spark, dir).getOrElse(since))

  /** `start` is the engine's recovered offset (null before a fresh
    * checkpoint's first batch — the window then opens at `since`), so a
    * capped offer `start + cap` never rewinds below a committed offset,
    * across restarts and cap changes alike. A head at or below `since`
    * is NO data (the contract is "versions AFTER since"). The cap applies
    * whatever `ReadLimit` the engine passes (Trigger.Once passes
    * allAvailable), and under `Trigger.AvailableNow` so does the
    * recorded head. The v2 [[TableLogV2TailStream]] delegates here. */
  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    // version-number peek: no manifest or segment reads — the
    // availability probe must stay O(1) in table size
    seenHead = TableLog.latestVersion(spark, dir).filter(_ > since)
    seenHead.map(h => availableNowHead.fold(h)(math.min(h, _)))
      .filter(_ > since).map { head =>
        val from = Option(start).fold(since)(_.json.toLong)
        TableVersionOffset(maxVersionsPerTrigger.fold(head)(n =>
          math.min(head, from + n)))
      }.orNull
  }

  override def reportLatestOffset(): V2Offset =
    seenHead.map(TableVersionOffset(_)).orNull

  override def getOffset: Option[V1Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** The start version the engine uses when no offset is checkpointed
    * yet — the v2 `MicroBatchStream.initialOffset` ([[TableLogV2]]
    * shares this source as its control plane). */
  private[sources] def sinceVersion: Long = since

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val fromV = start.map(_.json.toLong).getOrElse(since)
    val toV = end.json.toLong
    admitWindow(fromV, toV)
    if (changeFeed) return changeBatch(fromV, toV)
    val delta =
      if (toV <= fromV) Vector.empty
      else TableLog.appendedEntries(spark, dir, fromV, toV)
    if (delta.isEmpty)
      // streaming-tagged empty relation: the engine asserts isStreaming
      // on every substituted batch plan, empty deltas included
      graftbridge.ofRows(spark,
        LocalRelation(DataTypeUtils.toAttributes(pinned), Nil, isStreaming = true))
    else {
      val m = TableLog.Manifest(version = toV, files = delta, rows = 0L,
        commits = Map.empty, op = "tail", schemaJson = Some(pinned.json))
      graftbridge.ofRows(spark, LogicalRelation(
        TableLog.hadoopRelation(spark, dir, m, pinned), isStreaming = true))
    }
  }

  /** The schema-drift guard shared by BOTH streaming faces (this v1
    * source's [[getBatch]] and the v2 [[TableLogV2]] micro-batch
    * stream) — ONE implementation, so the two faces can never drift on
    * the rule. */
  private[sources] def admitWindow(fromV: Long, toV: Long): Unit = {
    if (failOnSchemaDrift && toV > fromV && toV > pinnedAt) {
      // schema-drift guard: every batch is planned with the schema
      // pinned at source creation, so an evolve/dropColumn committed
      // AFTER the pin would otherwise be silently invisible (added
      // column absent) or silently null-filled (dropped column) from
      // this batch on. The newest version of the window carries the
      // era's recorded schema in its head (one small file read); any
      // mismatch fails the query loudly — restart the stream to re-pin
      // (COMPATIBILITY.md documents the procedure; on restart, windows
      // at or below the new pin read pre-drift files under the newest
      // schema, the same straddling semantics as appendsSince).
      // Deliberately only the window HEAD is compared: a drift that is
      // already REVERTED by toV (evolve-add then dropColumn within one
      // window) means recorded == pinned == the table's CURRENT schema,
      // and delivering the window under it is exactly what a fresh
      // consumer re-pinned today would read — checking every head in
      // the window would cost O(window) reads to reject a benign case.
      // `failOnSchemaDrift=false` (the `failOnSchemaDrift` option) is
      // for signal-only consumers that never act on the rows
      // ([[graft.examples.IndexFollower.follow]] uses the tail purely
      // as a change signal) — a legal corpus evolve must not wedge
      // them.
      TableLog.headAt(spark, dir, toV).flatMap(_.schema).foreach { recorded =>
        if (!TableLog.sameSchema(recorded, pinned)) {
          val header = s"schema drift under a live tail of $dir: version " +
            s"$toV records\n  ${recorded.simpleString}\nbut this stream " +
            s"pinned\n  ${pinned.simpleString}\nat creation (version " +
            s"$pinnedAt). "
          // name the likely CAUSE: an explicit .schema(...) that simply
          // disagrees with the table (the compare is order-sensitive, so
          // a mere field-order difference lands here too) is an operator
          // mistake at stream creation, not a mid-stream evolution —
          // pointing that operator at "an evolve was committed" sends
          // them hunting a commit that never happened
          val orderOnly = TableLog.sameSchema(
            StructType(recorded.fields.sortBy(_.name)),
            StructType(pinned.fields.sortBy(_.name)))
          val cause =
            if (pinnedExplicitly)
              "The schema passed at stream creation disagrees with the " +
                "table's recorded schema" +
                (if (orderOnly) " in FIELD ORDER only — pass the fields " +
                  "in the table's order" else "") +
                "; fix the explicit schema (or drop it to pin the " +
                "table's own), or pass failOnSchemaDrift=false for a " +
                "signal-only consumer. "
            else
              "An evolve/dropColumn was committed mid-stream; restart " +
                "the streaming query to re-pin the table's current " +
                "schema (failOnSchemaDrift=false opts a signal-only " +
                "consumer out). "
          throw new IllegalStateException(header + cause +
            "No rows of this batch were delivered")
        }
      }
    }
  }

  /** The change-feed window `(fromV, toV]`: [[graft.functions.TableLog
    * .readChanges]]'s rows — appends from append commits, delete rows
    * diffed from a delete/restore commit's swapped files — re-rooted as
    * a streaming-tagged plan over the batch diff
    * ([[graftbridge.asStreamingDataFrame]]): tagging the diff's LEAVES
    * streaming would hand the incremental planner its `exceptAll` as a
    * stateful streaming join. Deterministic for a replayed window while
    * retention holds (the same exactly-once argument as the append
    * tail); a consumer lagging past manifest retention fails loudly
    * inside readChanges. The drift guard has already passed when this
    * runs, so the window head's recorded schema IS this stream's pinned
    * schema and the emitted shape is stable. */
  private def changeBatch(fromV: Long, toV: Long): DataFrame = {
    def empty = graftbridge.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(emitted), Nil,
        isStreaming = true))
    if (toV <= fromV) empty
    else updateKey.fold(TableLog.readChanges(spark, dir, fromV, toV))(k =>
      TableLog.readChangesWithUpdates(spark, dir, fromV, toV, k))._1 match {
      case Some(df) =>
        // align to THIS stream's pinned schema: readChanges pins each
        // window to the WINDOW HEAD's era schema, so a window lying
        // entirely before an evolve/dropColumn in the table's history
        // (toV <= pinnedAt — the drift guard is correctly silent)
        // arrives era-shaped: fewer or extra columns than this stream
        // declares. Wrapping that frame in `emitted` unaligned would
        // bind the tag columns positionally into the wrong ordinals —
        // corrupted rows, not an error. Null-fill/project to the
        // pinned shape instead, the same straddling semantics as the
        // append tail (pre-drift files read under the newest schema;
        // null-filled fields are evolve-added and therefore nullable).
        import org.apache.spark.sql.functions.{col, lit}
        val have = df.schema.fieldNames.toSet
        val aligned = df.select(pinned.fields.toIndexedSeq.map { f =>
          if (have.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        } ++ Seq(col("_change_type"), col("_commit_version")): _*)
        graftbridge.asStreamingDataFrame(aligned, emitted)
      case None => empty
    }
  }

  /** The engine committed everything through `end`: renew this
    * consumer's retention lease so vacuum keeps the manifests the NEXT
    * delta needs ([[graft.functions.TableLog.renewLease]] — a lagging
    * registered tail survives aggressive vacuums). Advisory by design:
    * a failed renewal must never fail a batch the engine already
    * committed — worst case the lease goes stale and retention reverts
    * to the grace-window contract. */
  override def commit(end: V1Offset): Unit =
    try TableLog.renewLease(spark, dir, consumerId, end.json.toLong)
    catch { case scala.util.control.NonFatal(_) => () }

  // no lease release on stop: a stopped stream usually RESUMES from its
  // checkpoint and still needs its retained manifests — expiry (or an
  // explicit releaseLease on decommission) retires it
  override def stop(): Unit = ()
}

/** `spark.readStream.format(classOf[TableLogTailProvider].getName)`
  * provider. Options: `dir` (the TableLog table directory, required);
  * `since` (start version: emit appends of versions AFTER this one;
  * default = the head version at source creation, i.e. live appends
  * only; `-1` = from the beginning while version 0 is retained);
  * `sinceTimestamp` (clock form of the same: resolved ONCE through
  * the travel timeline to the newest version at-or-before the
  * instant — an instant after the newest commit means "from now on",
  * before the retained window is a loud error — then persisted
  * exactly like `since`; mutually exclusive with it);
  * `maxVersionsPerTrigger` (bound each micro-batch to at most this many
  * source versions — without it, a consumer starting deep in the
  * backlog plans the ENTIRE history as one batch, the
  * maxFilesPerTrigger concern at version granularity; the window is
  * counted from the engine's checkpointed offset, so the option may be
  * added, changed or dropped across restarts). An explicit
  * `.schema(...)` starts the tailer before the table's first commit
  * (the consumer-first deployment order); otherwise the schema is the
  * table's recorded one. */
final class TableLogTailProvider extends StreamSourceProvider {

  private def dirOf(parameters: Map[String, String]): String =
    parameters.getOrElse("dir", throw new IllegalArgumentException(
      "TableLogTailProvider requires a 'dir' option naming the table directory"))

  private def resolveSchema(spark: SparkSession,
      schema: Option[StructType], parameters: Map[String, String]): StructType =
    schema.getOrElse {
      val dir = dirOf(parameters)
      // head lines only — materializing the full file list to read one
      // schema line would cost O(segments) per query (re)start
      TableLog.latestHead(spark, dir).flatMap(_.schema).getOrElse(
        throw new IllegalStateException(
          s"$dir has no schema-recording manifest — pass the schema " +
            "explicitly to tail a table that has not been written yet"))
    }

  /** `updateImages=true` (+ the mandatory `keyColumn`) upgrades the
    * change-feed stream to [[graft.functions.TableLog
    * .readChangesWithUpdates]]'s tags: an upsert's replaced keys arrive
    * as `update_preimage`/`update_postimage` pairs. Same emitted
    * schema (the tag column is a string either way), so mirrors that
    * fold plain tags are unaffected unless they opt in. */
  private def updateKeyOf(parameters: Map[String, String]): Option[String] = {
    val want = parameters.get("updateImages").exists(_.trim.toBoolean)
    if (!want) return None
    require(parameters.get("readChangeFeed").exists(_.trim.toBoolean),
      "updateImages is a change-feed option — set readChangeFeed=true")
    Some(parameters.getOrElse("keyColumn",
      throw new IllegalArgumentException(
        "updateImages needs .option(\"keyColumn\", <col>) — the key " +
          "upsertByKey/applyDelta replaced by (the commit records the " +
          "op, not the key)")))
  }

  private def changeFeedOf(parameters: Map[String, String]): Boolean = {
    val cf = parameters.get("readChangeFeed").exists(_.trim.toBoolean)
    // a change-feed consumer acts on every row by definition — letting
    // it run past a drift would fold mis-shaped rows into a mirror.
    // Signal-only consumers use the plain tail. Checked here (called
    // from sourceSchema) so the rejection surfaces at load(), not on
    // the stream thread.
    require(!cf || parameters.get("failOnSchemaDrift").forall(_.toBoolean),
      "readChangeFeed cannot be combined with failOnSchemaDrift=false: " +
        "a mirror consumer must re-pin on schema drift (restart the " +
        "stream); use the plain tail for signal-only consumption")
    cf
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val base = resolveSchema(sqlContext.sparkSession, schema, parameters)
    // validate the option combination AND the key's existence at load():
    // a typo'd keyColumn would otherwise run fine for days and fail only
    // when the first upsert commit enters a window
    updateKeyOf(parameters).foreach(k =>
      require(base.fieldNames.contains(k),
        s"updateImages keyColumn '$k' is not a column of the stream " +
          s"(${base.fieldNames.mkString(", ")})"))
    ("graft-tablelog-tail",
      if (changeFeedOf(parameters)) TableLogTailProvider.tagged(base)
      else base)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val dir = dirOf(parameters)
    // one head read resolves BOTH the pinned schema and the version it
    // was pinned at (the drift guard's boundary): resolving them from
    // separate listings could straddle a racing evolve — a pin-version
    // NEWER than the pinned schema would skip the guard for exactly the
    // drifted window
    val head = TableLog.latestHead(spark, dir)
    val pinned = schema.getOrElse(head.flatMap(_.schema).getOrElse(
      throw new IllegalStateException(
        s"$dir has no schema-recording manifest — pass the schema " +
          "explicitly to tail a table that has not been written yet")))
    val pinnedAt = head.map(_.version).getOrElse(-1L)
    // `since` must resolve to the SAME value on every re-creation of
    // this source under one checkpoint: the engine can log an offset
    // and crash before the batch commits, then replay
    // getBatch(start = None, end) on restart — a default since
    // re-resolved to the NEW head (which includes the logged versions)
    // would make that replay empty and silently skip them. The first
    // creation resolves (the option, else the current head) and
    // persists under metadataPath; every later creation reads it back
    // (so changing the option on an existing checkpoint is a no-op —
    // the documented "consulted only before the first batch" contract).
    val sincePath = new Path(metadataPath.stripSuffix("/"), "since-resolved")
    val fs = sincePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val since =
      if (fs.exists(sincePath)) {
        val in = fs.open(sincePath)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      } else {
        // `sinceTimestamp` is clock sugar over the same contract:
        // resolve through the travel timeline
        // (TableLog.retainedCommitTimes — the manifest-mtime step
        // function every TIMESTAMP AS OF face reads) to the newest
        // version at-or-before the instant, then "versions AFTER
        // since" delivers exactly the commits after it. Resolved ONCE
        // here and persisted like `since`. Unlike a snapshot read, an
        // instant AFTER the newest commit is a fine stream start —
        // "from now on" = the head, live appends only (versionAt's
        // reproducibility error is about answering what a table WAS;
        // a tail only promises what comes after) — and an instant on
        // an uncommitted table starts from the beginning. Only an
        // instant BEFORE the retained window keeps versionAt's loud
        // error: a consumer asking for more history than retention
        // holds must hear that, not silently start later.
        require(!(parameters.contains("since") &&
            parameters.contains("sinceTimestamp")),
          "since and sinceTimestamp are mutually exclusive — one start point")
        val v = parameters.get("since").map(_.toLong)
          .orElse(parameters.get("sinceTimestamp").map { ts =>
            val ms = TableLog.parseTravelTimestamp(spark, ts)
            val times = TableLog.retainedCommitTimes(spark, dir)
            if (times.isEmpty) -1L
            else if (ms >= times.last._2) times.last._1
            else TableLog.versionAt(spark, dir, ms)
          })
          .getOrElse(TableLog.latestVersion(spark, dir).getOrElse(-1L))
        TableLog.atomicWriteSmall(fs, sincePath, v.toString)
        v
      }
    val maxV = parameters.get("maxVersionsPerTrigger").map(_.toInt)
    maxV.foreach(n => require(n >= 1, s"maxVersionsPerTrigger must be >= 1: $n"))
    // the lease identity defaults to a stable digest of the checkpoint's
    // source path — the same checkpoint keeps one lease across restarts,
    // a fresh checkpoint draws a fresh one; `consumerId` names it
    // explicitly (and is what releaseLease takes at decommission time)
    val consumerId = parameters.getOrElse("consumerId", {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val d = md.digest(metadataPath.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      "tail-" + d.take(8).map("%02x".format(_)).mkString
    })
    val failOnDrift =
      parameters.get("failOnSchemaDrift").forall(_.toBoolean)
    val changeFeed = changeFeedOf(parameters) // re-validates the opt-out
    new TableLogTailSource(spark, dir, pinned, pinnedAt, since,
      maxV, consumerId, failOnDrift, pinnedExplicitly = schema.isDefined,
      changeFeed = changeFeed, updateKey = updateKeyOf(parameters))
  }
}

object TableLogTailProvider {
  /** The change feed's emitted shape: the table schema plus the two
    * NON-NULLABLE tag columns ([[graft.functions.TableLog.readChanges]]'s
    * contract) — the single construction behind the streaming source,
    * its provider, and the batch relation's empty-feed path. */
  private[sources] def tagged(base: StructType): StructType = {
    Seq("_change_type", "_commit_version").foreach(c =>
      require(!base.fieldNames.contains(c),
        s"the change feed cannot tag this table: it already has a '$c' column"))
    StructType(base.fields)
      .add("_change_type", org.apache.spark.sql.types.StringType,
        nullable = false)
      .add("_commit_version", org.apache.spark.sql.types.LongType,
        nullable = false)
  }
}
