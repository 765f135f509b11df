package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, graftbridge}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, RelationProvider, StreamSinkProvider,
  StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.functions.TableLog

/** `format("tablelog")` — the lake layer as a plain Spark data source,
  * batch AND stream, so a session that never touches the graft Scala
  * API (SQL, Python, a BI tool) can still read committed snapshots:
  *
  *  - batch: `spark.read.format("tablelog").load(dir)` plans the same
  *    manifest-pinned parquet relation as
  *    [[graft.functions.TableLog.read]] — the file list is answered
  *    from the manifest (zero directory listings, orphans of crashed
  *    commits never served) and every pushable filter prunes files
  *    against the recorded per-file stats through the
  *    [[graft.functions.ManifestFileIndex]]. Time travel via
  *    `.option("versionAsOf", v)`, exactly
  *    [[graft.functions.TableLog.readAt]] (era-correct schema, loud
  *    beyond-retention error). SQL: `CREATE TABLE t USING tablelog
  *    OPTIONS (path '<dir>')` then query `t` — note Spark CACHES the
  *    resolved relation per session, so `t` serves the snapshot pinned
  *    at first use until `REFRESH TABLE t` (or a new session) re-runs
  *    `createRelation` — the standard external-commit contract of
  *    every DSv1 path-based table.
  *  - stream read: `spark.readStream.format("tablelog")` is the
  *    version-offset tail ([[TableLogTailProvider]] — exactly-once,
  *    per-batch stats pruning, `since` / `maxVersionsPerTrigger`
  *    options; the engine's offsets WAL is the read position, and the
  *    cap is admission control counted from it). With
  *    `.option("readChangeFeed", "true")` the same offsets deliver the
  *    row-level change feed (`_change_type` ∈ {append, delete} +
  *    `_commit_version` —
  *    [[graft.functions.TableLog.readTailChanges]]), the standing-
  *    mirror shape; drift opt-out is rejected for it.
  *  - stream write: `df.writeStream.format("tablelog")` commits each
  *    micro-batch through [[graft.functions.TableLog.appendBatch]] —
  *    exactly-once per checkpoint (the writer identity comes from
  *    `checkpointLocation` via
  *    [[graft.functions.TableLog.runKeyFor]], so same-checkpoint
  *    replays dedup against the table's commit map while a fresh
  *    checkpoint appends under a fresh key). Append mode only; schema
  *    drift against the table's recorded schema fails loudly at the
  *    first batch, before any file lands — unless
  *    `.option("mergeSchema", "true")` opts ADD-ONLY drift into an
  *    automatic evolve (drops/type changes stay loud; see
  *    [[graft.functions.TableLog.alignMerging]]).
  *  - batch write: `df.write.format("tablelog").mode("append")
  *    .save(dir)` is a one-shot committed append (each call its own
  *    writer identity — no replay ledger to honor); `ErrorIfExists`
  *    and `Ignore` carry their usual meaning against "the table
  *    exists"; `Overwrite` is rejected loudly (destructive replacement
  *    of a versioned log is `restore`/`exportAt` territory, not a save
  *    mode).
  *
  * The relation pins the manifest resolved at `load()` time — the
  * snapshot-isolation contract every TableLog reader has; re-`load()`
  * to see later commits. Registered through the `DataSourceRegister`
  * service file, so the short name works with only the graft jar on
  * the classpath. */
final class TableLogProvider extends RelationProvider
    with StreamSourceProvider with StreamSinkProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "tablelog"

  private def dirOf(parameters: Map[String, String]): String =
    parameters.get("path").orElse(parameters.get("dir")).getOrElse(
      throw new IllegalArgumentException(
        "the tablelog source needs the table directory: .load(<dir>) or " +
          ".option(\"dir\", <dir>)"))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = dirOf(parameters)
    if (parameters.get("readChangeFeed").exists(_.trim.toBoolean))
      return changeFeedRelation(sqlContext, dir, parameters)
    require(!(parameters.contains("versionAsOf") &&
        parameters.contains("timestampAsOf")),
      "versionAsOf and timestampAsOf are mutually exclusive — a read " +
        "pins ONE snapshot")
    val m = parameters.get("versionAsOf") match {
      case Some(v) => TableLog.manifestAt(spark, dir, v.toLong)
      case None => parameters.get("timestampAsOf") match {
        case Some(ts) =>
          val ms = TableLog.parseTravelTimestamp(spark, ts)
          TableLog.manifestAt(spark, dir, TableLog.versionAt(spark, dir, ms))
        case None => TableLog.latest(spark, dir).getOrElse(
          throw new IllegalStateException(
            s"$dir has no committed manifest — not a TableLog table (or " +
              "never written)"))
      }
    }
    // pre-schema v1 manifests fall back to single-file footer inference
    // (TableLog.schemaOf); those files carry no recorded stats, so
    // pruning is conservative (every file kept) either way
    TableLog.hadoopRelation(spark, dir, m, TableLog.schemaOf(spark, dir, m))
  }

  /** The row-level change feed as a batch relation:
    * `option("readChangeFeed", "true")` + `option("since", v)` (the
    * version to read changes AFTER — exclusive, `-1` = from the
    * beginning) + optional `option("until", v)`. Rows are
    * [[graft.functions.TableLog.readChanges]]'s: the table's columns
    * plus `_change_type` ∈ {append, delete} and `_commit_version`,
    * multiset-exact for folding a mirror. A plain TableScan with no
    * pushdown — the feed is already a delta, pruned to the files the
    * commits touched. */
  private def changeFeedRelation(ctx: SQLContext, dir: String,
      parameters: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val since = parameters.getOrElse("since", throw new IllegalArgumentException(
      "readChangeFeed needs .option(\"since\", <version>) — the version " +
        "to read changes AFTER (exclusive); -1 reads from the beginning"))
      .toLong
    val until = parameters.get("until").map(_.toLong).getOrElse(Long.MaxValue)
    val df = TableLog.readChanges(spark, dir, since, until)._1.getOrElse {
      // empty feed: still the pinned table shape plus the tag columns
      val m = TableLog.latest(spark, dir).getOrElse(
        throw new IllegalStateException(s"$dir has no committed manifest"))
      val s = m.schema.getOrElse(TableLog.read(spark, dir).schema)
      // non-nullable tags, matching the data path's lit() columns and
      // the streaming face — the schema must not flip with emptiness
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        TableLogTailProvider.tagged(s))
    }
    new BaseRelation with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = df.schema
      override def buildScan(): org.apache.spark.rdd.RDD[
        org.apache.spark.sql.Row] = df.rdd
      override def toString: String = s"TableLogChangeFeed[$dir]"
    }
  }

  // the streaming face under the same short name: the version-offset
  // tail, with `path` (set by `.load(dir)`) accepted as `dir`
  private val tail = new TableLogTailProvider

  private def withDir(parameters: Map[String, String]): Map[String, String] =
    if (parameters.contains("dir")) parameters
    else parameters.get("path").fold(parameters)(p => parameters + ("dir" -> p))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    tail.sourceSchema(sqlContext, schema, providerName, withDir(parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    tail.createSource(sqlContext, metadataPath, schema, providerName,
      withDir(parameters))

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val spark = sqlContext.sparkSession
    val dir = dirOf(parameters)
    require(outputMode == OutputMode.Append(),
      s"the tablelog sink is an append-only commit log: output mode " +
        s"$outputMode is not expressible as appends (aggregate first, " +
        "or land updates through foreachBatch + delete/appendBatch)")
    require(partitionColumns.isEmpty,
      "the tablelog sink does not partition by directory — clustering " +
        "is compact(layoutBy)/trackStats territory")
    // the per-checkpoint writer identity: same checkpoint ⇒ same runKey
    // ⇒ a replayed batchId dedups against the table's commit map. The
    // sink only SEES the checkpoint when it arrives as a writer OPTION;
    // a checkpoint resolved from the session conf
    // (spark.sql.streaming.checkpointLocation + queryName) is invisible
    // here, and a per-start random key under a durable checkpoint would
    // re-commit the engine's replayed batch after every crash — fail
    // loudly instead of silently weakening exactly-once to
    // at-least-once. (No checkpoint at all fails in the engine's own
    // validation before a batch ever runs.)
    val runKey = parameters.get("checkpointLocation")
      .map(ck => TableLog.runKeyFor(spark, ck))
      .getOrElse {
        if (spark.conf.getOption(
            "spark.sql.streaming.checkpointLocation").isDefined)
          throw new IllegalArgumentException(
            "the tablelog sink derives its exactly-once writer identity " +
              "from the checkpoint, which it can only see as a writer " +
              "option — pass .option(\"checkpointLocation\", ...) " +
              "explicitly instead of relying on the session-conf default")
        java.util.UUID.randomUUID().toString
      }
    val merge = mergeSchemaOpt(parameters)
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // re-root the micro-batch as a plain batch frame (the v1 sink
        // contract hands a streaming-tagged plan; appendBatch writes
        // through the batch writer)
        val batch = graftbridge.asBatchDataFrame(data)
        val aligned =
          if (merge) TableLog.alignMerging(spark, dir, batch) else batch
        TableLog.appendBatch(aligned, dir, runKey, batchId)
      }
      override def toString: String = s"TableLogSink[$dir]"
    }
  }

  /** `mergeSchema = true` on either write surface maps ADD-ONLY schema
    * drift to [[graft.functions.TableLog.evolve]] before the append —
    * drops and type changes stay loud ([[graft.functions.TableLog
    * .alignMerging]]) — so a SQL/Python-only writer survives an
    * upstream column add without a Scala operator evolving the table
    * for it. Off by default: silent widening is an opt-in. */
  private def mergeSchemaOpt(parameters: Map[String, String]): Boolean =
    parameters.get("mergeSchema").exists(_.trim.toBoolean)

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = dirOf(parameters)
    val exists = TableLog.latest(spark, dir).isDefined
    mode match {
      case SaveMode.Append => ()
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"$dir is already a TableLog table (SaveMode.ErrorIfExists)")
      case SaveMode.Ignore =>
        if (exists) return createRelation(sqlContext, parameters)
      case SaveMode.Overwrite =>
        throw new UnsupportedOperationException(
          s"SaveMode.Overwrite would destroy $dir's committed history — " +
            "a versioned log is rolled back with TableLog.restore or " +
            "replaced via exportAt to a fresh directory, never by a " +
            "silent save-mode overwrite")
    }
    // one-shot committed append: each call is its own writer identity
    // (there is no replay ledger to honor for ad-hoc batch writes)
    val aligned =
      if (mergeSchemaOpt(parameters)) TableLog.alignMerging(spark, dir, data)
      else data
    TableLog.appendBatch(aligned, dir,
      s"batchwrite-${java.util.UUID.randomUUID()}", 0L)
    createRelation(sqlContext, parameters)
  }
}
