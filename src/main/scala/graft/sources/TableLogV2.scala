package graft.sources

import java.util

import scala.collection.mutable.LinkedHashMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset => V2Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write,
  WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter,
  PartitionDirectory, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.{ManifestFileIndex, StagedParquet, TableLog}

/** `format("tablelogv2")` — the DSv2 face of the TableLog lake (the
  * v1 deprecation de-risk: Spark's investment is in the
  * `TableProvider`/`SupportsRead`/`SupportsWrite` contracts, while
  * `format("tablelog")` rides DSv1):
  *
  *  - '''batch read''' + `versionAsOf`: planned as a native
  *    `ParquetScan` whose file list is answered by the SAME
  *    [[graft.functions.ManifestFileIndex]] as every v1 reader — zero
  *    directory listings, orphans of crashed commits never served, and
  *    every pushed data filter prunes files against the recorded
  *    per-file stats ([[ManifestPinnedFileIndex.listFiles]] delegates
  *    to the manifest index, so the v1 and v2 paths can never drift on
  *    the pruning rule).
  *  - '''micro-batch read''' (`spark.readStream.format("tablelogv2")`):
  *    the version-offset tail as a native `MicroBatchStream` — offsets
  *    ARE table versions, each window plans a `ParquetScan` over
  *    exactly that window's append-contributed files, and the CONTROL
  *    PLANE (since resolution, the `maxVersionsPerTrigger` admission
  *    cap, the schema-drift guard, retention leases) is the v1
  *    [[TableLogTailSource]] itself, delegated to — one implementation
  *    of every tail rule, two engine faces. `since` /
  *    `maxVersionsPerTrigger` / `consumerId` / `failOnSchemaDrift`
  *    options as on v1. The change feed stays on the v1 short name
  *    (its delete rows are a composed diff plan, which only the v1
  *    `getBatch` contract can hand the engine); asking for
  *    `readChangeFeed` here redirects loudly.
  *  - '''batch write''' (`df.write.format("tablelogv2").mode("append")
  *    .save(dir)`): task-side parquet writers stage to a scratch dir,
  *    and the driver's `BatchWrite.commit` lands the staged files
  *    through [[graft.functions.TableLog.commitStagedFiles]] — the
  *    SAME fence/footer-harvest/group-commit path as
  *    [[graft.functions.TableLog.appendBatch]]. A first save CREATES
  *    the table (the engine passes the query's schema as external
  *    metadata, so `AppendData` resolves against it); overwrite is
  *    rejected by the engine (no `SupportsTruncate` — a versioned log
  *    is rolled back with restore, never clobbered).
  *    `option("mergeSchema", "true")` maps add-only drift to an evolve
  *    exactly as the v1 surfaces do (both write faces honor it).
  *  - '''streaming write''' (`df.writeStream.format("tablelogv2")`):
  *    exactly-once per checkpoint — the writer identity comes from the
  *    `checkpointLocation` option via
  *    [[graft.functions.TableLog.runKeyFor]] and each epoch commits
  *    (or fences, on a replay) through the commit map, exactly the v1
  *    sink's ledger contract. A first epoch CREATES the table (the
  *    engine skips table-schema validation for streaming sinks), so
  *    the consumer-first deployment order needs no bootstrap.
  *
  * The table pins the manifest resolved at `load()` time — the
  * snapshot-isolation contract every TableLog reader has. */
final class TableLogV2 extends TableProvider with DataSourceRegister {

  override def shortName(): String = "tablelogv2"

  // user-specified schemas are accepted (the engine then skips
  // inferSchema); the manifest-recorded schema is the normal path
  override def supportsExternalMetadata(): Boolean = true

  private def dirOf(options: util.Map[String, String]): String = {
    val ci = new CaseInsensitiveStringMap(options)
    Option(ci.get("path")).orElse(Option(ci.get("dir"))).getOrElse(
      throw new IllegalArgumentException(
        "the tablelogv2 source needs the table directory: .load(<dir>) " +
          "or .option(\"dir\", <dir>)"))
  }

  // resolved ONCE per provider instance and (dir, versionAsOf): the
  // engine calls inferSchema and then getTable separately, and
  // resolving the manifest independently in each would let a racing
  // commit pin the FILE LIST to a different version than the SCHEMA —
  // e.g. a concurrent dropColumn between the two calls would serve the
  // new files under the old schema, resurrecting the dropped column.
  // One resolution per load() is also what the v1 path does. A MISSING
  // table resolves to None — loud for reads (see TableLogV2Table), and
  // exactly what a first streaming write needs (the sink creates the
  // table at its first epoch).
  private val resolved = new java.util.concurrent.ConcurrentHashMap[
    (String, Option[String]), Option[TableLog.Manifest]]()

  private def manifestOf(
      options: util.Map[String, String]): Option[TableLog.Manifest] = {
    val spark = SparkSession.active
    val dir = dirOf(options)
    val ci = new CaseInsensitiveStringMap(options)
    val vAsOf = Option(ci.get("versionAsOf"))
    val tAsOf = Option(ci.get("timestampAsOf"))
    require(vAsOf.isEmpty || tAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive — a read " +
        "pins ONE snapshot")
    // the cache key carries the RAW option (prefixed to keep the two
    // forms distinct); the timestamp->version resolution happens inside
    // computeIfAbsent so inferSchema and getTable — called separately
    // by the engine — can never resolve the same option to two
    // different versions across a racing commit or vacuum
    val key = vAsOf.map("v" + _).orElse(tAsOf.map("t" + _))
    resolved.computeIfAbsent((dir, key), _ => key match {
      case Some(k) if k.startsWith("v") =>
        Some(TableLog.manifestAt(spark, dir, k.drop(1).toLong))
      case Some(k) =>
        val ms = TableLog.parseTravelTimestamp(spark, k.drop(1))
        Some(TableLog.manifestAt(spark, dir, TableLog.versionAt(spark, dir, ms)))
      case None => TableLog.latest(spark, dir)
    })
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    manifestOf(options) match {
      case Some(m) =>
        TableLog.schemaOf(SparkSession.active, dirOf(options), m)
      case None => new StructType() // a not-yet-created sink target
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitioning.isEmpty,
      "tablelogv2 tables are unpartitioned — clustering is " +
        "compact(layoutBy)/trackStats territory")
    new TableLogV2Table(dirOf(properties), manifestOf(properties), schema,
      new CaseInsensitiveStringMap(properties))
  }
}

/** One pinned TableLog snapshot as a DSv2 [[Table]]: batch +
  * micro-batch reads (scans built by Spark's own [[ParquetScanBuilder]]
  * — vectorized reader, column pruning, parquet row-group pushdown —
  * over the manifest-pinned file index) and batch + streaming writes
  * (staged parquet landed through the appendBatch commit path). */
private[sources] final class TableLogV2Table(dir: String,
    mOpt: Option[TableLog.Manifest], tableSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String =
    s"tablelogv2.`$dir`" + mOpt.fold("@new")(m => s"@v${m.version}")
  override def schema(): StructType = tableSchema

  /** Manifest-served metadata — what `SHOW TBLPROPERTIES` and
    * `DESCRIBE TABLE EXTENDED` surface through a
    * [[GraftCatalog]] identifier. Every value is read from the
    * already-resolved manifest head this table was pinned to: zero
    * file walks, zero extra IO, and the numbers are transactionally
    * consistent with what a SELECT against this same snapshot reads. */
  override def properties(): util.Map[String, String] = {
    val base = Map("provider" -> "tablelogv2", "path" -> dir)
    val withManifest = mOpt.fold(base) { m =>
      base ++ Map(
        "graft.version" -> m.version.toString,
        "graft.rows" -> m.rows.toString,
        "graft.bytes" -> m.bytes.toString,
        "graft.files" -> m.files.length.toString,
        "graft.op" -> m.op) ++
        (if (m.layout.nonEmpty) Map("graft.layout" -> m.layout.mkString(","))
         else Map.empty) ++
        (if (m.statsFor.nonEmpty)
           Map("graft.statsFor" -> m.statsFor.mkString(","))
         else Map.empty) ++
        (if (m.bloomFor.nonEmpty)
           Map("graft.bloomFor" -> m.bloomFor.mkString(","))
         else Map.empty)
    }
    withManifest.asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val m = mOpt.getOrElse(throw new IllegalStateException(
      s"$dir has no committed manifest — not a TableLog table (or " +
        "never written)"))
    new TableLogV2ScanBuilder(SparkSession.active, dir, m, tableSchema, opts)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new TableLogV2BatchWrite(dir, info.schema(), info.options())
        override def toStreaming: StreamingWrite =
          new TableLogV2StreamingWrite(dir, info.schema(), info.options())
      }
    }
}

/** The v2 scan builder: full delegation to Spark's own
  * [[ParquetScanBuilder]] (so batch pushdown/pruning behavior is
  * EXACTLY the native parquet path's), with `build()` wrapping the
  * resulting scan to add the micro-batch face. */
private[sources] final class TableLogV2ScanBuilder(spark: SparkSession,
    dir: String, m: TableLog.Manifest, tableSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  private val inner = ParquetScanBuilder(spark,
    new ManifestPinnedFileIndex(spark, dir, m), tableSchema, tableSchema,
    options)

  // the engine's negotiated pruning/filters, captured as they pass
  // through so the micro-batch face can re-apply them per window
  private var prunedTo: StructType = tableSchema
  private var pushed: Seq[Expression] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit = {
    prunedTo = requiredSchema
    inner.pruneColumns(requiredSchema)
  }
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushed = filters
    inner.pushFilters(filters)
  }
  override def pushedFilters: Array[Predicate] = inner.pushedFilters

  override def build(): Scan = new TableLogV2Scan(spark, dir, tableSchema,
    options, inner.build(), pushed, prunedTo)
}

/** The built scan: batch IS the inner [[ParquetScan]]'s; the
  * micro-batch face re-plans the same pruned/filtered parquet scan per
  * version window. */
private[sources] final class TableLogV2Scan(spark: SparkSession,
    dir: String, tableSchema: StructType, options: CaseInsensitiveStringMap,
    inner: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    dataFilters: Seq[Expression], required: StructType)
    extends Scan with SupportsReportStatistics {

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = s"TableLogV2 ${inner.description()}"
  override def toBatch: Batch = inner.toBatch
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    inner.estimateStatistics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new TableLogV2TailStream(spark, dir, tableSchema, options, dataFilters,
      required, checkpointLocation)
}

/** The version-offset tail as a native v2 [[MicroBatchStream]]. The
  * control plane — `since` resolution + persistence, the
  * `maxVersionsPerTrigger` admission cap, the schema-drift guard, lease
  * renewal on commit — IS a delegated [[TableLogTailSource]] (the
  * engine hands `toMicroBatchStream` the same per-source metadata path
  * a v1 source gets, so the resolved `since` and lease identities are
  * checkpoint-compatible across the two faces). Admission control goes
  * through the SAME `latestOffset(start, limit)`: the engine passes the
  * checkpointed start (or [[initialOffset]] = `since`) and the cap is
  * counted from it; `Trigger.AvailableNow` records its head in the same
  * source. Only the DATA PLANE differs: each committed window
  * `(start, end]` plans a native `ParquetScan` over exactly that
  * window's append-contributed files, re-applying the column pruning
  * and pushed filters the engine negotiated at stream build — so
  * per-window file pruning against recorded stats works mid-stream
  * exactly as it does in the v1 `getBatch` relation. */
private[sources] final class TableLogV2TailStream(spark: SparkSession,
    dir: String, tableSchema: StructType, options: CaseInsensitiveStringMap,
    dataFilters: Seq[Expression], required: StructType, metadataPath: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  require(!Option(options.get("readChangeFeed")).exists(_.trim.toBoolean),
    "the tablelogv2 stream is the append tail only — the change feed's " +
      "delete rows are a composed diff plan, which only the v1 getBatch " +
      "contract can hand the engine: use format(\"tablelog\")" +
      ".option(\"readChangeFeed\", \"true\")")

  private val source = new TableLogTailProvider().createSource(
    spark.sqlContext, metadataPath, Some(tableSchema), "tablelogv2",
    CaseInsensitiveMap(
      options.asCaseSensitiveMap().asScala.toMap) + ("dir" -> dir))
    .asInstanceOf[TableLogTailSource]

  override def initialOffset(): V2Offset =
    TableVersionOffset(source.sinceVersion)
  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset =
    source.latestOffset(start, limit)
  override def prepareForTriggerAvailableNow(): Unit =
    source.prepareForTriggerAvailableNow()
  override def reportLatestOffset(): V2Offset = source.reportLatestOffset()
  override def latestOffset(): V2Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")
  override def deserializeOffset(json: String): V2Offset =
    TableVersionOffset(json.trim.toLong)

  // planInputPartitions and createReaderFactory are called as a pair
  // per micro-batch (MicroBatchScanExec), so the batch built for the
  // window is carried between them — the pattern Spark's own
  // micro-batch streams use
  @volatile private var current: Batch = _

  override def planInputPartitions(start: V2Offset,
      end: V2Offset): Array[InputPartition] = {
    val fromV = start.json.toLong
    val toV = end.json.toLong
    source.admitWindow(fromV, toV)
    val delta =
      if (toV <= fromV) Vector.empty
      else TableLog.appendedEntries(spark, dir, fromV, toV)
    val m = TableLog.Manifest(version = math.max(toV, 0L), files = delta,
      rows = 0L, commits = Map.empty, op = "tail",
      schemaJson = Some(tableSchema.json))
    val b = ParquetScanBuilder(spark,
      new ManifestPinnedFileIndex(spark, dir, m), tableSchema, tableSchema,
      options)
    b.pruneColumns(required)
    if (dataFilters.nonEmpty) b.pushFilters(dataFilters)
    current = b.build().toBatch
    current.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    current.createReaderFactory()

  override def commit(end: V2Offset): Unit =
    source.commit(TableVersionOffset(end.json.toLong))
  override def stop(): Unit = source.stop()
}

/** One task's staged parquet file (None = the writer saw no rows and
  * created nothing — empty files never land). */
private[sources] final case class TableLogV2CommitMessage(
    path: Option[String]) extends WriterCommitMessage

/** Driver-side shared machinery of the two v2 writes: the table's
  * parquet writer ([[graft.functions.StagedParquet]], the same one a
  * driver-local append writes through), and the staged-files commit
  * through the appendBatch path. */
private[sources] object TableLogV2Writes {

  /** The task writers' factory, with the table's trackBloom
    * registration read from its head. Resolved at factory-creation
    * time: a registration committed while a stream runs applies from
    * the stream's next factory, not mid-epoch. */
  def writer(spark: SparkSession, schema: StructType,
      dir: String): StagedParquet =
    StagedParquet(spark, schema, TableLog.latestHead(spark, dir)
      .fold(Map.empty[String, String])(TableLog.bloomWriteOptions))

  /** `mergeSchema = true` on either v2 write surface, the v1 sink's
    * option honored here too ([[graft.functions.TableLog.alignMerging]]
    * documents the contract: ADD-ONLY drift evolves the table, a
    * missing column or a type change stays a loud error). */
  def mergeSchemaOpt(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("mergeSchema")).exists(_.trim.toBoolean)

  /** Land this epoch's staged files as ONE committed append (or fence a
    * replayed epoch), then sweep the epoch's staging dir. With
    * `mergeSchema`, add-only drift against the recorded schema first
    * commits the [[graft.functions.TableLog.evolve]] and the append then
    * DECLARES the merged schema — the staged files keep the batch's own
    * column order, which parquet's by-name resolution serves under the
    * merged schema exactly as the v1 sink's re-selected batches are. */
  def commitEpoch(spark: SparkSession, dir: String,
      messages: Array[WriterCommitMessage], schema: StructType,
      runKey: String, batchId: Long, mergeSchema: Boolean): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = messages.iterator.collect {
      case TableLogV2CommitMessage(Some(p)) => new Path(p)
    }.toVector
    val fsOpt = files.headOption.map(_.getFileSystem(conf))
    val statuses = fsOpt.fold(Vector.empty[FileStatus])(fs =>
      files.map(fs.getFileStatus))
    val declared =
      if (mergeSchema)
        TableLog.mergeRecordedSchema(spark, dir, schema).getOrElse(schema)
      else schema
    // empty epochs still commit (entries = none): the ledger entry is
    // what fences the engine's replay of this epoch after a crash
    TableLog.commitStagedFiles(spark, dir, statuses, declared, runKey, batchId)
    for (fs <- fsOpt; f <- files) // committed files were renamed away;
      fs.delete(f.getParent, true) // this sweeps the epoch's staging dir
  }

  def abortEpoch(spark: SparkSession,
      messages: Array[WriterCommitMessage]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    messages.iterator.collect {
      case TableLogV2CommitMessage(Some(p)) => new Path(p)
    }.foreach { p =>
      val fs = p.getFileSystem(conf)
      fs.delete(p.getParent, true)
    }
  }
}

/** Serializable task-writer factory shared by the batch and streaming
  * writes: each task streams its rows into ONE staged parquet file
  * under a PER-EPOCH dir `<table>/_staging-v2-…-<epoch>` (flat, so the
  * commit's sweep of the epoch dir leaves zero standing debris),
  * created lazily on the first row so empty partitions land nothing. */
private[sources] final class TableLogV2WriterFactory(
    writer: StagedParquet, stagingRoot: String)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, 0L)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new TableLogV2DataWriter(writer, s"$stagingRoot-$epochId",
      partitionId, taskId)
}

private[sources] final class TableLogV2DataWriter(
    writer: StagedParquet, dir: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private var out: OutputWriter = _

  override def write(row: InternalRow): Unit = {
    if (out == null) out = writer.open(dir, partitionId, taskId)
    out.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    TableLogV2CommitMessage(Option(out).map(_.path()))
  }

  override def abort(): Unit = {
    if (out != null) {
      out.close()
      val p = new Path(out.path())
      p.getFileSystem(writer.hadoopConf).delete(p, false)
    }
  }

  override def close(): Unit = ()
}

/** One-shot committed append through the v2 engine path — the v1 batch
  * save's semantics (fresh writer identity per call, no replay ledger
  * to honor). */
private[sources] final class TableLogV2BatchWrite(dir: String,
    schema: StructType, options: CaseInsensitiveStringMap)
    extends BatchWrite {

  private val spark = SparkSession.active
  private val stagingRoot = s"${dir.stripSuffix("/")}" +
    s"/_staging-v2-${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    new TableLogV2WriterFactory(TableLogV2Writes.writer(spark, schema, dir),
      stagingRoot)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    TableLogV2Writes.commitEpoch(spark, dir, messages, schema,
      runKey = s"batchwrite-${java.util.UUID.randomUUID()}", batchId = 0L,
      mergeSchema = TableLogV2Writes.mergeSchemaOpt(options))

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TableLogV2Writes.abortEpoch(spark, messages)
}

/** The exactly-once streaming sink through the v2 engine path: each
  * epoch's staged files land as one ledger-fenced append —
  * `(runKey, epochId)` in the table's commit map, the v1 sink's
  * contract exactly, so a replayed epoch after a crash fences instead
  * of doubling rows. */
private[sources] final class TableLogV2StreamingWrite(dir: String,
    schema: StructType, options: CaseInsensitiveStringMap)
    extends StreamingWrite {

  private val spark = SparkSession.active
  private val stagingRoot = s"${dir.stripSuffix("/")}" +
    s"/_staging-v2-${java.util.UUID.randomUUID()}"

  // the per-checkpoint writer identity, exactly the v1 sink's rule
  // (TableLogProvider.createSink documents why a session-conf-resolved
  // checkpoint must be rejected rather than silently weakening
  // exactly-once to at-least-once)
  private val runKey = Option(options.get("checkpointLocation"))
    .map(ck => TableLog.runKeyFor(spark, ck))
    .getOrElse {
      if (spark.conf.getOption(
          "spark.sql.streaming.checkpointLocation").isDefined)
        throw new IllegalArgumentException(
          "the tablelogv2 sink derives its exactly-once writer identity " +
            "from the checkpoint, which it can only see as a writer " +
            "option — pass .option(\"checkpointLocation\", ...) " +
            "explicitly instead of relying on the session-conf default")
      java.util.UUID.randomUUID().toString
    }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    new TableLogV2WriterFactory(TableLogV2Writes.writer(spark, schema, dir),
      stagingRoot)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    TableLogV2Writes.commitEpoch(spark, dir, messages, schema, runKey,
      epochId, mergeSchema = TableLogV2Writes.mergeSchemaOpt(options))

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    TableLogV2Writes.abortEpoch(spark, messages)
}

/** [[graft.functions.ManifestFileIndex]] widened to the
  * [[PartitioningAwareFileIndex]] shape the v2 file-scan machinery
  * requires. Every answer comes from the manifest: the leaf maps are the
  * entry list rendered as statuses (zero filesystem listings), and
  * `listFiles` — the call [[org.apache.spark.sql.execution.datasources
  * .v2.FileScan]] plans its partitions through — delegates to the
  * manifest index so pushed data filters prune files against the
  * recorded per-file stats exactly as the v1 relation does. */
private[sources] final class ManifestPinnedFileIndex(spark: SparkSession,
    dir: String, m: TableLog.Manifest)
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private val inner = new ManifestFileIndex(spark, dir, m)
  private val base = new Path(dir.stripSuffix("/"))
  private def statuses: Seq[FileStatus] = m.files.map { e =>
    new FileStatus(e.bytes, false, 1, 128L * 1024 * 1024, 0L,
      new Path(base, e.name))
  }

  override def rootPaths: Seq[Path] = Seq(base)
  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override def partitionSchema: StructType = StructType(Nil)
  override def leafFiles: LinkedHashMap[Path, FileStatus] =
    LinkedHashMap(statuses.map(s => s.getPath -> s): _*)
  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    Map(base -> statuses.toArray)
  override def sizeInBytes: Long = m.bytes
  override def inputFiles: Array[String] = inner.inputFiles
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    inner.listFiles(partitionFilters, dataFilters)
}
