package graft.functions

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  EqualTo, Expression, GreaterThanOrEqual, In, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.parser.{ParserInterface, ParseException}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructType, TimestampType}

/** SQL faces for the TableLog MAINTENANCE operators — the last surface
  * that was Scala-API-only. Reads, appends, tailing, the change feed
  * and mergeSchema were already reachable from SQL/Python through
  * `format("tablelog")`/`format("tablelogv2")`; a takedown or a
  * rollback still needed a Scala operator. With
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * [[GraftFunctions.register]]… plus [[TableLogSql.parser]] in tests),
  * a pure-SQL session can run:
  *
  * {{{
  *   GRAFT DELETE FROM <target> WHERE <predicate>       -- returns deleted_rows
  *   GRAFT RESTORE <target> TO VERSION <n>              -- returns version, rows
  *   GRAFT RESTORE <target> TO TIMESTAMP '<ts>'         -- clock-resolved restore
  *   GRAFT HISTORY <target>                             -- version, committed_at, op, rows, files
  *   GRAFT VACUUM <target> [RETAIN <ms> MILLISECONDS]   -- returns deleted_files
  *   GRAFT UPSERT INTO <target> KEY (<col>) <query>     -- returns committed, upserted_rows
  *   GRAFT COMPACT <target> [TARGET <n> BYTES]          -- returns rewritten_files
  *   GRAFT ZORDER <target> BY (<col>, …) [TARGET <n> BYTES]
  *   GRAFT TRACK STATS <target> ON (<col>, …)           -- footer min/max registration
  *   GRAFT TRACK BLOOM <target> ON (<col>, …)           -- parquet bloom registration
  * }}}
  *
  * `<target>` is a quoted table directory (`'/lake/t'`) or a bare
  * dotted table identifier (`graft.ml.docs`) resolved through a
  * registered [[graft.sources.GraftCatalog]].
  *
  * Semantics are EXACTLY the Scala calls' — the commands are thin
  * driver-side wrappers over [[TableLog.delete]]/[[TableLog.restore]]/
  * [[TableLog.vacuum]], so CDC visibility, ledger fencing, re-plan
  * under racing maintenance and retention rules are shared, not
  * reimplemented. The `GRAFT` keyword prefix keeps the grammar
  * disjoint from Spark SQL: anything else falls through to the
  * delegate parser untouched.
  *
  * The DELETE predicate is parsed by Spark's own expression parser and
  * ROUTED like the Scala faces: `col IN (literals…)` / `col = lit`
  * run as [[TableLog.deleteIn]] (per-value manifest stats pruning —
  * the takedown-list shape), `col BETWEEN lo AND hi` as
  * [[TableLog.deleteRange]] (span pruning), anything else as the
  * general [[TableLog.delete]] over all files. */
object TableLogSql {

  /** A statement's table target: a quoted directory path, or a
    * (possibly catalog-qualified) table identifier resolved through a
    * [[graft.sources.GraftCatalog]] at run time. */
  sealed trait GraftTarget
  final case class PathTarget(dir: String) extends GraftTarget {
    override def toString: String = s"'$dir'"
  }
  final case class IdentTarget(parts: Seq[String]) extends GraftTarget {
    override def toString: String = parts.mkString(".")
  }

  // a target is '<path>' (SQL-standard '' quote escaping: a path like
  // /data/o''brien is legal) or a dotted bare identifier
  private val T = """('(?:[^']|'')+'|[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)"""
  private val DeleteRe =
    s"""(?is)\\s*GRAFT\\s+DELETE\\s+FROM\\s+$T\\s+WHERE\\s+(.+?)\\s*;?\\s*""".r
  private val RestoreRe =
    s"""(?is)\\s*GRAFT\\s+RESTORE\\s+$T\\s+TO\\s+VERSION\\s+(\\d+)\\s*;?\\s*""".r
  private val RestoreTsRe =
    s"""(?is)\\s*GRAFT\\s+RESTORE\\s+$T\\s+TO\\s+TIMESTAMP\\s+'((?:[^']|'')+)'\\s*;?\\s*""".r
  private val HistoryRe =
    s"""(?is)\\s*GRAFT\\s+HISTORY\\s+$T\\s*;?\\s*""".r
  private val VacuumRe =
    s"""(?is)\\s*GRAFT\\s+VACUUM\\s+$T(?:\\s+RETAIN\\s+(\\d+)\\s+MILLISECONDS)?\\s*;?\\s*""".r
  private val UpsertRe =
    s"""(?is)\\s*GRAFT\\s+UPSERT\\s+INTO\\s+$T\\s+KEY\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)\\s+(.+?)\\s*;?\\s*""".r
  private val CompactRe =
    s"""(?is)\\s*GRAFT\\s+COMPACT\\s+$T(?:\\s+TARGET\\s+(\\d+)\\s+BYTES)?\\s*;?\\s*""".r
  private val ZorderRe =
    s"""(?is)\\s*GRAFT\\s+ZORDER\\s+$T\\s+BY\\s*\\(\\s*([A-Za-z_]\\w*(?:\\s*,\\s*[A-Za-z_]\\w*)*)\\s*\\)(?:\\s+TARGET\\s+(\\d+)\\s+BYTES)?\\s*;?\\s*""".r
  private val TrackRe =
    s"""(?is)\\s*GRAFT\\s+TRACK\\s+(STATS|BLOOM)\\s+$T\\s+ON\\s*\\(\\s*([A-Za-z_]\\w*(?:\\s*,\\s*[A-Za-z_]\\w*)*)\\s*\\)\\s*;?\\s*""".r

  private def target(raw: String): GraftTarget =
    if (raw.startsWith("'"))
      PathTarget(raw.stripPrefix("'").stripSuffix("'").replace("''", "'"))
    else IdentTarget(raw.split('.').toSeq)

  /** The table directory a target names. Paths pass through;
    * identifiers resolve through the session's catalogs — the leading
    * part when it names a registered catalog, the current catalog
    * otherwise — and must land on a [[graft.sources.GraftCatalog]]
    * (only it can answer "which directory"), loudly otherwise. */
  private[graft] def resolveDir(spark: SparkSession,
      target: GraftTarget): String = target match {
    case PathTarget(dir) => dir
    case IdentTarget(parts) =>
      val cm = spark.sessionState.catalogManager
      // Spark's identifier resolution, matched exactly: a leading part
      // that names a registered catalog selects it; otherwise the
      // CURRENT catalog — and a single bare part resolves in the
      // current NAMESPACE (after `USE cat.ns`, `GRAFT DELETE FROM t`
      // must target cat.ns.t, not a same-named root table — a silent
      // wrong-table destructive op otherwise). Multi-part identifiers
      // are absolute within their catalog, as in Spark.
      val (cat, rest) =
        if (parts.length > 1 && cm.isCatalogRegistered(parts.head))
          (cm.catalog(parts.head), parts.tail)
        else if (parts.length == 1)
          (cm.currentCatalog, cm.currentNamespace.toSeq ++ parts)
        else (cm.currentCatalog, parts)
      cat match {
        case g: graft.sources.GraftCatalog =>
          g.tableDir(org.apache.spark.sql.connector.catalog.Identifier.of(
            rest.init.toArray, rest.last))
        case other => throw new IllegalArgumentException(
          s"GRAFT statements address tables by path or through a graft " +
            s"catalog; '${parts.mkString(".")}' resolves to catalog " +
            s"'${other.name}' (${other.getClass.getName}) — register one " +
            "with spark.sql.catalog.<name>=graft.sources.GraftCatalog " +
            "or pass the table directory as '<path>'")
      }
  }

  /** Default vacuum grace for the SQL face when RETAIN is omitted:
    * 7 days, the conservative industry default for lake vacuums —
    * long enough that any realistically-lagging reader or consumer
    * lease has either finished or renewed. */
  val DefaultSqlVacuumGraceMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Default compaction target when `TARGET … BYTES` is omitted:
    * 128 MiB files — one default Spark scan partition
    * (`spark.sql.files.maxPartitionBytes`) per file, the sweet spot
    * between per-file scheduling overhead (files too small) and losing
    * parquet row-group parallelism (files too large). */
  val DefaultSqlCompactTargetBytes: Long = 128L * 1024 * 1024

  /** The graft statement, if `sqlText` is one (None falls through to
    * the delegate parser). */
  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case DeleteRe(t, predicate) =>
      Some(GraftDeleteCommand(target(t), predicate))
    case RestoreRe(t, v) => Some(GraftRestoreCommand(target(t), v.toLong))
    case RestoreTsRe(t, ts) =>
      Some(GraftRestoreTimestampCommand(target(t), ts.replace("''", "'")))
    case HistoryRe(t) => Some(GraftHistoryCommand(target(t)))
    case VacuumRe(t, retain) =>
      Some(GraftVacuumCommand(target(t),
        Option(retain).map(_.toLong).getOrElse(DefaultSqlVacuumGraceMs)))
    case UpsertRe(t, keyColumn, query) =>
      Some(GraftUpsertCommand(target(t), keyColumn, query))
    case CompactRe(t, bytes) =>
      Some(GraftCompactCommand(target(t),
        Option(bytes).map(_.toLong).getOrElse(DefaultSqlCompactTargetBytes)))
    case ZorderRe(t, cols, bytes) =>
      Some(GraftZorderCommand(target(t),
        cols.split(',').iterator.map(_.trim).toSeq,
        Option(bytes).map(_.toLong).getOrElse(DefaultSqlCompactTargetBytes)))
    case TrackRe(kind, t, cols) =>
      Some(GraftTrackCommand(target(t), kind.toLowerCase == "bloom",
        cols.split(',').iterator.map(_.trim).toSeq))
    case _ => None
  }

  /** The injectable parser: graft statements short-circuit, everything
    * else (plans, expressions, identifiers, schemas) is the delegate's. */
  def parser(delegate: ParserInterface): ParserInterface =
    new ParserInterface {
      override def parsePlan(sqlText: String): LogicalPlan =
        parse(sqlText).getOrElse(delegate.parsePlan(sqlText))
      override def parseExpression(sqlText: String): Expression =
        delegate.parseExpression(sqlText)
      override def parseTableIdentifier(sqlText: String): TableIdentifier =
        delegate.parseTableIdentifier(sqlText)
      override def parseFunctionIdentifier(
          sqlText: String): FunctionIdentifier =
        delegate.parseFunctionIdentifier(sqlText)
      override def parseMultipartIdentifier(sqlText: String): Seq[String] =
        delegate.parseMultipartIdentifier(sqlText)
      override def parseQuery(sqlText: String): LogicalPlan =
        delegate.parseQuery(sqlText)
      override def parseRoutineParam(sqlText: String): StructType =
        delegate.parseRoutineParam(sqlText)
      override def parseTableSchema(sqlText: String): StructType =
        delegate.parseTableSchema(sqlText)
      override def parseDataType(sqlText: String): DataType =
        delegate.parseDataType(sqlText)
    }
}

/** `GRAFT DELETE FROM <target> WHERE <predicate>` — see [[TableLogSql]]. */
final case class GraftDeleteCommand(target: TableLogSql.GraftTarget,
    predicateSql: String) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] =
    Seq(AttributeReference("deleted_rows", LongType, nullable = false)())

  private def scalaValue(l: Literal): Any =
    CatalystTypeConverters.convertToScala(l.value, l.dataType)

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = TableLogSql.resolveDir(spark, target)
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(predicateSql)
      catch {
        case e: ParseException => throw new IllegalArgumentException(
          s"GRAFT DELETE: cannot parse predicate '$predicateSql': " +
            e.getMessage, e)
      }
    // route shapes the Scala faces prune better than a full-file-list
    // delete: point/list lookups -> deleteIn, a range -> deleteRange
    val deleted = parsed match {
      case In(a: UnresolvedAttribute, vals)
          if vals.nonEmpty && vals.forall(_.isInstanceOf[Literal]) =>
        TableLog.deleteIn(spark, dir, a.name,
          vals.map(v => scalaValue(v.asInstanceOf[Literal])))
      case EqualTo(a: UnresolvedAttribute, l: Literal) =>
        TableLog.deleteIn(spark, dir, a.name, Seq(scalaValue(l)))
      case EqualTo(l: Literal, a: UnresolvedAttribute) =>
        TableLog.deleteIn(spark, dir, a.name, Seq(scalaValue(l)))
      case And(GreaterThanOrEqual(a: UnresolvedAttribute, lo: Literal),
               LessThanOrEqual(b: UnresolvedAttribute, hi: Literal))
          if a.name == b.name => // how BETWEEN parses
        TableLog.deleteRange(spark, dir, a.name,
          scalaValue(lo), scalaValue(hi))
      case other =>
        TableLog.delete(spark, dir,
          org.apache.spark.sql.graftbridge.column(other))
    }
    Seq(Row(deleted))
  }
}

/** `GRAFT RESTORE <target> TO VERSION <n>` — see [[TableLogSql]]. */
final case class GraftRestoreCommand(target: TableLogSql.GraftTarget,
    version: Long) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("restored_to_version", LongType, nullable = false)(),
    AttributeReference("committed_version", LongType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val m = TableLog.restore(spark, TableLogSql.resolveDir(spark, target),
      version)
    Seq(Row(version, m.version, m.rows))
  }
}

/** `GRAFT RESTORE <target> TO TIMESTAMP '<ts>'` — [[GraftRestoreCommand]]
  * with the version resolved by clock: [[TableLog.versionAt]] maps the
  * timestamp (epoch millis, an ISO-8601 instant, or a session-zone
  * `yyyy-MM-dd[ HH:mm:ss[.SSS]]` — [[TableLog.parseTravelTimestamp]])
  * to the newest retained commit at or before it, with the same loud
  * edge errors as every other travel face. The restore itself is the
  * shared [[TableLog.restore]] — CDC rows, retention rules, CAS
  * semantics identical to the VERSION form. */
final case class GraftRestoreTimestampCommand(target: TableLogSql.GraftTarget,
    timestamp: String) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("restored_to_version", LongType, nullable = false)(),
    AttributeReference("committed_version", LongType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = TableLogSql.resolveDir(spark, target)
    val ms = TableLog.parseTravelTimestamp(spark, timestamp)
    val v = TableLog.versionAt(spark, dir, ms)
    val m = TableLog.restore(spark, dir, v)
    Seq(Row(v, m.version, m.rows))
  }
}

/** `GRAFT HISTORY <target>` — the retained commit history as rows:
  * `(version, committed_at, op, rows, files)`, oldest first.
  * `committed_at` is the manifest file's (forward-adjusted)
  * modification time — the exact timeline `TIMESTAMP AS OF` resolves
  * against, so a user can read this table's output straight back into
  * a travel clause. Served from manifest HEADS
  * ([[TableLog.historyHeads]]): [[TableLog.KeepManifests]] small file
  * reads, no segment materialization, regardless of table size. */
final case class GraftHistoryCommand(target: TableLogSql.GraftTarget)
    extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("committed_at", TimestampType, nullable = false)(),
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = false)(),
    AttributeReference("files", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = TableLogSql.resolveDir(spark, target)
    val heads = TableLog.historyHeads(spark, dir)
    // an empty result here can only mean "not a table" (the newest
    // head is never pruned while the table exists) — the shared loud
    // error, not a zero-row answer a typo'd path would masquerade as
    if (heads.isEmpty) throw new IllegalStateException(
      s"$dir has no committed manifest — not a TableLog table (or never written)")
    heads.map { case (h, ts) =>
      val files = h.files.length.toLong +
        h.segments.iterator.map(_.count.toLong).sum
      Row(h.version, new java.sql.Timestamp(ts), h.op, h.rows, files)
    }
  }
}

/** `GRAFT UPSERT INTO '<dir>' KEY (<col>) <query>` — the SQL face of
  * [[TableLog.upsertByKey]], the CDC-apply/merge primitive that was the
  * last writer-side surface needing a Scala operator. The query (any
  * SELECT the session parses) is the upsert batch: every key it carries
  * holds exactly the batch's rows afterwards, absent keys are plain
  * inserts. Semantics are EXACTLY the Scala call's — update-image CDC
  * tagging ([[TableLog.readChangesWithUpdates]] pairs the replaced
  * keys), the write-skew re-plan under racing appends, and the
  * bounded-key-list contract all come from the shared
  * [[TableLog.applyDelta]] path, not a reimplementation. Each statement
  * is one one-shot commit (a fresh writer identity, the batch-save
  * posture); replay-fenced streaming upserts stay [[TableLog.mirror]] /
  * Scala territory, where a checkpoint can carry the identity.
  * Returns `(committed, upserted_rows)`. */
final case class GraftUpsertCommand(target: TableLogSql.GraftTarget,
    keyColumn: String, querySql: String) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("committed", BooleanType, nullable = false)(),
    AttributeReference("upserted_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = TableLogSql.resolveDir(spark, target)
    // parseQuery, not spark.sql: the statement tail must be a QUERY —
    // a side-effecting statement (INSERT, another GRAFT, …) pasted here
    // would otherwise EXECUTE during parsing and only then fail
    // validation, its side effect already committed
    val plan =
      try spark.sessionState.sqlParser.parseQuery(querySql)
      catch {
        case e: ParseException => throw new IllegalArgumentException(
          s"GRAFT UPSERT: the statement tail must be a query " +
            s"(SELECT/VALUES/TABLE); cannot parse '$querySql': " +
            e.getMessage, e)
      }
    val batch = org.apache.spark.sql.graftbridge.ofRows(spark, plan)
    require(batch.schema.fieldNames.exists(
        spark.sessionState.analyzer.resolver(_, keyColumn)),
      s"GRAFT UPSERT: key column '$keyColumn' is not in the query's " +
        s"columns ${batch.schema.fieldNames.mkString("(", ", ", ")")}")
    // pin ONE evaluation: upsertByKey reads the batch twice more (the
    // delete-key collect and the add staging), and a nondeterministic
    // query (LIMIT without ORDER BY, rand(), a mutating source) whose
    // evaluations diverge would break replace-by-key — a key could land
    // in the adds without entering the delete set
    val pinned = Materialize.cut(batch)
    try {
      val n = pinned.count()
      val landed = TableLog.upsertByKey(spark, dir, pinned, keyColumn,
        runKey = s"sql-upsert-${java.util.UUID.randomUUID()}", batchId = 0L)
      Seq(Row(landed, n))
    } finally Materialize.release(pinned)
  }
}

/** `GRAFT VACUUM <target> [RETAIN <ms> MILLISECONDS]` — see
  * [[TableLogSql]]. */
final case class GraftVacuumCommand(target: TableLogSql.GraftTarget,
    graceMs: Long) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] =
    Seq(AttributeReference("deleted_files", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TableLog.vacuum(spark,
      TableLogSql.resolveDir(spark, target), graceMs)))
}

/** `GRAFT COMPACT <target> [TARGET <n> BYTES]` — the SQL face of
  * [[TableLog.compact]] without re-layout: re-bin the live rows into
  * ~TARGET-byte files (small-file debt from streaming appends is the
  * other half of the maintenance loop that DELETE/VACUUM leave behind).
  * Semantics are EXACTLY the Scala call's: one atomic swap commit,
  * rebase over concurrent appends, loud abort if a concurrent
  * maintenance writer removed snapshot files, ledger and CDC untouched
  * (a compact is a rewrite, not a row change). Returns the number of
  * files the rewrite produced. */
final case class GraftCompactCommand(target: TableLogSql.GraftTarget,
    targetBytes: Long) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("rewritten_files", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TableLog.compact(spark,
      TableLogSql.resolveDir(spark, target), targetBytes)))
}

/** `GRAFT TRACK STATS|BLOOM <target> ON (<col>, …)` — the SQL faces of
  * the pruning registrations: STATS wraps [[TableLog.trackStats]]
  * (per-file footer min/max for write-order-clustered columns), BLOOM
  * wraps [[TableLog.trackBloom]] (adaptive parquet bloom filters for
  * point lookups on UNclustered columns). Validation (schema presence,
  * usable types) is the Scala calls' — shared, not reimplemented.
  * Returns the committed registration version. */
final case class GraftTrackCommand(target: TableLogSql.GraftTarget,
    bloom: Boolean, columns: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = TableLogSql.resolveDir(spark, target)
    val m =
      if (bloom) TableLog.trackBloom(spark, dir, columns)
      else TableLog.trackStats(spark, dir, columns)
    Seq(Row(m.version))
  }
}

/** `GRAFT ZORDER <target> BY (<col>, …) [TARGET <n> BYTES]` — the SQL
  * face of re-layout: one column range-clusters
  * ([[TableLog.compact]] with layoutBy — the optimal single-dimension
  * layout), two or more Morton-interleave ([[TableLog.compactZorder]])
  * so per-file min/max stats prune predicates on EVERY listed column.
  * Returns the number of files the rewrite produced. */
final case class GraftZorderCommand(target: TableLogSql.GraftTarget,
    columns: Seq[String], targetBytes: Long) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("rewritten_files", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = TableLogSql.resolveDir(spark, target)
    val n =
      if (columns.length == 1) TableLog.compact(spark, dir, targetBytes, columns)
      else TableLog.compactZorder(spark, dir, targetBytes, columns)
    Seq(Row(n))
  }
}
