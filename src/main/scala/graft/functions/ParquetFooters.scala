package graft.functions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

/** Driver-side parquet footer metadata reads — exact row counts,
  * per-column min/max and the Spark schema ([[schema]]) WITHOUT
  * launching a Spark job or touching a data page. Parquet footers already carry both (every row group records
  * its row count and per-chunk statistics); re-deriving them with a
  * `spark.read.parquet(...).count()` per micro-batch is a whole scan
  * job spent recomputing what 8 KB of footer states outright. At
  * streaming-ingest rates that scan is the dominant per-trigger
  * latency; at compaction time the same footers are what turn
  * [[TableLog]] manifests into a pruning index (the Delta/Iceberg
  * per-file-stats idea, reduced to a tab-separated line).
  *
  * Statistics are collected only for columns whose Spark type has a
  * total order this module can serialize and re-compare faithfully
  * (integral, floating, string); anything else — or a chunk a writer
  * produced without statistics — yields no entry, and absent stats are
  * always treated as "cannot prune" by consumers.
  */
object ParquetFooters {

  /** Exact metadata of one parquet file: total rows, and for each
    * requested column present with usable statistics, the inclusive
    * (min, max) rendered as strings per [[render]]. */
  final case class FileMeta(rows: Long, stats: Map[String, (String, String)])

  /** Read `path`'s footer: exact row count plus (min, max) for the
    * `statCols` that are top-level fields of `schema` with a supported
    * type. A column missing statistics in ANY row group is dropped
    * entirely — a partial range is not a bound. */
  def read(conf: Configuration, path: Path, statCols: Set[String],
           schema: StructType): FileMeta = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try {
      val blocks = reader.getFooter.getBlocks
      var rows = 0L
      // per column: (min, max) accumulated across row groups, or removed
      // from the map the moment one group lacks usable statistics
      val wanted: Map[String, DataType] = statCols.iterator.flatMap { c =>
        schema.fields.find(_.name == c).map(f => c -> f.dataType)
          .filter { case (_, dt) => comparable(dt) }
      }.toMap
      val acc = scala.collection.mutable.Map.empty[String, (Any, Any)]
      val dead = scala.collection.mutable.Set.empty[String]
      val it = blocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        rows += b.getRowCount
        val cols = b.getColumns.iterator()
        val seen = scala.collection.mutable.Set.empty[String]
        while (cols.hasNext) {
          val c = cols.next()
          val name = c.getPath.toDotString
          if (wanted.contains(name) && !dead.contains(name)) {
            seen += name
            val st = c.getStatistics
            if (st == null || st.isEmpty || !st.hasNonNullValue) dead += name
            else {
              val dt = wanted(name)
              val ann = c.getPrimitiveType.getLogicalTypeAnnotation
              val (mn, mx) = (value(st.genericGetMin, dt, ann),
                value(st.genericGetMax, dt, ann))
              (mn, mx) match {
                case (Some(lo), Some(hi)) =>
                  acc.get(name) match {
                    case Some((plo, phi)) =>
                      acc(name) = (minOf(dt, plo, lo), maxOf(dt, phi, hi))
                    case None => acc(name) = (lo, hi)
                  }
                case _ => dead += name
              }
            }
          }
        }
        // a row group that lacks the chunk entirely (schema drift within
        // a file cannot happen in parquet, but be safe) kills the column
        wanted.keysIterator.foreach { w =>
          if (!seen.contains(w)) dead += w
        }
      }
      val stats = acc.iterator.collect {
        case (name, (lo, hi)) if !dead.contains(name) =>
          name -> (render(lo), render(hi))
      }.toMap
      FileMeta(rows, stats)
    } finally reader.close()
  }

  /** [[read]] over many files with a bounded driver-side pool, results
    * in `paths` order. Footer harvesting is per-file metadata I/O
    * (~5-10 ms each): a 32-file micro-batch — or a compaction staging
    * hundreds of files — would otherwise serialize those reads into the
    * commit's critical path. */
  def readAll(conf: Configuration, paths: Seq[Path], statCols: Set[String],
              schema: StructType): Vector[FileMeta] = {
    if (paths.lengthCompare(2) < 0)
      return paths.iterator.map(read(conf, _, statCols, schema)).toVector
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, paths.length))
    try {
      paths.map { p =>
        pool.submit(new java.util.concurrent.Callable[FileMeta] {
          override def call(): FileMeta = read(conf, p, statCols, schema)
        })
      }.toVector.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          // cancel what hasn't run yet: shutdown() alone would drain
          // every queued footer read to completion before the failure
          // propagates — wasted I/O and a delayed error on a large
          // staging batch
          pool.shutdownNow()
          throw e.getCause }
      }
    } finally pool.shutdown()
  }

  /** The schema `spark.read.parquet(path).schema` reports, from ONE
    * footer read on the driver. Spark's own inference with `mergeSchema`
    * off reads the same footer, but inside a one-task job (~100+ ms per
    * open, against ~10 ms for a read with the schema passed in). `path`
    * is a file, or a directory whose footer is picked as Spark picks it:
    * `_common_metadata`, then `_metadata`, then the first data file by
    * name (names starting with `_` or `.` are not data). Only the
    * directory's own files are read: partition subdirectories are not
    * discovered. The converter takes the session confs Spark's inference
    * takes (binary-as-string, INT96, NTZ inference, nanos-as-long), and
    * the result is nullable, as every file relation's data schema is. */
  def schema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val hconf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(hconf)
    val st = fs.getFileStatus(p) // FileNotFoundException naming `path`
    val file = if (!st.isDirectory) st else {
      val files = fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.getName)
      def named(n: String) = files.find(_.getPath.getName == n)
      named("_common_metadata").orElse(named("_metadata")).orElse(files.find { f =>
        val n = f.getPath.getName; !n.startsWith("_") && !n.startsWith(".") })
        .getOrElse(throw new java.io.FileNotFoundException(
          s"$path has no parquet data file to read a schema from"))
    }
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hconf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    org.apache.spark.sql.graftbridge.asNullable(
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter))
  }

  /** Sum of exact footer row counts over `paths`. */
  def rowCount(conf: Configuration, paths: Seq[Path]): Long =
    paths.iterator.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try reader.getRecordCount finally reader.close()
    }.sum

  /** Types whose min/max this module serializes and re-compares.
    * Timestamps compare as epoch MICROS and dates as epoch DAYS (both
    * long domain) — matching the values Catalyst puts in filter
    * literals, so the pruning comparison is unit-exact. INT96
    * timestamps (the legacy Spark default output type) carry NO usable
    * parquet statistics and simply never yield an entry — conservative,
    * and [[TableLog.trackStats]] rejects the registration loudly up
    * front when the session still writes INT96. */
  def comparable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType |
         TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  // parquet statistics surface Integer/Long/Float/Double/Binary; map to
  // the Spark column's comparison domain (long, double or string). For
  // temporal columns the parquet LOGICAL annotation fixes the unit and
  // zone semantics — an INT64 whose annotation disagrees with the Spark
  // type (wrong unit source, isAdjustedToUTC mismatch) yields None
  // (conservative), never a bound in the wrong domain.
  private def value(v: Any, dt: DataType,
      ann: org.apache.parquet.schema.LogicalTypeAnnotation): Option[Any] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{
      DateLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
    (v, dt) match {
      case (i: java.lang.Integer, ByteType | ShortType | IntegerType | LongType) =>
        Some(i.longValue())
      case (l: java.lang.Long, ByteType | ShortType | IntegerType | LongType) =>
        Some(l.longValue())
      case (f: java.lang.Float, FloatType | DoubleType) => Some(f.doubleValue())
      case (d: java.lang.Double, FloatType | DoubleType) => Some(d.doubleValue())
      case (b: org.apache.parquet.io.api.Binary, StringType) =>
        Some(b.toStringUsingUTF8)
      case (l: java.lang.Long, TimestampType | TimestampNTZType) => ann match {
        case t: TimestampLogicalTypeAnnotation
            if t.isAdjustedToUTC == (dt == TimestampType) =>
          t.getUnit match {
            case TimeUnit.MICROS => Some(l.longValue())
            case TimeUnit.MILLIS => Some(l.longValue() * 1000L)
            // floor-truncating nanos is exact for MIN; for MAX it can
            // only UNDER-state by <1µs, and micro-domain literals cannot
            // fall inside that gap — the bound stays sound
            case TimeUnit.NANOS => Some(Math.floorDiv(l.longValue(), 1000L))
            case _ => None
          }
        case _ => None
      }
      case (i: java.lang.Integer, DateType) => ann match {
        case _: DateLogicalTypeAnnotation => Some(i.longValue())
        case _ => None
      }
      case _ => None
    }
  }

  /** Unsigned lexicographic UTF-8 byte comparison — the collation
    * parquet computes binary statistics in AND the one Spark's
    * UTF8String filter comparisons use. Java's String.compareTo orders
    * by UTF-16 code units, which DISAGREES for supplementary characters
    * vs chars ≥ U+E000 (a surrogate pair sorts below '￿' in UTF-16
    * but above it in UTF-8 bytes) — comparing bounds in the wrong
    * domain would prune files that contain matching rows. */
  private[functions] def utf8Cmp(a: String, b: String): Int =
    bytesCmp(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def minOf(dt: DataType, a: Any, b: Any): Any = dt match {
    case StringType =>
      if (utf8Cmp(a.asInstanceOf[String], b.asInstanceOf[String]) <= 0) a else b
    case FloatType | DoubleType =>
      math.min(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case _ => math.min(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  private def maxOf(dt: DataType, a: Any, b: Any): Any = dt match {
    case StringType =>
      if (utf8Cmp(a.asInstanceOf[String], b.asInstanceOf[String]) >= 0) a else b
    case FloatType | DoubleType =>
      math.max(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case _ => math.max(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  /** Serialize a bound for a manifest line: numbers verbatim (Long and
    * Double round-trip through toString exactly), strings URL-encoded so
    * arbitrary document keys can never smuggle a tab or newline into the
    * line-oriented manifest. */
  def render(v: Any): String = v match {
    case s: String =>
      java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
    case other => other.toString
  }

  /** Inverse of [[render]] into the comparison domain of `dt`. */
  def parseBound(s: String, dt: DataType): Any = dt match {
    case StringType =>
      java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)
    case FloatType | DoubleType => s.toDouble
    case _ => s.toLong
  }

  /** True iff the inclusive string range [min, max] can contain a value
    * starting with `prefix`, in the same UTF-8 byte collation as
    * [[utf8Cmp]]. Two sound exclusions, both byte-wise:
    *  - every match is ≥ `prefix` (it IS the prefix, possibly followed
    *    by more bytes), so `max < prefix` excludes the file — including
    *    the bounds-equal-a-SHORTER-string edge (range ["ab","ab"]
    *    cannot hold anything starting with "abc");
    *  - every match's first |prefix| bytes EQUAL the prefix, so a `min`
    *    whose |prefix|-byte truncation already exceeds it excludes the
    *    file. A `min` shorter than the prefix compares by its own
    *    length (no padding — a truncation that merely EQUALS the
    *    prefix, e.g. min "ab" vs prefix "ab", must keep).
    * Anything else keeps the file (may-match). Writer-truncated parquet
    * bounds stay sound: truncation only ever widens [min, max]. */
  def prefixIntersects(min: String, max: String, prefix: String): Boolean = {
    val pb = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val mxb = max.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytesCmp(mxb, pb) < 0) return false
    val mnb = min.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    bytesCmp(mnb.take(math.min(mnb.length, pb.length)), pb) <= 0
  }

  private def bytesCmp(x: Array[Byte], y: Array[Byte]): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** True iff the inclusive stat range [min, max] intersects the
    * inclusive query range [lo, hi] in `dt`'s comparison domain. */
  def intersects(dt: DataType, min: Any, max: Any, lo: Any, hi: Any): Boolean =
    dt match {
      case StringType =>
        !(utf8Cmp(max.asInstanceOf[String], lo.asInstanceOf[String]) < 0 ||
          utf8Cmp(min.asInstanceOf[String], hi.asInstanceOf[String]) > 0)
      case FloatType | DoubleType =>
        !(max.asInstanceOf[Double] < lo.asInstanceOf[Double] ||
          min.asInstanceOf[Double] > hi.asInstanceOf[Double])
      case _ =>
        !(max.asInstanceOf[Long] < lo.asInstanceOf[Long] ||
          min.asInstanceOf[Long] > hi.asInstanceOf[Long])
    }

  /** Lift a caller-supplied bound (Int, Long, Double, String, …) into
    * `dt`'s comparison domain, failing loudly on a type mismatch. */
  def liftBound(v: Any, dt: DataType): Any = (v, dt) match {
    case (s: String, StringType) => s
    // temporal bounds lift into the same domains the harvest stores:
    // epoch micros for timestamps, epoch days for dates (raw Long/Int
    // bounds pass through the numeric cases below unchanged)
    case (t: java.sql.Timestamp, TimestampType | TimestampNTZType) =>
      // getTime's millis already include the integral-millis part of
      // getNanos — rebuild micros from whole seconds + the nano field
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case (i: java.time.Instant, TimestampType | TimestampNTZType) =>
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case (d: java.time.LocalDateTime, TimestampNTZType) =>
      d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000
    case (d: java.sql.Date, DateType) => d.toLocalDate.toEpochDay
    case (d: java.time.LocalDate, DateType) => d.toEpochDay
    case (n: Byte, t) if !t.isInstanceOf[StringType.type] => widen(n.toLong, dt)
    case (n: Short, t) if !t.isInstanceOf[StringType.type] => widen(n.toLong, dt)
    case (n: Int, t) if !t.isInstanceOf[StringType.type] => widen(n.toLong, dt)
    case (n: Long, t) if !t.isInstanceOf[StringType.type] => widen(n, dt)
    case (n: Float, FloatType | DoubleType) => n.toDouble
    case (n: Double, FloatType | DoubleType) => n
    case _ => throw new IllegalArgumentException(
      s"bound $v (${v.getClass.getSimpleName}) is not comparable to a $dt column")
  }

  private def widen(n: Long, dt: DataType): Any = dt match {
    case FloatType | DoubleType => n.toDouble
    case _ => n
  }
}
