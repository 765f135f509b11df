package graft.functions

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A minimal manifest commit log for streaming-ingest parquet tables —
  * the missing transaction layer the raw-directory maintenance loop
  * documented itself around (and the reason its scaladoc used to end
  * with "snapshot-isolated readers need Delta/Iceberg"). One directory
  * holds flat data files plus a `_graft_log/` of immutable manifests:
  *
  * {{{
  *   table/
  *     c3-part-0000-<uuid>.snappy.parquet      data files (flat, unique)
  *     _staging-<uuid>/                        in-flight writer scratch
  *     _graft_log/manifest-00000000000000000003
  * }}}
  *
  * A manifest is the COMPLETE table state at one version: the list of
  * live data files with byte sizes, the row count, and the writer
  * commit map. Readers never list the data directory — they read the
  * newest manifest and open exactly the files it names. That buys, at
  * 100 TB / 10⁶⁺ files:
  *
  *  - '''snapshot isolation''': a reader resolves one manifest and sees
  *    exactly that version's file set. Compaction commits a NEW manifest
  *    and leaves the old files on disk until [[vacuum]]'s grace expires,
  *    so an in-flight reader finishes against its snapshot — there is no
  *    rename window where the table is missing or mixed.
  *  - '''O(1) listing''': `spark.read.parquet(dir)` pays a recursive
  *    listing that at millions of files is itself the driver-side
  *    bottleneck; [[read]] pays one small-directory listing (≤
  *    [[KeepManifests]] entries) plus one manifest read, and
  *    [[bytes]]/[[rows]] are served from manifest metadata without
  *    touching the filesystem at all.
  *  - '''atomic commit = compare-and-swap''': a manifest is PUBLISHED at
  *    `manifest-(v+1)` through the filesystem's [[CommitStore]] —
  *    temp-write + atomic rename on HDFS/local, a conditional
  *    create-exclusive (the S3 conditional-PUT shape) on object stores
  *    — and because the destination of version v+1 can exist only once,
  *    two racing writers cannot both commit: the loser's publish fails
  *    and aborts. (A mutable `_latest` pointer file would need
  *    overwrite-rename, whose semantics are filesystem-dependent;
  *    max-version-wins needs neither a pointer nor overwrites.)
  *  - '''exactly-once streaming appends''': foreachBatch replays are
  *    deduplicated by the `commits` map — `runKey → last committed
  *    batchId` — carried inside every manifest, so the dedup decision
  *    and the data it protects commit in the same atomic rename. The
  *    runKey ([[runKeyFor]]) lives in the streaming checkpoint
  *    directory: stable across restarts of the same checkpoint (where
  *    batchIds resume and replays must skip) and fresh for a new
  *    checkpoint (where batchIds restart at 0 and must all append) — a
  *    bare-batchId protocol cannot distinguish those two worlds.
  *
  * Failure contract (any number of appending writers with DISTINCT
  * runKeys — losing CAS races resolved by rebase retry, same-runKey
  * zombie replicas fenced at commit — beside which ONE maintenance
  * compact/vacuum/delete process may run, and many readers): every
  * mutation is
  * (write scratch) → (move data files in) → (rename manifest). A crash
  * before the manifest rename leaves unreferenced files that [[vacuum]]
  * sweeps once they outlive the grace; a crash after it is simply a
  * committed version. No repair step exists because no state needs
  * repairing — the newest manifest is always a complete, committed
  * table.
  *
  * The reference has no analogue (streamz sinks append to plain files,
  * sinks.py:61-117); this is the OPTIMIZE/commit-log layer a Spark
  * deployment of the same pipeline needs. The format is deliberately a
  * few dozen lines of tab-separated text, not a Delta clone.
  */
object TableLog {

  /** One live data file: name relative to the table dir, its size (so
    * [[bytes]] never lists the filesystem), and per-column inclusive
    * (min, max) bounds for the table's `layout` columns — harvested from
    * the file's own parquet footer at commit time ([[ParquetFooters]]),
    * rendered per [[ParquetFooters.render]]. An absent column means "no
    * usable bound" and is never pruned on. */
  final case class Entry(name: String, bytes: Long,
                         stats: Map[String, (String, String)] = Map.empty)

  /** One immutable file-group segment referenced by a manifest head: its
    * log-dir file name plus the entry count it holds (the merge policy's
    * sizing input). A segment file is written ONCE, before the head that
    * first references it, and never modified — heads come and go per
    * commit, segments are shared structurally across versions, so an
    * append's commit WRITES only its own delta segment plus a small head
    * (the Iceberg manifest-list idea, reduced to the same tab-separated
    * text as everything else here). */
  final case class SegmentRef(name: String, count: Int)

  /** The complete table state at `version`. `commits` maps a streaming
    * runKey to the last batchId committed under it. `schemaJson` is the
    * table schema every append must match ([[appendBatch]]'s loud
    * evolution guard); `layout` names the columns the last re-layouting
    * [[compact]] range-clustered by — the columns whose per-file stats
    * make [[readWhere]] prune. `statsFor` names EXTRA columns
    * ([[trackStats]]) whose per-file min/max every commit harvests
    * without any clustering promise — useful when ingest order already
    * clusters them (a monotone event time prunes from the first append,
    * no compaction needed). */
  final case class Manifest(version: Long, files: Vector[Entry], rows: Long,
                            commits: Map[String, Long], op: String,
                            schemaJson: Option[String] = None,
                            layout: Seq[String] = Nil,
                            statsFor: Seq[String] = Nil,
                            dropped: Seq[String] = Nil,
                            segments: Vector[SegmentRef] = Vector.empty,
                            bloomFor: Seq[String] = Nil) {
    def bytes: Long = files.iterator.map(_.bytes).sum
    /** The recorded table schema, if this manifest (or its line of
      * ancestry) was written by a schema-recording version. */
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Manifests retained per table: a reader may resolve a version up to
    * this many commits stale and still find every file it names (files
    * referenced by ANY retained manifest survive [[vacuum]]). */
  val KeepManifests = 8

  private val ManifestRe = "^manifest-(\\d{20})$".r
  private def logDir(dir: String) = new Path(dir.stripSuffix("/"), "_graft_log")

  private def manifestName(v: Long) = f"manifest-$v%020d"

  private def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val path = new Path(dir)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  // ---- manifest serialization: one key per line, fields tab-separated.
  // Data-file names are parquet part names (no tabs/newlines) and run
  // keys are UUIDs, so no escaping is needed there; the schema line is
  // JSON (whose string escaping never emits a literal tab or newline)
  // and stats bounds / layout column names are URL-encoded by
  // [[ParquetFooters.render]]. v2 adds the optional schema/layout/stats
  // lines; v3 adds the optional statsfor line ([[trackStats]]); older
  // manifests (earlier tables) parse unchanged with no schema and no
  // stats, which every consumer treats as "unknown — don't guard,
  // don't prune".
  private def render(m: Manifest, segments: Vector[SegmentRef]): String = {
    val sb = new StringBuilder
    // the header names the newest line type actually PRESENT, so a
    // reader too old for this table's features fails on the headline
    // version ("not a graft manifest: graft-manifest-v4" — an
    // unambiguous upgrade signal), while tables that never used the
    // feature keep parsing under older readers (a v2 writer beside a v3
    // one is fine until someone registers stats). v4 adds segment lines:
    // the head then carries NO inline file/stats lines at all — every
    // entry lives in an immutable segment file. v5 adds the optional
    // bloomfor line ([[trackBloom]]) — only tables that REGISTER blooms
    // pay the reader-upgrade requirement.
    sb ++= (if (m.bloomFor.nonEmpty) "graft-manifest-v5\n"
            else if (segments.nonEmpty || m.dropped.nonEmpty) "graft-manifest-v4\n"
            else if (m.statsFor.nonEmpty) "graft-manifest-v3\n"
            else "graft-manifest-v2\n")
    sb ++= s"version\t${m.version}\n"
    sb ++= s"rows\t${m.rows}\n"
    sb ++= s"op\t${m.op}\n"
    m.schemaJson.foreach { j => sb ++= s"schema\t$j\n" }
    if (m.layout.nonEmpty)
      sb ++= s"layout\t${m.layout.map(ParquetFooters.render).mkString(",")}\n"
    if (m.statsFor.nonEmpty)
      sb ++= s"statsfor\t${m.statsFor.map(ParquetFooters.render).mkString(",")}\n"
    if (m.dropped.nonEmpty)
      sb ++= s"dropped\t${m.dropped.map(ParquetFooters.render).mkString(",")}\n"
    if (m.bloomFor.nonEmpty)
      sb ++= s"bloomfor\t${m.bloomFor.map(ParquetFooters.render).mkString(",")}\n"
    m.commits.toSeq.sorted.foreach { case (k, b) => sb ++= s"commit\t$k\t$b\n" }
    segments.foreach { s => sb ++= s"segment\t${s.count}\t${s.name}\n" }
    if (segments.isEmpty) renderEntries(sb, m.files)
    sb.result()
  }

  private def renderEntries(sb: StringBuilder, files: Vector[Entry]): Unit = {
    files.foreach { e => sb ++= s"file\t${e.bytes}\t${e.name}\n" }
    files.foreach { e =>
      e.stats.toSeq.sorted.foreach { case (c, (mn, mx)) =>
        sb ++= s"stats\t${e.name}\t${ParquetFooters.render(c)}\t$mn\t$mx\n"
      }
    }
  }

  private def decodeName(s: String): String =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  private def parseEntryLines(lines: Iterator[String],
      what: String): Vector[Entry] = {
    val files = Vector.newBuilder[Entry]
    val stats = scala.collection.mutable.Map
      .empty[String, Map[String, (String, String)]]
    lines.filter(_.nonEmpty).foreach { line =>
      line.split("\t", -1) match {
        case Array("file", b, n) => files += Entry(n, b.toLong)
        case Array("stats", f, c, mn, mx) =>
          stats(f) = stats.getOrElse(f, Map.empty) + (decodeName(c) -> (mn, mx))
        case other => throw new IllegalArgumentException(
          s"bad $what line: ${other.mkString("\\t")}")
      }
    }
    files.result().map { e =>
      stats.get(e.name).fold(e)(s => e.copy(stats = s))
    }
  }

  private def parse(text: String): Manifest = {
    var version = -1L; var rows = 0L; var op = ""
    var schemaJson: Option[String] = None
    var layout: Seq[String] = Nil
    var statsFor: Seq[String] = Nil
    var dropped: Seq[String] = Nil
    var bloomFor: Seq[String] = Nil
    val segments = Vector.newBuilder[SegmentRef]
    val inline = new StringBuilder
    val commits = Map.newBuilder[String, Long]
    val lines = text.split("\n")
    require(lines.headOption.exists(h =>
        h == "graft-manifest-v1" || h == "graft-manifest-v2" ||
        h == "graft-manifest-v3" || h == "graft-manifest-v4" ||
        h == "graft-manifest-v5"),
      s"not a graft manifest: ${lines.headOption.getOrElse("<empty>")}")
    lines.iterator.drop(1).filter(_.nonEmpty).foreach { line =>
      line.split("\t", -1) match {
        case Array("version", v) => version = v.toLong
        case Array("rows", r)    => rows = r.toLong
        case Array("op", o)      => op = o
        case Array("schema", j)  => schemaJson = Some(j)
        case Array("layout", cs) => layout = cs.split(",").toSeq.map(decodeName)
        case Array("statsfor", cs) => statsFor = cs.split(",").toSeq.map(decodeName)
        case Array("dropped", cs) => dropped = cs.split(",").toSeq.map(decodeName)
        case Array("bloomfor", cs) => bloomFor = cs.split(",").toSeq.map(decodeName)
        case Array("commit", k, b) => commits += (k -> b.toLong)
        case Array("segment", c, n) => segments += SegmentRef(n, c.toInt)
        case Array("file", _, _) | Array("stats", _, _, _, _) =>
          inline ++= line; inline += '\n'
        case other => throw new IllegalArgumentException(
          s"bad manifest line: ${other.mkString("\\t")}")
      }
    }
    require(version >= 0, "manifest missing version")
    Manifest(version, parseEntryLines(inline.result().linesIterator, "manifest"),
      rows, commits.result(), op, schemaJson, layout, statsFor, dropped,
      segments.result(), bloomFor)
  }

  // ---- segment files: immutable `segment-<uuid>` blobs in the log dir
  // holding file/stats lines in the manifest's own format. Immutability
  // is what makes the in-process cache sound: a path's content can never
  // change, only be vacuumed once unreferenced — and nothing reads a
  // vacuumed segment (every retained head's segments are themselves
  // retained by vacuum).
  private val SegmentRe = "^segment-[0-9a-f-]+$".r
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[Entry]]()
  /** Crude bound so a long-lived test/driver JVM touching many tables
    * cannot grow the cache without limit; 512 segments ≈ the working set
    * of a handful of live tables, and a clear only costs re-reads. */
  private val SegCacheMax = 512

  /** Test seam: total [[loadSegment]] CALLS (cache hits included) — what
    * the O(delta) CDC fast-path specs assert on, since the content cache
    * hides filesystem reads but not algorithmic touches. */
  private[functions] val segmentTouches =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def loadSegment(fs: FileSystem, dir: String,
                          ref: SegmentRef): Vector[Entry] = {
    segmentTouches.incrementAndGet()
    val p = new Path(logDir(dir), ref.name)
    val key = p.toString
    val cached = segCache.get(key)
    if (cached != null) return cached
    val text = readFully(fs, p)
    val lines = text.split("\n")
    require(lines.headOption.contains("graft-segment-v1"),
      s"not a graft segment: $key: ${lines.headOption.getOrElse("<empty>")}")
    val entries = parseEntryLines(lines.iterator.drop(1), "segment")
    require(entries.length == ref.count,
      s"segment $key holds ${entries.length} entries but the head " +
        s"recorded ${ref.count} — torn segment write (should be impossible: " +
        "heads are committed only after their segments closed)")
    if (segCache.size >= SegCacheMax) segCache.clear()
    segCache.put(key, entries)
    entries
  }

  private def writeSegment(fs: FileSystem, dir: String,
                           entries: Vector[Entry]): SegmentRef = {
    val name = s"segment-${java.util.UUID.randomUUID()}"
    val log = logDir(dir)
    fs.mkdirs(log)
    val sb = new StringBuilder
    sb ++= "graft-segment-v1\n"
    renderEntries(sb, entries)
    val out = fs.create(new Path(log, name), false)
    try out.write(sb.result().getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    SegmentRef(name, entries.length)
  }

  /** Parse a head and materialize its file list from its segments (plus
    * any inline v1-v3 entries). The resolved manifest's `segments` field
    * is the authoritative reuse set for the NEXT commit's diff. */
  private def resolveManifest(fs: FileSystem, dir: String,
                              text: String): Manifest = {
    val head = parse(text)
    if (head.segments.isEmpty) head
    else head.copy(files =
      head.segments.flatMap(loadSegment(fs, dir, _)) ++ head.files)
  }

  /** The advisory head-hint file: `_graft_log/_head`, holding the
    * version number the LAST successful commit published. NEVER
    * load-bearing — it is written best-effort AFTER the CAS (a crash in
    * between leaves it one behind; a slow writer racing a faster one can
    * even move it backwards), so resolution only ever uses it as a
    * starting point: existence-probe FORWARD from the hinted manifest to
    * the true head, and fall back to the full directory listing when the
    * hint is missing, unparseable, older than retention, or further than
    * [[MaxHintLag]] behind. What it buys: head resolution in O(lag)
    * small existence checks instead of one listing of the whole log dir
    * — the listing is O(retained manifests + live segments), which the
    * deep-mirror bench measured HALVING live tail cadence at a
    * 2,700-file log dir, and every read, commit and per-trigger
    * availability probe pays it. */
  private val HeadHintName = "_head"

  private def headHintPath(dir: String) = new Path(logDir(dir), HeadHintName)

  /** Best-effort, advisory-only: failures are swallowed (the next
    * commit re-writes it; resolution falls back to the listing).
    * Published temp-then-rename ([[atomicWriteSmall]]), never overwritten
    * in place: an in-place rewrite truncates the checksum sidecar, and a
    * racing [[latestVersion]] that opens the truncated sidecar logs a
    * checksum warning. */
  private[functions] def writeHeadHint(fs: FileSystem, dir: String,
                                       version: Long): Unit =
    try atomicWriteSmall(fs, headHintPath(dir), version.toString)
    catch { case scala.util.control.NonFatal(_) => () }

  /** How far behind the true head a hint may be before resolution gives
    * up probing forward and lists the directory instead (the probes
    * would cost more than the listing). A var only as a test seam. */
  private[functions] var MaxHintLag = 64

  /** Resolve the head version THROUGH the hint: None means "hint
    * unusable, list the directory". Correctness never depends on hint
    * freshness — the forward existence probes see a manifest the moment
    * its CAS lands, hint written or not. */
  private def hintedLatestVersion(fs: FileSystem, dir: String): Option[Long] = {
    val log = logDir(dir)
    // ANY read failure — not just absence — falls back to the listing:
    // the hint is advisory, so an unreadable one is never an error
    val hinted =
      try tryReadFully(fs, headHintPath(dir)).flatMap(_.trim.toLongOption)
      catch { case scala.util.control.NonFatal(_) => None }
    hinted
      .flatMap { v =>
        // a hint older than retention (its manifest already vacuumed)
        // cannot anchor forward probes — fall back to the listing
        if (!fs.exists(new Path(log, manifestName(v)))) None
        else {
          var head = v
          var lag = 0
          var more = true
          while (more && lag <= MaxHintLag) {
            if (fs.exists(new Path(log, manifestName(head + 1)))) {
              head += 1; lag += 1
            } else more = false
          }
          if (more) None // still finding newer past the cap: too stale
          else Some(head)
        }
      }
  }

  private def listedLatestVersion(fs: FileSystem, dir: String): Option[Long] =
    listManifests(fs, dir).lastOption.map(_._1)

  /** Every retained manifest as `(version, status)`, oldest first, from
    * ONE listing of the log dir and file NAMES only — no manifest is
    * opened. Empty when the table has no log. */
  private def listManifests(fs: FileSystem, dir: String): Vector[(Long, FileStatus)] = {
    val listed =
      try fs.listStatus(logDir(dir))
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    listed.iterator.flatMap { f =>
      f.getPath.getName match {
        case ManifestRe(v) => Iterator.single((v.toLong, f))
        case _             => Iterator.empty
      }
    }.toVector.sortBy(_._1)
  }

  /** The newest committed manifest, or None for a not-yet-created table.
    * Cost: one hint read plus O(hint lag) existence checks (steady
    * state: lag 0) plus one small head read — independent of table size
    * AND of history depth; only a missing/stale hint pays the full
    * log-dir listing. */
  def latest(spark: SparkSession, dir: String): Option[Manifest] = {
    val (fs, _) = fsFor(spark, dir)
    val log = logDir(dir)
    if (!fs.exists(log)) return None
    hintedLatestVersion(fs, dir).orElse(listedLatestVersion(fs, dir))
      .map(v => resolveManifest(fs, dir,
        readFully(fs, new Path(log, manifestName(v)))))
  }

  /** The newest committed version NUMBER — hint + forward probes (or
    * one log-dir listing on hint miss), zero manifest or segment reads.
    * The per-trigger availability probe of the [[readTailVersions]]
    * source ([[graft.sources.TableLogTailSource]] `latestOffset` fires
    * every trigger; resolving the head there would re-touch O(segments)
    * per trigger for a number the file NAME already carries). Safe
    * against concurrent commits: the hint is replaced by rename, so a
    * racing read sees the old or the new hint, never a torn one. */
  private[graft] def latestVersion(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, _) = fsFor(spark, dir)
    if (!fs.exists(logDir(dir))) return None
    hintedLatestVersion(fs, dir).orElse(listedLatestVersion(fs, dir))
  }

  /** The newest head, parsed but NOT resolved: segment refs stay refs
    * and `files` holds only inline entries. For consumers that need
    * head-line fields (version, schema, op, commit map) without paying
    * the O(live files) segment materialization [[latest]] does. */
  private[graft] def latestHead(spark: SparkSession, dir: String): Option[Manifest] = {
    val (fs, _) = fsFor(spark, dir)
    latestVersion(spark, dir).map(v =>
      parse(readFully(fs, new Path(logDir(dir), manifestName(v)))))
  }

  /** One retained version's head, parsed but NOT resolved — the
    * per-micro-batch schema-drift probe of the streaming tail
    * ([[graft.sources.TableLogTailSource.getBatch]]): one small file
    * read, no segment materialization. None when the manifest has left
    * retention (the caller's delta resolution raises the loud error). */
  private[graft] def headAt(spark: SparkSession, dir: String,
                            version: Long): Option[Manifest] = {
    val (fs, _) = fsFor(spark, dir)
    tryReadFully(fs, new Path(logDir(dir), manifestName(version))).map(parse)
  }

  private def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** How many segments a head may reference before a commit folds the
    * smallest ones into one merged segment. The bound keeps head
    * render/parse O(MaxSegments), and size-tiered merging (smallest
    * first, halving the count) keeps the amortized per-append write
    * O(delta · log files) — the LSM trade, chosen over "merge all" whose
    * every-Nth-commit O(live files) spike is exactly the ceiling this
    * layer exists to remove. A var only as a test seam (the merge spec
    * lowers it to fold within a handful of appends); production leaves
    * the default. */
  private[functions] var MaxSegments = 64

  /** Commit `m` as the next version: place `m.files` into immutable
    * segments — reusing every candidate segment whose entries all
    * survive unchanged in `m`, writing ONE new segment for the rest —
    * then publish the small head at `manifest-<version>` through the
    * filesystem's [[CommitStore]] (HDFS/local: temp+atomic-rename;
    * object stores: conditional create). The publish IS the commit and
    * doubles as the optimistic-concurrency CAS — if the destination
    * already exists (another writer committed this version first), the
    * publish fails and the caller rebases or aborts, never clobbers.
    * What a steady-state
    * append WRITES is therefore O(delta + MaxSegments), independent of
    * live-file count (spec-pinned); the first commit over a pre-segment
    * v1-v3 table migrates every inline entry into one segment, an
    * O(files) write paid once. Manifest-tail pruning is deliberately NOT
    * done here — it is deferred to [[vacuum]]'s grace-gated pass, so a
    * just-resolved manifest cannot vanish under a seconds-old reader. */
  private[functions] def commit(fs: FileSystem, dir: String, m: Manifest,
      candidates: Vector[SegmentRef]): Unit = {
    val byName = new scala.collection.mutable.HashMap[String, Entry]()
    m.files.foreach { e =>
      if (byName.put(e.name, e).isDefined) throw new IllegalStateException(
        s"duplicate file ${e.name} in manifest ${m.version} of $dir")
    }
    // reuse candidates greedily in order: a segment survives iff every
    // entry is still present UNCHANGED and not already covered by an
    // earlier taken segment (overlap can only arise from caller-supplied
    // extra candidates, e.g. restore's target segments)
    val covered = scala.collection.mutable.Set.empty[String]
    val taken = Vector.newBuilder[(SegmentRef, Vector[Entry])]
    candidates.distinct.foreach { ref =>
      if (ref.count > 0) {
        val entries = loadSegment(fs, dir, ref)
        if (entries.forall(e =>
            !covered.contains(e.name) && byName.get(e.name).contains(e))) {
          covered ++= entries.iterator.map(_.name)
          taken += ((ref, entries))
        }
      }
    }
    val remaining = m.files.filterNot(e => covered.contains(e.name))
    var segs = taken.result()
    if (remaining.nonEmpty)
      segs = segs :+ ((writeSegment(fs, dir, remaining), remaining))
    if (segs.length > MaxSegments) {
      // size-tiered fold: merge the smallest segments down to half the
      // bound, preserving the kept segments' relative order and placing
      // the merged one last (entry ORDER across segments is not
      // semantic — file names are unique and consumers treat the list
      // as a set)
      val target = MaxSegments / 2
      val mergeSet = segs.sortBy(_._1.count)
        .take(segs.length - target + 1).map(_._1.name).toSet
      val (merge, keep) = segs.partition(s => mergeSet.contains(s._1.name))
      val mergedEntries = merge.flatMap(_._2)
      segs = keep :+ ((writeSegment(fs, dir, mergedEntries), mergedEntries))
    }
    val log = logDir(dir)
    fs.mkdirs(log)
    val dst = new Path(log, manifestName(m.version))
    // the publish-if-absent IS the CAS — HOW it is made atomic is the
    // [[CommitStore]]'s per-backend business (HDFS/local: mutexed
    // temp+rename; S3-class object stores: a conditional create with no
    // rename anywhere). Everything above this line wrote only fresh
    // UUID names; this is the single contended operation of a commit.
    val won = CommitStore.forFs(fs).putIfAbsent(fs, dst,
      render(m, segs.map(_._1))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (!won) {
      throw new java.util.ConcurrentModificationException(
        s"version ${m.version} of $dir was committed by another writer first")
    }
    // advisory head hint, AFTER the CAS (the publish above IS the
    // commit; a crash here just leaves the hint one behind, which the
    // next resolution's forward probe absorbs)
    writeHeadHint(fs, dir, m.version)
    // manifest-tail pruning happens in vacuum, NOT here: a manifest may
    // only disappear once it is older than the snapshot grace, otherwise
    // a fast-committing writer could prune the manifest a seconds-old
    // reader resolved and then reclaim its files out from under it
  }

  /** [[commit]] reusing the manifest's own `segments` as candidates —
    * for callers committing a resolved-then-tweaked manifest (specs, and
    * [[adopt]]'s fresh version 0, whose empty candidate set makes every
    * entry land in one new segment). */
  private[functions] def commit(fs: FileSystem, dir: String, m: Manifest): Unit =
    commit(fs, dir, m, m.segments)

  /** The optimistic-concurrency loop every mutation shares: resolve the
    * CURRENT latest manifest, let `attempt` either finish WITHOUT
    * committing (Left — a fence or idempotent no-op decided the result)
    * or produce the next manifest to CAS-commit (Right); a lost rename
    * re-runs `attempt` against the re-resolved latest, up to
    * [[CasRetries]] times before giving up loudly. `attempt` is
    * re-evaluated per iteration, so it must hold only reads, checks and
    * manifest construction — side effects (staging writes, file
    * renames) belong BEFORE the loop. Op-specific conflict rules (a
    * maintenance writer that must not rebase over removed files, a
    * retention floor) throw from inside `attempt`. `committed` maps the
    * manifest that actually landed to the caller's result. */
  private def commitLoop[A](spark: SparkSession, fs: FileSystem, dir: String,
      opName: String, extraSegments: Vector[SegmentRef] = Vector.empty)
      (attempt: Option[Manifest] => Either[A, Manifest])
      (committed: Manifest => A): A = {
    var attempts = 0
    var out: Option[A] = None
    while (out.isEmpty) {
      val prevOpt = latest(spark, dir)
      attempt(prevOpt) match {
        case Left(a) => out = Some(a)
        case Right(m) =>
          casHook()
          // segment-reuse candidates come from the RESOLVED latest (the
          // authoritative on-disk layout), not from whatever `segments`
          // the attempt's hand-built manifest carries; extras let a
          // restore reuse its retained target's segments too
          val cands = prevOpt.map(_.segments).getOrElse(Vector.empty) ++
            extraSegments
          // the retry catch must wrap ONLY the commit: a CME escaping
          // `committed` after the rename landed would otherwise re-run
          // `attempt` against a table that already holds this change
          val landed =
            try { commit(fs, dir, m, cands); true }
            catch {
              case e: java.util.ConcurrentModificationException =>
                attempts += 1
                if (attempts > CasRetries) throw new java.util.ConcurrentModificationException(
                  s"$opName of $dir lost the manifest CAS $attempts times: ${e.getMessage}")
                casBackoff(attempts)
                false
            }
          if (landed) out = Some(committed(m))
      }
    }
    out.get
  }

  /** Snapshot read: the table at its newest committed version — exactly
    * the files that manifest names, no directory listing. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val m = latest(spark, dir).getOrElse(throw new IllegalStateException(
      s"$dir has no committed manifest — not a TableLog table (or never written)"))
    readVersion(spark, dir, m)
  }

  /** Retained manifest versions, from file NAMES only — no manifest is
    * opened, so this is safe and cheap at any manifest size. */
  def retainedVersions(spark: SparkSession, dir: String): Seq[Long] =
    listManifests(fsFor(spark, dir)._1, dir).map(_._1)

  /** [[readFully]] tolerating a concurrent vacuum pruning the file
    * between listing and open — the benign read-side race every
    * beyond-retention manifest accessor must absorb. */
  private def tryReadFully(fs: FileSystem, p: Path): Option[String] =
    try Some(readFully(fs, p))
    catch { case _: java.io.FileNotFoundException => None }

  /** Time travel: the table as of `version` — available while the
    * manifest is retained ([[KeepManifests]] back, pruned only past the
    * vacuum grace) and its files unvacuumed; a version outside retention
    * fails loudly with the available range (derived from manifest NAMES,
    * so the error path never reads a manifest body). */
  def readAt(spark: SparkSession, dir: String, version: Long): DataFrame =
    readVersion(spark, dir, manifestAt(spark, dir, version))

  /** All retained manifests, oldest first — the table's recent history
    * (version, op, rows, file count). A manifest pruned by a concurrent
    * vacuum between the listing and its read is skipped, not an error
    * (only beyond-retention manifests can disappear; [[latest]] opens
    * the max version, which pruning never touches). */
  def history(spark: SparkSession, dir: String): Seq[Manifest] = {
    val (fs, _) = fsFor(spark, dir)
    listManifests(fs, dir).flatMap { case (_, f) =>
      tryReadFully(fs, f.getPath).map(resolveManifest(fs, dir, _))
    }
  }

  /** Retained `(version, commitTimeMillis)` pairs, oldest version
    * first. Commit time is the manifest FILE's modification time — the
    * same source Delta Lake reads — because the manifest format
    * deliberately carries no clock line (adding one would bump the
    * format version for every new table, breaking older readers for a
    * convenience). Two caveats, both shared with Delta, both absorbed
    * here rather than surfaced: (a) the time is stamped when the
    * winning attempt RENDERED its temp file, a moment before the CAS
    * published it — "commit time" is early by the publish latency;
    * (b) raw mtimes across racing writers, a stepped clock, or a
    * restored backup need not be monotone in version, so times are
    * adjusted forward (`max(raw, prev + 1)`) — a later version never
    * maps to an earlier instant, and [[versionAt]] stays a
    * well-defined step function. Cost: one log-dir listing, zero
    * manifest reads. */
  def retainedCommitTimes(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    var prev = Long.MinValue
    listManifests(fsFor(spark, dir)._1, dir).map { case (v, f) =>
      val t = f.getModificationTime
      val adj = if (prev == Long.MinValue) t else math.max(t, prev + 1)
      prev = adj
      (v, adj)
    }
  }

  /** Time travel by clock: the newest retained version whose commit
    * time ([[retainedCommitTimes]]) is at or before `tsMillis`.
    *
    * Loud at both edges, deliberately: a timestamp BEFORE the oldest
    * retained commit names pruned history (the travel window is the
    * manifest retention window — [[KeepManifests]] back, minus what
    * vacuum's grace already released), and a timestamp AFTER the
    * newest commit names a table state that is not final yet — an
    * in-flight writer could still land a commit stamped before it, so
    * answering would make the query non-reproducible (Delta errors
    * here for the same reason). Both errors name the usable range. */
  def versionAt(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val times = retainedCommitTimes(spark, dir)
    if (times.isEmpty) throw new IllegalStateException(
      s"$dir has no committed manifest — not a TableLog table (or never written)")
    def inst(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
    if (tsMillis < times.head._2) throw new IllegalStateException(
      s"$dir has no retained commit at or before ${inst(tsMillis)} — " +
        s"the oldest retained commit is version ${times.head._1} at " +
        s"${inst(times.head._2)}; earlier history has been pruned " +
        "(manifest retention is the travel window)")
    if (tsMillis > times.last._2) throw new IllegalStateException(
      s"the requested timestamp ${inst(tsMillis)} is after $dir's newest " +
        s"commit (version ${times.last._1} at ${inst(times.last._2)}) — " +
        "that state is not final (a racing writer could still commit " +
        s"before it); use VERSION AS OF ${times.last._1} or a timestamp " +
        s"at or before ${inst(times.last._2)} for a reproducible read")
    times.takeWhile(_._2 <= tsMillis).last._1
  }

  /** Time travel by clock: the table as it stood at `tsMillis` —
    * [[readAt]] of [[versionAt]]. */
  def readAtTimestamp(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    readAt(spark, dir, versionAt(spark, dir, tsMillis))

  /** A user-supplied travel timestamp, parsed to epoch millis. Accepts
    * the forms the SQL and option faces advertise: an all-digit epoch
    * millis, an ISO-8601 instant (`2026-08-16T12:00:00Z`), or a local
    * `yyyy-MM-dd[ HH:mm:ss[.SSS]]` interpreted in `zone` (the
    * session's `spark.sql.session.timeZone`, matching how Spark reads
    * the same literal elsewhere). Anything else is a loud error
    * listing the accepted forms. */
  private[graft] def parseTravelTimestamp(spark: SparkSession,
      s: String): Long =
    parseTravelTimestamp(s, java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone))

  private[graft] def parseTravelTimestamp(s: String,
      zone: java.time.ZoneId): Long = {
    val t = s.trim
    t.toLongOption.getOrElse {
      try java.time.Instant.parse(t).toEpochMilli
      catch { case _: java.time.format.DateTimeParseException =>
        val fmt = java.time.format.DateTimeFormatter.ofPattern(
          "yyyy-MM-dd[ HH:mm:ss[.SSS]]")
        try {
          val parsed = fmt.parseBest(t,
            java.time.LocalDateTime.from(_), java.time.LocalDate.from(_))
          val local = parsed match {
            case d: java.time.LocalDate => d.atStartOfDay()
            case dt: java.time.LocalDateTime => dt
          }
          local.atZone(zone).toInstant.toEpochMilli
        } catch { case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"cannot parse travel timestamp '$s' — use epoch millis, an " +
              "ISO-8601 instant (2026-08-16T12:00:00Z), or " +
              "'yyyy-MM-dd[ HH:mm:ss[.SSS]]' in the session time zone")
        }
      }
    }
  }

  /** Retained history from manifest HEADS: `(head, commitTimeMillis)`
    * oldest version first, the commit time adjusted as in
    * [[retainedCommitTimes]]. Heads are parsed but NOT resolved —
    * segment refs stay refs (their entry COUNTS are head lines), so
    * the cost is [[KeepManifests]] small file reads regardless of
    * table size. A head pruned by a racing vacuum between the listing
    * and its read is skipped, as in [[history]]. */
  def historyHeads(spark: SparkSession, dir: String): Seq[(Manifest, Long)] = {
    val (fs, _) = fsFor(spark, dir)
    retainedCommitTimes(spark, dir).flatMap { case (v, t) =>
      tryReadFully(fs, new Path(logDir(dir), manifestName(v)))
        .map(text => (parse(text), t))
    }
  }

  /** [[read]] pinned to a specific resolved manifest — the handle a
    * reader holds to keep one snapshot across multiple actions.
    *
    * Schema-carrying manifests read through a [[ManifestFileIndex]]
    * relation: the scan's file list is answered from the manifest (no
    * directory listing) and every pushed data filter prunes files
    * against the recorded per-file stats — `read(dir).filter(multi-
    * column conjunction)` opens only the files whose bounds intersect,
    * with no bespoke API ([[readWhere]] remains as single-range sugar).
    * Pre-schema v1 manifests keep the plain path read (no recorded
    * schema to pin, no stats to prune on). */
  def readVersion(spark: SparkSession, dir: String, m: Manifest): DataFrame = {
    if (m.files.isEmpty) throw new IllegalStateException(
      s"$dir version ${m.version} has no data files (only empty batches committed)")
    val base = dir.stripSuffix("/")
    m.schema match {
      case Some(s) => spark.baseRelationToDataFrame(hadoopRelation(spark, dir, m, s))
      case None =>
        spark.read.parquet(m.files.map(e => s"$base/${e.name}"): _*)
    }
  }

  /** The file-source relation every manifest-pinned reader plans: a
    * parquet `HadoopFsRelation` whose file list is answered by a
    * [[ManifestFileIndex]] over `m` — zero directory listings, pushed
    * data filters pruned against the recorded per-file stats. Shared by
    * [[readVersion]], the streaming tail's per-batch planning, and the
    * `format("tablelog")` batch provider
    * ([[graft.sources.TableLogProvider]]). */
  private[graft] def hadoopRelation(spark: SparkSession, dir: String,
      m: Manifest, dataSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation =
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new ManifestFileIndex(spark, dir, m),
      partitionSchema = org.apache.spark.sql.types.StructType(Nil),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options = Map.empty)(spark)

  /** The RESOLVED manifest of retained `version` — [[readAt]]'s lookup
    * without the DataFrame: the same loud beyond-retention error, full
    * file list materialized. */
  private[graft] def manifestAt(spark: SparkSession, dir: String,
                                version: Long): Manifest = {
    val (fs, _) = fsFor(spark, dir)
    tryReadFully(fs, new Path(logDir(dir), manifestName(version)))
      .map(resolveManifest(fs, dir, _)).getOrElse {
        val have = retainedVersions(spark, dir)
        throw new IllegalStateException(
          s"$dir has no retained manifest for version $version — retained: " +
            (if (have.isEmpty) "none" else s"${have.min}..${have.max}"))
      }
  }

  /** Total data bytes — from the manifest, zero filesystem calls. */
  def bytes(spark: SparkSession, dir: String): Long =
    latest(spark, dir).map(_.bytes).getOrElse(0L)

  /** Total rows — from the manifest, zero filesystem calls. */
  def rows(spark: SparkSession, dir: String): Long =
    latest(spark, dir).map(_.rows).getOrElse(0L)

  /** The live files whose manifest [min, max] stats for `column` can
    * intersect the inclusive range [lower, upper] — manifest-level
    * pruning, zero parquet footers opened. Files with no recorded stats
    * for `column` (pre-stats manifests, unsupported types, writer gaps)
    * are conservatively KEPT. This is what makes a time- or key-ranged
    * query over a 10⁶-file compacted table open only the files whose
    * range-layout span matches, instead of every footer. */
  def prunedFiles(spark: SparkSession, dir: String, column: String,
                  lower: Any, upper: Any): Seq[String] = {
    val m = latest(spark, dir).getOrElse(throw new IllegalStateException(
      s"$dir has no committed manifest — not a TableLog table (or never written)"))
    prunedEntries(m, column, lower, upper).map(_.name)
  }

  private[functions] def prunedEntries(m: Manifest, column: String,
      lower: Any, upper: Any): Vector[Entry] =
    m.schema.flatMap(_.fields.find(_.name == column)).map(_.dataType) match {
      case Some(dt) if ParquetFooters.comparable(dt) =>
        val lo = ParquetFooters.liftBound(lower, dt)
        val hi = ParquetFooters.liftBound(upper, dt)
        m.files.filter { e =>
          e.stats.get(column) match {
            case Some((mn, mx)) => ParquetFooters.intersects(dt,
              ParquetFooters.parseBound(mn, dt), ParquetFooters.parseBound(mx, dt),
              lo, hi)
            case None => true
          }
        }
      case _ => m.files // unknown schema or incomparable type: no pruning
    }

  /** Snapshot read restricted to rows with `column` in the inclusive
    * range [lower, upper]: prunes non-intersecting files at the MANIFEST
    * level (their footers are never opened), then applies the exact
    * predicate to the survivors — same rows as
    * `read(dir).filter(col between)`, far fewer files touched on a
    * [[compact]]-`layoutBy` table. */
  def readWhere(spark: SparkSession, dir: String, column: String,
                lower: Any, upper: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val m = latest(spark, dir).getOrElse(throw new IllegalStateException(
      s"$dir has no committed manifest — not a TableLog table (or never written)"))
    val keep = prunedEntries(m, column, lower, upper)
    val base = dir.stripSuffix("/")
    val df =
      if (keep.nonEmpty)
        m.schema.fold(spark.read)(s => spark.read.schema(s))
          .parquet(keep.map(e => s"$base/${e.name}"): _*)
      else m.schema match {
        case Some(s) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        case None => readVersion(spark, dir, m) // cannot happen: no schema ⇒ no pruning
      }
    df.filter(col(column).between(lit(lower), lit(upper)))
  }

  /** The oldest still-readable point of the table: (version, commit
    * mtime) of the oldest retained manifest. Operators size [[vacuum]]
    * grace windows and [[readTailVersions]]/[[appendsSince]] consumer lag
    * against THIS — a consumer whose checkpoint falls behind
    * `retention(dir)` must fall back to a full snapshot read rather
    * than discover FileNotFound mid-query. None for a table with no
    * log. */
  def retention(spark: SparkSession, dir: String): Option[(Long, Long)] =
    listManifests(fsFor(spark, dir)._1, dir).headOption
      .map { case (v, f) => (v, f.getModificationTime) }

  /** The per-checkpoint writer identity for [[appendBatch]]'s dedup:
    * created once in `ckptDir` and read back on every restart, so the
    * same checkpoint (where Spark resumes batchIds and may replay the
    * last one) keeps its runKey, while a FRESH checkpoint (batchIds
    * restart at 0) draws a fresh one and can never collide with a prior
    * generation's committed batches. */
  def runKeyFor(spark: SparkSession, ckptDir: String): String = {
    val p = new Path(ckptDir.stripSuffix("/"), "graft-run-key")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) readFully(fs, p).trim
    else {
      val key = java.util.UUID.randomUUID().toString
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      try out.write(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      key
    }
  }

  /** How many times a losing manifest CAS is re-resolved and re-tried
    * before giving up. Each retry is one listing + one manifest read +
    * one rename, and losers back off with jitter ([[casBackoff]]), so
    * the bound exists only to turn a pathological livelock into an
    * error. Sized for a FLEET of appenders: one commit round has up to
    * writers−1 losers, so an unlucky writer among 8 can lose several
    * consecutive rounds legitimately (the 8-writer contention bench
    * exhausted the old bound of 5). */
  val CasRetries = 32

  /** Jittered backoff before a lost CAS retries: losers that re-resolve
    * and re-rename in lockstep mostly re-collide — a random few-ms sleep
    * (growing with the attempt, capped well under a commit's own cost)
    * spreads the next round instead. */
  private def casBackoff(attempt: Int): Unit = {
    val cap = math.min(4 << math.min(attempt, 4), 50)
    Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
      .nextInt(1, cap + 1).toLong)
  }

  /** Test seam: invoked once per manifest-commit ATTEMPT inside the
    * retrying paths ([[commitAppend]], [[compact]]), between resolving
    * the base manifest and the CAS rename — exactly the race window.
    * Specs install a one-shot conflicting commit here to exercise the
    * retry deterministically; a no-op in production. */
  private[functions] var casHook: () => Unit = () => ()

  /** Structural schema equality ignoring nullability at every depth —
    * the evolution guard's notion of "same schema" (parquet writers and
    * streaming sources disagree freely about nullable flags). */
  private[graft] def sameSchema(a: org.apache.spark.sql.types.StructType,
                                b: org.apache.spark.sql.types.StructType): Boolean =
    normalizeType(a) == normalizeType(b)

  private def normalizeType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, normalizeType(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(normalizeType(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(normalizeType(m.keyType), normalizeType(m.valueType),
          valueContainsNull = true)
      case other => other
    }
  }

  /** Column-name identity under the session's resolution rules: when
    * `spark.sql.caseSensitive` is false (the default), parquet resolves
    * columns case-INSENSITIVELY, so every guard that reasons about
    * "the same column" — the dropped-name resurrection guards in
    * [[evolve]]/[[restore]], [[dropColumn]]'s layout/stats scrubs —
    * must compare names the way the reader will, or `ID` slips past a
    * guard protecting `id` and pre-drop files serve the old values
    * under the re-added name. */
  private def nameKey(spark: SparkSession)(name: String): String =
    if (spark.sessionState.conf.caseSensitiveAnalysis) name
    else name.toLowerCase(java.util.Locale.ROOT)

  /** Exactly-once streaming append: a no-op when `(runKey, batchId)` is
    * already in the newest manifest's commit map, else write → move →
    * commit. Returns true when the batch landed, false on a deduped
    * replay. A crash anywhere before the manifest rename leaves only
    * unreferenced scratch that [[vacuum]] reclaims; the replay then
    * lands the batch cleanly — every row commits exactly once.
    *
    * Schema guard: when the table's manifest records a schema, a batch
    * whose columns or types differ fails HERE, loudly, before any file
    * lands — not at some later read deep inside parquet resolution
    * (nullability differences are tolerated; names and types are not).
    *
    * Row counts and per-file min/max stats for the table's `layout`
    * and [[trackStats]] columns come from the staged files' parquet
    * FOOTERS — metadata reads, no extra Spark job per micro-batch.
    *
    * A driver-local `batch` — only projections over a local collection
    * (`Seq(...).toDF(...)`, `createDataFrame(rows, schema)`) that the
    * optimizer folds into one local relation — runs NO Spark job: its
    * rows are written on the driver in the files the write job would
    * write (same slices, rows per file and footers, see
    * [[StagedParquet.writeLocal]]). Any other batch, or a local one
    * whose projection the optimizer leaves unfolded, runs the
    * `df.write.parquet` job.
    *
    * Concurrency — MULTI-WRITER appends: if the manifest CAS is lost
    * to any concurrent commit (another appender, a
    * [[compact]]/maintenance writer), the already-landed files are
    * re-committed against the re-resolved latest manifest (up to
    * [[CasRetries]] times) instead of failing the stream — an append's
    * files are disjoint from any other commit's, commit maps merge per
    * runKey, so rebasing is always safe. Any number of appending
    * writers with DISTINCT runKeys may thus feed one table, each with
    * its own exactly-once (runKey, batchId) ledger, beside a single
    * maintenance process (compact/vacuum/delete stay one-at-a-time).
    * Replicas of the SAME runKey are fenced at commit time: a rebase
    * that reveals its (runKey, batchId) already committed abandons the
    * landed files to vacuum and returns false — a zombie writer (stale
    * retry after checkpoint handover) cannot double a batch's rows. */
  def appendBatch(batch: DataFrame, dir: String, runKey: String,
                  batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val (fs, _) = fsFor(spark, dir)
    val prev = latest(spark, dir).getOrElse(Empty)
    if (!admits(dir, prev.commits, prev.schema, runKey, batchId, batch.schema))
      return false
    val (staging, parts) = stage(fs, dir, batch, prev)
    val landed = commitAdmitted(spark, fs, dir, prev, parts, batch.schema,
      runKey, batchId)
    fs.delete(staging, true)
    landed
  }

  /** The post-staging half of [[appendBatch]], for the DSv2 writer
    * ([[graft.sources.TableLogV2]]) whose task-side parquet writers
    * stage files WITHOUT a DataFrame: admit, land under `a<v>-` names
    * and group-commit. The caller owns the staging directory (delete it
    * after this returns or throws); a fenced replay abandons the landed
    * `a`-files to [[vacuum]] exactly like appendBatch's fence story. */
  private[graft] def commitStagedFiles(spark: SparkSession, dir: String,
      staged: Seq[FileStatus],
      schema: org.apache.spark.sql.types.StructType,
      runKey: String, batchId: Long): Boolean = {
    val (fs, _) = fsFor(spark, dir)
    val prev = latest(spark, dir).getOrElse(Empty)
    admits(dir, prev.commits, prev.schema, runKey, batchId, schema) &&
      commitAdmitted(spark, fs, dir, prev, staged, schema, runKey, batchId)
  }

  /** Land an admitted append's staged parts and group-commit them.
    * `prev` is the head the admission ran against; the fence and drift
    * rules run again inside [[commitGroup]] against the manifest
    * actually committed over, so this pre-check is only the fast-fail
    * that saves the writes. */
  private def commitAdmitted(spark: SparkSession, fs: FileSystem, dir: String,
      prev: Manifest, parts: Seq[FileStatus],
      schema: org.apache.spark.sql.types.StructType,
      runKey: String, batchId: Long): Boolean = {
    val (entries, added) = land(spark, fs, dir, parts, AppendTag,
      prev.version + 1, statCols(prev), schema)
    commitAppend(spark, fs, dir, runKey, batchId, entries, added, schema,
      harvestedCols = statCols(prev))
  }

  /** The manifest a not-yet-created table starts from. */
  private val Empty = Manifest(-1L, Vector.empty, 0L, Map.empty, "init")

  /** The admission rules every write shares, checked before it stages
    * anything and again against the manifest it commits over. False
    * when `(runKey, batchId)` is already in `commits`: a replay, fenced
    * (the caller lands nothing, or abandons what it landed to
    * [[vacuum]]). A loud error when `schema` differs from the table's
    * `recorded` schema in column names or types (nullability is
    * tolerated): the batch must not land, and a later read deep inside
    * parquet resolution is the wrong place to find out. */
  private def admits(dir: String, commits: Map[String, Long],
      recorded: Option[org.apache.spark.sql.types.StructType],
      runKey: String, batchId: Long,
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    if (commits.get(runKey).exists(_ >= batchId)) return false
    recorded.foreach { r =>
      require(sameSchema(r, schema),
        s"schema drift rejected for $dir: the table's committed schema is\n  " +
          s"${r.simpleString}\nbut this write has\n  ${schema.simpleString}\n" +
          "(nullability differences are tolerated; column names and types " +
          "must match — a writer that raced an evolve() restarts with the " +
          "new schema)")
    }
    true
  }

  /** The on-disk tags of landed data files. `a<v>-` marks APPENDED rows:
    * [[appendedEntries]] keys an upsert's new rows on it, so survivor
    * rewrites never re-emit. `c<v>-` marks a rewrite of rows the table
    * already held (compaction, delete and upsert survivors; [[adopt]]'s
    * `c0-`). After a lost CAS the committed version may exceed the `v`
    * in the name: the prefix is a tail-visibility tag, not a version. */
  private val AppendTag = "a"
  private val RewriteTag = "c"

  /** Write `df` under a fresh `_staging-<uuid>` scratch dir inside the
    * table, with the table's bloom write options ([[bloomWriteOptions]]
    * of `m`). A driver-local batch (rows already in driver memory:
    * [[StagedParquet.writeLocal]]) is written on the driver with no
    * Spark job, in the same files the job would write; any other `df`
    * runs the `df.write.parquet` job. Returns the staging dir and its
    * data parts; the caller lands the parts ([[land]]) and deletes the
    * dir. A crash leaves the dir to [[vacuum]]. */
  private def stage(fs: FileSystem, dir: String, df: DataFrame,
      m: Manifest): (Path, Vector[FileStatus]) = {
    val staging = new Path(dir.stripSuffix("/"),
      s"_staging-${java.util.UUID.randomUUID()}")
    val options = bloomWriteOptions(m)
    if (!StagedParquet.writeLocal(df, staging.toString, options))
      df.write.options(options).parquet(staging.toString)
    val parts = fs.listStatus(staging).iterator
      .filter { f => val n = f.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".") }
      .toVector
    (staging, parts)
  }

  /** Move staged parts into the table under `<tag><v>-<part>` names and
    * build their entries. Row counts and the `statCols` min/max (typed
    * by `statSchema`) come from the parts' parquet FOOTERS: exact, and a
    * metadata read rather than a Spark job over the data just written
    * (read concurrently: a many-partition write stages many small files,
    * and serial ~8 ms footer opens would dominate the commit). Parts
    * holding fewer than `minRows` rows are left in staging. Returns the
    * entries and their total rows; the caller commits them. */
  private def land(spark: SparkSession, fs: FileSystem, dir: String,
      parts: Seq[FileStatus], tag: String, v: Long, statCols: Set[String],
      statSchema: org.apache.spark.sql.types.StructType,
      minRows: Long = 0L): (Vector[Entry], Long) = {
    val table = new Path(dir.stripSuffix("/"))
    val metas = ParquetFooters.readAll(spark.sparkContext.hadoopConfiguration,
      parts.map(_.getPath), statCols, statSchema)
    val landed = parts.toVector.zip(metas).filter(_._2.rows >= minRows)
      .map { case (f, meta) =>
        val name = s"$tag$v-${f.getPath.getName}"
        val dst = new Path(table, name)
        if (!fs.rename(f.getPath, dst))
          throw new java.io.IOException(s"could not land ${f.getPath} as $dst")
        (Entry(name, f.getLen, meta.stats), meta.rows)
      }
    (landed.map(_._1), landed.iterator.map(_._2).sum)
  }

  /** Explicit, operator-approved ADDITIVE schema evolution: commit a
    * manifest that carries `newSchema` over the UNCHANGED file set.
    * Every existing column must survive with its exact type (renames,
    * removals and type changes are rejected — those are rewrites, not
    * evolutions) and every added column must be nullable, because files
    * written before this commit don't contain it: the schema-pinned
    * readers ([[read]]/[[readAt]]/[[readWhere]]/[[appendsSince]])
    * surface it as null for pre-evolution rows. Time travel stays
    * honest — each retained manifest carries its own schema, so
    * [[readAt]] an old version still reads the old shape.
    *
    * Ordering contract: run this when the WRITER is upgraded — from the
    * next version on, [[appendBatch]]'s guard holds batches to the NEW
    * schema (a straggler batch with the old shape fails loudly rather
    * than silently committing a table whose newest column is
    * sometimes-missing). A live [[readTailVersions]] stream fails
    * loudly at its first window past the evolve; restart it to re-pin
    * the new schema. Returns the committed manifest. */
  def evolve(spark: SparkSession, dir: String,
             newSchema: org.apache.spark.sql.types.StructType): Manifest = {
    val (fs, _) = fsFor(spark, dir)
    commitLoop(spark, fs, dir, "evolve") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalStateException(
        s"$dir has no committed manifest — nothing to evolve"))
      // v1 manifests carry no schema — derive the current shape from the
      // live files' parquet footers so a pre-schema table gets the SAME
      // additive-only validation (else a typo'd rename would silently
      // null out a column for every schema-pinned reader)
      val current = prev.schema.orElse(
        if (prev.files.isEmpty) None
        else Some(readVersion(spark, dir, prev).schema))
      current.foreach { old =>
        old.fields.foreach { f =>
          val kept = newSchema.fields.find(_.name == f.name).getOrElse(
            throw new IllegalArgumentException(
              s"evolve rejected for $dir: column '${f.name}' is missing from " +
                "the new schema — dropping or renaming a column is a rewrite, " +
                "not an evolution"))
          require(sameSchema(
              org.apache.spark.sql.types.StructType(Seq(f)),
              org.apache.spark.sql.types.StructType(Seq(kept.copy(name = f.name)))),
            s"evolve rejected for $dir: column '${f.name}' changes type " +
              s"${f.dataType.simpleString} → ${kept.dataType.simpleString}")
        }
        newSchema.fields.filterNot(f => old.fieldNames.contains(f.name)).foreach { f =>
          require(f.nullable,
            s"evolve rejected for $dir: added column '${f.name}' must be " +
              "nullable — files written before the evolution don't contain it")
          // parquet resolves columns BY NAME: re-adding a dropped name
          // while pre-drop files are still live would read the OLD
          // column's values back for those rows instead of nulls —
          // silent resurrection. compact() retires the name once its
          // rewrite has physically purged every pre-drop file. Matched
          // under the session's resolution rules ([[nameKey]]): with
          // caseSensitive=false, adding `ID` after dropColumn("id")
          // resurrects just the same.
          require(!prev.dropped.exists(d =>
              nameKey(spark)(d) == nameKey(spark)(f.name)),
            s"evolve rejected for $dir: column '${f.name}' was previously " +
              "dropped and pre-drop files may still be live — old values " +
              "would resurface under name-based parquet resolution; run " +
              "compact() to purge them physically, then re-add")
        }
      }
      Right(Manifest(prev.version + 1, prev.files, prev.rows, prev.commits,
        "evolve", Some(newSchema.json), prev.layout, prev.statsFor,
        prev.dropped, bloomFor = prev.bloomFor))
    }(identity)
  }

  /** Align `batch` to the table's recorded schema for a
    * `mergeSchema = true` write surface: ADD-ONLY drift (the batch
    * carries top-level columns the table lacks) is mapped to an
    * [[evolve]] committing the union schema, and the batch is returned
    * reordered/respelled to it, so the following [[appendBatch]] passes
    * the drift guard. A batch MISSING a table column stays a loud error
    * (that is a drop, [[dropColumn]] territory), as does a type change
    * on any shared column (a rewrite, not an evolution) — mergeSchema
    * widens tables, it never narrows or retypes them. A column-ORDER-
    * only difference is aligned without committing anything. The
    * write-surface half of the evolution story: a SQL/Python-only
    * writer whose upstream added a column opts in through
    * `option("mergeSchema", "true")` on the tablelog sink or batch
    * save instead of being wedged until a Scala operator runs
    * [[evolve]]. No-op when the table records no schema yet (the
    * append itself records the batch's shape). */
  private[graft] def alignMerging(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    mergeRecordedSchema(spark, dir, batch.schema) match {
      case None => batch
      case Some(merged) =>
        // select by the MERGED spelling and alias it back on: under
        // case-insensitive resolution col("TS") finds the batch's `ts`
        // but would keep the batch's spelling, and the drift guard
        // compares names exactly
        batch.select(merged.fields.toIndexedSeq.map(f =>
          org.apache.spark.sql.functions.col(f.name).as(f.name)): _*)
    }

  /** The schema-level half of [[alignMerging]], shared with the DSv2
    * write path ([[graft.sources.TableLogV2]]) whose task-side writers
    * stage parquet without a DataFrame to re-select: validate the
    * batch's shape against the recorded schema, commit the [[evolve]]
    * for add-only drift, and return the schema the commit should
    * DECLARE — `Some(merged)` (recorded order first, added columns
    * after, nullable) when the batch differs from the recorded schema,
    * `None` when the batch's own schema is already right (no recorded
    * schema yet, or an exact match). The v2 caller declares the merged
    * schema over files physically written in the BATCH's column order —
    * sound because parquet resolves columns by name, which is also why
    * the v1 caller's re-select is cosmetic ordering, not correctness. */
  private[graft] def mergeRecordedSchema(spark: SparkSession, dir: String,
      batchSchema: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] = {
    // head lines only: this runs once per micro-batch on the sink's hot
    // write path and needs just the recorded schema — materializing the
    // full segment list here would double appendBatch's resolution cost
    latestHead(spark, dir).flatMap(_.schema) match {
      case None => None
      case Some(recorded) if sameSchema(recorded, batchSchema) => None
      case Some(recorded) =>
        import org.apache.spark.sql.types.StructType
        val key = nameKey(spark) _
        val byKey = batchSchema.fields.map(f => key(f.name) -> f).toMap
        recorded.fields.foreach { f =>
          val got = byKey.getOrElse(key(f.name),
            throw new IllegalArgumentException(
              s"mergeSchema rejected for $dir: the batch is missing column " +
                s"'${f.name}' — mergeSchema only ADDS columns; removing one " +
                "is a dropColumn, not a write option"))
          require(sameSchema(StructType(Seq(f)),
              StructType(Seq(got.copy(name = f.name)))),
            s"mergeSchema rejected for $dir: column '${f.name}' changes " +
              s"type ${f.dataType.simpleString} → " +
              s"${got.dataType.simpleString} — mergeSchema only ADDS " +
              "columns, it never retypes them (nested additions are type " +
              "changes too: files already written cannot serve them)")
        }
        val recordedKeys = recorded.fields.map(f => key(f.name)).toSet
        val added = batchSchema.fields
          .filterNot(f => recordedKeys(key(f.name)))
        if (added.isEmpty) Some(recorded) // order-/spelling-only mismatch
        else {
          // added columns are forced nullable: every file already
          // committed lacks them, and evolve() rejects anything else
          val m = StructType(recorded.fields ++
            added.map(_.copy(nullable = true)))
          evolve(spark, dir, m)
          Some(m)
        }
    }
  }

  /** NON-additive schema evolution: DROP `column` from the table's
    * schema as a metadata-only commit — the file set is untouched (and
    * every segment reused, so the commit writes O(1)); schema-pinned
    * readers simply stop selecting the column, which parquet readers
    * skip physically. Time travel stays era-honest: [[readAt]] a
    * pre-drop version reads that manifest's own schema, column present.
    *
    * What else the commit scrubs, and why:
    *  - `layout`/[[trackStats]] registrations for the column go (a
    *    pruning promise on a nonexistent column is meaningless; the
    *    per-file stats lines stay in the immutable segments, harmlessly
    *    ignored, until a rewrite retires them);
    *  - the name is recorded in the manifest's DROPPED set: [[evolve]]
    *    refuses to re-add it while pre-drop files are live, because
    *    parquet's name-based resolution would resurface the old values
    *    for old rows. A [[compact]] whose rewrite postdates the drop
    *    purges the column physically and retires the name for reuse.
    *
    * [[appendBatch]] holds writers to the new schema from the next
    * version on — a straggler batch still carrying the column fails the
    * drift guard loudly (same ordering contract as [[evolve]]). The
    * final column cannot be dropped. Returns the committed manifest. */
  def dropColumn(spark: SparkSession, dir: String, column: String): Manifest = {
    val (fs, _) = fsFor(spark, dir)
    commitLoop(spark, fs, dir, "dropColumn") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalStateException(
        s"$dir has no committed manifest — nothing to drop from"))
      // v1 tables: derive the current shape from the live files' footers,
      // the same upgrade posture as evolve()
      val current = prev.schema.orElse(
        if (prev.files.isEmpty) None
        else Some(readVersion(spark, dir, prev).schema)).getOrElse(
        throw new IllegalStateException(
          s"$dir has no schema to drop from (empty pre-schema table)"))
      // resolve the argument under the session's rules and use the
      // schema's CANONICAL spelling from here on: with
      // caseSensitive=false, dropColumn("ID") must drop (and record as
      // dropped, and scrub from layout/stats) the field spelled `id`
      val key = nameKey(spark) _
      val canonical = current.fields.find(f => key(f.name) == key(column))
        .getOrElse(throw new IllegalArgumentException(
          s"dropColumn rejected for $dir: no column '$column' in " +
            current.simpleString)).name
      require(current.fields.length > 1,
        s"dropColumn rejected for $dir: '$canonical' is the only column")
      val newSchema = org.apache.spark.sql.types.StructType(
        current.fields.filterNot(f => key(f.name) == key(canonical)))
      Right(Manifest(prev.version + 1, prev.files, prev.rows, prev.commits,
        "dropcolumn", Some(newSchema.json),
        prev.layout.filterNot(c => key(c) == key(canonical)),
        prev.statsFor.filterNot(c => key(c) == key(canonical)),
        (prev.dropped :+ canonical).distinct,
        bloomFor = prev.bloomFor.filterNot(c => key(c) == key(canonical))))
    }(identity)
  }

  /** Register EXTRA per-file stat columns: from the next commit on,
    * every append/compact/delete harvests footer min/max for `cols` in
    * addition to the layout columns, and [[readWhere]]/[[prunedFiles]]/
    * [[deleteRange]]/[[deleteIn]] prune on them. Unlike `layoutBy`,
    * this promises NO clustering — it pays off when the WRITE ORDER
    * already clusters the column (the canonical case: a monotone event
    * time on an ingest table prunes time-ranged reads from the very
    * first append, no compaction required; a uniformly-scattered column
    * yields full-span stats that prune nothing, costing only manifest
    * bytes). Files committed BEFORE the registration carry no stats for
    * `cols` and are conservatively kept by every prune until a
    * [[compact]] rewrites them. Columns must exist in the recorded
    * schema (when one exists); the registration survives every later
    * commit and is idempotent. */
  def trackStats(spark: SparkSession, dir: String,
                 cols: Seq[String]): Manifest = {
    require(cols.nonEmpty, "trackStats needs at least one column")
    val (fs, _) = fsFor(spark, dir)
    commitLoop(spark, fs, dir, "trackStats") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalStateException(
        s"$dir has no committed manifest — create the table first"))
      // resolve the asked-for names to the schema's CANONICAL spellings
      // under the session's resolution rules ([[nameKey]]) — what every
      // other column-addressing face (dropColumn, SQL itself) does, and
      // what the footer harvest needs exactly
      val canonical = resolveColumns(spark, prev, cols, "trackStats", dir)
      prev.schema.foreach { s =>
        // a type the footer harvest cannot serialize would commit a
        // registration that silently never prunes — reject it loudly,
        // same posture as unknown columns
        val unusable = canonical.flatMap(c => s.fields.find(_.name == c))
          .filterNot(f => ParquetFooters.comparable(f.dataType))
        require(unusable.isEmpty,
          s"trackStats rejected for $dir: column(s) " +
            unusable.map(f => s"${f.name} (${f.dataType.simpleString})")
              .mkString(", ") +
            " have no comparable footer stats — supported types are " +
            "byte/short/int/long/float/double/string/timestamp/date")
        requireStatTimestampsUsable(spark, s, canonical, "trackStats", dir)
      }
      val merged = (prev.statsFor ++ canonical).distinct
      if (merged == prev.statsFor) Left(prev) // idempotent re-registration
      else Right(Manifest(prev.version + 1, prev.files, prev.rows,
        prev.commits, "trackstats", prev.schemaJson, prev.layout, merged,
        prev.dropped, bloomFor = prev.bloomFor))
    }(identity)
  }

  /** The asked-for column names resolved to the recorded schema's
    * canonical spellings under the session's resolution rules
    * ([[nameKey]]) — unknown names are the shared loud error. A
    * pre-schema v1 table passes the names through unchanged (nothing
    * to resolve against). */
  private def resolveColumns(spark: SparkSession, m: Manifest,
      cols: Seq[String], what: String, dir: String): Seq[String] =
    m.schema match {
      case None => cols
      case Some(s) =>
        val key = nameKey(spark) _
        cols.map { c =>
          s.fields.find(f => key(f.name) == key(c)).map(_.name).getOrElse(
            throw new IllegalArgumentException(
              s"$what rejected for $dir: column '$c' not in the table " +
                s"schema ${s.simpleString}"))
        }
    }

  /** The silent-never-prunes hazard for timestamp columns, shared by
    * both pruning registrations: a session still writing the legacy
    * INT96 physical type produces files with NO usable parquet
    * statistics and NO pushable predicates — the registration would
    * commit and then never prune anything this writer appends. */
  private def requireStatTimestampsUsable(spark: SparkSession,
      s: org.apache.spark.sql.types.StructType, cols: Seq[String],
      what: String, dir: String): Unit = {
    val tsCols = cols.flatMap(c => s.fields.find(_.name == c))
      .filter(_.dataType == org.apache.spark.sql.types.TimestampType)
    if (tsCols.nonEmpty) {
      val out = spark.conf.get(
        "spark.sql.parquet.outputTimestampType", "INT96")
      require(out != "INT96",
        s"$what rejected for $dir: column(s) " +
          tsCols.map(_.name).mkString(", ") +
          " are timestamps but this session writes parquet INT96 " +
          "(the legacy default), which records no usable statistics " +
          "and no pushable predicates — set " +
          "spark.sql.parquet.outputTimestampType=" +
          "TIMESTAMP_MICROS (a runtime conf) and retry")
    }
  }

  /** Register per-file parquet BLOOM FILTER columns: from the next
    * commit on, every file any append/compact/delete/upsert stages
    * carries an adaptive bloom filter for `cols` in its parquet
    * footer, and every equality/IN predicate Spark pushes into a scan
    * skips whole row groups whose bloom excludes the key — executors
    * read the footer and the bloom (KiBs), not the data pages.
    *
    * This is the pruning primitive for the shape [[trackStats]] can't
    * serve: a point lookup on a column the write order does NOT
    * cluster (the canonical case: takedown-by-id on an ingest-ordered
    * corpus — min/max spans everything, so stats keep every file, but
    * the bloom dismisses ~99% of row groups for the price of their
    * footers). This accelerates both direct reads and [[deleteIn]]'s
    * locate pass, whose scan pushes exactly such a predicate. Blooms
    * are ROW-GROUP-level and distributed (each executor consults the
    * blooms of the files it was assigned) — nothing is collected to
    * the driver and no manifest bytes grow with file count, which is
    * what keeps the mechanism flat at any table size.
    *
    * Files committed BEFORE the registration carry no bloom and are
    * simply read normally until a [[compact]] rewrites them. The
    * registration bumps the manifest format to v5 — readers older
    * than it reject the table loudly; tables that never register pay
    * nothing. Spark pushes an IN list as bloom-servable equality up to
    * `spark.sql.parquet.pushdown.inFilterThreshold` values (default
    * 10); chunk takedown lists accordingly ([[deleteIn]] already
    * probes per value). Columns must be top-level atomic types with a
    * parquet bloom encoding (boolean has none; nested paths are not
    * addressable by the per-column write options). */
  def trackBloom(spark: SparkSession, dir: String,
                 cols: Seq[String]): Manifest = {
    require(cols.nonEmpty, "trackBloom needs at least one column")
    val (fs, _) = fsFor(spark, dir)
    commitLoop(spark, fs, dir, "trackbloom") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalStateException(
        s"$dir has no committed manifest — create the table first"))
      val canonical = resolveColumns(spark, prev, cols, "trackBloom", dir)
      prev.schema.foreach { s =>
        val unusable = canonical.flatMap(c => s.fields.find(_.name == c))
          .filterNot(f => f.dataType match {
            case org.apache.spark.sql.types.ByteType |
                 org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType |
                 org.apache.spark.sql.types.FloatType |
                 org.apache.spark.sql.types.DoubleType |
                 org.apache.spark.sql.types.StringType |
                 org.apache.spark.sql.types.BinaryType |
                 org.apache.spark.sql.types.DateType |
                 org.apache.spark.sql.types.TimestampType => true
            case _: org.apache.spark.sql.types.DecimalType => true
            case _ => false
          })
        require(unusable.isEmpty,
          s"trackBloom rejected for $dir: column(s) " +
            unusable.map(f => s"${f.name} (${f.dataType.simpleString})")
              .mkString(", ") +
            " have no parquet bloom encoding — supported types are " +
            "byte/short/int/long/float/double/string/binary/date/" +
            "timestamp/decimal (top-level)")
        // an INT96 timestamp writes no pushable predicate either — a
        // bloom on it would exist in the footer but never be consulted
        requireStatTimestampsUsable(spark, s, canonical, "trackBloom", dir)
      }
      val merged = (prev.bloomFor ++ canonical).distinct
      if (merged == prev.bloomFor) Left(prev) // idempotent re-registration
      else Right(Manifest(prev.version + 1, prev.files, prev.rows,
        prev.commits, "trackbloom", prev.schemaJson, prev.layout,
        prev.statsFor, prev.dropped, bloomFor = merged))
    }(identity)
  }

  /** Roll the table's DATA back to retained `version` as a NEW commit —
    * the undo for a bad append, compact re-layout, or [[delete]] within
    * the retention window ([[retention]] reports the floor; an
    * unretained target fails loudly, same as [[readAt]]). [[vacuum]]
    * never reclaims a file referenced by any retained manifest, so the
    * restored file list is guaranteed intact.
    *
    * What is restored vs kept:
    *  - FILES and row count: the target version's, exactly;
    *  - the COMMIT MAP: kept CURRENT — the exactly-once ledger is
    *    writer history, not data; a replayed (runKey, batchId) must
    *    still dedup after a restore, or undoing one bad batch would
    *    readmit every batch's duplicate twin (rows dropped by restoring
    *    past an append stay dropped — the stream moves on with new
    *    batchIds);
    *  - SCHEMA, layout, [[trackStats]] registrations: kept current —
    *    evolution is additive, so older files read fine under the newer
    *    schema, and restoring the schema would silently revert an
    *    [[evolve]] for every later reader (the exact thing its guard
    *    exists to prevent).
    *
    * Concurrency and CDC: rebases over appends landed while it ran
    * (their files are kept) and fails loudly if a concurrent
    * maintenance commit removed files — [[compact]]'s posture. The
    * target must sit ABOVE the [[KeepManifests]] prune floor (checked
    * against the latest version on every CAS iteration): a manifest
    * below the floor may still be readable only because vacuum's grace
    * has not expired, and committing its file list while a concurrent
    * vacuum reclaims them would be silent corruption — the one failure
    * this module must never convert a loud error into.
    *
    * Restore versions are INVISIBLE to [[appendsSince]] (the
    * re-referenced files were already emitted when first appended;
    * deletions are CDC-invisible by design and so is their undo).
    * CAVEAT — restore undoes the TABLE only: if the rows left through
    * [[graft.examples.IndexFollower.takedown]], the downstream indexes
    * hold tombstones/removed band rows that nothing here puts back —
    * run [[graft.examples.IndexFollower.untakedown]] after the restore
    * to repair them, or the indexes silently keep excluding the
    * restored documents. */
  def restore(spark: SparkSession, dir: String, version: Long): Manifest = {
    val (fs, _) = fsFor(spark, dir)
    val target = tryReadFully(fs, new Path(logDir(dir), manifestName(version)))
      .map(resolveManifest(fs, dir, _)).getOrElse {
        val have = retainedVersions(spark, dir)
        throw new IllegalStateException(
          s"$dir has no retained manifest for version $version — retained: " +
            (if (have.isEmpty) "none" else s"${have.min}..${have.max}"))
      }
    val base = latest(spark, dir).getOrElse(throw new IllegalStateException(
      s"$dir has no committed manifest — nothing to restore"))
    val baseNames = base.files.map(_.name).toSet
    val targetNames = target.files.map(_.name).toSet
    // the target is retained, so its segments are too (vacuum keeps every
    // segment a retained head references) — offering them as reuse
    // candidates keeps the restore commit's write O(delta) even though
    // the restored files left the CURRENT head's segments long ago
    commitLoop(spark, fs, dir, "restore",
        extraSegments = target.segments) { curOpt =>
      val cur = curOpt.getOrElse(base)
      // the prune floor, against the CURRENT latest: below it the target
      // manifest survives only on vacuum grace, and its data files may
      // be reclaimed between this resolve and the commit
      val floor = cur.version - KeepManifests + 1
      if (version < floor) throw new IllegalStateException(
        s"restore of $dir to version $version is below the retention " +
          s"floor $floor (latest ${cur.version}, KeepManifests $KeepManifests)" +
          " — its files may be vacuumed mid-restore; exportAt(version) " +
          "while the grace window holds instead")
      // same rebase rule as compact: appends landed since this restore
      // resolved `base` are kept; a concurrent commit that REMOVED any
      // base file is another maintenance writer — fail loudly
      val curNames = cur.files.map(_.name).toSet
      if (cur.version != base.version && !baseNames.subsetOf(curNames))
        throw new java.util.ConcurrentModificationException(
          s"restore of $dir raced a commit that removed files " +
            s"(${(baseNames -- curNames).take(3).mkString(", ")}…) — a " +
            "concurrent delete/compact violates the one-maintenance-writer " +
            "contract; re-run this restore against the new snapshot")
      val addedSince = cur.files.filterNot(e => baseNames.contains(e.name))
      val keptSince = addedSince.filterNot(e => targetNames.contains(e.name))
      // row counts for rebased-in appends from their footers (metadata
      // read, usually empty — only appends that raced this restore)
      val keptRows =
        if (keptSince.isEmpty) 0L
        else ParquetFooters.rowCount(spark.sparkContext.hadoopConfiguration,
          keptSince.map(e => new Path(s"${dir.stripSuffix("/")}/${e.name}")))
      // a column dropped AFTER the target was committed exists physically
      // in the restored files: if a compact has since cleared it from the
      // dropped set, re-registering it here keeps the re-add guard alive
      // while resurrection-capable files are back in the live set
      val key = nameKey(spark) _
      val reDropped = (for {
        t <- target.schema; c <- cur.schema
      } yield {
        val curKeys = c.fieldNames.iterator.map(key).toSet
        t.fieldNames.toSeq.filterNot(n => curKeys(key(n)))
      }).getOrElse(Nil)
      // …but a name that was dropped and then RE-ADDED (evolve after a
      // compact retired it) is invisible to that schema diff, and
      // committing the restore would serve the pre-drop files' OLD
      // values under the re-added name — resurrection of removed data,
      // the exact hazard dropColumn's guard exists for. The drop is
      // findable: every head between the target and now is retained
      // (the floor check above), and a head's `dropped` set holds the
      // name from the drop commit until a compact purges the files —
      // so union those sets (plus the target's own, for pre-target
      // drops whose files were still unpurged at the target) and refuse
      // loudly on any overlap with the current schema.
      // all name sets below compare under [[nameKey]]: the reader that
      // would resurrect the values resolves case-insensitively too
      val droppedSince = (((version + 1) to cur.version).iterator.flatMap { v =>
        tryReadFully(fs, new Path(logDir(dir), manifestName(v)))
          .map(parse(_).dropped).getOrElse(throw new IllegalStateException(
            s"manifest $v of $dir vanished mid-restore — re-run"))
      } ++ target.dropped.iterator).map(key).toSet
      // only a column the TARGET-era files can physically carry is
      // resurrection-capable: its schema's fields plus its own
      // still-unpurged dropped names. A column first ADDED after the
      // target (evolve → drop → purge → re-add, all post-target) reads
      // as nulls from the restored files — refusing that restore would
      // block a perfectly safe rollback. Pre-schema targets (no recorded
      // schema to consult) stay conservative.
      val targetEra: String => Boolean = target.schema match {
        case Some(s) =>
          val names = (s.fieldNames.iterator ++ target.dropped.iterator)
            .map(key).toSet
          names.contains _
        case None => _ => true
      }
      val resurrected = cur.schema
        .map(_.fieldNames.toSeq.filter(c =>
          droppedSince(key(c)) && targetEra(key(c))))
        .getOrElse(Nil)
      if (resurrected.nonEmpty) throw new IllegalStateException(
        s"restore of $dir to version $version would resurrect dropped " +
          s"column(s) ${resurrected.mkString(", ")}: dropped after (or " +
          "unpurged at) the target and since re-added by evolve, so the " +
          "restored pre-drop files would serve the OLD values under the " +
          "re-added name. dropColumn it again before restoring, or " +
          s"exportAt($version) and reconcile the column by hand")
      Right(Manifest(cur.version + 1, target.files ++ keptSince,
        target.rows + keptRows, cur.commits,
        "restore", cur.schemaJson, cur.layout, cur.statsFor,
        (cur.dropped ++ reDropped).distinct, bloomFor = cur.bloomFor))
    }(identity)
  }

  /** The stat-harvest column set every commit records per file: the
    * clustering layout plus any [[trackStats]] registrations. */
  private def statCols(m: Manifest): Set[String] =
    (m.layout ++ m.statsFor).toSet

  /** Per-write parquet options for the table's [[trackBloom]]
    * registration: an adaptive bloom filter on each registered column
    * of every file this write stages, in every column chunk that is not
    * fully dictionary-encoded. parquet-mr writes no bloom for a chunk
    * whose pages are all dictionary pages (a low-cardinality column):
    * there the dictionary itself excludes an absent key, through
    * parquet's dictionary filter. A chunk whose dictionary outgrows the
    * dictionary page size falls back to plain pages and gets its bloom
    * (TableLogSpec pins both cases). The options land in the write
    * job's hadoop configuration — `DataFrameWriter.options` via
    * `newHadoopConfWithOptions` on the v1 job path, the same call in
    * [[StagedParquet]] for the driver-local and DSv2 writes — where
    * parquet-mr's file writer reads them. Adaptive sizing
    * (parquet 1.14+) watches the column's ACTUAL distinct count as the
    * file is written and keeps the smallest candidate bloom that still
    * meets the target FPP — no NDV guess to mis-set, bounded by
    * parquet's 1 MiB default cap. */
  private[graft] def bloomWriteOptions(m: Manifest): Map[String, String] =
    if (m.bloomFor.isEmpty) Map.empty
    else Map("parquet.bloom.filter.adaptive.enabled" -> "true") ++
      m.bloomFor.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")

  /** Materialize retained `version` as a NEW TableLog table at
    * `destDir` — the escape hatch [[restore]]'s retention-floor
    * rejection points to, and the general snapshot-export primitive
    * (ship a consistent corpus cut to a training run without holding
    * the source's maintenance hostage). The copy is PHYSICAL: the new
    * table owns its files, so the source may vacuum, delete, or retire
    * the version freely afterwards. Commits as the destination's
    * version-0 adopt snapshot, so every TableLog facility — appends,
    * stats, compaction, its own retention — works on the copy from
    * birth. Layout clustering is not preserved by the rewrite; run
    * [[compact]] `layoutBy` on the copy to re-establish pruning stats.
    * `destDir` must not already be a TableLog table. */
  def exportAt(spark: SparkSession, dir: String, version: Long,
               destDir: String): Manifest = {
    require(latest(spark, destDir).isEmpty,
      s"exportAt destination $destDir is already a TableLog table")
    readAt(spark, dir, version).write.parquet(destDir.stripSuffix("/"))
    adopt(spark, destDir)
  }

  /** One staged append awaiting the group committer: the caller's
    * already-landed files plus everything the fold needs to validate
    * and account for it. The future resolves to the caller's result —
    * true (committed), false (zombie-fenced) — or the per-intent
    * validation failure. */
  private final class AppendIntent(
      val runKey: String, val batchId: Long, val entries: Vector[Entry],
      val added: Long, val schema: org.apache.spark.sql.types.StructType,
      val harvestedCols: Set[String]) {
    val result = new java.util.concurrent.CompletableFuture[java.lang.Boolean]()
  }

  /** How many queued appends one GROUP COMMIT may fold into a single
    * manifest. Bounds the per-commit manifest-build work and keeps a
    * pathological backlog from committing one giant version; at the
    * local[32] writer counts that matter the queue never nears it. */
  private val GroupCommitMax = 64

  // per-table (fs-qualified dir) append queues and leader locks for
  // group commit — see commitAppend
  private val appendQueues = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentLinkedQueue[AppendIntent]]()
  private val appendLeaders = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()

  /** The version-bump half of [[appendBatch]], split so a lost race
    * retries only the cheap commit — an append NEVER has to redo its
    * staging writes to rebase over a concurrent commit. Safe because an
    * append only ADDS files: whatever the winning committer did
    * (another append added disjoint files, compact rewrote the old
    * snapshot, vacuum never commits), the union of its file list and
    * these entries is exactly the table plus this batch.
    *
    * GROUP COMMIT: same-JVM appenders of one table fold through a
    * per-table queue instead of each fighting the manifest CAS — the
    * caller enqueues its intent, and whoever holds the table's leader
    * lock drains the queue, folding every queued intent into ONE
    * manifest commit (each intent's runKey→batchId entry recorded,
    * zombie fences and drift checks applied PER INTENT against the
    * manifest actually committed over). This removes the convoy that
    * made 8 writers commit SLOWER than 4 (every CAS round had up to
    * writers−1 losers re-resolving and re-renaming in lockstep): one
    * writer commits for the group while the rest wait on their
    * futures, so the per-table commit rate scales with batches folded
    * per CAS, not rounds lost. Cross-JVM contention is untouched —
    * losses against OTHER processes' commits still rebase through
    * [[commitLoop]] exactly as before. Package-visible so the spec can
    * drive the conflict deterministically. */
  private[functions] def commitAppend(spark: SparkSession, fs: FileSystem,
      dir: String, runKey: String, batchId: Long, entries: Vector[Entry],
      added: Long, schema: org.apache.spark.sql.types.StructType,
      harvestedCols: Set[String] = Set.empty): Boolean = {
    val key = fs.makeQualified(new Path(dir.stripSuffix("/"))).toString
    val q = appendQueues.computeIfAbsent(key,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[AppendIntent]())
    val lock = appendLeaders.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantLock())
    val intent = new AppendIntent(runKey, batchId, entries, added,
      schema, harvestedCols)
    q.add(intent)
    // drive or wait: the uncontended single-writer path takes the lock
    // immediately and drains just its own intent (one commitLoop, as
    // before). A waiter whose intent is still queued when the leader
    // exits (the leader folds only what it polled) retries leadership.
    while (!intent.result.isDone) {
      if (lock.tryLock()) {
        try { if (!intent.result.isDone) drainAppends(spark, fs, dir, q) }
        finally lock.unlock()
      } else {
        // a timed-out wait retries leadership; an exceptional completion
        // is swallowed HERE so the final get below rethrows the CAUSE
        // unwrapped (the loop exits — the future is done)
        try intent.result.get(20, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException => ()
          case _: java.util.concurrent.ExecutionException => ()
        }
      }
    }
    // housekeeping: a long-lived driver appending to many short-lived
    // tables (temp dirs, per-run staging) must not leak one queue+lock
    // entry per table for the JVM's lifetime. Removing a DRAINED queue
    // is safe: remove(key, value) never unmaps a newer entry, a thread
    // still holding the old references drives its own intent through
    // the old lock, and two leaders on one table (old-lock + new-lock)
    // just CAS-contend in commitLoop exactly like cross-JVM writers.
    if (q.isEmpty) {
      appendQueues.remove(key, q)
      appendLeaders.remove(key, lock)
    }
    try intent.result.get().booleanValue()
    catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  /** Drain the table's append queue in bounded groups, one manifest
    * commit per group. MUST resolve every polled intent's future —
    * a commit failure (CAS retries exhausted, an IO error) completes
    * the whole group exceptionally and is NOT rethrown here: each
    * waiter (the leader included — its own intent is in some group)
    * rethrows from its future, so the leader can keep draining intents
    * other writers queued behind the failure. */
  private def drainAppends(spark: SparkSession, fs: FileSystem, dir: String,
      q: java.util.concurrent.ConcurrentLinkedQueue[AppendIntent]): Unit = {
    while (!q.isEmpty) {
      var group = Vector.empty[AppendIntent]
      var next = q.poll()
      while (next != null) {
        group :+= next
        next = if (group.size < GroupCommitMax) q.poll() else null
      }
      if (group.nonEmpty) {
        try commitGroup(spark, fs, dir, group)
        catch {
          case e: Throwable =>
            group.foreach(_.result.completeExceptionally(e))
        }
      }
    }
  }

  /** Fold `group` into one manifest commit. Per-intent decisions are
    * re-evaluated on every CAS attempt against the re-resolved latest
    * manifest — exactly the semantics each intent had when it committed
    * alone:
    *  - zombie fence: an intent whose (runKey, batchId) is already in
    *    the commit map — committed by a same-runKey replica, or by an
    *    EARLIER INTENT IN THIS GROUP (two replicas can queue in one
    *    round) — resolves false; its landed a<v>- files stay orphaned
    *    for vacuum, same as a crash.
    *  - drift: an intent whose schema disagrees with the manifest
    *    actually committed over (an evolve may have raced in) fails
    *    ALONE, loudly, without poisoning the group.
    *  - stat re-harvest: a trackStats/compact(layoutBy) registration
    *    that raced in re-reads this intent's footers for the newly
    *    wanted columns, bounded by the intent's own file count.
    * A fence decided against a DISK-COMMITTED entry on attempt k stays
    * valid on attempt k+1 (commit maps only grow; a completed future
    * ignores later completes), so those resolve early. A fence against
    * an entry folded by an EARLIER INTENT IN THIS GROUP must NOT — that
    * entry is not on disk yet, and resolving the replica false ("already
    * committed") before the group's commit lands would let its
    * checkpoint advance past a batch that never committed if the group
    * commit then fails. Those fences are deferred (recomputed per CAS
    * attempt) and resolved false only after commitLoop returns, so a
    * failed group commit propagates the error to every waiter. */
  private def commitGroup(spark: SparkSession, fs: FileSystem, dir: String,
      group: Vector[AppendIntent]): Unit = {
    var inGroupFenced = Vector.empty[AppendIntent]
    commitLoop(spark, fs, dir, "append") { prevOpt =>
      inGroupFenced = Vector.empty
      val prev = prevOpt.getOrElse(Empty)
      var files = prev.files
      var rows = prev.rows
      var commits = prev.commits
      var schemaJson = prev.schemaJson
      // drift is checked against the RUNNING schema, not prev's: two
      // first-ever appends with disagreeing schemas queued in one group
      // over an empty table must reject the second exactly as the
      // serial path's CAS-retry recheck would — prev.schema is None for
      // both, but once the first intent folds, its schema is the one
      // every later intent in the group commits under
      var curSchema = prev.schema
      var any = false
      group.foreach { in =>
        if (!in.result.isDone) {
          if (prev.commits.get(in.runKey).exists(_ >= in.batchId)) {
            // disk-committed fence — valid regardless of this group's fate
            in.result.complete(false)
          } else {
            // a fence here is by an earlier intent IN THIS GROUP — deferred
            // until the group's commit lands (see scaladoc). Drift AND the
            // stat re-harvest fail the INTENT alone (NonFatal — an
            // unreadable footer of one writer's staged file must not
            // poison the other writers' group), exactly the serial path's
            // blast radius
            val folded =
              try {
                if (!admits(dir, commits, curSchema, in.runKey, in.batchId,
                    in.schema)) {
                  inGroupFenced :+= in; None
                } else {
                  val wanted = statCols(prev)
                  Some(
                    if ((wanted -- in.harvestedCols).isEmpty) in.entries
                    else {
                      val (_, table) = fsFor(spark, dir)
                      val conf = spark.sparkContext.hadoopConfiguration
                      in.entries.map { e =>
                        e.copy(stats = ParquetFooters
                          .read(conf, new Path(table, e.name), wanted, in.schema)
                          .stats)
                      }
                    })
                }
              } catch {
                case scala.util.control.NonFatal(e) =>
                  in.result.completeExceptionally(e); None
              }
            folded.foreach { entriesNow =>
              files = files ++ entriesNow
              rows += in.added
              commits = commits + (in.runKey -> in.batchId)
              if (schemaJson.isEmpty) { schemaJson = Some(in.schema.json)
                curSchema = Some(in.schema) }
              any = true
            }
          }
        }
      }
      if (!any) Left(()) // every intent fenced or failed — nothing to commit
      else Right(Manifest(prev.version + 1, files, rows, commits, "append",
        schemaJson, prev.layout, prev.statsFor, prev.dropped,
        bloomFor = prev.bloomFor))
    }(_ => ())
    // the group landed (or resolved member-by-member): deferred in-group
    // fences are now fences against a disk-committed entry — resolve
    // them false; every other intent not already fenced/failed committed
    // (complete is a no-op on the done)
    inGroupFenced.foreach(_.result.complete(false))
    group.foreach(_.result.complete(true))
  }

  /** Compact (and, with `layoutBy`, re-layout) the table to ~`targetBytes`
    * files: read the current snapshot, rewrite, move the new files in,
    * commit a manifest that references ONLY them. The swap is atomic for
    * readers by construction — old files outlive the commit until
    * [[vacuum]]'s grace passes, so any reader holding the old manifest
    * finishes undisturbed. Returns the number of files written. */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
              layoutBy: Seq[String] = Nil): Int =
    compactLaidOut(spark, dir, targetBytes, layoutBy) { (snapshot, n) =>
      if (layoutBy.isEmpty) snapshot.repartition(n)
      else {
        val cols = layoutBy.map(org.apache.spark.sql.functions.col)
        snapshot.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
      }
    }

  /** [[compact]] re-clustered by an N-dimensional Morton (Z-order) key
    * over `cols` instead of their lexicographic range: rows close in
    * EVERY listed dimension land in the same files, so the harvested
    * per-file min/max stats prune a predicate on ANY of them — the
    * multi-dimensional layout a single-column range sort cannot give
    * (its second column's per-file spans stay table-wide). Columns must
    * be numeric (the Morton key needs a [0, 2^bits) grid; each is
    * min/max-normalized here with one small agg over the snapshot —
    * footer-stat-cheap relative to the rewrite itself). `bits` defaults
    * to the widest grid that fits a long (63/k, capped at 16 — beyond
    * ~65k cells per dimension the parquet row-group granularity is the
    * binding resolution anyway). The manifest records `cols` as the
    * layout, exactly as a range re-layout would, so [[readWhere]]
    * pruning and [[trackStats]] harvesting follow automatically. */
  def compactZorder(spark: SparkSession, dir: String, targetBytes: Long,
                    cols: Seq[String], bits: Int = 0): Int = {
    require(cols.length >= 2,
      s"z-order needs >= 2 dimensions (got ${cols.mkString(", ")}) — one " +
        "column's optimal layout is its plain range sort: compact(layoutBy)")
    val b = if (bits > 0) bits else math.min(16, 63 / cols.length)
    compactLaidOut(spark, dir, targetBytes, cols) { (snapshot, n) =>
      import org.apache.spark.sql.functions._
      // the double rendering of each dimension — DATE has no legal
      // double cast (ANSI or legacy), so it goes through epoch days
      def asDouble(c: String): org.apache.spark.sql.Column =
        snapshot.schema.fields.find(_.name.equalsIgnoreCase(c)) match {
          case None => throw new IllegalArgumentException(
            s"z-order column '$c' is not in the table schema " +
              snapshot.schema.fieldNames.mkString("(", ", ", ")"))
          case Some(f) => f.dataType match {
            case org.apache.spark.sql.types.DateType =>
              unix_date(col(c)).cast("double")
            case org.apache.spark.sql.types.TimestampType =>
              col(c).cast("double")
            case _: org.apache.spark.sql.types.NumericType =>
              col(c).cast("double")
            case other => throw new IllegalArgumentException(
              s"z-order column '$c' is ${other.simpleString} — the " +
                "Morton grid needs numeric/timestamp/date dimensions")
          }
        }
      // one tiny agg for the normalization bounds (min/max per column,
      // over FINITE values only — an Inf bound would collapse every
      // finite row to one cell); nulls map to grid cell 0
      def finite(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(!isnan(c) && c =!= lit(Double.PositiveInfinity) &&
          c =!= lit(Double.NegativeInfinity), c)
      val aggs = cols.flatMap(c => Seq(min(finite(asDouble(c))),
        max(finite(asDouble(c)))))
      val bounds = snapshot.agg(aggs.head, aggs.tail: _*).head()
      val cells = (1L << b) - 1
      val normalized = cols.zipWithIndex.map { case (c, i) =>
        // an all-null/all-non-finite column has null bounds — constant
        if (bounds.isNullAt(2 * i) || bounds.isNullAt(2 * i + 1)) lit(0L)
        else {
        val (lo, hi) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
        if (hi <= lo) lit(0L) // constant column: every row in cell 0
        else {
          // NaN → cell 0, ±Inf → clamped to the edge cells; the clamp
          // also keeps the long cast ANSI-safe (no overflow throw)
          val scaled = (asDouble(c) - lit(lo)) / lit(hi - lo) *
            lit(cells.toDouble)
          coalesce(least(greatest(nanvl(scaled, lit(0.0)), lit(0.0)),
            lit(cells.toDouble)).cast("long"), lit(0L))
        }
        }
      }
      val zc = "__graft_zorder"
      snapshot.withColumn(zc, Zorder.interleaveAll(normalized, b))
        .repartitionByRange(n, col(zc)).sortWithinPartitions(col(zc))
        .drop(zc)
    }
  }

  private def compactLaidOut(spark: SparkSession, dir: String,
      targetBytes: Long, layoutBy: Seq[String])
      (lay: (DataFrame, Int) => DataFrame): Int = {
    val (fs, _) = fsFor(spark, dir)
    val m = latest(spark, dir).getOrElse(throw new IllegalStateException(
      s"$dir has no committed manifest — nothing to compact"))
    if (m.files.isEmpty) return 0
    val n = Compaction.targetFiles(m.bytes, targetBytes)
    val snapshot = readVersion(spark, dir, m)
    val laidOut = lay(snapshot, n)
    // the layout this rewrite establishes (or, for a plain re-bin,
    // whatever layout the table already declared): the columns whose
    // per-file footer min/max become the manifest's pruning stats
    val layout = if (layoutBy.nonEmpty) layoutBy else m.layout
    val schemaJson = m.schemaJson.orElse(Some(snapshot.schema.json))
    val (staging, parts) = stage(fs, dir, laidOut, m)
    val (entries, _) = land(spark, fs, dir, parts, RewriteTag, m.version + 1,
      (layout ++ m.statsFor).toSet, snapshot.schema)
    // commit with rebase-on-conflict: if the appender committed while
    // this rewrite ran, the rewrite still faithfully replaces exactly
    // the files of the snapshot it read — re-resolve, keep every file
    // added SINCE that snapshot, and swap only the rewritten ones
    val snapshotNames = m.files.map(_.name).toSet
    commitLoop(spark, fs, dir, "compact") { curOpt =>
      val cur = curOpt.getOrElse(m)
      // rebase absorbs ADDITIONS only: if a concurrent commit REMOVED a
      // snapshot file (another maintenance writer's delete/compact),
      // committing this rewrite would resurrect the removed rows — fail
      // loudly instead; the single-maintenance-writer contract was broken
      val curNames = cur.files.map(_.name).toSet
      if (cur.version != m.version && !snapshotNames.subsetOf(curNames))
        throw new java.util.ConcurrentModificationException(
          s"compact of $dir raced a commit that removed snapshot files " +
            s"(${(snapshotNames -- curNames).take(3).mkString(", ")}…) — a " +
            "concurrent delete/compact violates the one-maintenance-writer " +
            "contract; re-run this compact against the new snapshot")
      val addedSince = cur.files.filterNot(e => snapshotNames.contains(e.name))
      // this rewrite physically purged every column the SNAPSHOT knew as
      // dropped (its files were all rewritten through the post-drop
      // schema; rebased-in appends postdate the drop too) — those names
      // may be reused; drops that raced in since the snapshot stay
      Right(Manifest(cur.version + 1, entries ++ addedSince, cur.rows,
        cur.commits, "compact", cur.schemaJson.orElse(schemaJson), layout,
        cur.statsFor, cur.dropped.filterNot(m.dropped.contains),
        bloomFor = cur.bloomFor))
    }(_ => ())
    fs.delete(staging, true)
    entries.length
  }

  /** Row-level copy-on-write DELETE: remove every row matching
    * `predicate`, rewriting ONLY the files that contain matching rows.
    * Candidate files are read once (parquet row-group stats make
    * non-matching candidates metadata-cheap to dismiss), the affected
    * ones are rewritten without their matching rows, and one manifest
    * commit atomically swaps exactly those files — readers see all
    * matching rows or none, never a partial delete. Returns the number
    * of rows removed; commits nothing when no row matches.
    *
    * This is the takedown/redaction primitive a training-data lake
    * needs (remove a document set by id, purge a contaminated span)
    * without rewriting the table. Honesty notes:
    *  - `predicate` must be deterministic — it is evaluated twice
    *    (locate, then rewrite) and a flapping predicate would desync
    *    the two passes;
    *  - SQL WHERE semantics: a row where the predicate evaluates to
    *    NULL does NOT match — it is kept, not deleted (the rewrite
    *    negation is NULL-safe to guarantee this);
    *  - deleted rows remain READABLE via [[readAt]] on older retained
    *    manifests until those prune ([[KeepManifests]] commits) and
    *    [[vacuum]]'s grace passes — PHYSICAL erasure completes at the
    *    first vacuum after the last referencing manifest is pruned
    *    ([[retention]] reports the horizon). Run `KeepManifests`
    *    trivial commits + vacuum to force it for compliance deadlines;
    *  - append consumers ([[readTailVersions]]/[[appendsSince]]) do NOT see
    *    deletions (the rewritten files carry the `c<v>-` rewrite
    *    prefix and `appendsSince` skips delete versions): downstream
    *    indexes keep serving removed ids until told — see
    *    [[AnnIndex.tombstone]] and
    *    [[graft.examples.IndexFollower.takedown]] for the index-side
    *    wiring.
    * Concurrency: rebases over concurrent APPENDS like [[compact]];
    * when a racing MAINTENANCE commit (a compact, another delete)
    * removed files its plan was built on, the whole locate-and-rewrite
    * is re-planned against the new snapshot (bounded by [[CasRetries]])
    * — the predicate is deterministic, so the retry removes exactly the
    * same rows from their new physical homes; takedowns and table
    * maintenance can share a table without choreography. (Compact keeps
    * its loud-failure posture when a delete guts ITS snapshot:
    * re-planning a compact is just re-running it, and committing the
    * stale rewrite would resurrect the deleted rows.) */
  def delete(spark: SparkSession, dir: String,
             predicate: org.apache.spark.sql.Column): Long =
    deleteImpl(spark, dir, m => m.files, predicate)

  /** [[delete]] of rows with `column` in the inclusive [lower, upper]
    * range, with candidate files pruned at the MANIFEST level first
    * (the [[readWhere]] stats path): on a table compacted `layoutBy`
    * this column, a narrow range opens only the files whose recorded
    * span intersects — the delete's cost tracks the range, not the
    * table. */
  def deleteRange(spark: SparkSession, dir: String, column: String,
                  lower: Any, upper: Any): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    deleteImpl(spark, dir, m => prunedEntries(m, column, lower, upper),
      col(column).between(lit(lower), lit(upper)))
  }

  /** [[delete]] of rows whose `column` is in `values` — the takedown-
    * list shape. Candidates are manifest-pruned PER VALUE (point
    * lookups, exact on a layout column — far tighter than one
    * [min, max] envelope over a sparse id list); driver-side work is
    * |values| × |files| stat comparisons, fine for takedown lists
    * against bounded manifests. */
  def deleteIn(spark: SparkSession, dir: String, column: String,
               values: Seq[Any]): Long = {
    require(values.nonEmpty, "deleteIn needs at least one value")
    import org.apache.spark.sql.functions.col
    deleteImpl(spark, dir, m => candidatesIn(m, column, values),
      col(column).isin(values: _*))
  }

  /** The files whose recorded stats may hold any of `values` in
    * `column` — per-value point pruning with an early stop. Shared by
    * [[deleteIn]] and [[applyDelta]]. */
  private def candidatesIn(m: Manifest, column: String,
      values: Seq[Any]): Vector[Entry] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val out = Vector.newBuilder[Entry]
    // stop once every file is already a candidate — on a column
    // with no recorded stats the FIRST value returns them all, and
    // the remaining |values| × |files| comparisons can add nothing
    val it = values.iterator
    while (it.hasNext && seen.size < m.files.size) {
      val v = it.next()
      prunedEntries(m, column, v, v).foreach { e =>
        if (seen.add(e.name)) out += e
      }
    }
    out.result()
  }

  /** ONE-COMMIT CDC apply — the upsert/merge primitive: remove every
    * row whose `keyColumn` is in `deleteKeys`, add `adds`, and record
    * `(runKey, batchId)` in the commit map, all in a SINGLE manifest
    * version. Readers see the old state or the new one, never the
    * half-applied middle a separate delete-then-append exposes, and a
    * lagging mirror pays one commit per applied window instead of two
    * ([[mirror]] folds through this).
    *
    * Semantics compose from the parts it fuses:
    *  - the delete side is [[deleteIn]]: candidates manifest-pruned per
    *    key value, only files actually holding matches rewritten
    *    (layout preserved, `c<v>-` names silent to the tail glob), a
    *    racing compact/delete re-plans against the fresh snapshot;
    *  - the add side is [[appendBatch]]: staged once (`a<v>-` names the
    *    version tail and glob tail deliver), footer-harvested stats,
    *    loud schema-drift guard, zombie fencing on the `(runKey,
    *    batchId)` ledger — a replayed delta is a no-op returning false,
    *    which covers the delete side too (its keys were removed when
    *    the ledger entry committed);
    *  - CDC: the version tail and [[appendsSince]] deliver ONLY the
    *    `a`-files (new rows — overwritten rows are CDC-invisible like
    *    [[delete]]'s); [[readChanges]] emits the overwritten rows as
    *    deletes and the new rows as appends (the swapped survivors
    *    cancel in its diff), so a change-feed mirror reproduces the
    *    upsert exactly.
    *
    * On a table with no committed manifest the delta must be pure adds
    * (`deleteKeys` empty) and degrades to [[appendBatch]]. Returns true
    * if committed, false if fenced as a replay. */
  def applyDelta(spark: SparkSession, dir: String, adds: DataFrame,
                 keyColumn: String, deleteKeys: Seq[Any],
                 runKey: String, batchId: Long): Boolean = {
    require(!deleteKeys.contains(null),
      s"applyDelta: delete key for '$keyColumn' is null — a null key " +
        "cannot identify rows (stats pruning and isin both pass it " +
        "through as no-match); delete null-keyed rows with " +
        "delete(col.isNull) directly")
    val (fs, _) = fsFor(spark, dir)
    val prev = latest(spark, dir).getOrElse {
      require(deleteKeys.isEmpty,
        s"$dir has no committed manifest — applyDelta cannot delete from " +
          "a table that does not exist (bootstrap it first)")
      return appendBatch(adds, dir, runKey, batchId)
    }
    if (!admits(dir, prev.commits, prev.schema, runKey, batchId, adds.schema))
      return false
    // stage the adds ONCE — a<v>- names are tail-visibility tags, not
    // versions, so the landed files survive any number of re-plans; the
    // survivor rewrites below are per-attempt (they depend on the
    // snapshot) and are swept on every lost plan. 0-row parts are not
    // landed: an empty-adds delta (a pure-delete mirror window) must not
    // salt the manifest with empty files
    val (staging, parts) = stage(fs, dir, adds, prev)
    val (addEntries, addedRows) = land(spark, fs, dir, parts, AppendTag,
      prev.version + 1, statCols(prev), adds.schema, minRows = 1L)
    fs.delete(staging, true)
    if (addEntries.isEmpty && deleteKeys.isEmpty) return false // empty delta
    var replans = 0
    // the first attempt reuses the manifest resolved above (staleness
    // is guarded by the affected-files subset check and commitLoop's
    // own re-resolution); only re-plans pay a fresh resolution
    var hint: Option[Manifest] = Some(prev)
    while (true) {
      try return applyDeltaAttempt(spark, fs, dir, keyColumn, deleteKeys,
        runKey, batchId, addEntries, addedRows, adds.schema, hint)
      catch {
        case e: StaleDeletePlan =>
          replans += 1
          hint = None
          if (replans > CasRetries)
            throw new java.util.ConcurrentModificationException(
              s"applyDelta in $dir lost its snapshot to racing maintenance " +
                s"commits $replans times: ${e.getMessage}")
      }
    }
    false // unreachable
  }

  /** [[applyDelta]] with the delete keys taken from the batch itself:
    * replace-by-key semantics — every key present in `batch` holds
    * exactly `batch`'s rows afterwards, keys absent from the table are
    * plain inserts. The key list is collected to the driver, bounded by
    * [[MirrorMaxDeleteKeys]] (upserts are delta-shaped by contract;
    * rewrite table-scale key sets with delete + append directly). */
  def upsertByKey(spark: SparkSession, dir: String, batch: DataFrame,
                  keyColumn: String, runKey: String, batchId: Long): Boolean = {
    val (keys, over) = boundedKeyList(batch, keyColumn)
    require(!over,
      s"upsertByKey batch carries more than $MirrorMaxDeleteKeys distinct " +
        s"keys (or $MirrorMaxDeleteKeyBytes bytes of keys) — apply " +
        "table-scale rewrites as delete + append directly")
    applyDelta(spark, dir, batch, keyColumn, keys, runKey, batchId)
  }

  private def applyDeltaAttempt(spark: SparkSession, fs: FileSystem,
      dir: String, keyColumn: String, deleteKeys: Seq[Any], runKey: String,
      batchId: Long, addEntries: Vector[Entry], addedRows: Long,
      addSchema: org.apache.spark.sql.types.StructType,
      resolvedHint: Option[Manifest]): Boolean = {
    import org.apache.spark.sql.functions.col
    val table = new Path(dir.stripSuffix("/"))
    val m = resolvedHint.orElse(latest(spark, dir)).getOrElse(
      throw new IllegalStateException(
        s"$dir lost its manifest mid-applyDelta"))
    val rewrite =
      if (deleteKeys.isEmpty) None
      else {
        val cand = candidatesIn(m, keyColumn, deleteKeys)
        if (cand.isEmpty) None
        else stageSurvivorRewrite(spark, fs, dir, m, cand,
          col(keyColumn).isin(deleteKeys: _*))
      }
    val (affectedNames, swapEntries, deleted) = rewrite match {
      case Some((names, entries, d, _)) => (names, entries, d)
      case None => (Set.empty[String], Vector.empty[Entry], 0L)
    }
    try {
      val landed = commitLoop(spark, fs, dir, "upsert") { curOpt =>
        val cur = curOpt.getOrElse(m)
        // fenced between staging and commit (a replica landed the same
        // delta): the landed a-files stay orphaned for vacuum, exactly
        // appendBatch's fence story
        if (!admits(dir, cur.commits, cur.schema, runKey, batchId, addSchema))
          Left(false)
        else {
          val curNames = cur.files.map(_.name).toSet
          if (!affectedNames.subsetOf(curNames))
            throw new StaleDeletePlan(
              s"applyDelta in $dir raced a commit that removed the files " +
                s"it read (${(affectedNames -- curNames).take(3).mkString(", ")}…)")
          // write-skew guard: an append racing this upsert may have
          // landed rows whose key is in deleteKeys AFTER the rewrite
          // plan was built — committing over it would leave duplicate
          // keys behind a replace-by-key primitive. Stats-prune the
          // files added since the planning snapshot exactly like the
          // planning pass; any that MAY hold a delete key forces a
          // re-plan over the fresh snapshot (which then rewrites them
          // too). Stats-blind files (no recorded min/max for the key
          // column) conservatively count as risky.
          if (deleteKeys.nonEmpty) {
            val plannedNames = m.files.iterator.map(_.name).toSet
            val newSince = cur.files.filterNot(e => plannedNames(e.name))
            if (newSince.nonEmpty &&
                candidatesIn(cur.copy(files = newSince, segments = Vector.empty),
                  keyColumn, deleteKeys).nonEmpty)
              throw new StaleDeletePlan(
                s"applyDelta in $dir raced an append whose files may hold " +
                  s"rows of its delete keys (${newSince.take(3).map(_.name)
                    .mkString(", ")}…) — re-planning over them")
          }
          // a delta that swapped NO files (keys absent from the table,
          // or a pure insert) is a plain append and commits as one: the
          // "append" op keeps O(delta) planning on every CDC surface
          // (readChanges' diff branch and its resolvedEntries-of-both-
          // manifests cost are only paid when files were actually
          // swapped)
          val op = if (affectedNames.isEmpty) "append" else "upsert"
          Right(Manifest(cur.version + 1,
            cur.files.filterNot(e => affectedNames.contains(e.name)) ++
              swapEntries ++ addEntries,
            cur.rows - deleted + addedRows,
            cur.commits + (runKey -> batchId), op,
            cur.schemaJson.orElse(Some(addSchema.json)), cur.layout, cur.statsFor,
            cur.dropped, bloomFor = cur.bloomFor))
        }
      }(_ => true)
      rewrite.foreach { case (_, _, _, staging) => fs.delete(staging, true) }
      landed
    } catch {
      case e: StaleDeletePlan =>
        // this attempt's rewrites never committed; the a-files are
        // version-agnostic and survive for the re-plan
        swapEntries.foreach(en => fs.delete(new Path(table, en.name), false))
        rewrite.foreach { case (_, _, _, staging) => fs.delete(staging, true) }
        throw e
    }
  }

  /** Internal signal: a racing maintenance commit (compact, another
    * delete) removed files this delete's plan was built on — the plan
    * is stale, not the data; re-resolve and re-plan. */
  private final class StaleDeletePlan(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  private def deleteImpl(spark: SparkSession, dir: String,
      candidates: Manifest => Vector[Entry],
      predicate: org.apache.spark.sql.Column): Long = {
    // re-plan on a lost race instead of failing the takedown: the
    // predicate is deterministic (the delete contract) and each attempt
    // locates its victims fresh in the CURRENT snapshot, so a bounded
    // retry after a racing compact/delete removes exactly the same rows
    // from their new physical homes — no resurrect, no double-count.
    // The failed attempt's staged rewrites are swept eagerly below (and
    // by vacuum if we crash first). Takedowns and table maintenance may
    // thus share a table without operator choreography; the retry bound
    // only turns a pathological livelock into the old loud error.
    var replans = 0
    while (true) {
      try return deleteAttempt(spark, dir, candidates, predicate)
      catch {
        case e: StaleDeletePlan =>
          replans += 1
          if (replans > CasRetries) throw new java.util.ConcurrentModificationException(
            s"delete in $dir lost its snapshot to racing maintenance commits " +
              s"$replans times: ${e.getMessage}")
      }
    }
    0L // unreachable
  }

  /** Locate the files of `cand` that actually hold `predicate` rows
    * and stage rewrites of them WITHOUT those rows (layout clustering
    * preserved, NULL-safe negation, c<v>- names silent to the tail
    * glob). Returns None when no candidate holds a match; otherwise
    * (affected file names, landed rewrite entries, rows removed,
    * staging dir) — the CALLER owns the output: reference the entries
    * in its commit and delete the staging dir, or sweep both on a lost
    * plan. The shared rewrite stage of the delete family and
    * [[applyDelta]]. */
  private def stageSurvivorRewrite(spark: SparkSession, fs: FileSystem,
      dir: String, m: Manifest, cand: Vector[Entry],
      predicate: org.apache.spark.sql.Column)
      : Option[(Set[String], Vector[Entry], Long, Path)] = {
    val base = dir.stripSuffix("/")
    def readFiles(entries: Seq[Entry]) =
      m.schema.fold(spark.read)(s => spark.read.schema(s))
        .parquet(entries.map(e => s"$base/${e.name}"): _*)
    // locate the files that actually hold matching rows; bounded collect
    // (≤ one row per candidate file)
    val affectedPaths = readFiles(cand).filter(predicate)
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().collect().map(_.getString(0)).toSet
    if (affectedPaths.isEmpty) return None
    val affected = cand.filter(e =>
      affectedPaths.exists(p => p.endsWith("/" + e.name)))
    val conf = spark.sparkContext.hadoopConfiguration
    val oldRows = ParquetFooters.rowCount(conf,
      affected.map(e => new Path(s"$base/${e.name}")))
    // rewrite the affected files without their matching rows, keeping
    // the table's layout clustering (and thus its pruning stats) intact.
    // NULL-safe negation: a row where the predicate evaluates to NULL
    // (nullable columns are first-class — evolve() REQUIRES added
    // columns be nullable) did not match the locate pass above, so the
    // rewrite must KEEP it — a bare !predicate is also NULL there and
    // would silently drop every such row from the rewritten files
    val keepCond = org.apache.spark.sql.functions.not(
      org.apache.spark.sql.functions.coalesce(predicate,
        org.apache.spark.sql.functions.lit(false)))
    val kept = readFiles(affected).filter(keepCond)
    val n = affected.length
    val laidOut =
      if (m.layout.isEmpty) kept.coalesce(n)
      else {
        val cols = m.layout.map(org.apache.spark.sql.functions.col)
        kept.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
      }
    val statSchema = m.schema.getOrElse(
      org.apache.spark.sql.types.StructType(kept.schema.fields))
    // `c` prefix: a rewrite of surviving rows, silent to the append tail
    // ([[appendedEntries]]) exactly like a compaction rewrite
    val (staging, parts) = stage(fs, dir, laidOut, m)
    val (entries, newRows) = land(spark, fs, dir, parts, RewriteTag,
      m.version + 1, statCols(m), statSchema)
    val deleted = oldRows - newRows
    Some((affected.map(_.name).toSet, entries, deleted, staging))
  }

  private def deleteAttempt(spark: SparkSession, dir: String,
      candidates: Manifest => Vector[Entry],
      predicate: org.apache.spark.sql.Column): Long = {
    val (fs, table) = fsFor(spark, dir)
    val m = latest(spark, dir).getOrElse(throw new IllegalStateException(
      s"$dir has no committed manifest — nothing to delete from"))
    if (m.files.isEmpty) return 0L
    val cand = candidates(m)
    if (cand.isEmpty) return 0L
    val (affectedNames, entries, deleted, staging) =
      stageSurvivorRewrite(spark, fs, dir, m, cand, predicate)
        .getOrElse(return 0L)
    try {
      commitLoop(spark, fs, dir, "delete") { curOpt =>
        val cur = curOpt.getOrElse(m)
        val curNames = cur.files.map(_.name).toSet
        if (!affectedNames.subsetOf(curNames))
          throw new StaleDeletePlan(
            s"delete in $dir raced a commit that removed the files it read " +
              s"(${(affectedNames -- curNames).take(3).mkString(", ")}…)")
        Right(Manifest(cur.version + 1,
          cur.files.filterNot(e => affectedNames.contains(e.name)) ++ entries,
          cur.rows - deleted, cur.commits, "delete", cur.schemaJson, cur.layout,
          cur.statsFor, cur.dropped, bloomFor = cur.bloomFor))
      }(_ => ())
    } catch {
      case e: StaleDeletePlan =>
        // this attempt's rewrites never committed — sweep them now so a
        // long re-plan chain doesn't stack orphans until vacuum
        entries.foreach(en => fs.delete(new Path(table, en.name), false))
        fs.delete(staging, true)
        throw e
    }
    fs.delete(staging, true)
    deleted
  }

  /** How long a consumer lease protects manifests after its last
    * renewal. Standing consumers (the version tail, [[graft.examples
    * .IndexFollower]]) renew per committed batch/span, so a LIVE
    * consumer's lease is always fresh; an abandoned one (deleted
    * checkpoint, decommissioned follower) stops binding retention a day
    * later without operator action. */
  val DefaultLeaseTtlMs: Long = 24L * 60 * 60 * 1000


  private def leasesDir(dir: String): Path = new Path(logDir(dir), "leases")

  private def leasePath(dir: String, consumerId: String): Path = {
    require(consumerId.nonEmpty && consumerId.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"consumer id must be [A-Za-z0-9._-]+: '$consumerId'")
    new Path(leasesDir(dir), consumerId)
  }

  /** Write-temp-then-rename of one small file — the shared atomic
    * update primitive for sidecar state (the tail's resolved-since file,
    * the log's head hint): a crash can only lose the update, never
    * leave a torn file. NOT suitable for state whose ABSENCE breaks a
    * guarantee (filesystems whose rename refuses to overwrite take the
    * delete-then-rename fallback, which has a brief no-file window —
    * leases use create-new-then-sweep instead, [[renewLease]]). */
  private[graft] def atomicWriteSmall(fs: FileSystem, p: Path,
                                      content: String): Unit = {
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".tmp-${p.getName}-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"could not atomically write $p")
    }
  }

  /** Record that consumer `consumerId` has durably consumed THROUGH
    * `committedVersion` of `dir` — an advisory registration under
    * `_graft_log/leases/` that [[vacuum]] honors: manifests at or above
    * the lowest live lease's version are never pruned (the lease-holder
    * needs manifest V as the predecessor of its next delta), so a
    * lagging registered consumer can no longer be strangled by an
    * aggressive vacuum between its triggers. Leases EXPIRE
    * ([[DefaultLeaseTtlMs]] after their last renewal) rather than being
    * released on shutdown — a stopped stream usually resumes from its
    * checkpoint and still needs its floor; delete a decommissioned
    * consumer's lease with [[releaseLease]] (or let it age out).
    *
    * Crash posture: each renewal is the atomic CREATE of a NEW
    * `<id>@<version>` file (empty — the name carries the version, the
    * mtime the freshness), after which older renewals of the same id
    * are swept best-effort. Never update-in-place: a delete-then-rename
    * of one shared file has a window with NO lease on filesystems whose
    * rename refuses to overwrite — a vacuum listing in that window
    * would prune the very manifests the lease protects. Here a crash
    * leaves EXTRA renewal files (readers take the max per id; vacuum's
    * floor takes the min across ids, so a stale leftover only ever
    * WIDENS what is kept until the next renewal sweeps it).
    *
    * The version tail renews on every engine-committed batch and
    * [[graft.examples.IndexFollower.catchUp]] per applied span; any
    * external consumer of [[appendsSince]] can register the same
    * way. */
  def renewLease(spark: SparkSession, dir: String, consumerId: String,
                 committedVersion: Long): Unit = {
    val (fs, _) = fsFor(spark, dir)
    val base = leasePath(dir, consumerId)
    fs.mkdirs(base.getParent)
    val p = new Path(base.getParent, s"${base.getName}@$committedVersion")
    try fs.create(p, false).close()
    catch {
      case _: java.io.IOException if fs.exists(p) =>
        // re-renewal of the SAME committed version (a consumer
        // crash-looping on one batch, an idle follower confirming its
        // position): the name already carries the version but freshness
        // lives in the file's mtime — refresh it, or the lease expires
        // (and housekeeping sweeps it) despite active renewals. Fall
        // back to an OVERWRITE-in-place where setTimes is unsupported
        // (create(p, true) truncates, which refreshes mtime, and the
        // NAME never disappears). Never delete+recreate here: the
        // opportunistic sweep below keeps exactly ONE file per id, so
        // a vacuum listing the leases dir in a delete→create gap would
        // see NO lease for this consumer and compute its floor without
        // it — the floor must never blink out. A failed overwrite
        // leaves the old file with its stale mtime: worst case the
        // lease expires, the safe direction.
        try fs.setTimes(p, System.currentTimeMillis(), -1L)
        catch {
          case scala.util.control.NonFatal(_) =>
            try fs.create(p, true).close()
            catch { case _: java.io.IOException => () }
        }
    }
    // opportunistic sweep of superseded renewals (and this consumer's
    // legacy single-file lease, if an upgrade left one) — failure
    // harmless
    try {
      fs.listStatus(base.getParent).foreach { f =>
        val n = f.getPath.getName
        val superseded =
          (n.startsWith(base.getName + "@") && n != p.getName &&
            n.stripPrefix(base.getName + "@").toLongOption
              .exists(_ < committedVersion)) || n == base.getName
        if (superseded) fs.delete(f.getPath, false)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Drop `consumerId`'s lease (every recorded renewal, legacy
    * single-file layout included) — for decommissioned consumers; a
    * no-op when absent. */
  def releaseLease(spark: SparkSession, dir: String,
                   consumerId: String): Unit = {
    val (fs, _) = fsFor(spark, dir)
    val base = leasePath(dir, consumerId)
    if (!fs.exists(base.getParent)) return
    fs.listStatus(base.getParent).foreach { f =>
      val n = f.getPath.getName
      if (n.startsWith(base.getName + "@") || n == base.getName)
        fs.delete(f.getPath, false)
    }
  }

  /** All recorded leases: consumerId → (committed version, last-renewal
    * mtime ms). Multiple renewal files per id (crash leftovers) resolve
    * to the highest version; unparsable names are skipped (a torn or
    * foreign entry can only under-protect its own consumer). Legacy
    * single-file `<id>` leases (version in the CONTENT — the first
    * release of this feature) still parse, so an upgrade cannot orphan
    * a deep-lagging consumer's floor between its renewals. */
  def leases(spark: SparkSession, dir: String): Map[String, (Long, Long)] = {
    val (fs, _) = fsFor(spark, dir)
    val ld = leasesDir(dir)
    if (!fs.exists(ld)) return Map.empty
    fs.listStatus(ld).iterator.flatMap { f =>
      val name = f.getPath.getName
      if (name.startsWith(".")) Iterator.empty
      else name.split('@') match {
        case Array(id, v) if v.toLongOption.isDefined =>
          Iterator.single((id, (v.toLong, f.getModificationTime)))
        case Array(_) => // legacy one-file-per-consumer layout
          tryReadFully(fs, f.getPath).flatMap(_.trim.toLongOption)
            .map(v => (name, (v, f.getModificationTime))).iterator
        case _ => Iterator.empty
      }
    }.toVector.groupBy(_._1).map { case (id, renewals) =>
      id -> renewals.map(_._2).maxBy(_._1)
    }
  }

  /** The lease that currently BINDS retention — the live (unexpired)
    * lease with the lowest committed version, if any. This is the
    * constraint to read alongside [[retention]]: vacuum will not prune
    * manifests at or above this version until the lease renews past
    * them or expires. */
  def bindingLease(spark: SparkSession, dir: String,
                   leaseTtlMs: Long = DefaultLeaseTtlMs)
      : Option[(String, Long)] = {
    val now = System.currentTimeMillis()
    leases(spark, dir).collect {
      case (id, (v, mt)) if now - mt <= leaseTtlMs => (id, v)
    }.minByOption(_._2)
  }

  /** Reclaim everything this table's log no longer protects: first
    * prune the manifest tail (beyond the last [[KeepManifests]], and
    * ONLY once a manifest is older than `graceMs` — a reader inside the
    * grace window resolved a manifest that is therefore still present),
    * then delete what no surviving manifest references — data files
    * superseded by compaction, debris from crashed appends, stranded
    * `_staging-*` scratch — once it too is older than `graceMs`. The
    * grace is the snapshot-isolation window end to end: any reader that
    * resolved the then-latest manifest within the last `graceMs` still
    * finds both the manifest and every file it names.
    *
    * CONSUMER LEASES bound the manifest prune additionally: a live
    * lease ([[renewLease]], unexpired within `leaseTtlMs`) at version V
    * keeps every manifest ≥ V — and, transitively, every data file and
    * segment those manifests reference — so a registered lagging
    * consumer survives any grace setting. `ignoreLeases = true` is the
    * explicit operator override (reclaim space NOW, accepting that
    * lagging registered consumers fail loudly with their usual
    * left-retention error). Expired leases never bind.
    *
    * A directory with data files but NO manifest log is NOT a TableLog
    * table — nothing in it is this module's to reclaim, so vacuum
    * touches nothing and returns 0 (the upgrade-a-raw-parquet-dir case;
    * see [[adopt]]). Returns the number of paths deleted. */
  def vacuum(spark: SparkSession, dir: String, graceMs: Long,
             ignoreLeases: Boolean = false,
             leaseTtlMs: Long = DefaultLeaseTtlMs,
             leaseHousekeepTtlMs: Long = DefaultLeaseTtlMs): Int = {
    val (fs, table) = fsFor(spark, dir)
    if (!fs.exists(table)) return 0
    val log = logDir(dir)
    if (!fs.exists(log)) return 0 // not a TableLog table: nothing is ours
    val leaseFloor: Option[Long] =
      if (ignoreLeases) None
      else bindingLease(spark, dir, leaseTtlMs).map(_._2)
    val cutoff = System.currentTimeMillis() - graceMs
    // inclusive comparisons so graceMs=0 means "everything up to now"
    // even when the filesystem's mtime granularity rounds a just-written
    // file to the current instant
    val manifests = listManifests(fs, dir)
    if (manifests.isEmpty) return 0
    var deleted = 0
    val floor = manifests.last._1 - KeepManifests + 1
    val (prunable, retained) = manifests.partition { case (v, f) =>
      v < floor && f.getModificationTime <= cutoff &&
        leaseFloor.forall(v < _)
    }
    prunable.foreach { case (_, f) => fs.delete(f.getPath, false); deleted += 1 }
    // heads parsed but NOT resolved, then each DISTINCT segment
    // materialized exactly once: segments are structurally shared across
    // versions (an append reuses every predecessor ref), so resolving
    // every retained manifest in full would cost O(retained × live
    // files) — and a deep-lagging LEASE makes the retained set
    // unbounded, turning one vacuum call into a lag-proportional scan.
    // The live-file set only needs the UNION, which is O(heads +
    // distinct segments).
    val retainedHeads = retained.map { case (_, f) =>
      parse(readFully(fs, f.getPath))
    }
    val live = scala.collection.mutable.Set.empty[String]
    retainedHeads.foreach(_.files.foreach(e => live += e.name))
    retainedHeads.iterator.flatMap(_.segments.iterator)
      .map(r => r.name -> r).toMap // dedupe by name: segments are immutable
      .valuesIterator.foreach { ref =>
        loadSegment(fs, dir, ref).foreach(e => live += e.name)
      }
    // segments referenced by ANY retained head survive; the rest —
    // superseded by merges/compactions, or orphaned by a crashed or
    // CAS-lost commit — are reclaimed once past the grace, exactly like
    // data files. A just-written segment whose head has not renamed yet
    // is inside the grace by construction. Stale `.tmp-` head scratch
    // from crashed commits goes the same way.
    val liveSegments: Set[String] =
      retainedHeads.iterator.flatMap(_.segments.iterator.map(_.name)).toSet
    fs.listStatus(log).iterator.foreach { f =>
      val name = f.getPath.getName
      val expired = f.getModificationTime <= cutoff
      val reclaimable = name match {
        case SegmentRe() => !liveSegments.contains(name)
        case _           => name.startsWith(".tmp-")
      }
      if (reclaimable && expired) { fs.delete(f.getPath, false); deleted += 1 }
    }
    // housekeeping for ABANDONED lease files: an expired lease stopped
    // binding retention long ago, but its file lingers (renewals sweep
    // only the renewing consumer's own). Swept at double the STANDING
    // policy's TTL (the explicit `leaseHousekeepTtlMs` parameter —
    // deliberately NOT this call's `leaseTtlMs`, which only scopes how
    // the CURRENT prune judges binding: a one-off tight-TTL vacuum must
    // not destroy registrations a default-policy vacuum would still
    // honor), in EVERY mode including ignoreLeases (an abandoned file
    // is equally dead either way). Only entries that PARSE as lease
    // files are touched — the same tolerate-foreign-entries posture as
    // [[leases]]; a mistaken sweep costs nothing (the next renewal
    // recreates the file; at 2× the standing TTL the lease was long
    // non-binding).
    val ld = leasesDir(dir)
    if (fs.exists(ld)) {
      val horizon =
        if (leaseHousekeepTtlMs > Long.MaxValue / 2) Long.MaxValue
        else 2 * math.max(leaseHousekeepTtlMs, 0L)
      val abandoned = System.currentTimeMillis() - horizon
      fs.listStatus(ld).iterator.foreach { f =>
        val name = f.getPath.getName
        val isLease = !f.isDirectory && !name.startsWith(".") &&
          (name.split('@') match {
            case Array(_, v) => v.toLongOption.isDefined
            case Array(_) => // legacy layout: version in the content
              tryReadFully(fs, f.getPath).exists(_.trim.toLongOption.isDefined)
            case _ => false
          })
        if (isLease && f.getModificationTime <= abandoned) {
          fs.delete(f.getPath, false); deleted += 1
        }
      }
    }
    fs.listStatus(table).iterator.foreach { f =>
      val name = f.getPath.getName
      val expired = f.getModificationTime <= cutoff
      if (name.startsWith("_staging-") && expired) {
        fs.delete(f.getPath, true); deleted += 1
      } else if (!f.isDirectory && !name.startsWith("_") && !name.startsWith(".")
          && !live.contains(name) && expired) {
        fs.delete(f.getPath, false); deleted += 1
      }
    }
    deleted
  }

  /** `m`'s recorded schema, or (pre-schema v1 manifests) one inferred
    * from a single live file's footer by [[ParquetFooters.schema]] — the
    * one inference rule every batch face (the `format("tablelog")`
    * provider, the catalog, the v2 table) and [[adopt]] share, so they
    * can never drift on it. */
  private[graft] def schemaOf(spark: SparkSession, dir: String,
      m: Manifest): org.apache.spark.sql.types.StructType =
    m.schema.getOrElse {
      val first = m.files.headOption.getOrElse(throw new IllegalStateException(
        s"$dir has no data files to infer a schema from — pass it explicitly"))
      ParquetFooters.schema(spark, s"${dir.stripSuffix("/")}/${first.name}")
    }

  /** Manifest-transactional streaming tail: a Structured Streaming
    * DataFrame whose OFFSETS are table versions — each micro-batch is
    * exactly the appends of the versions committed since the last
    * batch, planned as a file-source relation over a
    * [[ManifestFileIndex]] restricted to that delta
    * ([[graft.sources.TableLogTailSource]]). Going through the manifest
    * buys two things a glob-filtered file stream over the directory
    * cannot give:
    *  - EXACTLY-ONCE across writer crashes: an orphaned file of a
    *    failed commit is in no manifest, so it is never served;
    *  - stats pruning per micro-batch: every filter the consumer puts
    *    on the stream pushes into each batch's scan as ordinary
    *    dataFilters, and files whose recorded min/max cannot match are
    *    never opened — with [[trackStats]] on an ingest-time column, a
    *    time-ranged live consumer skips out-of-range historical appends
    *    at the FILE level ([[readTailWhere]] is the range sugar).
    *
    * `since` picks the start: the head version at source creation by
    * default (live appends only — bootstrap a replica with
    * [[appendsSince]] or [[read]] first), an explicit version within
    * retention, or `-1` to
    * tail from the beginning (requires version 0 retained —
    * [[KeepManifests]]). A start that has left retention — or a version
    * vacuumed away mid-stream while the consumer lags — fails LOUDLY
    * with the documented "left retention" error instead of silently
    * losing appends. Schema is pinned at source creation (the contract
    * every reader has; restart the stream to surface an [[evolve]]d
    * column). Requires a schema-recording table (any table written by
    * the current appendBatch) — or an explicit `schema`, which starts
    * the tail before the table's first commit (the consumer-first
    * deployment order). */
  def readTailVersions(spark: SparkSession, dir: String,
                       since: Option[Long] = None,
                       schema: Option[org.apache.spark.sql.types.StructType] =
                         None,
                       maxVersionsPerTrigger: Option[Int] = None,
                       failOnSchemaDrift: Boolean = true): DataFrame = {
    var r = spark.readStream
      .format(classOf[graft.sources.TableLogTailProvider].getName)
      .option("dir", dir)
    since.foreach(v => r = r.option("since", v.toString))
    schema.foreach(s => r = r.schema(s))
    maxVersionsPerTrigger.foreach(n =>
      r = r.option("maxVersionsPerTrigger", n.toString))
    if (!failOnSchemaDrift) r = r.option("failOnSchemaDrift", "false")
    r.load()
  }

  /** The STREAMING face of [[readChanges]]: a version-offset tail
    * (same offsets, admission control, lease renewal and loud
    * left-retention error as [[readTailVersions]]) whose micro-batches
    * carry the row-level change feed — the table's columns plus
    * `_change_type` ∈ {append, delete} and `_commit_version` — so a
    * standing mirror (a feature store, a replicated serving copy) folds
    * deletes and restores without reinventing the follower's tombstone
    * registry. Exactly-once: offsets are checkpointed and a replayed
    * window's diff is deterministic while retention holds. Schema drift
    * mid-stream always fails loudly (a mirror must re-pin; the
    * `failOnSchemaDrift=false` escape is plain-tail-only). SQL face:
    * `readStream.format("tablelog").option("readChangeFeed", "true")`.
    * With `updateKeyColumn` (SQL: `option("updateImages", "true")` +
    * `option("keyColumn", k)`) the windows carry
    * [[readChangesWithUpdates]]'s `update_preimage`/`update_postimage`
    * tags for upsert commits — same emitted schema, so a plain-tag
    * mirror is unaffected unless it opts in. */
  def readTailChanges(spark: SparkSession, dir: String,
                      since: Option[Long] = None,
                      maxVersionsPerTrigger: Option[Int] = None,
                      updateKeyColumn: Option[String] = None): DataFrame = {
    var r = spark.readStream
      .format(classOf[graft.sources.TableLogTailProvider].getName)
      .option("dir", dir)
      .option("readChangeFeed", "true")
    since.foreach(v => r = r.option("since", v.toString))
    maxVersionsPerTrigger.foreach(n =>
      r = r.option("maxVersionsPerTrigger", n.toString))
    updateKeyColumn.foreach(k =>
      r = r.option("updateImages", "true").option("keyColumn", k))
    r.load()
  }

  /** A standing MIRROR: fold the streaming change feed of `srcDir`
    * into a second TableLog table — the generic "replicated serving
    * copy / downstream feature store" consumer the change feed exists
    * for, with none of the follower's bespoke tombstone machinery.
    * Returns the started query; the mirror converges to the source
    * after every processed micro-batch.
    *
    * Each feed micro-batch applies as ONE fold, not one commit per
    * source version: the window's net effect — `appends ⊖ deletes` to
    * add, `deletes ⊖ appends` to remove (multiset except, so a row
    * deleted and restored within the window cancels) — lands as a
    * single delete-by-key plus a single ledger-fenced append at the
    * window's max version. A 1,440-version overnight backlog is one
    * delete and one append, not 1,440 commits (the follower's span
    * lesson, measured in MirrorBench).
    *
    * Exactly-once without a marker file, against the mirror's own
    * commit map:
    *  - a window at or below the ledger entry is skipped whole (its
    *    append committed, so its deletes already ran; windows are
    *    disjoint and ascending, and the engine replays a crashed
    *    window with the same bounds);
    *  - a replayed window ABOVE the ledger re-runs its net deletes
    *    (idempotent: the keys are gone, and no later re-add can be
    *    committed without advancing the ledger past this window,
    *    which the skip rule would have caught) and its append fences
    *    through the ledger. Deletes always apply BEFORE the append,
    *    so an update-shaped key (net-delete + net-re-add of one key)
    *    survives any crash point.
    *
    * Contract: `keyColumn` uniquely identifies source rows (the
    * standard CDC primary-key assumption — the feed's delete rows are
    * applied AS key deletes so they stats-prune on a layout/tracked
    * key instead of shipping full-row predicates). A window's net
    * delete-key list is collected to the driver, bounded by
    * [[MirrorMaxDeleteKeys]] with a loud error — mirrors consume
    * ingest-cadence deltas; a table-scale redaction should be applied
    * to the mirror directly, like the takedown path does. A mirror
    * must start from the feed's beginning (`since = -1`, the default
    * here) or from a bootstrap copy ([[exportAt]]) — starting
    * mid-history would silently miss the prefix.
    *
    * Catch-up windows are capped at [[MirrorMaxVersionsPerWindow]]
    * source versions per trigger BY DEFAULT: an unbounded overnight
    * backlog would otherwise plan one union arm + one parquet relation
    * per version in a single feed frame (driver analysis cost and key
    * collection both grow with the window), while capped windows keep
    * each fold's plan bounded and still amortize — one commit per
    * window, not per version. Pass `maxVersionsPerTrigger = None`
    * explicitly to fold an entire backlog in one window. */
  def mirror(spark: SparkSession, srcDir: String, dstDir: String,
             keyColumn: String, checkpointLocation: String,
             maxVersionsPerTrigger: Option[Int] =
               Some(MirrorMaxVersionsPerWindow))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val runKey = "mirror-" + runKeyFor(spark, checkpointLocation)
    readTailChanges(spark, srcDir, since = Some(-1L),
        maxVersionsPerTrigger = maxVersionsPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyChanges(spark, dstDir, keyColumn, runKey, batch)
      }
      .start()
  }

  /** Driver-side bound on one version's delete-key list in [[mirror]]
    * (see its scaladoc for why a bound is the right failure mode). */
  val MirrorMaxDeleteKeys: Int = 1000000

  /** Driver-side BYTE budget for one collected delete-key list: the
    * count bound alone would let 1M wide string keys push hundreds of
    * MB of driver heap (and of isin literals downstream) before any
    * guard fired. Variable-width key columns are pre-measured with a
    * distributed sum BEFORE the collect, so an over-budget list never
    * reaches the driver at all. */
  val MirrorMaxDeleteKeyBytes: Long = 64L << 20

  /** The distinct values of `df.column` under BOTH driver-side bounds.
    * Returns (keys, overBudget): overBudget = true means the list
    * exceeds [[MirrorMaxDeleteKeys]] or [[MirrorMaxDeleteKeyBytes]]
    * and `keys` is empty — the caller picks its failure mode (the
    * mirror splits the window per version; upsertByKey fails loudly). */
  private[graft] def boundedKeyList(df: DataFrame,
      column: String): (Seq[Any], Boolean) = {
    import org.apache.spark.sql.functions.{col, octet_length, sum}
    val keyed = df.select(col(column)).distinct()
      .limit(MirrorMaxDeleteKeys + 1)
    val variableWidth = keyed.schema.fields(0).dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType => true
      case _ => false
    }
    if (!variableWidth) {
      // fixed-width keys cannot bust the byte budget under the count
      // bound — one job, no pre-measure
      val rows = keyed.collect()
      return if (rows.length > MirrorMaxDeleteKeys) (Nil, true)
        else (rows.map(_.get(0)).toSeq, false)
    }
    // variable-width: pre-measure, then collect — pinned so the
    // upstream distinct (and, on the mirror path, its exceptAll
    // shuffle chain) runs once, not once per job
    val pinned = keyed.persist(org.apache.spark.storage.StorageLevel
      .MEMORY_AND_DISK)
    try {
      val est = pinned.agg(sum(octet_length(col(column)))).head()
      if (!est.isNullAt(0) && est.getLong(0) > MirrorMaxDeleteKeyBytes)
        return (Nil, true)
      val rows = pinned.collect()
      if (rows.length > MirrorMaxDeleteKeys) (Nil, true)
      else (rows.map(_.get(0)).toSeq, false)
    } finally pinned.unpersist(blocking = false)
  }

  /** Default cap on source versions folded per [[mirror]] trigger —
    * bounds one window's feed-plan size (union arms, parquet relations,
    * collected keys) on a deep catch-up; MirrorBench measures the
    * one-commit-per-window amortization already saturating well below
    * this. */
  val MirrorMaxVersionsPerWindow: Int = 256

  /** One micro-batch of [[mirror]]'s fold — package-visible so the
    * spec can drive the at-least-once replay (`foreachBatch` may
    * re-deliver a batch after a crash) deterministically: applying the
    * same batch twice must be a no-op. */
  private[functions] def applyChanges(spark: SparkSession, dstDir: String,
      keyColumn: String, runKey: String, batch: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, max}
    val cached = batch.persist()
    try {
      val maxVRow = cached.agg(max(col("_commit_version"))).head()
      if (maxVRow.isNullAt(0)) return // empty window
      val maxV = maxVRow.getLong(0)
      // the mirror's ledger is the replay authority, re-read against
      // the table actually being committed to, not a value captured
      // before the batch (ONE head read, reused for the
      // deletes-need-a-table guard below — a manifest can carry an
      // empty commit map, so the Option itself is the existence signal)
      val dstHead = latestHead(spark, dstDir)
      val ledger = dstHead.map(_.commits).getOrElse(Map.empty)
      val ledgerV = ledger.getOrElse(runKey, -1L)
      if (ledgerV >= maxV) return // replayed window
      // versions at or below the ledger are ALREADY APPLIED: a ledger
      // strictly inside the window (a checkpoint written by an older
      // per-version fold, or a future partial applier) must not re-net
      // the applied prefix — re-appending it would duplicate the mirror
      applyWindow(spark, dstDir, keyColumn, runKey,
        cached.filter(col("_commit_version") > ledgerV), maxV,
        dstHead.isDefined)
    } finally cached.unpersist()
  }

  /** Net-fold `window` (already filtered past the ledger) into the
    * mirror as one [[applyDelta]] commit at `maxV`; when the window's
    * NET delete-key list exceeds [[MirrorMaxDeleteKeys]], fall back to
    * applying version by version (each version's own keys re-bounded —
    * a deep backlog of individually-reasonable versions must not wedge
    * on its cumulative size; a single VERSION over the bound is the
    * genuine apply-directly case and fails loudly). */
  private def applyWindow(spark: SparkSession, dstDir: String,
      keyColumn: String, runKey: String, window: DataFrame, maxV: Long,
      dstExists: Boolean): Unit = {
    import org.apache.spark.sql.functions.col
    val tags = Seq("_change_type", "_commit_version")
    val apps = window.filter(col("_change_type") === "append").drop(tags: _*)
    val dels = window.filter(col("_change_type") === "delete").drop(tags: _*)
    // the window's NET effect (delete-then-restore cancels; an append
    // deleted later in the same window never lands)
    val netDels = dels.exceptAll(apps)
    val netApps = apps.exceptAll(dels)
    val (delKeys, overBudget) = boundedKeyList(netDels, keyColumn)
    if (overBudget) {
      // cumulative net over the whole window is too wide (by key COUNT
      // or key BYTES) — re-apply per source version, each its own
      // bounded fold (ascending, each advancing the ledger, so a crash
      // resumes at the right version). Existence is re-derived per
      // version: an earlier version's append brings the table into
      // being for a later version's deletes.
      val versions = window.select("_commit_version").distinct()
        .collect().map(_.getLong(0)).sorted
      require(versions.length > 1,
        s"mirror version ${versions.head} alone carries more than " +
          s"$MirrorMaxDeleteKeys delete keys (or $MirrorMaxDeleteKeyBytes " +
          "bytes of keys) — a single commit that wide is not " +
          "delta-shaped; apply it to the mirror directly, then " +
          "resume the stream past it")
      versions.foreach { v =>
        applyWindow(spark, dstDir, keyColumn, runKey,
          window.filter(col("_commit_version") === v), v,
          dstExists || latestHead(spark, dstDir).isDefined)
      }
      return
    }
    require(!delKeys.contains(null),
      s"the mirror's key column '$keyColumn' is null on a deleted source " +
        "row — a null key cannot identify its mirror row; mirror on a " +
        "non-null unique key")
    if (delKeys.nonEmpty)
      require(dstExists,
        s"the mirror $dstDir saw deletes before any append — it is " +
          "not following the feed from the beginning; bootstrap with " +
          "exportAt and a matching `since`, or start at since = -1")
    // ONE commit per window ([[applyDelta]]): the net deletes and net
    // appends land atomically with the ledger entry, so the mirror is
    // never readable in the half-applied middle and pure-delete
    // windows advance the ledger too (their replay short-circuits at
    // the skip rule instead of re-running the delete). A source
    // evolve widens the feed (after the loud drift restart re-pins
    // it): alignMerging maps the add-only drift into the mirror as
    // its own evolve — drops/type changes stay loud (mirror them
    // manually first).
    applyDelta(spark, dstDir, alignMerging(spark, dstDir, netApps),
      keyColumn, delKeys, runKey, maxV)
  }

  /** [[readTailVersions]] restricted to rows with `column` in the
    * inclusive range [lower, upper] — the streaming face of
    * [[readWhere]]: the range predicate pushes into every micro-batch's
    * scan, so files whose recorded stats cannot intersect are pruned at
    * the manifest level, never opened. `schema` and
    * `maxVersionsPerTrigger` pass straight through — a stats-pruned
    * consumer starting deep in the backlog needs the same admission
    * control (and the same consumer-first explicit schema) as the
    * unfiltered tail. */
  def readTailWhere(spark: SparkSession, dir: String, column: String,
                    lower: Any, upper: Any,
                    since: Option[Long] = None,
                    schema: Option[org.apache.spark.sql.types.StructType] =
                      None,
                    maxVersionsPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    readTailVersions(spark, dir, since, schema, maxVersionsPerTrigger)
      .filter(col(column).between(lit(lower), lit(upper)))
  }

  /** Manifest-transactional incremental read: every row appended AFTER
    * `sinceVersion`, plus the latest version to checkpoint for the next
    * call — the exactly-once tailing building block (persist the
    * returned version with the processing results, the River/ModelStore
    * pattern). Compaction/adopt versions contribute no rows (rewrites
    * are not appends). Fails loudly when `sinceVersion` has already
    * left retention — the delta cannot be reconstructed, so the caller
    * must fall back to a full snapshot read. */
  def appendsSince(spark: SparkSession, dir: String,
                   sinceVersion: Long): (Option[DataFrame], Long) =
    appendsSince(spark, dir, sinceVersion, Long.MaxValue)

  /** [[appendsSince]] bounded above: rows appended in versions
    * `(sinceVersion, untilVersion]`, with the returned checkpoint never
    * past `untilVersion`. The building block for consumers that apply
    * deltas one version at a time so their unit of work — and any
    * replay identity derived from it — is FIXED by the source's own
    * version numbering rather than by when the consumer happens to run
    * (a retry that raced new source appends must re-apply exactly the
    * old delta, not a wider one; [[graft.examples.IndexFollower]]). */
  def appendsSince(spark: SparkSession, dir: String, sinceVersion: Long,
                   untilVersion: Long): (Option[DataFrame], Long) = {
    require(untilVersion > sinceVersion,
      s"untilVersion $untilVersion must exceed sinceVersion $sinceVersion")
    // head lines only (version + pinned schema) — resolving the head's
    // segments here would make every CDC call O(live files) before the
    // O(delta) resolution below even starts
    val head = latestHead(spark, dir)
    require(head.nonEmpty, s"$dir has no committed manifest")
    val latestV = math.min(head.get.version, untilVersion)
    if (sinceVersion >= latestV) return (None, latestV)
    val newFiles = appendedEntries(spark, dir, sinceVersion, latestV)
    if (newFiles.isEmpty) (None, latestV)
    else {
      val base = dir.stripSuffix("/")
      // pinned to the newest retained schema: a delta straddling an
      // [[evolve]] boundary mixes pre- and post-evolution files, and
      // inference would resolve whichever the listing happens to lead
      // with — older files surface the added columns as nulls instead
      val reader = head.get.schema.fold(spark.read)(s => spark.read.schema(s))
      (Some(reader.parquet(newFiles.map(e => s"$base/${e.name}"): _*)), latestV)
    }
  }

  /** The append-contributed [[Entry]]s of versions `(sinceVersion,
    * untilVersion]`, resolved from ONLY the manifests the delta needs —
    * each version plus its predecessor, so the per-call manifest-read
    * cost is O(delta), not O(retained history). The shared spine of
    * [[appendsSince]] and the [[readTailVersions]] streaming source's
    * per-micro-batch planning.
    *
    * Compaction rewrites contribute nothing (their rows already flowed
    * through earlier versions), a [[delete]]'s swapped-in files hold
    * only SURVIVING old rows, and a [[restore]] re-references files
    * whose rows were emitted when first appended — emitting any of them
    * would re-apply rows the consumer already holds. Appends AND the
    * adopt snapshot do contribute — an adopted corpus exists nowhere
    * else in the delta stream, so a from-the-beginning (-1) consumer
    * must receive it or it would build a silently incomplete replica.
    * (Deletions are thus INVISIBLE to this surface by design; index
    * consumers handle them via tombstones —
    * [[graft.examples.IndexFollower.takedown]].)
    *
    * Every version in the delta AND its predecessor must resolve: a
    * manifest pruned by a concurrent vacuum between the listing and its
    * read gets the same loud left-retention error as a stale
    * `sinceVersion` (falling back to an empty predecessor would emit a
    * version's ENTIRE file list as "newly appended", silently
    * duplicating the table into the consumer; the caller's documented
    * fallback is a full snapshot re-read). */
  private[graft] def appendedEntries(spark: SparkSession, dir: String,
      sinceVersion: Long, untilVersion: Long): Vector[Entry] = {
    val (fs, _) = fsFor(spark, dir)
    val (heads, latestV) = deltaHeads(spark, dir, sinceVersion, untilVersion)
    if (heads.isEmpty) Vector.empty
    else ((sinceVersion + 1) to latestV).iterator.flatMap { v =>
      val m = heads(v)
      if (m.op == "compact" || m.op == "delete" || m.op == "restore") Nil
      else if (m.op == "upsert")
        // an upsert's added files are its NEW rows (`a`-prefixed) plus
        // survivor rewrites (`c`-prefixed — old rows the delete side
        // did not touch): appends-only consumers get the new rows and
        // must never be re-fed the survivors. The prefix is the
        // tail-visibility tag every appended file carries.
        appendedIn(fs, dir, m, heads.get(v - 1))
          .filter(_.name.startsWith(AppendTag))
      else appendedIn(fs, dir, m, heads.get(v - 1))
    }.toVector
  }

  /** Parsed — NOT resolved — heads for the versions `(sinceVersion,
    * untilVersion]` plus each version's retained predecessor, behind the
    * retention checks every delta consumer shares: `sinceVersion` must
    * still be reconstructible (`-1`, from the beginning, only while
    * version 0 is retained), and a manifest pruned by a concurrent
    * vacuum between the listing and its read fails loudly (a missing
    * predecessor must never masquerade as "every file is new").
    * Segment refs stay refs, so nothing here is O(live files). Returns
    * the heads plus the effective latest version; empty heads = nothing
    * after `sinceVersion`. The shared spine of [[appendedEntries]] and
    * [[readChanges]]. */
  private def deltaHeads(spark: SparkSession, dir: String,
      sinceVersion: Long, untilVersion: Long): (Map[Long, Manifest], Long) = {
    val (fs, _) = fsFor(spark, dir)
    val log = logDir(dir)
    val retained = listManifests(fs, dir).map(_._1)
    require(retained.nonEmpty, s"$dir has no committed manifest")
    val latestV = math.min(retained.last, untilVersion)
    if (sinceVersion >= latestV) return (Map.empty, latestV)
    require(sinceVersion >= retained.head ||
        (sinceVersion == -1L && retained.head == 0L),
      s"version $sinceVersion has left retention (oldest retained: " +
        s"${retained.head}) — re-read the full snapshot instead")
    val present = retained.toSet
    val heads: Map[Long, Manifest] =
      (math.max(sinceVersion, retained.head) to latestV).iterator.map { v =>
        def gone = new IllegalArgumentException(
          s"version $v of $dir has left retention (pruned by a concurrent " +
            "vacuum mid-read) — re-read the full snapshot instead")
        if (!present(v)) throw gone
        val text = tryReadFully(fs, new Path(log, manifestName(v)))
          .getOrElse(throw gone)
        v -> parse(text)
      }.toMap
    (heads, latestV)
  }

  /** The op of every retained version in `(since, until]` — head-line
    * reads only (no file lists resolved). The feed-driven
    * [[graft.examples.IndexFollower]] uses this to keep RESTORE
    * versions CDC-invisible to its apply (the untakedown ceremony owns
    * restores) while consuming delete versions generically. Same
    * retention contract as [[readChanges]]: a `since` older than the
    * oldest retained manifest fails loudly. */
  private[graft] def versionOps(spark: SparkSession, dir: String,
      since: Long, until: Long): Map[Long, String] = {
    val (heads, latestV) = deltaHeads(spark, dir, since, until)
    ((since + 1) to latestV).iterator.map(v => v -> heads(v).op).toMap
  }

  /** The entries version `m` ADDED over its predecessor `p` (None only
    * for version 0 read from the beginning — nothing precedes it).
    * STRUCTURAL fast path — the steady append shape: every prior
    * segment ref survives and entries live only in segments, so the
    * delta is exactly the NEW segments' entries. Appends stage fresh
    * UUID-named files (a name can never recur) and any commit that
    * rewrote or folded segments (compaction, delete, a size-tiered
    * merge) fails `refsIntact` into the full name-diff below — per-call
    * work is O(delta), not O(live files), ~31 of every 32 appends at
    * MaxSegments=64. */
  private def appendedIn(fs: FileSystem, dir: String, m: Manifest,
      p: Option[Manifest]): Vector[Entry] = {
    p match {
      case None => resolvedEntries(fs, dir, m)
      case Some(prev) =>
        val prevRefs = prev.segments.iterator.map(_.name).toSet
        val refsIntact = m.segments.count(s => prevRefs(s.name)) == prevRefs.size
        if (refsIntact && prev.files.isEmpty && m.files.isEmpty)
          m.segments.filterNot(s => prevRefs(s.name))
            .flatMap(loadSegment(fs, dir, _))
        else {
          val prevNames = resolvedEntries(fs, dir, prev).iterator.map(_.name).toSet
          resolvedEntries(fs, dir, m).filterNot(e => prevNames(e.name))
        }
    }
  }

  private def resolvedEntries(fs: FileSystem, dir: String,
      m: Manifest): Vector[Entry] =
    if (m.segments.isEmpty) m.files
    else m.segments.flatMap(loadSegment(fs, dir, _)) ++ m.files

  /** Does `dt` hold a MapType anywhere (top level or nested)? Spark's
    * set operators (`exceptAll`) reject map-typed columns, so the
    * change feed's delete/restore diffs cannot run over them — the
    * guard below fails those versions loudly instead of leaking an
    * AnalysisException from deep inside the diff plan. */
  private def hasMapType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => hasMapType(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasMapType(a.elementType)
      case _ => false
    }

  /** Row-level CHANGE FEED: every row change committed in versions
    * `(sinceVersion, untilVersion]`, as the table's columns (pinned to
    * the newest retained schema, like [[appendsSince]]) plus
    * `_change_type` ∈ {append, delete} and `_commit_version`. Folding
    * the feed into a mirror — union the appends, remove ONE instance
    * per delete row (`exceptAll`) — reproduces the table at every
    * version in the range exactly (multiset semantics, spec-pinned
    * through delete, restore and compact). That is what makes
    * downstream REPLICAS generic: a feature store or serving copy
    * learns about deletes from the feed itself instead of reinventing
    * [[graft.examples.IndexFollower]]'s tombstone-registry pattern
    * ([[appendsSince]] stays the appends-only surface for consumers
    * that handle deletes out of band).
    *
    * Where changes come from, per commit kind:
    *  - '''append/adopt''': the delta files' rows, as appends —
    *    O(delta) planning (the [[appendedIn]] fast path), no diffing.
    *  - '''delete''': the swapped-OUT files' rows minus the swapped-IN
    *    survivors (`exceptAll` — multiset-exact even with duplicate
    *    rows) — reads only the files the delete touched, never the
    *    table.
    *  - '''restore''': both directions of the file-set diff — rows the
    *    rollback removed are deletes, rows it re-referenced are
    *    appends.
    *  - '''compact / evolve / dropColumn / trackStats''': nothing
    *    (row-preserving rewrites or metadata-only commits by contract).
    *
    * Cost model: append versions never resolve a full manifest;
    * delete/restore versions resolve two and read only their diffed
    * files — maintenance commits are rare, and the work tracks what
    * they touched, not table size. Retention rules are
    * [[appendsSince]]'s: a `sinceVersion` older than the oldest
    * retained manifest fails loudly (re-read the full snapshot).
    * Returns (None, latest) when nothing changed. SQL/Python reach the
    * same feed through `format("tablelog").option("readChangeFeed",
    * "true").option("since", v)`. */
  def readChanges(spark: SparkSession, dir: String, sinceVersion: Long,
      untilVersion: Long = Long.MaxValue): (Option[DataFrame], Long) = {
    import org.apache.spark.sql.functions.{col, lit}
    require(untilVersion > sinceVersion,
      s"untilVersion $untilVersion must exceed sinceVersion $sinceVersion")
    val (fs, _) = fsFor(spark, dir)
    val (heads, latestV) = deltaHeads(spark, dir, sinceVersion, untilVersion)
    if (heads.isEmpty) return (None, latestV)
    val base = dir.stripSuffix("/")
    val pinned = heads(latestV).schema
    pinned.foreach { s =>
      Seq("_change_type", "_commit_version").foreach(c =>
        require(!s.fieldNames.contains(c),
          s"readChanges cannot tag $dir: the table already has a '$c' column"))
    }
    def read(entries: Seq[Entry],
        era: Option[org.apache.spark.sql.types.StructType]): DataFrame =
      era.fold(spark.read)(s => spark.read.schema(s))
        .parquet(entries.map(e => s"$base/${e.name}"): _*)
    // align an era-schema frame to the pinned shape (columns added
    // later null-fill, columns dropped later project away), then tag
    def tag(df: DataFrame, changeType: String, v: Long): DataFrame = {
      val out = pinned.fold(df) { s =>
        val have = df.schema.fieldNames.toSet
        df.select(s.fields.toIndexedSeq.map { f =>
          if (have.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
      }
      out.withColumn("_change_type", lit(changeType))
        .withColumn("_commit_version", lit(v))
    }
    val frames = ((sinceVersion + 1) to latestV).iterator.flatMap { v =>
      val m = heads(v)
      val p = heads.get(v - 1)
      m.op match {
        case "compact" | "evolve" | "dropcolumn" | "trackstats" =>
          Iterator.empty
        case "append" | "adopt" =>
          val added = appendedIn(fs, dir, m, p)
          if (added.isEmpty) Iterator.empty
          else Iterator.single(tag(read(added, m.schema), "append", v))
        case _ => // delete, restore — and, conservatively, any future op
          m.schema.orElse(pinned).foreach { s =>
            val mapCols = s.fields.filter(f => hasMapType(f.dataType))
            require(mapCols.isEmpty,
              s"readChanges cannot diff version $v of $dir (op '${m.op}'): " +
                s"map-typed column(s) ${mapCols.map(_.name).mkString(", ")} — " +
                "Spark's exceptAll rejects maps, so delete/restore diffs are " +
                "unsupported on map-typed tables (append-only feeds work; " +
                "store a hashable projection alongside the map if row-level " +
                "deletes must flow through the feed)")
          }
          val prevEntries = p.map(resolvedEntries(fs, dir, _))
            .getOrElse(Vector.empty)
          val curEntries = resolvedEntries(fs, dir, m)
          val curNames = curEntries.iterator.map(_.name).toSet
          val prevNames = prevEntries.iterator.map(_.name).toSet
          val removed = prevEntries.filterNot(e => curNames(e.name))
          val added = curEntries.filterNot(e => prevNames(e.name))
          // both sides read under the SAME era schema so exceptAll
          // compares like with like
          val rm = if (removed.isEmpty) None else Some(read(removed, m.schema))
          val ad = if (added.isEmpty) None else Some(read(added, m.schema))
          val dels = (rm, ad) match {
            case (Some(r), Some(a)) => Some(r.exceptAll(a))
            case (Some(r), None)    => Some(r)
            case _                  => None
          }
          // a delete's swapped-in files hold ONLY surviving old rows —
          // the append direction is empty by the delete contract, so
          // skip its exceptAll (and its second read of the touched
          // files) instead of computing a provably empty frame
          val apps =
            if (m.op == "delete") None
            else (rm, ad) match {
              case (Some(r), Some(a)) => Some(a.exceptAll(r))
              case (None, Some(a))    => Some(a)
              case _                  => None
            }
          dels.map(tag(_, "delete", v)).iterator ++
            apps.map(tag(_, "append", v)).iterator
      }
    }.toVector
    if (frames.isEmpty) (None, latestV)
    else {
      // balanced union: a deep catch-up (an overnight backlog can span
      // hundreds of versions) left-folded builds a left-deep plan whose
      // eager per-union analysis cost is O(n²) in versions; pairing
      // halves the depth per level → O(n log n) analysis, and Catalyst's
      // CombineUnions flattens the result to one n-ary Union anyway
      var level = frames
      while (level.size > 1)
        level = level.grouped(2).map { g =>
          if (g.size == 2) g(0).unionByName(g(1)) else g(0)
        }.toVector
      (Some(level.head), latestV)
    }
  }

  /** [[readChanges]] with UPDATE IMAGES: rows of an `upsert` commit
    * ([[applyDelta]]/[[upsertByKey]] — the ledger marks the op) whose
    * `keyColumn` appears on BOTH sides of that version's diff are
    * re-tagged `update_preimage` (the replaced rows) and
    * `update_postimage` (their replacements), paired by key and
    * `_commit_version`; pure inserts inside an upsert batch, plain
    * deletes, and every other commit kind keep their
    * {append, delete} tags — so a mirror that folds the plain tags
    * still converges, and an update-aware consumer (a feature store
    * diffing old vs new values) gets Delta-CDF-shaped pairs. The key
    * column is a CALLER argument because the commit records the op,
    * not the key (same contract as [[mirror]]: the feed's delete rows
    * are applied as key deletes). Cost: one extra join of the feed
    * against the upsert versions' paired keys — nothing when the
    * range holds no upsert commit. */
  def readChangesWithUpdates(spark: SparkSession, dir: String,
      sinceVersion: Long, untilVersion: Long = Long.MaxValue,
      keyColumn: String = ""): (Option[DataFrame], Long) = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(keyColumn.nonEmpty,
      "readChangesWithUpdates needs the upsert key column (the same key " +
        "upsertByKey/applyDelta replaced by)")
    val (feedOpt, latestV) = readChanges(spark, dir, sinceVersion, untilVersion)
    val out = feedOpt.map { feed =>
      val upsertVs = versionOps(spark, dir, sinceVersion,
        math.min(untilVersion, latestV))
        .collect { case (v, "upsert") => v }.toSeq
      if (upsertVs.isEmpty) feed
      else {
        val up = feed.filter(col("_commit_version").isin(upsertVs: _*))
        val paired = up.filter(col("_change_type") === "delete")
          .select(col("_commit_version"), col(keyColumn)).distinct()
          .join(up.filter(col("_change_type") === "append")
              .select(col("_commit_version"), col(keyColumn)).distinct(),
            Seq("_commit_version", keyColumn))
          .withColumn("_graft_upd", lit(true))
        feed.join(paired, Seq("_commit_version", keyColumn), "left")
          .withColumn("_change_type",
            when(col("_graft_upd") && col("_change_type") === "delete",
              "update_preimage")
              .when(col("_graft_upd") && col("_change_type") === "append",
                "update_postimage")
              .otherwise(col("_change_type")))
          .drop("_graft_upd")
          .select(feed.columns.map(col).toIndexedSeq: _*)
      }
    }
    (out, latestV)
  }

  /** Adopt a pre-TableLog parquet directory: commit manifest 0
    * referencing every data file already present, so existing rows
    * become a committed snapshot instead of unreferenced debris. The
    * one-time migration step for tables written before the log existed
    * (e.g. by the marker-protocol ingest loop this module replaced);
    * [[graft.examples.TrainingDataPipeline.ingestWithMaintenance]] runs
    * it automatically on startup when it finds data without a log.
    * No-op (returning the existing manifest) if the dir already has one. */
  def adopt(spark: SparkSession, dir: String): Manifest = {
    latest(spark, dir).getOrElse {
      val (fs, table) = fsFor(spark, dir)
      // adopted files are renamed under `c0-` (never a legal append
      // prefix: appends start at version 1, compactions at the version
      // after some manifest exists) so nothing keying on the `a` prefix
      // can mistake pre-existing history for an append — not even a
      // legacy file that happened to be named like an append. Idempotent: an already
      // c0-prefixed file (a crashed earlier adopt got to it) is kept
      // as-is, and the commit only happens once everything is renamed.
      val entries: Vector[Entry] =
        if (!fs.exists(table)) Vector.empty
        else fs.listStatus(table).iterator
          .filter { f => val n = f.getPath.getName
            !f.isDirectory && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".") }
          .map { f =>
            val n = f.getPath.getName
            val adopted = s"${RewriteTag}0-"
            if (n.startsWith(adopted)) Entry(n, f.getLen)
            else {
              val dst = new Path(table, adopted + n)
              if (!fs.rename(f.getPath, dst))
                throw new java.io.IOException(s"could not adopt ${f.getPath} as $dst")
              Entry(adopted + n, f.getLen)
            }
          }
          .toVector
      val base = dir.stripSuffix("/")
      // rows and schema from the adopted files' footers (metadata, no
      // job); the schema is ONE file's — the snapshot every subsequent
      // append is guarded against
      val conf = spark.sparkContext.hadoopConfiguration
      val rows =
        if (entries.isEmpty) 0L
        else ParquetFooters.rowCount(conf, entries.map(e => new Path(s"$base/${e.name}")))
      val schemaJson = entries.headOption.map(e =>
        ParquetFooters.schema(spark, s"$base/${e.name}").json)
      val m = Manifest(0L, entries, rows, Map.empty, "adopt", schemaJson)
      commit(fs, dir, m)
      m
    }
  }
}
