package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** One named group of SparkEntry queries plus their DuckDB oracle SQL.
  *
  * Oracle-parity rules (the driver hash-compares our parquet output with
  * DuckDB's result for the same SQL, so values must match bit-for-bit):
  *
  *  - Sums/averages of doubles go through [[dsum]]: cast each addend to
  *    DECIMAL(38,s) and sum exactly, so the result is independent of
  *    aggregation order. Both Spark and DuckDB convert double→decimal via
  *    the shortest-decimal representation, so the casts agree too.
  *  - COUNT is always a BIGINT on both sides (DuckDB SUM(int) would be
  *    HUGEINT — never sum raw ints in the oracle without a cast).
  *  - events.ts ordering uses (ts, event_id) so ties can't reorder;
  *    DuckDB orders by CAST(ts AS TIMESTAMP) to match our µs truncation.
  *  - Every computed column is aliased identically on both sides.
  */
trait QueryGroup {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q]
  def oracle: Map[String, String]

  protected def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables(s, dir, name)

  /** `kernels` over `scan`, widened to `defaultParallelism` partitions
    * when the scan is narrow and heavy ([[narrowHeavyScan]]), under a
    * [[graft.functions.KernelBarrier]]. The test parquet files are
    * single-row-group, so without the repartition a narrow in-row
    * pipeline runs on ONE core; on a real cluster the scan already has
    * more splits than cores and the repartition is skipped.
    *
    * The barrier keeps each kernel at one evaluation per row (its
    * scaladoc states the pushdown rule it stops): a filter above `widen`
    * stays there, widened or not, so a filter on a plain column that
    * should reach the scan goes on `scan` instead.
    *
    * `minTotalBytes` is a property of the KERNEL CLASS (how much work one
    * byte of input generates), not of any scale factor:
    *  - 0 for compute-heavy kernels (hashing, dot products): widen any
    *    narrow scan;
    *  - [[SpreadDocKernel]], [[SpreadRowKernel]] or [[SpreadAggScan]] for
    *    kernels whose work per byte amortizes one round-robin exchange
    *    only once the split carries real data. On the sf0.1 files they
    *    leave the scan as it is: r17 measured a blanket repartition
    *    SLOWER on 9 of 10 text queries at that size, the exchange
    *    outweighing sub-second kernels. The 20×+ scaling fixtures
    *    (single-row-group files, multi-second kernels) are widened: the
    *    r18 scaling runs measured every heavy text/agg query serialized
    *    on a 1-task scan without it (e.g. text_lm_surprisal 17.7 s with
    *    an 11.4 s single-task stage).
    * The gate counts TOTAL scan bytes, not bytes per split: a 4-split
    * scan of a heavy kernel is still 8× short of the core count, and the
    * exchange cost it weighs scales with total bytes. */
  protected def widen(scan: DataFrame, minTotalBytes: Long = 0L)(
      kernels: DataFrame => DataFrame): DataFrame = {
    val wide =
      if (narrowHeavyScan(scan, minTotalBytes))
        scan.repartition(scan.sparkSession.sparkContext.defaultParallelism)
      else scan
    graft.functions.KernelBarrier.over(kernels(wide))
  }

  /** Does `df` scan narrow (fewer splits than cores) AND heavy (more
    * than `minTotalBytes` in total)? The [[widen]] predicate, exposed
    * for queries that must pick a PLAN SHAPE from it (e.g. an
    * explicit-width co-partitioned join that is pure overhead at tiny
    * scale) — results are identical either way, only the physical width
    * changes. False on any multi-split scan (real clusters). Both
    * inputs come from the scan's file listing: no optimizer pass, no
    * physical plan, no job. */
  protected def narrowHeavyScan(df: DataFrame, minTotalBytes: Long): Boolean =
    fileRelation(df).sizeInBytes > minTotalBytes &&
      scanSplits(df) < df.sparkSession.sparkContext.defaultParallelism

  /** The one file relation `df` scans. [[widen]] takes a table frame
    * (`t(...)`, possibly with per-row projections or filters), never a
    * join or a union, whose width is not one scan's. */
  private def fileRelation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectLeaves() match {
      case Seq(l: LogicalRelation) if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
      case leaves => throw new IllegalArgumentException(
        "widen takes a frame over one file scan, got leaves: " +
          leaves.map(_.nodeName).mkString(", "))
    }

  /** How many partitions (tasks) `df`'s file scan plans, counted with
    * Spark's own split arithmetic over the relation's cached file
    * listing: `FilePartition.maxSplitBytes`, each file cut by
    * `PartitionedFileUtil.splitFiles`, the splits packed largest first
    * by `FilePartition.getFilePartitions` — what `FileSourceScanExec`
    * does, so the count equals `df.rdd.getNumPartitions` (QueryGroupSpec
    * pins that on every test table) without a physical plan, an RDD or a
    * Hadoop-conf broadcast. */
  private[queries] def scanSplits(df: DataFrame): Int = {
    val spark = df.sparkSession
    val rel = fileRelation(df)
    val dirs = rel.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    val splits = dirs.flatMap { d =>
      d.files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          rel.fileFormat.isSplitable(spark, rel.options, f.getPath), maxSplit, d.values)
      }
    }.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(spark, splits, maxSplit).size
  }

  /** [[widen]] thresholds by kernel class — how many TOTAL scan
    * bytes before the downstream work dwarfs one exchange of them.
    * Chosen from the r18 20× stage tables (multi-second kernels at a few
    * MB per split) against r17's sf0.1 negative results (sub-second
    * kernels at ≤ 2 MB lost to the exchange). */
  protected val SpreadDocKernel: Long = 1L << 20 // regex/hash/explode doc kernels
  protected val SpreadRowKernel: Long = 8L << 20 // per-row JSON/struct parses
  protected val SpreadAggScan: Long = 48L << 20 // cheap columnar partial aggregates

  /** Exact-arithmetic (order-independent) sum of a double column. */
  protected def dec(c: Column, scale: Int): Column =
    c.cast(DecimalType(38, scale))
  /** Bit-identical to `sum(dec(c, scale)).cast("double")` — the oracle's
    * DSUM — but accumulating in FixedSum's two-long 128-bit buffer, which
    * keeps hot aggregates inside whole-stage codegen instead of paying
    * per-row Decimal38 (de)serialization (2.9× on q1_agg at sf1, see
    * tools/IsoAgg). Parity pinned bit-for-bit by FixedSumSpec.
    *
    * Domain rule (FixedSum throws past |x| ≥ ~9.2e18/10^s): use [[dsum]]
    * only for columns whose domain is bounded a priori — schema-bounded
    * amounts (prices ≤ ~1e5, quantities ≤ 50, their squares/products) and
    * [0,1] ratios, where the bound sits ≥4 orders of magnitude out at any
    * data scale. Columns whose magnitude GROWS with corpus size (counts,
    * count-derived ratios like inv_p = N/df) take [[dsumWide]] instead —
    * same bits, decimal buffer, no term bound. */
  protected def dsum(c: Column, scale: Int = 4): Column =
    graft.functions.native.fixed_sum(c, scale)
  /** The decimal-cast twin of [[dsum]] for outlier-capable columns: terms
    * up to ~1e34 and a silent null past DECIMAL(38) instead of FixedSum's
    * 64-bit term bound. Slower (per-row BigDecimal traffic) — only for
    * sums whose term domain scales with the data. */
  protected def dsumWide(c: Column, scale: Int = 4): Column =
    sum(dec(c, scale)).cast("double")
  /** Oracle-side fragment matching [[dsum]]. */
  protected def DSUM(e: String, scale: Int = 4): String =
    s"CAST(SUM(CAST($e AS DECIMAL(38,$scale))) AS DOUBLE)"

  /** DuckDB ORDER BY fragment matching our normalized event time. */
  protected val EVT_ORDER = "CAST(ts AS TIMESTAMP), event_id"
}
