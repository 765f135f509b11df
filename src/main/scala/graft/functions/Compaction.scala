package graft.functions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction sizing — the maintenance arithmetic every
  * streaming-sink table needs: micro-batch writers emit a file per
  * (batch × partition), and a month of 30-second triggers turns a table
  * into 10⁵ kilobyte files whose open/footer overhead dominates every
  * later scan. The rewrite itself is [[TableLog.compact]] (or
  * [[TableLog.compactZorder]]): a manifest-committed swap with snapshot
  * isolation and no rename window. This object only derives its inputs
  * — the table's ACTUAL bytes (filesystem metadata, no data read) and
  * the file count they call for.
  */
object Compaction {

  /** Bytes of all data files under `dir`. For a [[TableLog]] table the
    * answer comes from the newest manifest — one small-file read instead
    * of the recursive listing that IS the driver-side bottleneck at
    * 10⁶⁺ files (and the manifest also excludes superseded files still
    * inside their vacuum grace, which a raw listing would double-count).
    * Raw directories fall back to the streaming filesystem-metadata sum,
    * no per-file materialization. Precedence caveat: once a directory
    * has a manifest log, the MANIFEST is the table — files appended by
    * an out-of-band raw writer are uncommitted by definition and are
    * deliberately not counted (they are what [[TableLog.vacuum]]
    * reclaims); mixed-mode writing is outside both modules' contracts. */
  def dataBytes(spark: SparkSession, dir: String): Long =
    TableLog.latest(spark, dir).map(_.bytes).getOrElse {
      val path = new Path(dir)
      val it = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(path, true)
      var total = 0L
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_")) total += f.getLen
      }
      total
    }

  /** Target output file count for `bytes` of data: ceil(bytes/target),
    * min 1. Fails loudly when the count exceeds Int.MaxValue (a multi-TB
    * table with a byte-scale target) instead of wrapping to a negative
    * `repartition(n)` argument. */
  def targetFiles(bytes: Long, targetBytes: Long): Int = {
    require(targetBytes >= 1, s"targetBytes must be >= 1: $targetBytes")
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    require(n <= Int.MaxValue,
      s"targetFiles overflow: $bytes bytes at $targetBytes/file needs $n files " +
        "(> Int.MaxValue) — raise targetBytes")
    n.toInt
  }
}
