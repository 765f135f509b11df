package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (snapshot-to-snapshot) near-dup dedup — the daily-ingest
  * operation: dedup TODAY's batch against everything already admitted
  * WITHOUT re-reading the old corpus. The persisted artifact is a
  * signature index (band rows carrying their MinHash signatures); each
  * new batch probes it with one equi-join, gets greedy first-owner
  * verdicts, and appends its own band rows as the index delta.
  *
  * Shares the batch pipeline's exact LSH geometry and edge rule
  * ([[Lsh.signature]], [[Lsh.bandRows]], [[Lsh.agrees]]; k=8 MinHashes,
  * 4 bands of 2 by default), so incremental verdicts agree
  * with the one-shot batch computation: DedupIndexSpec pins that
  * chunked ingestion (index → probe → delta → probe …) produces verdicts
  * IDENTICAL to running the whole corpus as one batch, and identical to
  * the streaming `Dedup.minhashVerdicts` pipeline in id order.
  *
  * Scale shape: the index is (band, band_hash)-keyed — a probe is one
  * equi-join on the band key (bucket cardinality is the partition key,
  * exactly the batch LSH join), verification happens INSIDE the join
  * filter because index rows carry their signatures (storage ×NumBands
  * for zero re-join — the space/locality trade a probe-heavy index
  * wants). Nothing scans the old corpus; the index grows by the new
  * batch's band rows only. Greedy semantics, not connected components:
  * a new doc's root is the SMALLEST matched earlier doc, one hop — the
  * streaming pipeline's documented rule.
  */
object DedupIndex {
  // Default geometry = the shared Lsh.Small constant (same as
  // queries.DedupOps and streaming.Dedup) so incremental == one-shot ==
  // streaming out of the box; every entry point also takes an explicit
  // Lsh.Geometry for production-scale indexes (Lsh.Production, k = 128).
  // An index is only probe-compatible with ITS OWN geometry, and a
  // mismatch would NOT fail on its own — mismatched band hashes simply
  // never join, so every near-duplicate would silently verdict as a
  // keeper. [[requireGeometry]] therefore checks the stored signature
  // width against the requested geometry up front and throws a
  // descriptive error (one tiny limit-1 job per probe call).

  /** Loud build/probe geometry-compatibility check (see object note);
    * graft-visible so streaming.Dedup.indexVerdicts runs the same guard. */
  private[graft] def requireGeometry(index: DataFrame, geom: Lsh.Geometry): Unit = {
    val k = index.select(size(col("sigs")).as("k")).limit(1).collect()
    if (k.nonEmpty) {
      val stored = k.head.getInt(0)
      require(stored == geom.numHashes,
        s"dedup index geometry mismatch: stored signatures have $stored " +
          s"hashes but the probe requested numHashes=${geom.numHashes} " +
          s"(bands=${geom.bands}, rows=${geom.rows}) — pass the geometry " +
          "the index was built with")
    }
  }

  /** The band rows of `docs` (`doc_id`, `text` and any carried columns):
    * the carried columns, the doc's signature `sigs`, and its `band` and
    * `band_hash` ([[Lsh.bandRows]]: one NULL band row for a doc with no
    * 3-shingle). The signature runs once per doc, under a
    * [[KernelBarrier]]. */
  private[graft] def bandRows(docs: DataFrame, geom: Lsh.Geometry): DataFrame = {
    val carried = docs.columns.toSeq.filterNot(_ == "text").map(col)
    KernelBarrier.over(docs.select(carried :+ Lsh.signature(col("text"), geom).as("sigs"): _*))
      .select(carried ++ Seq(col("sigs"), Lsh.bandRows(col("sigs"), geom)): _*)
  }

  /** The index probe: every row of `banded` ([[bandRows]] shape) with
    * `match_id`, the id of an index doc in the same band bucket whose
    * signature [[Lsh.agrees]] with it, or NULL (a left join: a band row
    * that matches nothing, the NULL band of a doc with no shingle
    * included, stays once). */
  private[graft] def probe(banded: DataFrame, index: DataFrame,
      geom: Lsh.Geometry): DataFrame =
    banded.as("n")
      .join(index.as("o"),
        col("n.band") === col("o.band") &&
          col("n.band_hash") === col("o.band_hash") &&
          col("n.doc_id") =!= col("o.doc_id") &&
          Lsh.agrees(col("n.sigs"), col("o.sigs"), geom.numHashes),
        "left")
      .select(banded.columns.toSeq.map(c => col(s"n.$c")) :+ col("o.doc_id").as("match_id"): _*)

  /** The signature index rows of `docs` (doc_id, text): one row per
    * (doc, band) with the doc's full signature vector inlined —
    * `(doc_id, sigs, band, band_hash)`. Persist this as the dedup index
    * (a [[TableLog]] table: one `appendBatch` per chunk, [[maintain]] to
    * compact); docs with no 3-shingle (under 3 tokens) index nothing and
    * always keep. */
  def indexRows(docs: DataFrame,
      geom: Lsh.Geometry = Lsh.Small): DataFrame =
    bandRows(docs.select("doc_id", "text"), geom).filter(col("band").isNotNull)

  /** Greedy verdicts for `newDocs` against the stored `index` (rows in
    * [[indexRows]] shape; may be empty) AND against earlier docs of the
    * same batch (smaller doc_id = earlier, matching the one-shot batch
    * order). One row per new doc: `(doc_id, root_doc, is_keeper)` —
    * keeper iff no verified match; root = smallest matched earlier doc,
    * else itself. Every new doc enters the next index generation via
    * [[indexRows]] regardless of verdict (duplicates still own future
    * matches — the streaming membership rule), so the caller appends
    * `indexRows(newDocs)` as the delta.
    */
  def incrementalVerdicts(newDocs: DataFrame, index: DataFrame,
      geom: Lsh.Geometry = Lsh.Small): DataFrame = {
    requireGeometry(index, geom)
    val nb = bandRows(newDocs.select("doc_id", "text"), geom)
    // every new doc has a probe row, so the min over its rows is its verdict
    val vsOld = probe(nb, index, geom).select("doc_id", "match_id")
    val vsNew = nb.as("a")
      .join(nb.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") > col("b.doc_id") &&
          Lsh.agrees(col("a.sigs"), col("b.sigs"), geom.numHashes))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("match_id"))
    vsOld.unionByName(vsNew)
      .groupBy(col("doc_id")).agg(min(col("match_id")).as("match_id"))
      .select(col("doc_id"),
        coalesce(col("match_id"), col("doc_id")).as("root_doc"),
        col("match_id").isNull.as("is_keeper"))
  }

  /** Maintenance pass for a [[TableLog]] index table: every ingested
    * chunk appends its own delta files, so a year of daily batches is
    * 365× the file count the probes deserve. Compacts the index to
    * ~`targetBytes` files RE-LAID-OUT by `(band, band_hash)` — the probe
    * join's key — so each rewritten file covers a tight band-hash range
    * and the recorded per-file stats prune probe scans to the buckets a
    * batch actually hits.
    *
    * Runs the geometry guard first: compacting an index with the wrong
    * geometry is the silent-keeper trap ([[requireGeometry]]) one step
    * earlier, and the loud error here beats a clean-looking rewrite that
    * later probes mismatch against. The rewrite is [[TableLog.compact]]'s
    * manifest-committed swap: readers keep their snapshot, a crash
    * leaves only staging scratch for [[TableLog.vacuum]], and appends
    * racing it rebase. A raw-parquet index written before the log
    * existed migrates once with [[TableLog.adopt]]. Returns the number
    * of files written; probe verdicts are IDENTICAL before and after
    * (DedupIndexSpec pins it — compaction moves rows, never changes
    * them). */
  def maintain(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      targetBytes: Long, geom: Lsh.Geometry = Lsh.Small): Int = {
    val m = TableLog.latest(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"$indexDir has no committed manifest " +
        "— not a TableLog index (migrate a raw parquet index with " +
        "TableLog.adopt)"))
    if (m.files.nonEmpty)
      requireGeometry(TableLog.readVersion(spark, indexDir, m), geom)
    TableLog.compact(spark, indexDir, targetBytes,
      layoutBy = Seq("band", "band_hash"))
  }
}
