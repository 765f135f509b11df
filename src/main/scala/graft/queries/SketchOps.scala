package graft.queries

import org.apache.spark.sql.functions._

/** One-pass mergeable sketches — the 100 TB answer to "how many
  * distinct", "how often", and "is this in the blocked set" when the
  * exact answer would cost a corpus-wide shuffle:
  *
  *  - HyperLogLog distinct count: 256 registers (one cache line of
  *    state) replace a COUNT(DISTINCT) whose exchange grows with the
  *    key cardinality. Partial aggregation folds each map task to 256
  *    rows before the exchange, so the shuffle is O(tasks), not O(keys).
  *  - Count-Min frequency: a 3×1024 counter grid answers point
  *    frequency queries with one-sided error; the grid is partial-agg
  *    collapsible the same way.
  *  - Bloom decontamination: a FIXED-SIZE bitset stands in for the eval
  *    shingle set of `dedup_decontaminate` — the broadcast no longer
  *    grows with the eval suite, the one-sided FP risk is the price.
  *
  * Everything is deterministic by construction (md5-derived buckets, no
  * RNG, integer register arithmetic, one final division), so every
  * query is hash-exact against the DuckDB oracle — the estimates
  * themselves, not just their inputs, are reproduced bit-for-bit by an
  * independent engine. Reference scope note: streamz has no sketch
  * layer; this extends the engine the way its `unique(maxsize=…)`
  * bounds state (approximation as an explicit contract, not a fallback).
  *
  * The md5-hex formulations here are the PARITY spec; the codegen'd
  * single-pass twins (raw digest bytes, no hex strings) live in
  * [[graft.functions.Sketches]] and are pinned bit-equal by SketchSpec.
  */
object SketchOps extends QueryGroup {

  // Geometry constants are owned by functions.Sketches (the codegen
  // twins must agree bit-for-bit); aliased here for the oracle strings.
  // HLL: p=8 → m=256 registers, bucket = first md5 hex byte, rank from
  // the next 48 bits; standard error 1.04/√256 ≈ 6.5%. HllScale = 2^49
  // turns Σ 2^-M_j into exact BIGINT arithmetic (M_j ∈ [0,49], the
  // 256-term sum stays < 2^57 — order-independent, engine-identical).
  // HllNum = alpha_m·m²·2^49 — computed ONCE in Sketches, embedded as
  // the same shortest-repr literal in both engines, so the final
  // estimate is one IEEE division of exactly-agreed operands (the
  // mix_temperature rule: never let two engines re-derive a constant
  // through libm).
  private val HllM = graft.functions.Sketches.HllM
  private val HllScale = graft.functions.Sketches.HllScale
  private val HllNum = graft.functions.Sketches.HllNum

  // Count-Min: depth 3 (independent salted hash rows), width 1024 →
  // 3 KiB of counters; point estimate = min over rows.
  private val CmDepth = graft.functions.Sketches.CmDepth
  private val CmWidth = graft.functions.Sketches.CmWidth

  // Bloom: m = 2^14 bits, k = 2 positions per element (two 16-bit md5
  // chunks folded mod m). Sized so the sf-test eval load (~2k shingles)
  // yields a per-shingle FP rate ~(2k/16384)² ≈ 1.5e-2 — small but
  // nonzero: the query's n_bloom_hits vs n_exact_hits columns make the
  // one-sided error VISIBLE, not hidden.
  private val BloomM = graft.functions.Sketches.BloomM

  override def queries: Map[String, Q] = Map[String, Q](
    // Distinct l_orderkey via 256 HLL registers, next to the exact
    // count it approximates. The sketch side is the scale path: the
    // native single-pass aggregate folds each map task to ONE 256-byte
    // buffer — the exchange never grows with the corpus (no per-bucket
    // rows, no distinct shuffle). The exact COUNT(DISTINCT) column is
    // the DEMO control (it is the full shuffle the sketch exists to
    // avoid; a production caller selects only the sketch). Estimate =
    // alpha·m²·2^49 / Σ 2^(49-M_j): integer register sum, one
    // shared-literal division — bit-exact vs the oracle's md5-hex
    // re-derivation (SketchSpec pins kernel == hex formulation == an
    // independent Scala model).
    "sketch_hll_distinct" -> ((s, dir) => {
      import s.implicits._
      // widened past SpreadAggScan: the 20× lineitem fixture is 2 row
      // groups → 2-task scans; the byte gate keeps sf0.1 (11 MB) narrow
      // (guide §2)
      val li = widen(t(s, dir, "lineitem"), SpreadAggScan)(identity)
      val sketch = li
        .agg(graft.functions.native.hll_sketch($"l_orderkey".cast("string")).as("sk"))
        .select(graft.functions.native.hll_nonzero($"sk").as("nonzero_registers"),
          graft.functions.native.hll_estimate($"sk").as("hll_estimate"))
      val exact = li.agg(countDistinct($"l_orderkey").as("exact_distinct"))
      sketch.crossJoin(broadcast(exact))
        .select($"exact_distinct", $"nonzero_registers", $"hll_estimate")
    }),

    // Count-Min point-frequency estimates for the corpus's top-10
    // tokens. The grid build is the scale path: tokens fold into ≤3072
    // (row, cell) counters via partial agg — the counter exchange is
    // constant-size at any corpus size. The exact top-10 (count, token)
    // ranking is again the demo control. cm_est ≥ exact_cnt always
    // (one-sided error), equality when no collision lands in all 3 rows.
    // Per-language vocabulary size (distinct tokens) via grouped HLL
    // sketches, plus an "ALL" rollup row whose sketch is hll_merge of
    // the per-language sketches — NOT a re-scan: the rollup the sketch
    // family exists for (hourly→daily, shard→corpus) re-merges stored
    // 256-byte states. The oracle re-derives the ALL row from scratch,
    // so the oracle match PROVES merge-of-parts == recompute-from-whole
    // cross-engine, bit-for-bit. Exact COUNT(DISTINCT) columns are the
    // demo control, as in sketch_hll_distinct.
    "sketch_vocab_by_lang" -> ((s, dir) => {
      import s.implicits._
      val toks = widen(t(s, dir, "documents"))(
        _.select($"lang", explode(graft.functions.native.tokens($"text")).as("tok")))
      // ONE tokenize+explode pass: reduce to the distinct (lang, tok)
      // relation first (partial-agg collapsible), then derive every
      // consumer from it — HLL registers are max-per-bucket so duplicate
      // tokens never change a sketch, per-lang exact vocab is a plain
      // count of the distinct pairs, and the ALL exact vocab is a
      // countDistinct over the pairs' tok. The previous spelling ran the
      // tokenize+explode scan FOUR times (sketches, per-lang exacts,
      // ALL exact, plus the countDistinct expansions).
      val pairs = toks.select($"lang", $"tok").distinct()
        .transform(graft.functions.Materialize.cut) // feeds 3 consumers
      val sks = pairs.groupBy($"lang")
        .agg(graft.functions.native.hll_sketch($"tok").as("sk"))
      val exacts = pairs.groupBy($"lang").agg(count(lit(1)).as("exact_vocab"))
      val perLang = sks.join(exacts, "lang").select($"lang", $"exact_vocab", $"sk")
      val all = sks.agg(graft.functions.native.hll_merge($"sk").as("sk"))
        .crossJoin(broadcast(pairs.agg(countDistinct($"tok").as("exact_vocab"))))
        .select(lit("ALL").as("lang"), $"exact_vocab", $"sk")
      perLang.unionByName(all)
        .select($"lang", $"exact_vocab",
          graft.functions.native.hll_estimate($"sk").as("vocab_est"))
    }),

    "sketch_countmin_topk" -> ((s, dir) => {
      import s.implicits._
      val toks = widen(t(s, dir, "documents"))(
        _.select(explode(graft.functions.native.tokens($"text")).as("tok")))
      val grouped = toks.groupBy($"tok").agg(count(lit(1)).as("exact_cnt"))
        .transform(graft.functions.Materialize.cut) // feeds grid AND top-10
      // ONE tokenize pass: the grid builds from the grouped counts via the
      // weighted insert (counters are sums, so (value, count) inserts are
      // bit-identical to unit inserts — SketchSpec pins it) and hashes
      // each DISTINCT token once; the old spelling re-tokenized the
      // corpus for the grid and again for the exact top-10 control.
      val grid = grouped
        .agg(graft.functions.native.cms_sketch_weighted($"tok", $"exact_cnt").as("sk"))
      val top = grouped.orderBy($"exact_cnt".desc, $"tok").limit(10)
      top.crossJoin(broadcast(grid))
        .select($"tok".as("token"), $"exact_cnt",
          graft.functions.native.cms_query($"sk", $"tok").as("cm_est"))
    }),

    // Mergeable quantile estimation via a deterministic log-histogram
    // (the HDR-histogram idea): price cents bucket into octaves × 16
    // sub-buckets (values < 32 are exact), relative bucket width ≤ 1/16.
    // The histogram is a ≤1024-group count aggregate — partial-agg
    // collapsible like the other sketches (counters sum, so shard/day
    // histograms re-merge into any rollup), and the quantile walk runs
    // over ≤1024 rows whatever the corpus size. Built declaratively ON
    // PURPOSE (unlike HLL/CMS): long counters in a HashAggregate stay in
    // whole-stage codegen, strictly better than an object buffer. The
    // query is PURE sketch — one narrow scan + the ≤1024-group agg, no
    // global sort at any corpus size; the oracle re-derives the bounds
    // from its own independently-built histogram (as sketch_hll_distinct
    // does for registers), and the est_lo ≤ exact ≤ est_hi bracketing vs
    // the GlobalOrder order-statistic control lives in SketchSpec, where
    // a control's cost belongs (r8 verdict: at 100× the demonstration
    // query would have been paced by the control, not the sketch).
    "sketch_quantile_hist" -> ((s, dir) => {
      import s.implicits._
      val li = widen(t(s, dir, "lineitem"), SpreadAggScan)(
        _.select(round($"l_extendedprice" * 100).cast("long").as("v")))
      // bucket: v<32 exact; else 32 + 16·(bitlen-6) + (top-5-bits - 16)
      // — the shared functions.Sketches.logBucket binning (streaming
      // windowedHistogram uses the same helper, so they cannot drift)
      val hist = li.select(graft.functions.Sketches.logBucket($"v").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("c"))
      val n = li.agg(count(lit(1)).as("n"))
      val wc = org.apache.spark.sql.expressions.Window.orderBy($"bucket")
      val cum = hist.withColumn("cc", sum($"c").over(wc)).crossJoin(broadcast(n))
      val pcts = Seq(50L, 90L, 99L).toDF("pct")
      cum.crossJoin(broadcast(pcts))
        .filter($"cc" >= expr("(pct * n + pct) DIV 100"))
        .groupBy($"pct", $"n").agg(min($"bucket").as("bucket"))
        .select($"pct", $"n",
          graft.functions.Sketches.bucketLo($"bucket").as("est_lo"),
          graft.functions.Sketches.bucketHi($"bucket").as("est_hi"))
    }),

    // Bloom-filter eval-set decontamination — dedup_decontaminate with
    // the eval shingle SET replaced by a fixed 2 KiB bitset. Here the
    // bitset is the distinct-position relation (tiny, broadcast); the
    // codegen twin packs it into long[] words. A corpus shingle "hits"
    // iff ALL its k positions are set; a doc is flagged at ≥2 hit
    // shingles (the dedup_decontaminate threshold). n_exact_hits counts
    // how many of those hits are true members — rows where n_bloom_hits >
    // n_exact_hits are the filter's one-sided error, made visible.
    "sketch_bloom_decontaminate" -> ((s, dir) => {
      import s.implicits._
      // the doc_id split goes below the barrier, into the scan
      val docs = t(s, dir, "documents")
      val evalSh = DedupOps.shingleRows(docs.filter($"doc_id" % 97 === 0))
        .select($"shingle").distinct()
      // the fixed-size replacement for dedup_decontaminate's eval-set
      // broadcast: ONE 2 KiB bitset row, attached to the probe scan by
      // a broadcast nested-loop of a single row — the corpus side stays
      // a narrow scan + filter at any eval-suite size
      val bits = evalSh.agg(graft.functions.native.bloom_sketch($"shingle").as("bits"))
      val bloomHits = DedupOps.shingleRows(docs.filter($"doc_id" % 97 =!= 0))
        .crossJoin(broadcast(bits))
        .filter(graft.functions.native.bloom_contains($"bits", $"shingle"))
        .select($"doc_id", $"shingle")
      val exactHits = bloomHits
        .join(broadcast(evalSh.withColumn("is_eval", lit(1L))), Seq("shingle"), "left")
      exactHits.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bloom_hits"),
          coalesce(sum($"is_eval"), lit(0L)).as("n_exact_hits"))
        .filter($"n_bloom_hits" >= 2)
    })
  )

  override def oracle: Map[String, String] = Map(
    "sketch_hll_distinct" ->
      s"""WITH h AS (
         |  SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 2)) AS BIGINT)
         |           AS bucket,
         |         ltrim(substr(md5(CAST(l_orderkey AS VARCHAR)), 3, 12), '0') AS st
         |  FROM lineitem),
         |r AS (
         |  SELECT bucket,
         |    CAST(CASE WHEN length(st) = 0 THEN 49
         |         ELSE (12 - length(st)) * 4 +
         |              (CASE substr(st, 1, 1) WHEN '1' THEN 3
         |                WHEN '2' THEN 2 WHEN '3' THEN 2
         |                WHEN '4' THEN 1 WHEN '5' THEN 1
         |                WHEN '6' THEN 1 WHEN '7' THEN 1 ELSE 0 END) + 1
         |         END AS INTEGER) AS rho
         |  FROM h),
         |regs AS (SELECT bucket, MAX(rho) AS m_j FROM r GROUP BY bucket),
         |sk AS (
         |  SELECT COUNT(*) AS nonzero_registers,
         |    CAST(SUM(CAST(1 AS BIGINT) << (49 - m_j)) AS BIGINT)
         |      + ($HllM - COUNT(*)) * $HllScale AS s_total
         |  FROM regs),
         |ex AS (SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct FROM lineitem)
         |SELECT ex.exact_distinct, sk.nonzero_registers,
         |  $HllNum / CAST(sk.s_total AS DOUBLE) AS hll_estimate
         |FROM sk CROSS JOIN ex""".stripMargin,

    "sketch_vocab_by_lang" ->
      s"""WITH toks AS (
         |  SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
         |  FROM documents),
         |h AS (
         |  SELECT lang,
         |    CAST(('0x' || substr(md5(tok), 1, 2)) AS BIGINT) AS bucket,
         |    ltrim(substr(md5(tok), 3, 12), '0') AS st
         |  FROM toks),
         |r AS (
         |  SELECT lang, bucket,
         |    CAST(CASE WHEN length(st) = 0 THEN 49
         |         ELSE (12 - length(st)) * 4 +
         |              (CASE substr(st, 1, 1) WHEN '1' THEN 3
         |                WHEN '2' THEN 2 WHEN '3' THEN 2
         |                WHEN '4' THEN 1 WHEN '5' THEN 1
         |                WHEN '6' THEN 1 WHEN '7' THEN 1 ELSE 0 END) + 1
         |         END AS INTEGER) AS rho
         |  FROM h),
         |regs AS (SELECT lang, bucket, MAX(rho) AS m_j FROM r GROUP BY lang, bucket),
         |sk AS (
         |  SELECT lang, CAST(SUM(CAST(1 AS BIGINT) << (49 - m_j)) AS BIGINT)
         |    + ($HllM - COUNT(*)) * $HllScale AS s_total
         |  FROM regs GROUP BY lang),
         |ex AS (SELECT lang, COUNT(DISTINCT tok) AS exact_vocab FROM toks GROUP BY lang),
         |gregs AS (SELECT bucket, MAX(rho) AS m_j FROM r GROUP BY bucket),
         |gsk AS (
         |  SELECT CAST(SUM(CAST(1 AS BIGINT) << (49 - m_j)) AS BIGINT)
         |    + ($HllM - COUNT(*)) * $HllScale AS s_total
         |  FROM gregs),
         |gex AS (SELECT COUNT(DISTINCT tok) AS exact_vocab FROM toks)
         |SELECT sk.lang, ex.exact_vocab,
         |  $HllNum / CAST(sk.s_total AS DOUBLE) AS vocab_est
         |FROM sk JOIN ex USING (lang)
         |UNION ALL
         |SELECT 'ALL' AS lang, gex.exact_vocab,
         |  $HllNum / CAST(gsk.s_total AS DOUBLE) AS vocab_est
         |FROM gsk CROSS JOIN gex""".stripMargin,

    "sketch_countmin_topk" ->
      s"""WITH toks AS (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
         |  FROM documents),
         |rc AS (
         |  SELECT tok, r,
         |    CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || tok), 1, 8)) AS BIGINT)
         |      % $CmWidth AS cell
         |  FROM toks, UNNEST([0, 1, 2]) t(r)),
         |cells AS (SELECT r, cell, COUNT(*) AS cnt FROM rc GROUP BY r, cell),
         |top AS (
         |  SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok
         |  ORDER BY exact_cnt DESC, tok LIMIT 10),
         |probes AS (
         |  SELECT top.tok, top.exact_cnt, r,
         |    CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || top.tok), 1, 8)) AS BIGINT)
         |      % $CmWidth AS cell
         |  FROM top, UNNEST([0, 1, 2]) t(r))
         |SELECT p.tok AS token, p.exact_cnt,
         |  CAST(MIN(c.cnt) AS BIGINT) AS cm_est
         |FROM probes p JOIN cells c USING (r, cell)
         |GROUP BY p.tok, p.exact_cnt""".stripMargin,

    "sketch_quantile_hist" ->
      """WITH li AS (
        |  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem),
        |b AS (
        |  SELECT CASE WHEN v < 32 THEN v
        |    ELSE 32 + (length(bin(v)) - 6) * 16 + ((v >> (length(bin(v)) - 5)) - 16)
        |    END AS bucket
        |  FROM li),
        |hist AS (SELECT bucket, COUNT(*) AS c FROM b GROUP BY bucket),
        |n AS (SELECT COUNT(*) AS n FROM li),
        |cum AS (
        |  SELECT bucket, CAST(SUM(c) OVER (ORDER BY bucket) AS BIGINT) AS cc
        |  FROM hist),
        |pcts AS (SELECT unnest([50, 90, 99]) AS pct),
        |est AS (
        |  SELECT pct, n,
        |    MIN(bucket) AS bucket
        |  FROM cum CROSS JOIN n CROSS JOIN pcts
        |  WHERE cc >= (pct * n + pct) // 100
        |  GROUP BY pct, n)
        |SELECT CAST(pct AS BIGINT) AS pct, n,
        |  CAST(CASE WHEN bucket < 32 THEN bucket
        |    ELSE (16 + (bucket - 32) % 16) << ((bucket - 32) // 16 + 1) END
        |    AS BIGINT) AS est_lo,
        |  CAST(CASE WHEN bucket < 32 THEN bucket
        |    ELSE ((16 + (bucket - 32) % 16 + 1) << ((bucket - 32) // 16 + 1)) - 1 END
        |    AS BIGINT) AS est_hi
        |FROM est""".stripMargin,

    "sketch_bloom_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |        FROM documents
         |        WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 3),
         |    UNNEST(generate_series(1, len(toks) - 2)) t(i)),
         |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         |bits AS (
         |  SELECT DISTINCT CAST(('0x' || substr(md5(shingle), 1 + 4 * i, 4)) AS BIGINT)
         |    % $BloomM AS pos
         |  FROM ev, UNNEST([0, 1]) t(i)),
         |probes AS (
         |  SELECT doc_id, shingle,
         |    CAST(('0x' || substr(md5(shingle), 1, 4)) AS BIGINT) % $BloomM AS p0,
         |    CAST(('0x' || substr(md5(shingle), 5, 4)) AS BIGINT) % $BloomM AS p1
         |  FROM sh WHERE doc_id % 97 <> 0),
         |hits AS (
         |  SELECT p.doc_id, p.shingle,
         |    CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END AS is_eval
         |  FROM probes p
         |  JOIN bits b0 ON p.p0 = b0.pos
         |  JOIN bits b1 ON p.p1 = b1.pos
         |  LEFT JOIN ev ON p.shingle = ev.shingle)
         |SELECT doc_id, COUNT(*) AS n_bloom_hits,
         |  CAST(COALESCE(SUM(is_eval), 0) AS BIGINT) AS n_exact_hits
         |FROM hits GROUP BY doc_id
         |HAVING COUNT(*) >= 2""".stripMargin
  )
}
