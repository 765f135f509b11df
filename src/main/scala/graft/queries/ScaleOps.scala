package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operators whose whole POINT is cluster mechanics: storage layout for
  * data-skipping and skew mitigation for shuffle joins. Both produce
  * results an oracle can hash-compare, but what they buy only shows in
  * the physical plan / file statistics — specs pin that side
  * (ZorderSpec, SkewJoinSpec, PlanSpec).
  */
object ScaleOps extends QueryGroup {

  /** Bits per dimension in the Z-value (10 → 20-bit key, 1M cells). */
  private val ZBits = 10
  /** Salt fan-out for the skewed join (hot key spreads over 8 cells). */
  private val Salts = 8
  /** Interval-join band width, µs (= the bin width: a pair within the
    * band can differ by at most one bin). */
  private val BandUs = 60000000L

  /** The bit-interleave Σᵢ ((x≫i)&1)≪2i + ((y≫i)&1)≪(2i+1), rendered
    * for DuckDB; the Spark side uses [[graft.functions.Zorder
    * .interleave]] (the shared Column helper the maintenance loop also
    * re-layouts with), and the oracle equality of zorder_layout pins the
    * two formulations bit-identical — the same cross-engine-drift guard
    * the generated-string pair gave, with the Spark form reusable.
    * Addition is exact OR here: every term occupies a distinct bit. */
  private val DuckZ =
    (0 until ZBits).flatMap { i =>
      Seq(s"(((x >> $i) & 1) << ${2 * i})",
          s"(((y >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")

  private def sparkZ = graft.functions.Zorder.interleave(col("x"), col("y"), ZBits)

  override def queries: Map[String, Q] = Map(
    // Z-order layout key: interleave the bits of two query dimensions
    // (user and value bucket) so that sorting by zkey places rows close
    // in BOTH dimensions into the same parquet files — min/max footer
    // stats then prune either predicate. Interleaving raw values
    // degenerates when one dimension occupies fewer bits than the other
    // (its high bits are constant and the curve collapses to a
    // single-dim sort), so each dimension is first normalized to the
    // full ZBits width by its observed min/max — the exact,
    // oracle-friendly stand-in for the rank/range-ID normalization
    // production Z-order writers use (right for near-uniform dims;
    // heavily skewed dims would want quantile cutpoints instead). Plan:
    // one tiny bounds aggregate broadcast back, then a narrow codegen'd
    // bit expression; the layout write itself is one range sort by zkey
    // (ZorderSpec measures per-file narrowing in BOTH dims at once —
    // what no single-column sort achieves). This is the single-pass
    // alternative to maintaining two sorted copies of a 100 TB table.
    "zorder_layout" -> ((s, dir) => {
      import s.implicits._
      val raw = t(s, dir, "events")
        .withColumn("xr", $"user_id" % 1024L)
        .withColumn("yr",
          (floor($"value" * 2.0).cast("long") % 1024L + 1024L) % 1024L)
      val bounds = raw.agg(
        min($"xr").as("mnx"), max($"xr").as("mxx"),
        min($"yr").as("mny"), max($"yr").as("mxy"))
      raw.crossJoin(broadcast(bounds))
        .withColumn("x", expr(s"(xr - mnx) * ${(1 << ZBits) - 1} DIV greatest(mxx - mnx, 1)"))
        .withColumn("y", expr(s"(yr - mny) * ${(1 << ZBits) - 1} DIV greatest(mxy - mny, 1)"))
        .withColumn("zkey", sparkZ)
        .select($"event_id", $"x", $"y", $"zkey")
    }),

    // Rank-normalized Z-order — the skewed-dimension answer min/max
    // normalization doesn't have: x here is EXPONENTIALLY spaced
    // (2^(user_id mod 10): ten values spanning 1..512), so min/max
    // mapping collapses half the mass into a handful of low cells and
    // the curve degenerates. Rank normalization (what production
    // Z-order writers do with range IDs) assigns each value its
    // cumulative-count bucket: bucket(v) = floor(rows_below(v) ·
    // 2^ZBits / total) — near-uniform bucket occupancy for ANY value
    // distribution, exactly computable from the per-value histogram.
    // Plan: one histogram aggregate per dimension (rows = |distinct|,
    // ≤ a few thousand for bucketized dims — pre-bucket continuous dims
    // first), a cumulative window over those few rows, broadcast join
    // back, then the same narrow interleave. The window runs over
    // |distinct| rows on one task — bounded by construction, never by
    // the corpus (the corpus_stats histogram argument).
    "zorder_layout_ranked" -> ((s, dir) => {
      import s.implicits._
      val scale = 1 << ZBits // bucket(v) < 2^ZBits since below < total
      val raw = t(s, dir, "events")
        .withColumn("xr", expr("shiftleft(1L, CAST(user_id % 10 AS INT))"))
        .withColumn("yr",
          (floor($"value" * 2.0).cast("long") % 1024L + 1024L) % 1024L)
      def rankBuckets(dim: String): org.apache.spark.sql.DataFrame = {
        val hist = raw.groupBy(col(dim)).agg(count(lit(1)).as("cnt"))
        val tot = hist.agg(sum($"cnt").as("total"))
        val w = Window.orderBy(col(dim))
          .rowsBetween(Window.unboundedPreceding, -1)
        hist.withColumn("below", coalesce(sum($"cnt").over(w), lit(0L)))
          .crossJoin(broadcast(tot))
          .select(col(dim),
            expr(s"(below * $scale) DIV total").as(s"${dim}_b"))
      }
      raw.join(broadcast(rankBuckets("xr")), "xr")
        .join(broadcast(rankBuckets("yr")), "yr")
        .withColumn("x", $"xr_b").withColumn("y", $"yr_b")
        .withColumn("zkey", sparkZ)
        .select($"event_id", $"x", $"y", $"zkey")
    }),

    // Banded interval self-join: pairs of same-type events within 60 s
    // of each other. A time-proximity predicate is a THETA join — naive
    // Spark plans it as a per-key (or worse, global) nested loop. The
    // scalable form bins time at the band width and equi-joins on
    // (type, bin) with the right side replicated into its 3 adjacent
    // bins: any pair within the band differs by at most one bin, so the
    // equi-join's candidate set is complete (band ≤ bin width), each
    // qualifying pair matches EXACTLY once (the left row has one bin,
    // the right emits three distinct), and the exact |Δt| filter runs
    // on candidates only. Per-task work is bounded by events per
    // (type, bin) — the stream's per-type rate × band, independent of
    // corpus size. Times are exact µs longs on both engines
    // (unix_micros / epoch_us), so gaps hash-compare bit-for-bit.
    "join_range_band" -> ((s, dir) => {
      import s.implicits._
      val e = widen(t(s, dir, "events"), SpreadRowKernel)(
        _.select($"event_id", $"event_type", unix_micros($"ts").as("us")))
      val a = e.select($"event_type", $"event_id".as("event_a"), $"us".as("us_a"))
        .withColumn("bin", expr(s"us_a DIV $BandUs"))
      val b = e.select($"event_type", $"event_id".as("event_b"), $"us".as("us_b"))
        .withColumn("bin", explode(array(
          expr(s"us_b DIV $BandUs - 1"), expr(s"us_b DIV $BandUs"),
          expr(s"us_b DIV $BandUs + 1"))))
      // explicit-width co-partitioned join, gated on scan weight: the
      // shuffle rows are a few longs, so AQE's byte-based coalescing
      // collapsed the probe stage to 4 tasks at 20× (r18 stage table:
      // 6.6 s wall ≈ 6.3 s cpu, parallelism ~1) — but each (type, bin)
      // cell pays the quadratic candidate filter, so hold the join at
      // full width when the input is heavy (7.8 → 2.8 s paired at 20×).
      // At tiny scale the fixed width is pure task overhead (+0.17 s at
      // sf0.1 measured), so below the gate AQE keeps choosing. Results
      // identical either way; equal explicit counts on both sides keep
      // it ONE exchange per side (co-partitioned, REPARTITION_BY_NUM
      // exempt from re-coalescing).
      val joined =
        if (narrowHeavyScan(t(s, dir, "events"), SpreadRowKernel)) {
          val dp = s.sparkContext.defaultParallelism
          a.repartition(dp, $"event_type", $"bin")
            .join(b.repartition(dp, $"event_type", $"bin"), Seq("event_type", "bin"))
        } else a.join(b, Seq("event_type", "bin"))
      joined
        .filter($"event_a" < $"event_b" && abs($"us_a" - $"us_b") <= BandUs)
        .select($"event_type", $"event_a", $"event_b",
          abs($"us_a" - $"us_b").as("gap_us"))
    }),

    // Skew-salted shuffle join: ~80% of lineitem rows are funneled onto
    // one synthetic key (the classic hot-partition profile), then joined
    // to nation through SkewJoin.saltedInner — the hot key's rows spread
    // over `Salts` shuffle cells, the right side replicates ×Salts. The
    // oracle is the PLAIN join: the result is identical for ANY salt
    // assignment, so salting must be invisible in it. (nation would of
    // course broadcast — it stands in for a dimension too large to;
    // SkewJoinSpec exercises the utility with broadcast disabled.)
    "join_skew_salted" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .withColumn("skew_key",
          when($"l_partkey" % 25L < 20L, 0L)
            .otherwise(($"l_partkey" % 25L).cast("long")))
      val n = t(s, dir, "nation")
        .select($"n_nationkey".cast("long").as("skew_key"), $"n_name")
      graft.functions.SkewJoin.saltedInner(li, n, "skew_key", Salts)
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_rows"),
          dsum($"l_extendedprice", 4).as("revenue"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "zorder_layout" ->
      s"""WITH raw AS (
         |  SELECT event_id, user_id % 1024 AS xr,
         |    ((CAST(FLOOR("value" * 2.0) AS BIGINT) % 1024) + 1024) % 1024 AS yr
         |  FROM events),
         |b AS (SELECT MIN(xr) AS mnx, MAX(xr) AS mxx,
         |             MIN(yr) AS mny, MAX(yr) AS mxy FROM raw)
         |SELECT event_id, x, y, $DuckZ AS zkey
         |FROM (
         |  SELECT event_id,
         |    (xr - mnx) * ${(1 << ZBits) - 1} // GREATEST(mxx - mnx, 1) AS x,
         |    (yr - mny) * ${(1 << ZBits) - 1} // GREATEST(mxy - mny, 1) AS y
         |  FROM raw CROSS JOIN b)""".stripMargin,

    "zorder_layout_ranked" -> {
      val scale = 1 << ZBits
      s"""WITH raw AS (
         |  SELECT event_id,
         |    CAST(1 << CAST(user_id % 10 AS INTEGER) AS BIGINT) AS xr,
         |    ((CAST(FLOOR("value" * 2.0) AS BIGINT) % 1024) + 1024) % 1024 AS yr
         |  FROM events),
         |xh AS (
         |  SELECT xr,
         |    CAST((COALESCE(SUM(cnt) OVER (ORDER BY xr
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * $scale)
         |      // SUM(cnt) OVER () AS BIGINT) AS xr_b
         |  FROM (SELECT xr, COUNT(*) AS cnt FROM raw GROUP BY xr)),
         |yh AS (
         |  SELECT yr,
         |    CAST((COALESCE(SUM(cnt) OVER (ORDER BY yr
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * $scale)
         |      // SUM(cnt) OVER () AS BIGINT) AS yr_b
         |  FROM (SELECT yr, COUNT(*) AS cnt FROM raw GROUP BY yr))
         |SELECT event_id, x, y, $DuckZ AS zkey
         |FROM (
         |  SELECT event_id, xh.xr_b AS x, yh.yr_b AS y
         |  FROM raw JOIN xh USING (xr) JOIN yh USING (yr))""".stripMargin
    },

    "join_range_band" ->
      s"""WITH e AS (
         |  SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events)
         |SELECT a.event_type, a.event_id AS event_a, b.event_id AS event_b,
         |  abs(a.us - b.us) AS gap_us
         |FROM e a JOIN e b
         |  ON a.event_type = b.event_type AND a.event_id < b.event_id
         |  AND abs(a.us - b.us) <= $BandUs""".stripMargin,

    "join_skew_salted" ->
      s"""SELECT n_name, COUNT(*) AS n_rows,
         |  ${DSUM("l_extendedprice", 4)} AS revenue
         |FROM (
         |  SELECT CASE WHEN l_partkey % 25 < 20 THEN 0
         |              ELSE l_partkey % 25 END AS skew_key, l_extendedprice
         |  FROM lineitem) l
         |JOIN nation ON n_nationkey = skew_key
         |GROUP BY n_name""".stripMargin
  )
}
