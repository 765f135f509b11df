package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core streamz operator surface, re-expressed as declarative Spark plans.
  *
  * Each query demonstrates one operator row from SURVEY.md §2.1/§2.4/§2.5
  * on the driver's test tables; the streaming (Structured Streaming)
  * counterparts live in `graft.streaming` and are exercised by ScalaTest.
  * Reference semantics cites are `/root/reference/streamz/<file>:<line>`.
  */
object CoreOps extends QueryGroup {

  override def queries: Map[String, Q] = Map(
    // map (core.py:679) — per-element function → narrow projection, no shuffle.
    "map_project" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem").select(
        $"l_orderkey", $"l_linenumber",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
    }),

    // OperatorMixin elementwise arithmetic (collection.py:51-152).
    "elementwise_ops" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events").select(
        $"event_id",
        ($"value" * lit(2.0) + lit(1.0)).as("v_affine"),
        ($"value" / lit(4.0)).as("v_div"),
        (-$"value").as("v_neg"),
        abs($"value" - lit(100.0)).as("v_absdiff"),
        ($"value" >= lit(100.0)).as("v_ge"))
    }),

    // filter (core.py:888).
    "filter_where" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .filter($"event_type" === "purchase" && $"value" > 100.0)
        .select($"event_id", $"user_id", $"value")
    }),

    // remove = inverse filter (core.py:559).
    "remove_inverse" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .filter(!($"value" > 100.0))
        .select($"event_id", $"event_type", $"value")
    }),

    // pluck (core.py:1862) — column projection.
    "pluck_select" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "customer").select($"c_custkey", $"c_name", $"c_mktsegment")
    }),

    // pluck on nested/dict payloads (core.py:1884-1887) — JSON field access.
    "pluck_json" -> ((s, dir) => {
      import s.implicits._
      // widened past SpreadRowKernel: the per-row JSON parse ran on the
      // 1-task events scan at 20× (4.5 s serial); sf0.1 (2 MB) stays narrow
      widen(t(s, dir, "events"), SpreadRowKernel)(_.select(
        $"event_id",
        get_json_object($"props", "$.k").cast("int").as("k")))
    }),

    // flatten/concat (core.py:1732) — explode iterables into elements.
    "flatten_explode" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("token"))
        .filter($"token" =!= "")
    }),

    // unique (core.py:1776) — stream dedupe ≡ DISTINCT.
    "unique_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()
    }),

    // union (core.py:1842) — merge streams.
    "union_merge" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events")
      e.filter($"event_type" === "signup").select($"event_id", $"event_type", $"value")
        .union(e.filter($"event_type" === "error").select($"event_id", $"event_type", $"value"))
    }),

    // frequencies (core.py:587) — running count per distinct value.
    "frequencies" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events").groupBy($"event_type").agg(count(lit(1)).as("n"))
    }),

    // accumulate/scan (core.py:928) — running fold; batch analog is a
    // cumulative window. Partitioned by user so state is key-local at scale.
    "accumulate_cumsum" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").select(
        $"user_id", $"event_id",
        graft.functions.native.fixed_sum($"value", 2).over(w).as("running_value"))
    }),

    // slice (core.py:1029) — positional start/end/step gate. Rank-bounded
    // via GlobalOrder.slice: TakeOrderedAndProject keeps per-task top-200
    // heaps, so nothing beyond rank `hi` is shuffled or numbered — the
    // 100 TB plan for a bounded slice (PlanSpec pins the shape).
    "slice_rows" -> ((s, dir) => {
      import s.implicits._
      graft.functions.GlobalOrder
        .slice(t(s, dir, "events"), "rn", 100L, 200L, $"event_id")
        .filter(($"rn" - 101) % 2 === 0)
        .select($"event_id", $"event_type", $"value")
    }),

    // sliding_window (core.py:1269) — trailing n-row window per key.
    "sliding_window_sum" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(-4, Window.currentRow)
      t(s, dir, "events").select(
        $"user_id", $"event_id",
        graft.functions.native.fixed_sum($"value", 2).over(w).as("w_sum"),
        count(lit(1)).over(w).as("w_cnt"))
    }),

    // timed_window (core.py:1326) — tumbling event-time window.
    "timed_window_hourly" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value", 2).as("total"))
        .select($"w.start".as("wstart"), $"event_type", $"n", $"total")
    }),

    // sessionization (beyond reference — Spark-native session_window,
    // the gap-merged event grouping every behavioral/training pipeline
    // needs): per-user sessions with a 30-minute inactivity gap. One
    // shuffle on user_id; Spark merges windows per key internally. The
    // oracle is the classic gaps-and-islands rewrite (lag + running sum
    // of session starts), pinning Spark's strict gap semantics (an event
    // exactly `gap` after its predecessor starts a NEW session).
    "sessionize_events" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          min($"ts").as("session_start"), max($"ts").as("session_last"))
        .select($"user_id", $"session_start", $"session_last", $"n_events")
    }),

    // zip (core.py:1575) — align two streams by arrival order: join on a
    // synthesized sequence number (GlobalOrder keeps the numbering
    // parallel; the zip itself is then an equi-join on rn).
    "zip_seq" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events")
      def seq(tpe: String, out: String) = graft.functions.GlobalOrder
        .withRowNumber(e.filter($"event_type" === tpe), "rn", $"ts", $"event_id")
        .select($"rn", $"value".as(out))
      seq("purchase", "p_value").join(seq("click", "c_value"), "rn")
        .select($"rn", $"p_value", $"c_value")
    }),

    // zip_latest / combine_latest (core.py:1948, :1652) — as-of alignment:
    // each purchase paired with the user's most recent signup value.
    // Single-pass union + last(ignoreNulls) window: no join, one shuffle.
    "zip_latest_asof" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events").filter($"event_type".isin("signup", "purchase"))
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("sig_value",
          when($"event_type" === "signup", $"value"))
        .withColumn("last_signup_value", last($"sig_value", ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase" && $"last_signup_value".isNotNull)
        .select($"event_id", $"user_id", $"value", $"last_signup_value")
    }),

    // latest (core.py:1995) — newest element per key.
    "latest_per_key" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id".as("last_event_id"),
          $"event_type".as("last_type"), $"value".as("last_value"))
    }),

    // nlargest (dataframe/core.py:222) — top-k with deterministic tiebreak.
    "nlargest_topk" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .select($"o_orderkey", $"o_totalprice")
        .limit(10)
    }),

    // global sum/count/mean/var/std (dataframe/core.py:59-92, aggregations.py)
    // — var/std from exact decimal moments. The sum-of-squares decimal
    // exceeds ~22 significant digits at sf ≥ 0.1, where the two engines'
    // decimal→double conversions can differ by 1 ulp — so the derived
    // var/std are rounded to a precision both conversions agree on
    // (verified against DuckDB at sf0.1, not just the sf0.01 gate).
    "global_aggs" -> ((s, dir) => {
      import s.implicits._
      // widened past SpreadAggScan: 2-task scans on the 20× fixture;
      // sf0.1 stays narrow
      widen(t(s, dir, "lineitem"), SpreadAggScan)(identity)
        .agg(
          dsum($"l_extendedprice", 4).as("sum_price"),
          dsum($"l_extendedprice" * $"l_extendedprice", 8).as("sum_price2"),
          count(lit(1)).as("n"))
        .select(
          $"sum_price", $"n",
          ($"sum_price" / $"n").as("mean_price"),
          round(($"sum_price2" - $"sum_price" * $"sum_price" / $"n") / ($"n" - 1), 2)
            .as("var_price"),
          round(sqrt(($"sum_price2" - $"sum_price" * $"sum_price" / $"n") / ($"n" - 1)), 6)
            .as("std_price"))
    }),

    // value_counts (dataframe/core.py:394).
    "value_counts" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders").groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    }),

    // groupby aggregations (dataframe/core.py:789-881) — flagship query.
    "q1_agg" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "lineitem"), SpreadAggScan)(identity)
        .groupBy($"l_returnflag", $"l_linestatus").agg(
        dsum($"l_quantity", 4).as("sum_qty"),
        dsum($"l_extendedprice", 4).as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6).as("sum_disc_price"),
        (dsum($"l_quantity", 4) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
    }),

    // cummax/cummin (dataframe/core.py:183-197) — exact, no float concerns.
    "cumminmax" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").select(
        $"user_id", $"event_id",
        min($"value").over(w).as("cummin_value"),
        max($"value").over(w).as("cummax_value"),
        count(lit(1)).over(w).as("cumcount"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "map_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem""".stripMargin,

    "elementwise_ops" ->
      """SELECT event_id,
        |  value * 2.0 + 1.0 AS v_affine,
        |  value / 4.0 AS v_div,
        |  -value AS v_neg,
        |  abs(value - 100.0) AS v_absdiff,
        |  value >= 100.0 AS v_ge
        |FROM events""".stripMargin,

    "filter_where" ->
      "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase' AND value > 100.0",

    "remove_inverse" ->
      "SELECT event_id, event_type, value FROM events WHERE NOT (value > 100.0)",

    "pluck_select" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer",

    "pluck_json" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events",

    "flatten_explode" ->
      """SELECT doc_id, token FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |) WHERE token <> ''""".stripMargin,

    "unique_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "union_merge" ->
      """SELECT event_id, event_type, value FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT event_id, event_type, value FROM events WHERE event_type = 'error'""".stripMargin,

    "frequencies" ->
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",

    "accumulate_cumsum" ->
      s"""SELECT user_id, event_id,
         |  CAST(SUM(CAST(value AS DECIMAL(38,2))) OVER (
         |    PARTITION BY user_id ORDER BY $EVT_ORDER
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
         |FROM events""".stripMargin,

    "slice_rows" ->
      s"""SELECT event_id, event_type, value FROM (
         |  SELECT *, ROW_NUMBER() OVER (ORDER BY event_id) AS rn FROM events
         |) WHERE rn > 100 AND rn <= 200 AND (rn - 101) % 2 = 0""".stripMargin,

    "sliding_window_sum" ->
      s"""SELECT user_id, event_id,
         |  CAST(SUM(CAST(value AS DECIMAL(38,2))) OVER w AS DOUBLE) AS w_sum,
         |  COUNT(*) OVER w AS w_cnt
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY $EVT_ORDER
         |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,

    "timed_window_hourly" ->
      s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart, event_type,
         |  COUNT(*) AS n, ${DSUM("value", 2)} AS total
         |FROM events GROUP BY 1, 2""".stripMargin,

    "sessionize_events" ->
      s"""WITH o AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t,
         |    CASE WHEN CAST(ts AS TIMESTAMP)
         |        - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY $EVT_ORDER)
         |        >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |m AS (
         |  SELECT user_id, t,
         |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
         |      ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM o)
         |SELECT user_id, MIN(t) AS session_start, MAX(t) AS session_last,
         |  COUNT(*) AS n_events
         |FROM m GROUP BY user_id, sid""".stripMargin,

    "zip_seq" ->
      s"""WITH p AS (
         |  SELECT value AS p_value, ROW_NUMBER() OVER (ORDER BY $EVT_ORDER) AS rn
         |  FROM events WHERE event_type = 'purchase'),
         |c AS (
         |  SELECT value AS c_value, ROW_NUMBER() OVER (ORDER BY $EVT_ORDER) AS rn
         |  FROM events WHERE event_type = 'click')
         |SELECT p.rn AS rn, p.p_value, c.c_value FROM p JOIN c USING (rn)""".stripMargin,

    "zip_latest_asof" ->
      s"""SELECT event_id, user_id, value, last_signup_value FROM (
         |  SELECT event_id, user_id, value, event_type,
         |    LAST_VALUE(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY $EVT_ORDER
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_value
         |  FROM events WHERE event_type IN ('signup', 'purchase')
         |) WHERE event_type = 'purchase' AND last_signup_value IS NOT NULL""".stripMargin,

    "latest_per_key" ->
      s"""SELECT user_id, event_id AS last_event_id, event_type AS last_type,
         |  value AS last_value
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
         |  FROM events
         |) WHERE rn = 1""".stripMargin,

    "nlargest_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",

    "global_aggs" ->
      s"""SELECT sum_price, n,
         |  sum_price / n AS mean_price,
         |  ROUND((sum_price2 - sum_price * sum_price / n) / (n - 1), 2) AS var_price,
         |  ROUND(sqrt((sum_price2 - sum_price * sum_price / n) / (n - 1)), 6) AS std_price
         |FROM (
         |  SELECT ${DSUM("l_extendedprice", 4)} AS sum_price,
         |    ${DSUM("l_extendedprice * l_extendedprice", 8)} AS sum_price2,
         |    COUNT(*) AS n
         |  FROM lineitem)""".stripMargin,

    "value_counts" ->
      "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority",

    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${DSUM("l_quantity", 4)} AS sum_qty,
         |  ${DSUM("l_extendedprice", 4)} AS sum_base_price,
         |  ${DSUM("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
         |  ${DSUM("l_quantity", 4)} / COUNT(*) AS avg_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "cumminmax" ->
      s"""SELECT user_id, event_id,
         |  MIN(value) OVER w AS cummin_value,
         |  MAX(value) OVER w AS cummax_value,
         |  COUNT(*) OVER w AS cumcount
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY $EVT_ORDER
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
  )
}
