package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Third wave of SURVEY §2 coverage: starmap, partition (element batching),
  * collect (gated flush), the full OperatorMixin integer/bit surface,
  * astype/round conversions, rolling median, and typed JSON parsing
  * (Batch.map / from_json path).
  */
object MiscOps extends QueryGroup {

  override def queries: Map[String, Q] = Map(
    // starmap (core.py:838): tuple element splatted into a function. The
    // tuple is a struct column; the "splat" reads its fields positionally.
    "starmap_product" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber",
          struct($"l_quantity", $"l_extendedprice").as("pair"))
        .select($"l_orderkey", $"l_linenumber",
          ($"pair".getField("l_quantity") * $"pair".getField("l_extendedprice"))
            .as("starmap_product"))
    }),

    // partition(n=10) (core.py:1078): consecutive elements grouped into
    // batches of 10 in arrival order; per-batch count + exact sum.
    "partition_batches" -> ((s, dir) => {
      import s.implicits._
      graft.functions.GlobalOrder
        .withRowNumber(t(s, dir, "events"), "rn", $"ts", $"event_id")
        .withColumn("gid", (($"rn" - 1) / 10).cast("long"))
        .groupBy($"gid")
        .agg(count(lit(1)).as("n"), dsum($"value", 2).as("batch_total"))
    }),

    // collect (core.py:1901): buffer elements until flush — batch analog is
    // a per-key ordered gather; emitted as a canonical string for parity.
    "collect_cache" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .filter($"event_type" === "error")
        .groupBy($"user_id")
        .agg(concat_ws(",",
          transform(sort_array(collect_list($"event_id")), x => x.cast("string")))
          .as("collected_ids"))
    }),

    // OperatorMixin integer/bit ops (collection.py:51-152): mod, floordiv,
    // pow, lshift, rshift, xor, invert.
    "elementwise_bitops" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events").select(
        $"event_id",
        ($"event_id" % 7L).as("v_mod"),
        floor($"event_id" / 3L).cast("long").as("v_floordiv"),
        pow(lit(2.0), ($"event_id" % 5L).cast("double")).as("v_pow"),
        shiftleft($"event_id", 2).as("v_lshift"),
        shiftright($"event_id", 1).as("v_rshift"),
        ($"event_id" bitwiseXOR $"user_id").as("v_xor"),
        bitwise_not($"event_id").as("v_inv"))
    }),

    // astype / round family (dataframe/core.py:19-36).
    "astype_round" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events").select(
        $"event_id",
        round($"value", 1).as("v_round1"),
        floor($"value").cast("long").as("v_floor"),
        ceil($"value").cast("long").as("v_ceil"),
        $"event_id".cast("double").as("id_as_double"),
        ($"value" > 100.0).cast("int").as("flag_int"))
    }),

    // rolling(5).median() (dataframe/core.py:94-127 — rolling quantile
    // family). Spark's median aggregate rejects window frames, so the
    // trailing frame is gathered (≤ 5 values) and the exact interpolating
    // median computed in-row; 9-dp rounded on both sides because the two
    // engines' interpolation formulas may differ by 1 ulp.
    "rolling_median" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(-4, Window.currentRow)
      t(s, dir, "events")
        .withColumn("arr", sort_array(collect_list($"value").over(w)))
        .withColumn("n", size($"arr"))
        .select(
          $"user_id", $"event_id",
          round(when($"n" % 2 === 1, element_at($"arr", (($"n" + 1) / 2).cast("int")))
            .otherwise((element_at($"arr", ($"n" / 2).cast("int"))
              + element_at($"arr", ($"n" / 2 + 1).cast("int"))) / 2.0), 9)
            .as("w_median"))
    }),

    // rolling(5).quantile(0.25) (dataframe/core.py:94-127): the generic
    // interpolating-quantile form of rolling_median (GraftFrame
    // .interpQuantile — pandas/QUANTILE_CONT linear interpolation), rounded
    // 9 dp on both sides because interpolation formulas may differ by 1 ulp.
    "rolling_quantile" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(-4, Window.currentRow)
      t(s, dir, "events")
        .withColumn("arr", sort_array(collect_list($"value").over(w)))
        .select($"user_id", $"event_id",
          round(graft.streaming.GraftFrame.interpQuantile($"arr", lit(0.25)), 9)
            .as("w_q25"))
    }),

    // Batch/from_json path (batch.py:26-64, SURVEY §2.4): parse the JSON
    // payload with an explicit schema into typed columns.
    "json_struct_parse" -> ((s, dir) => {
      import s.implicits._
      // widened past SpreadRowKernel: per-row JSON parse on a 1-task
      // scan at 20× (4.9 s serial); sf0.1 stays narrow (byte gate)
      widen(t(s, dir, "events"), SpreadRowKernel)(_
        .withColumn("parsed", from_json($"props", StructType(Seq(
          StructField("k", LongType)))))
        .select($"event_id", $"parsed.k".as("k"),
          ($"parsed.k" * 2L).as("k_doubled")))
    })
  )

  override def oracle: Map[String, String] = Map(
    "starmap_product" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity * l_extendedprice AS starmap_product
        |FROM lineitem""".stripMargin,

    "partition_batches" ->
      s"""SELECT CAST((rn - 1) // 10 AS BIGINT) AS gid, COUNT(*) AS n,
         |  ${DSUM("value", 2)} AS batch_total
         |FROM (SELECT value, ROW_NUMBER() OVER (ORDER BY $EVT_ORDER) AS rn FROM events)
         |GROUP BY 1""".stripMargin,

    "collect_cache" ->
      """SELECT user_id,
        |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS collected_ids
        |FROM events WHERE event_type = 'error' GROUP BY user_id""".stripMargin,

    "elementwise_bitops" ->
      """SELECT event_id,
        |  event_id % 7 AS v_mod,
        |  CAST(FLOOR(event_id / 3) AS BIGINT) AS v_floordiv,
        |  POWER(2.0, CAST(event_id % 5 AS DOUBLE)) AS v_pow,
        |  event_id << 2 AS v_lshift,
        |  event_id >> 1 AS v_rshift,
        |  xor(event_id, user_id) AS v_xor,
        |  ~event_id AS v_inv
        |FROM events""".stripMargin,

    "astype_round" ->
      """SELECT event_id,
        |  ROUND(value, 1) AS v_round1,
        |  CAST(FLOOR(value) AS BIGINT) AS v_floor,
        |  CAST(CEIL(value) AS BIGINT) AS v_ceil,
        |  CAST(event_id AS DOUBLE) AS id_as_double,
        |  CAST(value > 100.0 AS INTEGER) AS flag_int
        |FROM events""".stripMargin,

    "rolling_median" ->
      s"""SELECT user_id, event_id,
         |  ROUND(MEDIAN(value) OVER (PARTITION BY user_id ORDER BY $EVT_ORDER
         |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 9) AS w_median
         |FROM events""".stripMargin,

    "rolling_quantile" ->
      s"""SELECT user_id, event_id,
         |  ROUND(QUANTILE_CONT(value, 0.25) OVER (PARTITION BY user_id ORDER BY $EVT_ORDER
         |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 9) AS w_q25
         |FROM events""".stripMargin,

    "json_struct_parse" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k_doubled
        |FROM events""".stripMargin
  )
}
