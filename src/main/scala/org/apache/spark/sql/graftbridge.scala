package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters, so
  * graft's custom Catalyst expressions (graft.functions) can surface as
  * ordinary `Column`s. This is the conventional extension-library shim for
  * Spark 4's column-node API; nothing else in the repo lives outside the
  * `graft` namespace.
  */
object graftbridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `s` with every field (nested too) nullable — what a file relation
    * does to its data schema (`StructType.asNullable` is `private[spark]`). */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** The slice count cap of a `LocalTableScanExec`'s rows
    * (`SparkSession.leafNodeDefaultParallelism` is `private[sql]`):
    * graft.functions.StagedParquet writes a driver-local batch in the
    * slices a write job over that scan would get. */
  def leafNodeDefaultParallelism(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].leafNodeDefaultParallelism

  /** Block until every event posted so far has reached every listener:
    * `SparkContext.listenerBus` is `private[spark]`, and listener-based
    * stage accounting (graft.Explain's stage table, specs that count the
    * scans of a finished job) must not read before the bus drains. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Wrap a logical plan as a DataFrame without losing its streaming
    * flag — what a DSv1 streaming `Source.getBatch` must return (the
    * engine asserts `isStreaming` on the substituted plan, and the
    * public `baseRelationToDataFrame` tags relations as batch). The
    * graft.sources.TableLogTailSource micro-batch path uses this to
    * plan each delta as a real file-source relation, keeping column
    * pruning and filter pushdown inside the streaming plan;
    * graft.functions.KernelBarrier wraps its node with it, batch or
    * streaming. */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-root a BATCH DataFrame as a streaming-tagged plan over its
    * (lazily) planned rows — the inverse of [[asBatchDataFrame]], for a
    * DSv1 `Source.getBatch` whose batch is a COMPOSED plan rather than
    * one relation. The tablelog change feed needs this: its delete rows
    * are an `exceptAll` diff of two file reads, and tagging that plan's
    * LEAVES streaming would hand the incremental planner an Except over
    * "streaming" children — a stateful streaming join it must not
    * become. Planning the diff as a batch query and re-rooting only the
    * RESULT keeps the engine's isStreaming assertion satisfied while the
    * diff itself stays a plain batch join. `schema` is the declared
    * source schema (the data's schema must match it structurally). */
  def asStreamingDataFrame(data: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val spark = data.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      data.queryExecution.toRdd, schema, isStreaming = true)
  }

  /** Re-root a DSv1 `Sink.addBatch` DataFrame as a plain BATCH frame
    * over its already-planned physical rows — the standard v1-sink move
    * (FileStreamSink does the same through FileFormatWriter): the
    * incoming frame's logical plan still carries the streaming flag, so
    * feeding it to a batch writer (`df.write`) would be rejected, while
    * its `toRdd` is exactly this micro-batch's data. */
  def asBatchDataFrame(data: DataFrame): DataFrame = {
    val spark = data.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      data.queryExecution.toRdd, data.schema, isStreaming = false)
  }
}
