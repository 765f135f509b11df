package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Canonical loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * `events.ts` has shipped in two physical spellings across testdata
  * generations, and the loader normalizes BOTH to a microsecond
  * `TimestampType` (µs UTC instant — sessions pin UTC, see [[Sessions]])
  * so every query sees one type:
  *  - parquet TIMESTAMP(NANOS), which Spark 4 cannot read natively;
  *    sessions set `spark.sql.legacy.parquet.nanosAsLong=true` and the
  *    column surfaces as a nanosecond LONG → truncate to µs, exactly what
  *    DuckDB (the driver's oracle engine) does reading the same file;
  *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4
  *    surfaces as `TIMESTAMP_NTZ` → cast to TimestampType, value-
  *    preserving under the UTC session, matching DuckDB's naive read.
  * A `ts` already read as TimestampType passes through; any other type
  * fails the open, naming the type.
  *
  * Opening a table starts no Spark job: the schema comes from one footer
  * read on the driver ([[graft.functions.ParquetFooters.schema]]) and is
  * passed to the reader, so Spark does not infer it in a job of its own.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(graft.functions.ParquetFooters.schema(spark, path)).parquet(path)
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000L)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case t => throw new IllegalArgumentException(
        s"$path: events.ts is ${t.sql}; expected BIGINT (nanoseconds), TIMESTAMP_NTZ or TIMESTAMP")
    }
  }
}

/** Session factory with the configs every entry point (Verify, Bench, tests)
  * must agree on for oracle parity and local-mode efficiency.
  */
object Sessions {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // match core count, not the 200 default — local mode has no cluster
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NOTE on parquet timestamps: the session keeps Spark's INT96
      // output default (the driver's DuckDB/pandas oracle reads INT64
      // isAdjustedToUTC micros as tz-AWARE and would flag every dumped
      // timestamp column's dtype). INT96 carries no parquet statistics,
      // so TableLog.trackStats on a TimestampType column rejects loudly
      // under this session and tells the caller to set
      // spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS (a
      // runtime conf — settable right before the ingest writes).
      .config("spark.ui.enabled", "false")
      // the `file:` scheme without a forked `chmod`/`readlink` per local
      // create, mkdir and rename (graft.fs.LocalFs); set here, before the
      // JVM's first `file:` FileSystem is cached
      .config(graft.fs.LocalFs.confs)
      .getOrCreate()
    // Deployment/experiment hook: SPARK_GRAFT_SESSION_CONF="k=v;k=v"
    // applies runtime-settable confs on top of the defaults above — the
    // parameterization point for scale-dependent tuning (shuffle sizing,
    // AQE thresholds) without code edits; unset, behavior is unchanged.
    sys.env.get("SPARK_GRAFT_SESSION_CONF").foreach(_.split(";").foreach { kv =>
      // validate rather than destructure: a malformed token (no '=', or an
      // empty segment from a double ';') must name itself in the error —
      // the bare `val Array(k, v) = ...` MatchError killed every session,
      // including bench/verify (ADVICE r17)
      if (kv.trim.nonEmpty) kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_SESSION_CONF: malformed token '$kv' (expected key=value)")
      }
    })
    spark.sparkContext.setLogLevel("WARN")
    // The only unpartitioned window in the engine is GlobalOrder's 1-split
    // fallback, where "moving all data to a single partition" is exactly
    // the plan chosen on purpose (functions/GlobalOrder.scala — the
    // multi-split path never builds an unpartitioned window; PlanSpec pins
    // that). Suppress WindowExec's blanket warning so bench/verify logs
    // stay clean; GlobalOrderSpec asserts the warning stays silenced.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
